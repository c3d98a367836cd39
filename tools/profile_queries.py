#!/usr/bin/env python
"""Query-path profiler: per-stage breakdown (fetch / kernel) of
IndexSearcher.search driver-path latency on a bench index, with the number
of postings files each fetch reads. ``fetch`` times ``_term_tables`` (read
the row groups holding the query's terms, slice each term's runs; the term
directories are built beforehand, so it times the row-group reads only),
``kernel`` times ``kernel.topk`` (decode, score, merge, top-k), ``total``
is their sum. Each column is the best of 5.

Usage: python tools/profile_queries.py <index_dir> [qids...]
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyarrow.parquet as pq

from sync2any_spark.generator import ensure_queries
from sync2any_spark.query import kernel
from sync2any_spark.query.kernel import idf
from sync2any_spark.query.wand import IndexSearcher
from sync2any_spark.session import get_spark


def _best(fn, reps: int = 5) -> float:
    best = 9e9
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    idx = sys.argv[1]
    want = {int(x) for x in sys.argv[2:]} or None
    spark = get_spark("profile_queries", cpus=8, shuffle_partitions=8)
    s = IndexSearcher(spark, idx)
    queries = pq.read_table(ensure_queries()).to_pandas()

    print(f"{'qid':>4} {'query':<28} {'total':>8} {'fetch':>8} {'files':>5} "
          f"{'kernel':>8} {'blocks':>7} {'postings':>9}")
    for q in queries.itertuples(index=False):
        if want and int(q.query_id) not in want:
            continue
        qterms = s._qterms(q.query_text)
        dfs = s._term_dfs(qterms)
        qterms = [t for t in qterms if dfs[t] > 0]
        if not qterms:
            continue
        tot = sum(dfs[t] for t in qterms)
        n_files = len(s._fetch_plan(qterms))  # builds the term directories
        fetch = _best(lambda: s._term_tables(qterms))
        tables = s._term_tables(qterms)
        terms = [(idf(s.n_docs, dfs[t]), tables[t]) for t in qterms]
        kern = _best(lambda: kernel.topk(terms, s.deleted, s.avgdl, int(q.k)))
        blocks = sum(t.num_rows for t in tables.values())
        print(f"{q.query_id:>4} {q.query_text[:28]:<28} {(fetch + kern)*1e3:8.2f} "
              f"{fetch*1e3:8.2f} {n_files:>5} {kern*1e3:8.2f} "
              f"{blocks:>7} {tot:>9}")
    spark.stop()


if __name__ == "__main__":
    main()
