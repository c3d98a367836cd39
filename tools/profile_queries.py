#!/usr/bin/env python
"""Query-path profiler: per-stage breakdown (fetch / kernel) of
IndexSearcher.search driver-path latency on a bench index, with the number
of postings files each fetch reads. The kernel column times the split by
term plus ``kernel.topk`` (decode, score, merge, top-k).

Usage: python tools/profile_queries.py <index_dir> [qids...]
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np
import pyarrow.parquet as pq

from sync2any_spark.generator import ensure_queries
from sync2any_spark.query import kernel
from sync2any_spark.query.wand import IndexSearcher
from sync2any_spark.session import get_spark


def main() -> None:
    idx = sys.argv[1]
    want = {int(x) for x in sys.argv[2:]} or None
    spark = get_spark("profile_queries", cpus=8, shuffle_partitions=8)
    s = IndexSearcher(spark, idx)
    queries = pq.read_table(ensure_queries()).to_pandas()

    # warm pass
    for q in queries.itertuples(index=False):
        s.search(q.query_text, int(q.k))

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
        n_files = len(s._fetch_plan(qterms))
        best = (9e9, 9e9, 9e9, 0)
        for _ in range(5):
            t0 = time.time()
            tbl = s._pruned_blocks_arrow(qterms)
            t1 = time.time()
            if tbl.num_rows:
                terms = s._weighted_tables(tbl, qterms, dfs)
                kernel.topk(terms, s.deleted, s.avgdl, int(q.k))
            t2 = time.time()
            if t2 - t0 < best[0]:
                best = (t2 - t0, t1 - t0, t2 - t1, tbl.num_rows)
        print(f"{q.query_id:>4} {q.query_text[:28]:<28} {best[0]*1e3:8.2f} "
              f"{best[1]*1e3:8.2f} {n_files:>5} {best[2]*1e3:8.2f} {best[3]:>7} "
              f"{tot:>9}")
    spark.stop()


if __name__ == "__main__":
    main()
