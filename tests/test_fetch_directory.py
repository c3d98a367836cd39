"""Driver-route fetch through the per-(postings root, bucket) term
directories: a query reads only the files that hold its terms, and the
answers stay identical to the oracle and to the Spark scan — on an index
with a committed delta segment plus deletes, on a shuffle-writer postings
layout, through a ``file://`` root, and for positional phrase reads."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sync2any_spark.index.bucketing import bucket_of
from sync2any_spark.index.builder import build_index
from sync2any_spark.oracle import BM25Oracle
from sync2any_spark.query.wand import IndexSearcher, _data_files
from sync2any_spark.streaming.incremental import apply_increments, live_docs

PARAMS = dict(n_partitions=12, n_buckets=8, n_salts=4, heavy_df_threshold=500)
DELTA_ONLY = "freshterm"  # written only by the increment batch


@pytest.fixture(scope="module")
def index(spark, transcripts_sf0001, tmp_path_factory):
    """Base + one committed delta segment + tombstones, with positions."""
    d = str(tmp_path_factory.mktemp("idx_fetchdir"))
    build_index(spark, transcripts_sf0001, d, resume=False, store_positions=True, **PARAMS)
    t = transcripts_sf0001
    h = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(100))
    updates = (
        t.where(h < 3)
        .withColumn("text", F.concat(F.lit(f"{DELTA_ONLY} updated "), F.col("text")))
        .withColumn("op", F.lit("U"))
    )
    deletes = t.where((h >= 3) & (h < 5)).withColumn("op", F.lit("D"))
    summary = apply_increments(spark, d, updates.unionByName(deletes))
    assert summary["new_docs"] > 0 and summary["tombstones"] > 0
    return d


@pytest.fixture(scope="module")
def oracle(spark, index):
    pdf = live_docs(spark, index).orderBy("doc_id").select("doc_id", "text").toPandas()
    return BM25Oracle(list(zip(pdf["doc_id"], pdf["text"])))


def _terms_in(path: str) -> set:
    return set(pq.read_table(path, columns=["term"]).column("term").to_pylist())


@pytest.fixture(scope="module")
def queries(spark, index):
    """A delta-only term, base-only terms (live, absent from the delta),
    and mixed multi-term queries."""
    s = IndexSearcher(spark, index)
    assert len(s._roots) == 2 and s.deleted.size  # base + committed delta
    base_root, delta_root = s._pdirs
    delta_terms = set().union(*(_terms_in(f) for f in _paths_under(delta_root)))
    base_terms = set().union(*(_terms_in(f) for f in _paths_under(base_root)))
    assert DELTA_ONLY in delta_terms and DELTA_ONLY not in base_terms
    dfs = s._term_dfs(sorted(base_terms - delta_terms))
    base_only = [t for t, df in sorted(dfs.items(), key=lambda kv: (-kv[1], kv[0])) if df > 0]
    assert len(base_only) >= 2
    return {
        "delta_only": [DELTA_ONLY],
        "base_only": base_only[:3],
        "mixed": [f"{DELTA_ONLY} ok", f"{base_only[0]} w0000", "ok w0001 w0002", "中 文", "hot1"],
    }


def _paths_under(root: str) -> "list[str]":
    from pyarrow.fs import LocalFileSystem

    return _data_files(LocalFileSystem(), root)


def _all_queries(queries) -> "list[str]":
    return [q for group in queries.values() for q in group]


def _check_oracle(searcher, oracle, qs) -> None:
    for q in qs:
        got = searcher.search(q, 10)
        want = oracle.topk(q, 10)
        assert got, q
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q


def test_fetch_opens_only_files_holding_terms(spark, index, queries):
    """The fetch plan names exactly the files (and row groups) that hold a
    query term — checked against every file of the touched buckets in every
    committed root — and a term that lives in one segment plans no file of
    the other."""
    s = IndexSearcher(spark, index)
    base_root, delta_root = s._pdirs
    for q in _all_queries(queries):
        qterms = [t for t in s._qterms(q) if s._term_dfs([t])[t] > 0]
        plan = s._fetch_plan(qterms)
        planned = {d.files[f] for d, f, _ in plan}
        buckets = {bucket_of(t, s.n_buckets) for t in qterms}
        candidates = [
            f
            for root in s._pdirs
            for b in buckets
            for f in _paths_under(os.path.join(root, f"bucket={b}"))
        ]
        holding = {f for f in candidates if _terms_in(f) & set(qterms)}
        assert planned == holding, q
        assert len(planned) < len(candidates), q
        for d, f, rgs in plan:
            tbl = pq.ParquetFile(d.files[f]).read_row_groups(rgs, columns=["term"])
            assert pc.any(pc.is_in(tbl.column("term"), pa.array(qterms))).as_py(), q
    delta = {d.files[f] for d, f, _ in s._fetch_plan([DELTA_ONLY])}
    assert delta and all(f.startswith(delta_root) for f in delta)
    for t in queries["base_only"]:
        files = {d.files[f] for d, f, _ in s._fetch_plan([t])}
        assert files and all(f.startswith(base_root) for f in files), t


def test_directory_answers_match_oracle_and_spark_scan(spark, index, oracle, queries):
    """Delta-only, base-only and mixed queries: rank- and score-identical to
    the oracle, and bit-identical to the Spark scan."""
    s = IndexSearcher(spark, index, route_budget=1 << 60)
    qs = _all_queries(queries)
    _check_oracle(s, oracle, qs)
    for q in qs:
        assert s.search(q, 10) == s.search(q, 10, scan="spark"), q


def test_shuffle_writer_layout(spark, index, oracle, queries, tmp_path_factory):
    """The shuffle writer spreads a bucket's terms over its files by
    ``pmod(xxhash64(term))``, the direct writer by md5 — file names say
    nothing about where a term lives. The directory-driven fetch answers
    identically on both layouts."""
    import pyarrow.dataset as pads

    from sync2any_spark.index.builder import (
        IndexPaths,
        _build_postings_direct_shuffle,
        build_term_stats_driver,
    )

    paths = IndexPaths(index)
    st = pads.dataset(paths.stats).to_table().to_pandas().iloc[0]
    terms_pdf = build_term_stats_driver(paths.chunks, PARAMS["n_buckets"])
    heavy = terms_pdf[terms_pdf["df"] > PARAMS["heavy_df_threshold"]]
    terms = spark.createDataFrame(heavy, schema="term string, df long, cf long, bucket int")
    shuf = str(tmp_path_factory.mktemp("fetchdir_shufpost"))
    _build_postings_direct_shuffle(
        spark, paths.chunks, terms, float(st.avgdl), PARAMS["n_buckets"], shuf,
        n_salts=PARAMS["n_salts"], heavy_df_threshold=PARAMS["heavy_df_threshold"],
        store_positions=True,
    )
    d2 = str(tmp_path_factory.mktemp("idx_fetchdir_shuf"))
    shutil.rmtree(d2)
    shutil.copytree(index, d2)
    shutil.rmtree(os.path.join(d2, "postings"))
    shutil.copytree(shuf, os.path.join(d2, "postings"))

    a, b = IndexSearcher(spark, index), IndexSearcher(spark, d2)
    assert {os.path.basename(f) for f in _paths_under(os.path.join(d2, "postings"))} != {
        os.path.basename(f) for f in _paths_under(os.path.join(index, "postings"))
    }
    qs = _all_queries(queries)
    _check_oracle(b, oracle, qs)
    for q in qs:
        ra, rb = a.search(q, 10), b.search(q, 10)
        assert [x[0] for x in ra] == [x[0] for x in rb], q
        for (_, sa), (_, sb) in zip(ra, rb):
            assert sa == pytest.approx(sb, rel=1e-12), q


def test_file_uri_root(spark, index, oracle, queries):
    """A ``file://`` index root goes through the same pyarrow filesystem
    path as a plain one, with identical answers."""
    plain = IndexSearcher(spark, index)
    uri = IndexSearcher(spark, "file://" + os.path.abspath(index))
    assert uri.n_docs == plain.n_docs and uri.deleted.size == plain.deleted.size
    assert len(uri._roots) == len(plain._roots)
    qs = _all_queries(queries)
    _check_oracle(uri, oracle, qs)
    for q in qs:
        assert uri.search(q, 10) == plain.search(q, 10), q
    assert uri.search(DELTA_ONLY, 10, scan="spark") == plain.search(DELTA_ONLY, 10)


def test_phrase_with_positions(spark, index, oracle):
    """Positional phrase reads (``with_pos=True``) take the same fetch: a
    phrase held only by the delta segment and one from the base both match
    the oracle."""
    from sync2any_spark.query.phrase import phrase_topk_positional

    s = IndexSearcher(spark, index)
    toks = next(t for t in oracle.tokens.values() if len(t) >= 10 and DELTA_ONLY not in t)
    for phrase in (f"{DELTA_ONLY} updated", f"{toks[3]} {toks[4]}", "中 文"):
        got = phrase_topk_positional(s, phrase, 10)
        want = oracle.phrase_topk(phrase, 10)
        assert [g[0] for g in got] == [w[0] for w in want], phrase
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), phrase
    assert phrase_topk_positional(s, f"{DELTA_ONLY} updated", 10)
