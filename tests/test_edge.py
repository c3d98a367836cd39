"""Degenerate-corpus hardening: single doc, all-empty texts, one token."""

from __future__ import annotations

import datetime

import pytest

from sync2any_spark.index.builder import build_index
from sync2any_spark.oracle import BM25Oracle
from sync2any_spark.query import algebra
from sync2any_spark.query.wand import IndexSearcher

TS = datetime.datetime(2026, 1, 1)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _build(spark, rows, tmp_path):
    df = spark.createDataFrame(rows, SCHEMA)
    d = str(tmp_path)
    build_index(spark, df, d, n_partitions=4, n_buckets=4, n_salts=2,
                heavy_df_threshold=10)
    return df, d


def test_single_doc_corpus(spark, tmp_path):
    df, d = _build(spark, [("c1", 0, "user", "hello world hello", "", TS)], tmp_path)
    s = IndexSearcher(spark, d)
    oracle = BM25Oracle([(0, "hello world hello")])
    for q in ["hello", "world", "missing"]:
        got = s.search(q, 10)
        want = oracle.topk(q, 10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)


def test_all_empty_texts(spark, tmp_path):
    rows = [("c1", i, "user", "", "", TS) for i in range(5)]
    df, d = _build(spark, rows, tmp_path)
    s = IndexSearcher(spark, d)
    assert s.n_docs == 5 and s.avgdl == 0.0
    assert s.search("anything", 10) == []
    # algebra path agrees
    assert algebra.bm25_topk(df, "anything", 10, ["conv_id", "turn_idx"]).count() == 0


def test_mixed_empty_and_real(spark, tmp_path):
    rows = [
        ("c1", 0, "user", "", "", TS),
        ("c1", 1, "user", "alpha beta", "", TS),
        ("c2", 0, "user", "alpha", "", TS),
    ]
    df, d = _build(spark, rows, tmp_path)
    s = IndexSearcher(spark, d)
    pdf = df.orderBy("conv_id", "turn_idx").toPandas()
    oracle = BM25Oracle(list(enumerate(pdf["text"])))
    for q in ["alpha", "beta", "alpha beta"]:
        got = s.search(q, 10)
        want = oracle.topk(q, 10)
        assert [g[0] for g in got] == [w[0] for w in want], q


def test_identical_docs_tiebreak(spark, tmp_path):
    rows = [(f"c{i}", 0, "user", "same text here", "", TS) for i in range(6)]
    df, d = _build(spark, rows, tmp_path)
    s = IndexSearcher(spark, d)
    got = s.search("same", 3)
    # perfect ties → lowest doc ids win, ascending
    assert [g[0] for g in got] == [0, 1, 2]


def test_increment_into_zero_doc_index(spark, tmp_path):
    """ADVICE: the first increment against an index built from an EMPTY
    corpus must not crash (max(doc_id) is NULL → base id 0)."""
    from sync2any_spark.query.wand import IndexSearcher
    from sync2any_spark.streaming.incremental import apply_increments

    df = spark.createDataFrame([], SCHEMA)
    d = str(tmp_path)
    build_index(spark, df, d, n_partitions=2, n_buckets=2, n_salts=2,
                heavy_df_threshold=10)
    inc = spark.createDataFrame(
        [("c1", 0, "user", "first ever doc", "", TS, "I")],
        SCHEMA + ", op string",
    )
    summary = apply_increments(spark, d, inc)
    assert summary["new_docs"] == 1
    s = IndexSearcher(spark, d)
    assert [h[0] for h in s.search("first", 10)] == [0]  # base id 0


def test_null_text_upsert_not_dropped(spark, tmp_path):
    """ADVICE: an upsert whose incoming text is NULL must take effect (the
    old null-unsafe != comparison silently dropped it)."""
    from sync2any_spark.streaming.incremental import apply_increments, live_docs

    df, d = _build(
        spark,
        [("c1", 0, "user", "original text here", "", TS),
         ("c1", 1, "user", "second row", "", TS)],
        tmp_path,
    )
    inc = spark.createDataFrame(
        [("c1", 0, "user", None, "", TS, "U")], SCHEMA + ", op string"
    )
    summary = apply_increments(spark, d, inc)
    assert summary["new_docs"] == 1 and summary["tombstones"] == 1
    live = {(r.conv_id, r.turn_idx): r.text for r in live_docs(spark, d).collect()}
    assert live[("c1", 0)] is None
    # and a role-only change also rewrites the doc row (fetch correctness)
    inc2 = spark.createDataFrame(
        [("c1", 1, "assistant", "second row", "", TS, "U")],
        SCHEMA + ", op string",
    )
    s2 = apply_increments(spark, d, inc2)
    assert s2["new_docs"] == 1
    live2 = {(r.conv_id, r.turn_idx): r.role for r in live_docs(spark, d).collect()}
    assert live2[("c1", 1)] == "assistant"


def test_fetch_schema_consistent_on_empty(spark, tmp_path):
    """ADVICE: fetch([]) must return the same schema as a non-empty fetch
    (callers consuming role/text broke on empty results)."""
    from sync2any_spark.query.wand import IndexSearcher

    _, d = _build(spark, [("c1", 0, "user", "hello world", "", TS)], tmp_path)
    s = IndexSearcher(spark, d)
    empty = s.fetch([])
    full = s.fetch(s.search("hello", 10))
    assert empty.columns == full.columns


def test_random_corpora_all_engines_match_oracle(spark, tmp_path_factory):
    """Property test: on randomized corpora (mixed Latin/digit/CJK words,
    duplicated texts, skewed repetition, multi-conversation), every query
    route — pyarrow driver scan, Spark scan, distributed,
    and the RAM serving tier — returns the numpy oracle's exact ranking.
    Deterministic seeds; each round builds a real index."""
    import numpy as np

    from sync2any_spark.query.serving import LocalSearcher

    vocab = ["ok", "w1", "w2", "data", "x9", "中", "文", "한", "z00", "qq"]
    rng = np.random.default_rng(1234)
    for round_i in range(3):
        n_convs = int(rng.integers(1, 4))
        rows = []
        texts = []
        for ci in range(n_convs):
            n_turns = int(rng.integers(1, 6))
            for t in range(n_turns):
                n_words = int(rng.integers(0, 12))
                # Zipf-ish skew: low indices much more likely
                idxs = np.minimum(
                    rng.zipf(1.6, size=n_words) - 1, len(vocab) - 1
                )
                text = " ".join(vocab[i] for i in idxs)
                rows.append((f"conv{ci:02d}", t, "user", text, "", TS))
                texts.append(text)
        df = spark.createDataFrame(rows, SCHEMA)
        d = str(tmp_path_factory.mktemp(f"rand_idx_{round_i}"))
        build_index(spark, df, d, n_partitions=4, n_buckets=4, n_salts=2,
                    heavy_df_threshold=5)
        ordered = sorted(rows, key=lambda r: (r[0], r[1]))
        oracle = BM25Oracle([(i, r[3]) for i, r in enumerate(ordered)])
        s = IndexSearcher(spark, d)
        local = LocalSearcher(d)
        queries = ["ok", "ok w1", "中 文", "zzz_missing", "w2 data x9", "qq"]
        for q in queries:
            want = oracle.topk(q, 5)
            paths = {
                "pyarrow": s.search(q, 5),
                "spark": s.search(q, 5, scan="spark"),
                "dist": s.search(q, 5, route="distributed"),
                "serving": local.search(q, 5),
            }
            for name, got in paths.items():
                assert [g[0] for g in got] == [w[0] for w in want], (
                    round_i, q, name, texts,
                )
                for (_, gs), (_, ws) in zip(got, want):
                    assert gs == pytest.approx(ws, rel=1e-9), (round_i, q, name)
