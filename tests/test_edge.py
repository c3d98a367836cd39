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


def test_random_corpora_all_engines_match_oracle(spark, tmp_path_factory, monkeypatch):
    """Property test: on randomized corpora (mixed Latin/digit/CJK words,
    duplicated texts, skewed repetition, multi-conversation), every query
    route — pyarrow driver fetch, distributed, the RAM serving tier and
    sharded serving — returns the numpy oracle's exact ranking, with the
    kernel's sequential leg and with its hot legs forced
    (``PARALLEL_POSTINGS`` = 0). Deterministic seeds; each round builds a
    real index."""
    import numpy as np

    from sync2any_spark.query import kernel
    from sync2any_spark.query.serving import LocalSearcher, ShardedSearcher

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
        sharded = ShardedSearcher.build(d, 2)
        queries = ["ok", "ok w1", "中 文", "zzz_missing", "w2 data x9", "qq"]
        for q in queries:
            want = oracle.topk(q, 5)
            paths = {"dist": s.search(q, 5, route="distributed")}
            for hot in (10**12, 0):
                monkeypatch.setattr(kernel, "PARALLEL_POSTINGS", hot)
                paths[f"pyarrow/{hot}"] = s.search(q, 5)
                paths[f"serving/{hot}"] = local.search(q, 5)
                paths[f"sharded/{hot}"] = sharded.search(q, 5)
            for name, got in paths.items():
                assert [g[0] for g in got] == [w[0] for w in want], (
                    round_i, q, name, texts,
                )
                for (_, gs), (_, ws) in zip(got, want):
                    assert gs == pytest.approx(ws, rel=1e-9), (round_i, q, name)


def test_random_cdc_batches_match_oracle(spark, tmp_path_factory, monkeypatch):
    """Property test for the one-collect and the sliced apply: random I/U/D
    batches — an
    'İ' text on both the removed and the added side of every batch (it
    forces the tokenizer's regex fallback), CJK tokens, NULL texts, role-,
    tool- and ts-only changes, unchanged upserts and deletes of absent
    keys — go to two copies of one index, one applied after one collect and
    one in slices of one or a few rows (DRIVER_APPLY_BYTES = 200; a slice
    whose stored text passes it is halved). Both must commit the
    expected live rows and the same doc ids, dl, terms and stats; a
    re-apply is a no-op on both; and both searchers on both copies return
    the oracle's exact ranking over the live corpus. The second round
    stores positions."""
    import shutil

    import numpy as np
    import pandas as pd
    import pyarrow.compute as pc
    import pyarrow.dataset as pds

    import sync2any_spark.streaming.incremental as inc
    from sync2any_spark.index.builder import IndexPaths, read_index_meta, read_terms
    from sync2any_spark.query.serving import LocalSearcher

    SLICE_BYTES = 200
    vocab = ["ok", "w1", "w2", "data", "x9", "中", "文", "한", "İstanbul", "qq"]
    rng = np.random.default_rng(4321)
    ts2 = datetime.datetime(2026, 2, 2)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def text():
        if rng.random() < 0.1:
            return None
        idxs = np.minimum(rng.zipf(1.6, size=int(rng.integers(0, 10))) - 1, 9)
        return " ".join(vocab[i] for i in idxs)

    def live(d):
        pdf = inc.live_docs(spark, d).select("doc_id", *cols, "dl").toPandas()
        pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
        return pdf.sort_values("doc_id").reset_index(drop=True)

    def terms_and_stats(d):
        meta = read_index_meta(d)
        terms = read_terms(d, meta).select(["term", "df", "cf"]).sort_by("term")
        stats = {k: meta[k] for k in ("n_docs", "avgdl", "total_tokens")}
        return terms.to_pylist(), stats

    def state(d):
        return (live(d), *terms_and_stats(d), read_index_meta(d).get("last_segment"))

    for round_i, positions in enumerate((False, True)):
        rows = {
            (f"conv{c:02d}", t): ["user", text(), "", TS]
            for c in range(4) for t in range(int(rng.integers(1, 8)))
        }
        rows[("conv00", 0)][1] = "İstanbul ok 中"
        drv = str(tmp_path_factory.mktemp(f"rand_cdc_{round_i}"))
        build_index(
            spark, spark.createDataFrame([(*k, *v) for k, v in rows.items()], SCHEMA),
            drv, n_partitions=4, n_buckets=4, n_salts=2, heavy_df_threshold=5,
            store_positions=positions,
        )
        sliced = drv + "_sliced"
        shutil.copytree(drv, sliced)
        for batch_i in range(2):
            # İ on both sides: the stored text of ("conv00", 0) holds one
            batch = [("conv00", 0, "user", f"İİ w{batch_i} data", "", TS, "U")]
            rows[("conv00", 0)] = ["user", batch[0][3], "", TS]
            keys = [k for k in rows if k != ("conv00", 0)]
            for j in rng.choice(len(keys), size=len(keys) // 2, replace=False):
                k = keys[j]
                role, txt, tool, ts = rows[k]
                kind = int(rng.integers(0, 6))
                if kind == 0:
                    del rows[k]
                    batch.append((*k, role, txt, tool, ts, "D"))
                    continue
                new = [role, txt, tool, ts]
                if kind == 1:
                    new[1] = text()
                elif kind == 2:
                    new[0] = "assistant" if role == "user" else "user"
                elif kind == 3:
                    new[2] = tool + "grep"
                elif kind == 4:
                    new[3] = ts2 if ts == TS else TS
                rows[k] = new  # kind 5: an unchanged upsert
                batch.append((*k, *new, "U"))
            batch.append(("conv_absent", 0, "user", "gone", "", TS, "D"))
            for t in range(3):
                k = (f"conv_new{batch_i}", t)
                rows[k] = ["user", None if t == 0 else text(), "", ts2]
                batch.append((*k, *rows[k], "I"))
            df = spark.createDataFrame(batch, SCHEMA + ", op string")
            s_drv = inc.apply_increments(spark, drv, df)
            with monkeypatch.context() as m:
                m.setattr(inc, "DRIVER_APPLY_BYTES", SLICE_BYTES)
                s_sl = inc.apply_increments(spark, sliced, df)
            assert (s_drv["route"], s_sl["route"]) == ("driver", "sliced")
            assert s_drv["slices"] == 1 and s_sl["slices"] >= len(batch) // 4
            for key in ("segment", "new_docs", "tombstones"):
                assert s_drv[key] == s_sl[key], (round_i, batch_i, key)

            a, b = state(drv), state(sliced)
            assert a[0].equals(b[0]), (round_i, batch_i)
            assert a[1:] == b[1:], (round_i, batch_i)
            got = {
                (r.conv_id, r.turn_idx): [r.role, r.text, r.tool, r.ts]
                for r in a[0].itertuples(index=False)
            }
            want = {k: [*v[:3], pd.Timestamp(v[3], tz="UTC")] for k, v in rows.items()}
            assert got == want, (round_i, batch_i)

            # the base terms plus the stacked signed deltas equal a fresh
            # build of the live rows; no summed df is left at or below 0
            fresh = str(tmp_path_factory.mktemp(f"rand_cdc_fresh_{round_i}_{batch_i}"))
            build_index(
                spark,
                spark.createDataFrame([(*k, *v) for k, v in rows.items()], SCHEMA),
                fresh, n_partitions=4, n_buckets=4, n_salts=2, heavy_df_threshold=5,
                store_positions=positions,
            )
            assert a[1:3] == terms_and_stats(fresh), (round_i, batch_i)
            assert all(r["df"] > 0 for r in a[1]), (round_i, batch_i)
            if batch_i == 1:  # it replaces the one text holding w0
                delta = pds.dataset(IndexPaths(drv).terms_seg(s_drv["segment"])).to_table()
                assert pc.min(delta["df"]).as_py() < 0, round_i

            again = inc.apply_increments(spark, drv, df)
            with monkeypatch.context() as m:
                m.setattr(inc, "DRIVER_APPLY_BYTES", SLICE_BYTES)
                again_sl = inc.apply_increments(spark, sliced, df)
            for s in (again, again_sl):
                assert (s["segment"], s["new_docs"], s["tombstones"]) == (None, 0, 0)
            assert state(drv)[1:] == a[1:] and state(sliced)[1:] == b[1:]

            oracle = BM25Oracle(list(zip(a[0]["doc_id"], a[0]["text"])))
            for d in (drv, sliced):
                for searcher in (IndexSearcher(spark, d), LocalSearcher(d)):
                    for q in ["ok", "w1 data", "中 文", "i stanbul", "qq x9", "한"]:
                        got_q, want_q = searcher.search(q, 5), oracle.topk(q, 5)
                        assert [g[0] for g in got_q] == [w[0] for w in want_q], (
                            round_i, batch_i, d, q,
                        )
                        for (_, gs), (_, ws) in zip(got_q, want_q):
                            assert gs == pytest.approx(ws, rel=1e-9), (d, q)


def _sorted_file(tmp_path, keys, row_group_size):
    """A (conv_id, turn_idx)-sorted source file with the given keys."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "src.parquet")
    n = len(keys)
    pq.write_table(
        pa.table({
            "conv_id": pa.array([k[0] for k in keys], pa.string()),
            "turn_idx": pa.array([k[1] for k in keys], pa.int32()),
            "role": pa.array(["user"] * n, pa.string()),
            "text": pa.array([f"tok{i % 3} ok" for i in range(n)], pa.string()),
            "tool": pa.array([""] * n, pa.string()),
            "ts": pa.array([TS] * n, pa.timestamp("us", tz="UTC")),
        }),
        path, row_group_size=row_group_size,
    )
    return path


def test_duplicate_key_within_span_raises(spark, tmp_path):
    """A key repeated inside one span of a sorted source raises at once,
    naming the key — doc ids never depend on how ties are broken."""
    import os

    keys = [("c1", 0), ("c1", 1), ("c1", 1), ("c2", 0), ("c2", 1), ("c3", 0)]
    src = _sorted_file(tmp_path, keys, row_group_size=3)  # 2 spans
    d = str(tmp_path / "idx")
    with pytest.raises(ValueError, match=r"duplicate \(conv_id, turn_idx\) key \('c1', 1\)"):
        build_index(spark, spark.read.parquet(src), d, n_partitions=2,
                    n_buckets=2, n_salts=2, span_mb=0, source_path=src,
                    resume=False)
    assert not os.path.exists(os.path.join(d, "_sorted_src"))  # no re-sort


def test_duplicate_key_across_spans_raises(spark, tmp_path):
    """A key repeated across a span boundary: the as-is pass's boundary
    check rejects the spans, the build re-sorts, and the pass over the
    copy raises, naming the key."""
    import os

    keys = [("c1", 0), ("c1", 1), ("c2", 0), ("c2", 0), ("c2", 1), ("c3", 0)]
    src = _sorted_file(tmp_path, keys, row_group_size=3)  # dup straddles spans
    d = str(tmp_path / "idx")
    with pytest.raises(ValueError, match=r"duplicate \(conv_id, turn_idx\) key \('c2', 0\)"):
        build_index(spark, spark.read.parquet(src), d, n_partitions=2,
                    n_buckets=2, n_salts=2, span_mb=0, source_path=src,
                    resume=False)
    assert os.path.exists(os.path.join(d, "_sorted_src", "_SUCCESS"))
