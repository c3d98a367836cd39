"""Incremental upserts + idempotence + compaction (SURVEY.md §7.1 M5,
FIXTURES.md F4): ES upsert-by-_id semantics, exactly reproduced."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from sync2any_spark.index.builder import build_index
from sync2any_spark.oracle import BM25Oracle
from sync2any_spark.query.wand import IndexSearcher
from sync2any_spark.streaming.incremental import apply_increments, compact, live_docs

PARAMS = dict(n_partitions=12, n_buckets=8, n_salts=4, heavy_df_threshold=500)

QUERIES = ["ok", "w0000", "hot1", "w0001 w0002", "中 文", "freshterm", "zzzzmissing"]


@pytest.fixture(scope="module")
def base(spark, transcripts_sf0001, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_inc"))
    build_index(spark, transcripts_sf0001, d, resume=False, **PARAMS)
    return d


@pytest.fixture(scope="module")
def increments(spark, transcripts_sf0001):
    """Deterministic batch: ~3% updates, ~1% deletes, a few inserts."""
    t = transcripts_sf0001
    h = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(100))
    updates = (
        t.where(h < 3)
        .withColumn("text", F.concat(F.lit("freshterm updated "), F.col("text")))
        .withColumn("op", F.lit("U"))
    )
    deletes = t.where((h >= 3) & (h < 4)).withColumn("op", F.lit("D"))
    ts = datetime.datetime(2026, 6, 1)
    inserts = spark.createDataFrame(
        [
            ("conv_zz000001", 0, "user", "freshterm brand new conversation ok", "", ts, "I"),
            ("conv_zz000001", 1, "assistant", "freshterm reply 中文", "", ts, "I"),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, op string",
    )
    return updates.unionByName(deletes).unionByName(inserts)


@pytest.fixture(scope="module")
def applied(spark, base, increments):
    summary = apply_increments(spark, base, increments)
    assert summary["new_docs"] > 0 and summary["tombstones"] > 0
    return summary


def _merged_oracle(spark, base):
    pdf = (
        live_docs(spark, base)
        .orderBy("doc_id")
        .select("doc_id", "conv_id", "turn_idx", "text")
        .toPandas()
    )
    return BM25Oracle(list(zip(pdf["doc_id"], pdf["text"])))


def test_live_view_matches_merge(spark, base, transcripts_sf0001, increments, applied):
    live = live_docs(spark, base).select("conv_id", "turn_idx", "text")
    # expected: source minus deleted keys, updates overwritten, inserts added
    inc = increments.select("conv_id", "turn_idx", "text", "op")
    expected = (
        transcripts_sf0001.join(inc, ["conv_id", "turn_idx"], "left_anti")
        .select("conv_id", "turn_idx", "text")
        .unionByName(inc.where(F.col("op") != "D").select("conv_id", "turn_idx", "text"))
    )
    assert live.count() == expected.count()
    assert (
        live.join(expected, ["conv_id", "turn_idx", "text"], "left_anti").count() == 0
    )


def test_search_rank_identical_after_increment(spark, base, applied):
    oracle = _merged_oracle(spark, base)
    searcher = IndexSearcher(spark, base)
    assert searcher.deleted.size  # tombstones active
    for q in QUERIES:
        got = searcher.search(q, 10)
        want = oracle.topk(q, 10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q


def test_distributed_after_increment(spark, base, applied):
    oracle = _merged_oracle(spark, base)
    searcher = IndexSearcher(spark, base)
    for q in ["freshterm", "ok w0000"]:
        got = [(r.doc_id, r.score) for r in searcher.search_distributed(q, 10).collect()]
        want = oracle.topk(q, 10)
        assert [g[0] for g in got] == [w[0] for w in want], q


def test_local_searcher_after_increment(spark, base, applied):
    """Serving tier honors tombstones + maintained live df."""
    from sync2any_spark.query.serving import LocalSearcher

    oracle = _merged_oracle(spark, base)
    searcher = LocalSearcher(base)
    assert searcher.deleted.size
    for q in QUERIES:
        got = searcher.search(q, 10)
        want = oracle.topk(q, 10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q


def _index_state(spark, base):
    from sync2any_spark.index.builder import IndexPaths, read_index_meta
    from sync2any_spark.streaming.incremental import all_docs, deleted_ids

    meta = read_index_meta(base)
    paths = IndexPaths(base)
    terms = sorted(
        (r.term, r.df, r.cf)
        for r in spark.read.parquet(
            paths.terms_v(meta.get("terms_version", 0))
        ).collect()
    )
    n_docs = all_docs(spark, base).count()
    dead = deleted_ids(spark, base)
    n_dead = dead.count() if dead is not None else 0
    return terms, n_docs, n_dead, meta.get("segments", [])


def test_idempotent_reapply(spark, base, increments, applied):
    """FIXTURES F4: re-applying the same batch must be a complete no-op."""
    before = _index_state(spark, base)
    summary = apply_increments(spark, base, increments)
    assert summary["tombstones"] == 0 and summary["new_docs"] == 0
    assert _index_state(spark, base) == before


def test_crash_mid_apply_then_retry(
    spark, transcripts_sf0001, increments, tmp_path_factory, monkeypatch
):
    """Crash atomicity: kill the apply AFTER all segment artifacts are
    written but BEFORE the meta.json commit — the index must still read as
    the previous commit, and a retry of the same batch must converge to the
    exact same state as a never-crashed apply (no duplicate postings, no
    double-counted tf/df)."""
    import sync2any_spark.streaming.incremental as inc_mod

    crashed = str(tmp_path_factory.mktemp("idx_crash"))
    clean = str(tmp_path_factory.mktemp("idx_clean"))
    build_index(spark, transcripts_sf0001, crashed, resume=False, **PARAMS)
    build_index(spark, transcripts_sf0001, clean, resume=False, **PARAMS)

    pre = _index_state(spark, crashed)
    snapshot = IndexSearcher(spark, crashed)
    pre_top = snapshot.search("ok", 10)

    real_write = inc_mod._write_meta

    def boom(index_dir, meta):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(inc_mod, "_write_meta", boom)
    with pytest.raises(RuntimeError):
        apply_increments(spark, crashed, increments)
    monkeypatch.setattr(inc_mod, "_write_meta", real_write)

    # pre-commit: readers see exactly the previous commit
    assert _index_state(spark, crashed) == pre
    after_crash = IndexSearcher(spark, crashed)
    assert after_crash.search("ok", 10) == pre_top
    # the staged segment's postings are on disk, but no searcher root and
    # no term directory reaches them
    from sync2any_spark.index.builder import IndexPaths, _has_parquet

    staged = IndexPaths(crashed).postings_seg(1)
    assert _has_parquet(staged)
    assert not any(d.startswith(staged) for d in after_crash._pdirs)
    assert after_crash._fetch_plan(["freshterm"]) == []
    assert after_crash.search("freshterm", 10) == []

    # retry converges to the clean single-apply state
    apply_increments(spark, crashed, increments)
    apply_increments(spark, clean, increments)
    # a searcher is a snapshot of the commit it opened: after the retry
    # commits, the one opened before the crash still answers as before
    assert snapshot.search("ok", 10) == pre_top
    assert snapshot.search("freshterm", 10) == []
    assert _index_state(spark, crashed) == _index_state(spark, clean)
    s_crashed = IndexSearcher(spark, crashed)
    s_clean = IndexSearcher(spark, clean)
    for q in QUERIES:
        assert s_crashed.search(q, 10) == s_clean.search(q, 10), q


@pytest.fixture(scope="module")
def pristine(spark, transcripts_sf0001, tmp_path_factory):
    """A base index no test mutates; tests apply batches to copies."""
    d = str(tmp_path_factory.mktemp("idx_pristine"))
    build_index(spark, transcripts_sf0001, d, resume=False, **PARAMS)
    return d


def _copy_index(src, tmp_path_factory, name):
    import shutil

    dst = str(tmp_path_factory.mktemp(name)) + "/idx"
    shutil.copytree(src, dst)
    return dst


def _no_shuffle_merge(*args, **kwargs):
    raise AssertionError("delta postings fell back to the shuffle merge")


def test_driver_apply_merges_delta_without_shuffle(
    spark, pristine, increments, tmp_path_factory, monkeypatch
):
    """The index is built with n_salts=4; a driver-path apply must write
    its delta chunks in that layout, so the delta postings go through the
    zero-shuffle merge and never reach the shuffle fallback."""
    import sync2any_spark.index.builder as builder

    idx = _copy_index(pristine, tmp_path_factory, "idx_zero_shuffle")
    assert builder.read_index_meta(idx)["n_salts"] == PARAMS["n_salts"]
    monkeypatch.setattr(builder, "_build_postings_direct_shuffle", _no_shuffle_merge)
    summary = apply_increments(spark, idx, increments)
    assert summary["new_docs"] > 0
    assert builder._has_parquet(
        builder.IndexPaths(idx).postings_seg(summary["segment"])
    )


def test_distributed_apply_equals_driver_apply(
    spark, pristine, increments, tmp_path_factory, monkeypatch
):
    """The backfill-scale apply (forced with DRIVER_RANK_ROWS = 0) commits
    the same doc ids, terms and stats as the driver-path apply of the same
    batch, through the same zero-shuffle delta merge, and both searchers
    answer it rank- and score-identically to the oracle."""
    import pyarrow.dataset as pads

    import sync2any_spark.index.builder as builder
    import sync2any_spark.streaming.incremental as inc_mod
    from sync2any_spark.query.serving import LocalSearcher

    drv = _copy_index(pristine, tmp_path_factory, "idx_apply_drv")
    dist = _copy_index(pristine, tmp_path_factory, "idx_apply_dist")
    monkeypatch.setattr(builder, "_build_postings_direct_shuffle", _no_shuffle_merge)
    s_drv = apply_increments(spark, drv, increments)
    monkeypatch.setattr(inc_mod, "DRIVER_RANK_ROWS", 0)
    s_dist = apply_increments(spark, dist, increments)
    assert "stats" in s_dist["stage_walls"]  # the distributed path ran
    for key in ("segment", "new_docs", "tombstones"):
        assert s_dist[key] == s_drv[key], key

    def state(idx):
        meta = builder.read_index_meta(idx)
        paths = builder.IndexPaths(idx)
        ids = {
            (r.conv_id, r.turn_idx): r.doc_id
            for r in live_docs(spark, idx)
            .select("conv_id", "turn_idx", "doc_id")
            .collect()
        }
        tv = meta["terms_version"]
        terms = (
            pads.dataset(paths.terms_v(tv))
            .to_table(columns=["term", "df", "cf"])
            .sort_by("term")
            .to_pylist()
        )
        stats = pads.dataset(paths.stats_v(tv)).to_table().to_pylist()
        return ids, terms, stats

    assert state(dist) == state(drv)

    oracle = _merged_oracle(spark, dist)
    for searcher in (IndexSearcher(spark, dist), LocalSearcher(dist)):
        for q in QUERIES:
            got = searcher.search(q, 10)
            want = oracle.topk(q, 10)
            assert [g[0] for g in got] == [w[0] for w in want], q
            for (_, gs), (_, ws) in zip(got, want):
                assert gs == pytest.approx(ws, rel=1e-9), q


def test_compact_equals_fresh_build(spark, base, applied, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_compacted"))
    compact(spark, base, out)
    oracle = _merged_oracle(spark, base)  # doc ids re-densified — compare ranks via keys
    live = live_docs(spark, base).select("doc_id", "conv_id", "turn_idx").toPandas()
    key_of = {r.doc_id: (r.conv_id, r.turn_idx) for r in live.itertuples(index=False)}

    searcher = IndexSearcher(spark, out)
    assert searcher.deleted.size == 0  # tombstones purged
    docs_out = spark.read.parquet(f"{out}/docs").toPandas()
    key_of_new = {
        r.doc_id: (r.conv_id, r.turn_idx) for r in docs_out.itertuples(index=False)
    }
    for q in QUERIES:
        got = [(key_of_new[d], s) for d, s in searcher.search(q, 10)]
        want = [(key_of[d], s) for d, s in oracle.topk(q, 10)]
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q


def test_segment_range_reads(spark, transcripts_sf0001, tmp_path_factory):
    """Snapshot-range incremental read (Iceberg incremental-scan analog):
    changes strictly after segment N are exactly batch N+1's effect."""
    import datetime

    from sync2any_spark.streaming.incremental import read_segment_changes

    idx = str(tmp_path_factory.mktemp("idx_range"))
    build_index(spark, transcripts_sf0001, idx, resume=False, **PARAMS)
    ts = datetime.datetime(2026, 7, 1)
    b1 = spark.createDataFrame(
        [("conv_r1", 0, "user", "range batch one", "", ts, "I")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, op string",
    )
    b2 = spark.createDataFrame(
        [
            ("conv_r2", 0, "user", "range batch two", "", ts, "I"),
            ("conv_r1", 0, "user", "range batch one EDITED", "", ts, "U"),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, op string",
    )
    s1 = apply_increments(spark, idx, b1)
    s2 = apply_increments(spark, idx, b2)
    assert s1["segment"] == 1 and s2["segment"] == 2

    added, removed = read_segment_changes(spark, idx, after_segment=1)
    texts = sorted(r.text for r in added.collect())
    assert texts == ["range batch one EDITED", "range batch two"]
    # the removed set is exactly the doc tombstoned by the U in batch 2
    dead = [r.doc_id for r in removed.collect()]
    seg1_doc = added  # noqa: F841  (clarity)
    b1_added, _ = read_segment_changes(spark, idx, after_segment=0, until_segment=1)
    assert dead == [r.doc_id for r in b1_added.collect()]

    # full range = union of both batches' additions
    all_added, _ = read_segment_changes(spark, idx, after_segment=0)
    assert all_added.count() == 3


def test_vacuum_removes_only_unreferenced(spark, transcripts_sf0001, increments,
                                          tmp_path_factory, monkeypatch):
    """vacuum (expire_snapshots analog): after a crashed apply + retry +
    second apply, only the live terms/stats version and committed segments
    survive — and every query still answers identically."""
    import sync2any_spark.streaming.incremental as inc_mod
    from sync2any_spark.streaming.incremental import vacuum

    idx = str(tmp_path_factory.mktemp("idx_vac"))
    build_index(spark, transcripts_sf0001, idx, resume=False, **PARAMS)

    # crash one apply before commit → orphan seg-1 artifacts
    real = inc_mod._write_meta
    monkeypatch.setattr(inc_mod, "_write_meta",
                        lambda *a: (_ for _ in ()).throw(RuntimeError("boom")))
    with pytest.raises(RuntimeError):
        apply_increments(spark, idx, increments)
    monkeypatch.setattr(inc_mod, "_write_meta", real)
    apply_increments(spark, idx, increments)  # commit seg 1 (overwrites orphans)

    import datetime
    ts = datetime.datetime(2026, 8, 1)
    b2 = spark.createDataFrame(
        [("conv_vc000001", 0, "user", "vacuum probe text", "", ts, "I")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, op string",
    )
    apply_increments(spark, idx, b2)  # seg 2 → terms_v1 now superseded

    before = IndexSearcher(spark, idx).search("ok", 10)
    removed = vacuum(idx)
    assert any("terms_v00001" in p for p in removed)  # superseded version gone
    state = _index_state(spark, idx)
    assert state[3] == [1, 2]  # both committed segments intact
    assert IndexSearcher(spark, idx).search("ok", 10) == before
    assert vacuum(idx) == []  # idempotent


def test_crash_then_retry_with_different_batch(
    spark, transcripts_sf0001, tmp_path_factory, monkeypatch
):
    """Round-2 ADVICE: a crashed apply leaves seg-prefixed chunk files
    behind; retrying with a DIFFERENT batch must not mix the old batch's
    chunks into the new segment (the resume manifests would otherwise mark
    those partitions done). The retried index must equal a clean index that
    only ever saw the second batch."""
    import datetime

    import sync2any_spark.streaming.incremental as inc_mod

    crashed = str(tmp_path_factory.mktemp("idx_crash_diff"))
    clean = str(tmp_path_factory.mktemp("idx_clean_diff"))
    build_index(spark, transcripts_sf0001, crashed, resume=False, **PARAMS)
    build_index(spark, transcripts_sf0001, clean, resume=False, **PARAMS)

    ts = datetime.datetime(2026, 8, 2)
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string"
    )
    batch_a = spark.createDataFrame(
        [("conv_aa000001", 0, "user", "abandoned batch text alpha", "", ts, "I")],
        schema,
    )
    batch_b = spark.createDataFrame(
        [("conv_bb000001", 0, "user", "surviving batch text beta", "", ts, "I")],
        schema,
    )

    real = inc_mod._write_meta
    monkeypatch.setattr(
        inc_mod, "_write_meta",
        lambda *a: (_ for _ in ()).throw(RuntimeError("boom")),
    )
    with pytest.raises(RuntimeError):
        apply_increments(spark, crashed, batch_a)
    monkeypatch.setattr(inc_mod, "_write_meta", real)

    apply_increments(spark, crashed, batch_b)  # retry with a DIFFERENT batch
    apply_increments(spark, clean, batch_b)

    assert _index_state(spark, crashed) == _index_state(spark, clean)
    # the abandoned batch's text must be unsearchable and its term absent
    assert IndexSearcher(spark, crashed).search("alpha", 10) == []
    got = IndexSearcher(spark, crashed).search("beta", 10)
    want = IndexSearcher(spark, clean).search("beta", 10)
    assert got == want and len(got) == 1


def test_merge_reader_cache_is_per_merge(tmp_path):
    """A retried segment rewrites its chunk files under the same names; a
    Python worker reused across merges must read the new files, not the
    handles it cached for the crashed attempt's merge."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sync2any_spark.index.builder import _chunk_readers

    f = str(tmp_path / "seg001-part-00000.parquet")

    def write(n):
        cols = {c: pa.array([0] * n, pa.int32()) for c in ("bucket", "sub", "salt")}
        pq.write_table(pa.table(cols), f)

    write(1)
    assert _chunk_readers([f], "crashed")[0][0].metadata.num_rows == 1
    write(2)
    assert _chunk_readers([f], "retry")[0][0].metadata.num_rows == 2


def test_maybe_compact_policy(spark, transcripts_sf0001, tmp_path_factory):
    """Merge-policy trigger: healthy index → no-op; past the deleted-ratio
    threshold → compaction runs and the result answers identically to the
    live view."""
    import datetime

    from sync2any_spark.streaming.incremental import (
        compaction_stats,
        maybe_compact,
    )

    idx = str(tmp_path_factory.mktemp("idx_policy"))
    out = str(tmp_path_factory.mktemp("idx_policy_out"))
    build_index(spark, transcripts_sf0001, idx, resume=False, **PARAMS)

    st = compaction_stats(spark, idx)
    assert st["n_deleted"] == 0 and st["n_segments"] == 0
    assert maybe_compact(spark, idx, out, max_deleted_ratio=0.001) is None

    # delete ~5% of docs → ratio crosses a 3% threshold
    t = transcripts_sf0001
    h = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(100))
    deletes = t.where(h < 5).withColumn("op", F.lit("D"))
    apply_increments(spark, idx, deletes)
    st2 = compaction_stats(spark, idx)
    assert st2["n_deleted"] > 0 and st2["deleted_ratio"] > 0.03

    summary = maybe_compact(spark, idx, out, max_deleted_ratio=0.03)
    assert summary is not None and summary["trigger"]["n_deleted"] == st2["n_deleted"]
    live = _merged_oracle(spark, idx)
    s_out = IndexSearcher(spark, out)
    assert s_out.deleted.size == 0
    hits = s_out.search("ok", 10)
    docs_out = spark.read.parquet(f"{out}/docs").toPandas()
    key_new = {r.doc_id: (r.conv_id, r.turn_idx) for r in docs_out.itertuples(index=False)}
    live_docs_pdf = live_docs(spark, idx).select("doc_id", "conv_id", "turn_idx").toPandas()
    key_old = {r.doc_id: (r.conv_id, r.turn_idx) for r in live_docs_pdf.itertuples(index=False)}
    want = live.topk("ok", 10)
    assert [key_new[d] for d, _ in hits] == [key_old[d] for d, _ in want]


def test_increments_on_force_merged_base(
    spark, transcripts_sf0001, increments, tmp_path_factory
):
    """Interaction of the two round-4 layouts: increments applied ON TOP
    of a force-merged base (meta['postings_dir'] redirect) must behave
    exactly like increments on the original layout — same live view, same
    rankings on every path, and a subsequent compact works. This is the
    real ES lifecycle: bulk index → _forcemerge → keep upserting."""
    from sync2any_spark.index.builder import force_merge_postings, read_index_meta
    from sync2any_spark.query.serving import LocalSearcher

    d = str(tmp_path_factory.mktemp("idx_fm_inc"))
    build_index(spark, transcripts_sf0001, d, resume=False, **PARAMS)
    fm = force_merge_postings(spark, d)
    assert read_index_meta(d)["postings_dir"] == fm["out_dir"]

    summary = apply_increments(spark, d, increments)
    assert summary["new_docs"] > 0 and summary["tombstones"] > 0

    # reference: the same increments applied to a NON-force-merged base
    ref = str(tmp_path_factory.mktemp("idx_plain_inc"))
    build_index(spark, transcripts_sf0001, ref, resume=False, **PARAMS)
    apply_increments(spark, ref, increments)

    a = IndexSearcher(spark, d)
    b = IndexSearcher(spark, ref)
    local = LocalSearcher(d)
    for q in QUERIES:
        ra, rb = a.search(q, 10), b.search(q, 10)
        assert [x[0] for x in ra] == [x[0] for x in rb], q
        for (_, sa), (_, sb) in zip(ra, rb):
            assert sa == pytest.approx(sb, rel=1e-12), q
        rl = local.search(q, 10)
        assert [x[0] for x in rl] == [x[0] for x in ra], q

    # live view identical
    lv_a = live_docs(spark, d).select("conv_id", "turn_idx", "text")
    lv_b = live_docs(spark, ref).select("conv_id", "turn_idx", "text")
    assert lv_a.exceptAll(lv_b).count() == 0 and lv_b.exceptAll(lv_a).count() == 0

    # compact still works from the redirected layout (doc ids re-densify,
    # so compare ranks via (conv_id, turn_idx) keys)
    live = live_docs(spark, d).select("doc_id", "conv_id", "turn_idx").toPandas()
    key_old = {r.doc_id: (r.conv_id, r.turn_idx) for r in live.itertuples(index=False)}
    cd = str(tmp_path_factory.mktemp("idx_fm_inc_compact"))
    compact(spark, d, cd)
    c = IndexSearcher(spark, cd)
    docs_new = spark.read.parquet(f"{cd}/docs").toPandas()
    key_new = {
        r.doc_id: (r.conv_id, r.turn_idx) for r in docs_new.itertuples(index=False)
    }
    for q in QUERIES:
        got = [(key_new[x], s) for x, s in c.search(q, 10)]
        want = [(key_old[x], s) for x, s in a.search(q, 10)]
        assert [g[0] for g in got] == [w[0] for w in want], q


def test_compact_splice_equals_shuffle_path(
    spark, base, increments, applied, tmp_path_factory, monkeypatch
):
    """Round 6: the zero-shuffle LSM splice temp-corpus path must produce an
    index identical to the distributed range-shuffle path — same dense doc
    ids (both key-sorted totals), same docs store, terms, and search results
    including score ties — with delta keys landing before the first and
    after the last base key, mid-span updates, and tombstones in play."""
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    import sync2any_spark.streaming.incremental as inc_mod
    from sync2any_spark.generator import ensure_transcripts

    # the splice needs the production store shape — a FUSED-built docs store
    # (lexical file order == key order, which the two-pass Spark write does
    # not guarantee; the `base` fixture's tiny corpus takes the two-pass
    # path and the splice rightly declines there — asserted at the end)
    src = os.path.join(str(tmp_path_factory.mktemp("splice_src")), "corpus.parquet")
    pq.write_table(pq.read_table(ensure_transcripts("sf0.001")), src, row_group_size=128)
    base2 = str(tmp_path_factory.mktemp("idx_splice_base"))
    build_index(
        spark, spark.read.parquet(src), base2,
        resume=False, source_path=src, span_mb=0, **PARAMS,
    )

    # boundary inserts: keys sorting before the first and after the last
    # base conversation (the span-interval clamps on both ends)
    ts = datetime.datetime(2026, 6, 2)
    edge = spark.createDataFrame(
        [
            ("aaaa_conv0", 0, "user", "edgeterm before everything", "", ts, "I"),
            ("zzzz_conv9", 0, "user", "edgeterm after everything ok", "", ts, "I"),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string",
    )
    apply_increments(spark, base2, increments)
    apply_increments(spark, base2, edge)

    out_splice = str(tmp_path_factory.mktemp("idx_c_splice"))
    r1 = compact(spark, base2, out_splice)
    assert r1["live_spliced"] is True, r1["splice_decline"]
    assert r1["splice_decline"] is None

    # the two-pass-built `base` fixture store (Spark-written files, no
    # global lexical order guarantee) must decline to the shuffle path
    r0 = compact(spark, base, str(tmp_path_factory.mktemp("idx_c_twopass")))
    assert r0["live_spliced"] is False and r0["splice_decline"]

    out_shuffle = str(tmp_path_factory.mktemp("idx_c_shuffle"))
    monkeypatch.setattr(inc_mod, "COMPACT_SPLICE_ROWS", 0)
    r2 = compact(spark, base2, out_shuffle)
    assert r2["live_spliced"] is False
    assert r2["splice_decline"] == "delta+dead rows over budget"

    def docs_pdf(d):
        pdf = (
            spark.read.parquet(d + "/docs")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        # writer lineage may differ in tz-awareness; compare instants
        pdf["ts"] = pd.to_datetime(pdf["ts"], utc=True)
        return pdf

    a, b = docs_pdf(out_splice), docs_pdf(out_shuffle)
    cols = ["doc_id", "conv_id", "turn_idx", "role", "text", "tool", "ts", "dl"]
    assert len(a) == len(b)
    assert a[cols].equals(b[cols])

    ta = (
        spark.read.parquet(out_splice + "/terms")
        .toPandas()
        .sort_values("term")
        .reset_index(drop=True)
    )
    tb = (
        spark.read.parquet(out_shuffle + "/terms")
        .toPandas()
        .sort_values("term")
        .reset_index(drop=True)
    )
    assert ta[["term", "df", "cf"]].equals(tb[["term", "df", "cf"]])

    sa, sb = IndexSearcher(spark, out_splice), IndexSearcher(spark, out_shuffle)
    for q in QUERIES + ["edgeterm"]:
        assert sa.search(q, 10) == sb.search(q, 10), q
    assert sa.search("edgeterm", 10)  # the boundary inserts are queryable
