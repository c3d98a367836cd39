"""Incremental upserts + idempotence + compaction (SURVEY.md §7.1 M5,
FIXTURES.md F4): ES upsert-by-_id semantics, exactly reproduced."""

from __future__ import annotations

import datetime
import uuid

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
        got = searcher.search(q, 10, route="distributed")
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


def _live_terms(idx, meta=None):
    """The live (term, df, cf) rows of the committed index, in term order."""
    from sync2any_spark.index.builder import read_index_meta, read_terms

    tbl = read_terms(idx, meta or read_index_meta(idx))
    return sorted(zip(*(tbl[c].to_pylist() for c in ("term", "df", "cf"))))


def _corpus_stats(meta):
    return {k: meta[k] for k in ("n_docs", "avgdl", "total_tokens")}


def _index_state(spark, base):
    from sync2any_spark.index.builder import read_index_meta
    from sync2any_spark.streaming.incremental import all_docs, deleted_ids

    meta = read_index_meta(base)
    n_docs = all_docs(spark, base).count()
    n_dead = deleted_ids(spark, base).count()
    return (
        _live_terms(base, meta), _corpus_stats(meta), n_docs, n_dead,
        meta.get("segments", []),
    )


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

    real_write = inc_mod.commit_meta

    def boom(index_dir, meta):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(inc_mod, "commit_meta", boom)
    with pytest.raises(RuntimeError):
        apply_increments(spark, crashed, increments)
    monkeypatch.setattr(inc_mod, "commit_meta", real_write)

    # pre-commit: readers see exactly the previous commit
    assert _index_state(spark, crashed) == pre
    after_crash = IndexSearcher(spark, crashed)
    assert after_crash.search("ok", 10) == pre_top
    # the staged segment's postings and term deltas are on disk, but no
    # searcher root, no term directory and no live terms read reaches them
    from sync2any_spark.index.builder import IndexPaths, _has_parquet

    assert _has_parquet(IndexPaths(crashed).terms_seg(1))
    assert _live_terms(crashed) == pre[0]
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


def _counting_jobs(spark, fn, *args):
    """(``fn(spark, *args)``, Spark jobs it started), counted under a job
    group set on the calling thread."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"{fn.__name__} under test")
    try:
        out = fn(spark, *args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _apply_state(spark, idx):
    """(doc-id map, live terms rows, corpus stats) of the committed index."""
    import sync2any_spark.index.builder as builder

    meta = builder.read_index_meta(idx)
    ids = {
        (r.conv_id, r.turn_idx): r.doc_id
        for r in live_docs(spark, idx)
        .select("conv_id", "turn_idx", "doc_id")
        .collect()
    }
    return ids, _live_terms(idx, meta), _corpus_stats(meta)


def _check_oracle_identity(spark, idx, queries):
    from sync2any_spark.query.serving import LocalSearcher

    oracle = _merged_oracle(spark, idx)
    for searcher in (IndexSearcher(spark, idx), LocalSearcher(idx)):
        for q in queries:
            got = searcher.search(q, 10)
            want = oracle.topk(q, 10)
            assert [g[0] for g in got] == [w[0] for w in want], q
            for (_, gs), (_, ws) in zip(got, want):
                assert gs == pytest.approx(ws, rel=1e-9), q


def test_sliced_apply_equals_one_collect_apply(
    spark, pristine, increments, tmp_path_factory, monkeypatch
):
    """A batch over DRIVER_APPLY_BYTES (monkeypatched to a quarter of the
    batch) is staged and applied in ≥ 3 key-ordered slices, in at most 3
    Spark jobs, and commits the same doc ids, terms and stats as the one
    collect of the same batch (2 Spark jobs). The route, decline reason
    and slice count are metrics rows, the staging dir is gone after the
    commit, and both searchers answer it rank- and score-identically to
    the oracle."""
    import os

    import sync2any_spark.index.builder as builder
    import sync2any_spark.streaming.incremental as inc_mod

    one = _copy_index(pristine, tmp_path_factory, "idx_apply_one")
    sliced = _copy_index(pristine, tmp_path_factory, "idx_apply_sliced")
    s_one, jobs_one = _counting_jobs(spark, apply_increments, one, increments)
    assert (s_one["route"], s_one["decline"], s_one["slices"]) == ("driver", None, 1)
    assert s_one["store_rows_scanned"] > 0
    assert jobs_one == 2

    batch_bytes = int(inc_mod._row_bytes(
        increments.select(*inc_mod._BATCH_SCHEMA.names).toArrow()
    ).sum())
    monkeypatch.setattr(inc_mod, "DRIVER_APPLY_BYTES", batch_bytes // 4)
    s_sl, jobs_sl = _counting_jobs(spark, apply_increments, sliced, increments)
    assert s_sl["route"] == "sliced"
    assert s_sl["decline"].startswith(("batch text ", "batch total "))
    assert s_sl["slices"] >= 3
    assert jobs_sl <= 3
    assert not os.path.exists(builder.IndexPaths(sliced).apply_src)
    for key in ("segment", "new_docs", "tombstones"):
        assert s_sl[key] == s_one[key], key
    for idx, s in ((one, s_one), (sliced, s_sl)):
        keys = set(_metric_keys(idx, "increment"))
        assert f"route={s['route']}" in keys
        assert {f"{lap}_s" for lap in s["stage_walls"]} <= keys
        assert _metric_value(idx, "slices") == s["slices"]
    assert "stage_batch" in s_sl["stage_walls"]
    assert f"decline={s_sl['decline']}" in keys

    assert _apply_state(spark, sliced) == _apply_state(spark, one)
    _check_oracle_identity(spark, sliced, QUERIES)


def test_apply_reads_no_base_terms(spark, pristine, increments, tmp_path_factory):
    """The apply's work does not grow with the vocabulary: with the base
    ``terms/`` dir renamed away for the whole apply it still commits, and
    once the dir is back both searchers answer the reference queries
    oracle-identically."""
    import os

    import pyarrow.parquet as pq

    from sync2any_spark.generator import ensure_queries
    from sync2any_spark.index.builder import IndexPaths

    idx = _copy_index(pristine, tmp_path_factory, "idx_no_base_terms")
    terms = IndexPaths(idx).terms
    os.rename(terms, terms + "_away")
    try:
        s = apply_increments(spark, idx, increments)
    finally:
        os.rename(terms + "_away", terms)
    assert s["segment"] == 1 and s["new_docs"] > 0 and s["tombstones"] > 0
    refs = pq.read_table(ensure_queries()).column("query_text").to_pylist()
    _check_oracle_identity(spark, idx, refs)


def test_meta_of_another_format_is_refused(tmp_path):
    """An index of format_version 2 keeps its live term stats in
    whole-table rewrites this code does not read: opening it raises,
    naming the version, instead of answering from the base terms only."""
    import json

    from sync2any_spark.index.builder import read_index_meta

    (tmp_path / "meta.json").write_text(json.dumps({"format_version": 2, "n_docs": 1}))
    with pytest.raises(ValueError, match="format_version 2"):
        read_index_meta(str(tmp_path))


def test_stored_text_over_budget_splits_slices(
    spark, pristine, tmp_path_factory, monkeypatch
):
    """A batch of short updates fits the budget, but the stored rows it
    replaces are long: the probe of the one collected slice passes
    DRIVER_APPLY_BYTES, so the slice is halved until each part's stored
    text fits, and the commit equals an apply with a large budget."""
    import sync2any_spark.streaming.incremental as inc_mod

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string"
    )
    ts = datetime.datetime(2026, 6, 4)
    # ~64 KB of distinct text per stored row
    longs = spark.createDataFrame(
        [
            (f"conv_long{i:03d}", 0, "user",
             f"longstored v{i} " + " ".join(f"w{i}x{j}" for j in range(9_000)),
             "", ts, "I")
            for i in range(12)
        ],
        schema,
    )
    updates = spark.createDataFrame(
        [(f"conv_long{i:03d}", 0, "user", f"short update ok v{i}", "", ts, "U")
         for i in range(12)]
        + [("conv_long999", 0, "user", "short insert ok", "", ts, "I")],
        schema,
    )
    small = _copy_index(pristine, tmp_path_factory, "idx_stored_small")
    large = _copy_index(pristine, tmp_path_factory, "idx_stored_large")
    for idx in (small, large):
        assert apply_increments(spark, idx, longs)["route"] == "driver"
    s_large = apply_increments(spark, large, updates)
    assert (s_large["route"], s_large["slices"]) == ("driver", 1)

    monkeypatch.setattr(inc_mod, "DRIVER_APPLY_BYTES", 200 << 10)
    s = apply_increments(spark, small, updates)
    assert s["route"] == "sliced"
    assert s["decline"] == "matched store text over budget"
    assert s["slices"] > 3
    assert "decline=matched store text over budget" in _metric_keys(
        small, "increment"
    )
    for key in ("segment", "new_docs", "tombstones"):
        assert s[key] == s_large[key], key
    assert _apply_state(spark, small) == _apply_state(spark, large)
    _check_oracle_identity(spark, small, ["ok", "short update", "longstored"])


def test_compact_equals_fresh_build(spark, base, applied, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx_compacted"))
    res, jobs = _counting_jobs(spark, compact, base, out)
    # the splice, the fused pass and the postings merge: one job each (the
    # spliced corpus is used as-is, so no DataFrame is made of it)
    assert res["live_spliced"] and jobs == 3
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
    """vacuum (expire_snapshots analog): after a crashed apply and a second
    apply, the crashed apply's orphan segment dirs (its term deltas
    included) are removed, the committed segments survive, and every query
    still answers identically."""
    import sync2any_spark.streaming.incremental as inc_mod
    from sync2any_spark.streaming.incremental import vacuum

    idx = str(tmp_path_factory.mktemp("idx_vac"))
    build_index(spark, transcripts_sf0001, idx, resume=False, **PARAMS)

    import datetime
    from sync2any_spark.index.builder import IndexPaths

    def crash_then(batch):
        real = inc_mod.commit_meta
        monkeypatch.setattr(inc_mod, "commit_meta",
                            lambda *a: (_ for _ in ()).throw(RuntimeError("boom")))
        with pytest.raises(RuntimeError):
            apply_increments(spark, idx, batch)
        monkeypatch.setattr(inc_mod, "commit_meta", real)

    # crash one apply before commit → orphan seg-1 artifacts
    crash_then(increments)
    apply_increments(spark, idx, increments)  # commit seg 1 (overwrites orphans)

    ts = datetime.datetime(2026, 8, 1)
    b2 = spark.createDataFrame(
        [("conv_vc000001", 0, "user", "vacuum probe text", "", ts, "I")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, op string",
    )
    crash_then(b2)  # orphan seg-2 artifacts, term deltas included

    before = IndexSearcher(spark, idx).search("ok", 10)
    state = _index_state(spark, idx)
    removed = vacuum(idx)
    assert IndexPaths(idx).terms_seg(2) in removed  # the orphan delta is gone
    assert IndexPaths(idx).terms_seg(1) not in removed
    assert _index_state(spark, idx) == state
    assert state[4] == [1]  # the committed segment intact
    assert IndexSearcher(spark, idx).search("ok", 10) == before
    assert vacuum(idx) == []  # idempotent
    apply_increments(spark, idx, b2)
    assert _index_state(spark, idx)[4] == [1, 2]
    assert vacuum(idx) == []


def test_crash_then_retry_with_different_batch(
    spark, transcripts_sf0001, tmp_path_factory, monkeypatch
):
    """Crash atomicity across slices. Batch A, applied in ≥ 3 slices,
    crashes twice: once mid-slices (the staging dir and part files of
    segment 1 are left, readers see the old snapshot, and ``vacuum``
    removes both), once just before the meta.json commit (the staging dir
    is already gone). A retry with a DIFFERENT batch B, applied in one
    slice, must leave only B's part files in segment 1 and equal a clean
    index that only ever saw B."""
    import os

    import sync2any_spark.streaming.incremental as inc_mod
    from sync2any_spark.index.builder import IndexPaths

    crashed = str(tmp_path_factory.mktemp("idx_crash_diff"))
    clean = str(tmp_path_factory.mktemp("idx_clean_diff"))
    build_index(spark, transcripts_sf0001, crashed, resume=False, **PARAMS)
    build_index(spark, transcripts_sf0001, clean, resume=False, **PARAMS)
    paths = IndexPaths(crashed)
    pre = _index_state(spark, crashed)
    pre_top = IndexSearcher(spark, crashed).search("ok", 10)

    ts = datetime.datetime(2026, 8, 2)
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string"
    )
    batch_a = spark.createDataFrame(
        [
            (f"conv_aa{i:06d}", 0, "user", f"abandoned batch text alpha {i}", "", ts, "I")
            for i in range(6)
        ],
        schema,
    )
    batch_b = spark.createDataFrame(
        [("conv_bb000001", 0, "user", "surviving batch text beta", "", ts, "I")],
        schema,
    )

    def seg_files(seg_dir):
        return sorted(
            os.path.basename(os.path.join(r, f))
            for r, _, fs in os.walk(seg_dir) for f in fs if f.endswith(".parquet")
        )

    def crash(*a, **k):
        raise RuntimeError("boom")

    # one row per slice
    monkeypatch.setattr(inc_mod, "DRIVER_APPLY_BYTES", 64)
    real_postings = inc_mod.write_postings_driver
    calls = []

    def postings_then_crash(*a, **k):
        calls.append(1)
        if len(calls) == 3:
            crash()
        return real_postings(*a, **k)

    monkeypatch.setattr(inc_mod, "write_postings_driver", postings_then_crash)
    with pytest.raises(RuntimeError):
        apply_increments(spark, crashed, batch_a)
    monkeypatch.setattr(inc_mod, "write_postings_driver", real_postings)
    assert os.path.isdir(paths.apply_src)
    assert seg_files(paths.docs_seg(1)) == ["part-00001.parquet", "part-00002.parquet"]
    assert _index_state(spark, crashed) == pre
    assert IndexSearcher(spark, crashed).search("ok", 10) == pre_top
    removed = inc_mod.vacuum(crashed)
    assert paths.apply_src in removed and paths.docs_seg(1) in removed
    assert not os.path.exists(paths.apply_src)

    real = inc_mod.commit_meta
    monkeypatch.setattr(inc_mod, "commit_meta", crash)
    with pytest.raises(RuntimeError):
        apply_increments(spark, crashed, batch_a)
    monkeypatch.setattr(inc_mod, "commit_meta", real)
    assert not os.path.exists(paths.apply_src)
    assert len(seg_files(paths.docs_seg(1))) == 6  # one part per slice
    assert _index_state(spark, crashed) == pre
    assert IndexSearcher(spark, crashed).search("alpha", 10) == []

    monkeypatch.undo()
    s = apply_increments(spark, crashed, batch_b)  # retry with a DIFFERENT batch
    assert (s["route"], s["slices"], s["segment"]) == ("driver", 1, 1)
    apply_increments(spark, clean, batch_b)
    assert seg_files(paths.docs_seg(1)) == ["part-00001.parquet"]
    assert set(seg_files(paths.postings_seg(1))) == {"part-00001.parquet"}
    assert seg_files(paths.deletes_seg(1)) == []

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
    index identical to the re-sort path — same dense doc
    ids (both key-sorted totals), same docs store, terms, and search results
    including score ties — with delta keys landing before the first and
    after the last base key, mid-span updates, and tombstones in play."""
    import os
    import shutil

    import pandas as pd
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    import sync2any_spark.streaming.incremental as inc_mod
    from sync2any_spark.generator import ensure_transcripts

    # the splice input: a fused-built docs store from a source file with
    # small row groups (lexical file order == key order)
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

    # a store whose lexical file order is not key order must decline to
    # the re-sort path: swap the names of two base docs files of a copy
    unordered = str(tmp_path_factory.mktemp("idx_unordered")) + "/idx"
    shutil.copytree(base, unordered)
    ddir = unordered + "/docs"
    parts = sorted(f for f in os.listdir(ddir) if f.endswith(".parquet"))
    first, last = (os.path.join(ddir, parts[i]) for i in (0, -1))
    os.rename(first, first + ".swap")
    os.rename(last, first)
    os.rename(first + ".swap", last)
    out_unordered = str(tmp_path_factory.mktemp("idx_c_unordered"))
    r0 = compact(spark, unordered, out_unordered)
    assert r0["live_spliced"] is False
    assert r0["splice_decline"].startswith("file conv order violated")
    m = pads.dataset(out_unordered + "/metrics").to_table().to_pandas()
    assert list(m[m.stage == "splice_decline"].key) == [r0["splice_decline"]]
    assert r0["resort_reason"] == "no source_path"

    out_shuffle = str(tmp_path_factory.mktemp("idx_c_shuffle"))
    monkeypatch.setattr(inc_mod, "DRIVER_APPLY_BYTES", 0)
    r2 = compact(spark, base2, out_shuffle)
    assert r2["live_spliced"] is False
    assert r2["splice_decline"] == "delta+dead bytes over budget"

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


def _metric_keys(index_dir, stage):
    import pyarrow.dataset as pads

    m = pads.dataset(index_dir + "/metrics").to_table().to_pandas()
    return list(m[m.stage == stage].key)


def _metric_value(index_dir, key):
    """The latest ``increment`` metrics row's value for ``key``."""
    import pyarrow.dataset as pads

    m = pads.dataset(index_dir + "/metrics").to_table().to_pandas()
    m = m[(m.stage == "increment") & (m.key == key)].sort_values("ts")
    return m.value.iloc[-1]


def test_long_text_delta_declines_splice_by_bytes(
    spark, pristine, tmp_path_factory
):
    """A few rows of long text are few rows but many bytes: the batch
    itself passes DRIVER_APPLY_BYTES and is applied in slices, and
    compact's delta pre-pass, which would hold that text on the driver,
    declines by bytes before reading it."""
    idx = _copy_index(pristine, tmp_path_factory, "idx_long_text")
    ts = datetime.datetime(2026, 6, 3)
    # ~3 MB per row, distinct rows (no dictionary page collapses them)
    body = "w0001 ok " * 350_000
    batch = spark.createDataFrame(
        [
            (f"conv_long{i:03d}", 0, "user", f"longterm v{i} {body}", "", ts, "I")
            for i in range(3)
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, op string",
    )
    s = apply_increments(spark, idx, batch)
    assert s["new_docs"] == 3 and s["route"] == "sliced"
    assert s["decline"] == "batch text 9.0 MB over 8 MB"
    assert "decline=batch text 9.0 MB over 8 MB" in _metric_keys(idx, "increment")

    out = str(tmp_path_factory.mktemp("idx_long_text_c"))
    r = compact(spark, idx, out)
    assert r["live_spliced"] is False
    assert r["splice_decline"] == "delta+dead bytes over budget"
    assert _metric_keys(out, "splice_decline") == ["delta+dead bytes over budget"]
    assert len(IndexSearcher(spark, out).search("longterm", 10)) == 3


def test_null_text_delete_batch_declines_by_total_bytes(
    spark, pristine, transcripts_sf0001, tmp_path_factory, monkeypatch
):
    """A delete batch with NULL text has no text bytes but is still
    collected whole: the shape aggregate prices every collected column, so
    past the budget it is applied in slices, with its reason."""
    import sync2any_spark.streaming.incremental as inc_mod

    idx = _copy_index(pristine, tmp_path_factory, "idx_null_delete")
    h = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(100))
    deletes = (
        transcripts_sf0001.where(h < 20)
        .withColumn("text", F.lit(None).cast("string"))
        .withColumn("op", F.lit("D"))
    )
    n = deletes.count()
    budget = 16 << 10  # under the ~50 B a row that is not text
    assert n * 50 > budget
    monkeypatch.setattr(inc_mod, "DRIVER_APPLY_BYTES", budget)
    s = apply_increments(spark, idx, deletes)
    assert s["route"] == "sliced" and s["tombstones"] == n
    assert s["decline"].startswith("batch total ")
    assert s["decline"].endswith(f" MB over {budget / 2**20:g} MB")
    assert f"decline={s['decline']}" in _metric_keys(idx, "increment")


def test_splice_declines_unsorted_base_file_up_front(
    spark, pristine, tmp_path_factory
):
    """A base docs file whose row groups are out of key order declines the
    splice before any work, naming the file — not after a fused pass whose
    span check fails and a re-sort retry."""
    import os

    import pyarrow.parquet as pq

    idx = _copy_index(pristine, tmp_path_factory, "idx_unsorted_file")
    ddir = os.path.join(idx, "docs")
    bad = max(
        (os.path.join(ddir, f) for f in os.listdir(ddir) if f.endswith(".parquet")),
        key=lambda f: pq.ParquetFile(f).metadata.num_rows,
    )
    tbl = pq.read_table(bad)
    assert len(set(tbl["conv_id"].to_pylist())) > 1
    pq.write_table(
        tbl.take(list(range(tbl.num_rows - 1, -1, -1))), bad, row_group_size=4
    )
    out = str(tmp_path_factory.mktemp("idx_unsorted_file_c"))
    r = compact(spark, idx, out)
    assert r["live_spliced"] is False
    assert r["splice_decline"] == f"row-group conv order violated at {bad}"
    assert "span key ranges overlap" not in _metric_keys(out, "resort")
    assert r["resort_reason"] == "no source_path"
