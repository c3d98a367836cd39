"""Resume-from-checkpoint (FIXTURES.md invariant 6): a build killed after K
of N partition manifests, then re-run, equals a single-run build."""

from __future__ import annotations

from sync2any_spark.index.builder import build_index, completed_partitions

PARAMS = dict(n_partitions=12, n_buckets=8, n_salts=4, heavy_df_threshold=500)


def _fingerprint(spark, index_dir):
    terms = sorted(
        (r.term, r.df, r.cf, r.bucket)
        for r in spark.read.parquet(f"{index_dir}/terms").collect()
    )
    postings = sorted(
        (r.term, r.salt, r.block_id, r.min_doc, r.max_doc, r.n_docs,
         bytes(r.doc_ids), bytes(r.tfs), bytes(r.dls))
        for r in spark.read.parquet(f"{index_dir}/postings").collect()
    )
    docs = sorted(
        (r.doc_id, r.conv_id, r.turn_idx, r.dl)
        for r in spark.read.parquet(f"{index_dir}/docs").collect()
    )
    return terms, postings, docs


def test_resume_equals_single_run(spark, transcripts_sf0001, tmp_path_factory):
    """files-mode resume: kill after K of N file manifests, re-run, compare."""
    import os

    single = str(tmp_path_factory.mktemp("idx_single"))
    build_index(spark, transcripts_sf0001, single, resume=False, **PARAMS)

    # simulate a crash mid-SPIMI: full build, then erase chunks of parts >= 5
    # and every downstream table (they are rebuilt after the chunk stage)
    resumed = str(tmp_path_factory.mktemp("idx_resumed"))
    build_index(spark, transcripts_sf0001, resumed, resume=False, **PARAMS)
    chunks_dir = f"{resumed}/chunks"
    n_total = len(completed_partitions(chunks_dir))
    for name in os.listdir(chunks_dir):
        if name.startswith("part-") and int(name.split("-")[1].split(".")[0]) >= 5:
            os.remove(os.path.join(chunks_dir, name))
    done = completed_partitions(chunks_dir)
    assert done == set(range(5))  # genuinely partial

    # re-run the full build with resume=True — must only build the rest
    summary = build_index(spark, transcripts_sf0001, resumed, resume=True, **PARAMS)
    assert summary["partitions_built"] == n_total - len(done)

    assert _fingerprint(spark, resumed) == _fingerprint(spark, single)


def test_doc_ids_stable_across_rebuilds(spark, transcripts_sf0001, tmp_path_factory):
    """Doc ids are a pure function of the data (SURVEY.md §7.3) — two
    independent builds assign identical ids."""
    a = str(tmp_path_factory.mktemp("idx_a"))
    b = str(tmp_path_factory.mktemp("idx_b"))
    build_index(spark, transcripts_sf0001, a, resume=False, **PARAMS)
    build_index(spark, transcripts_sf0001, b, resume=False, **PARAMS)
    da = sorted(
        (r.doc_id, r.conv_id, r.turn_idx)
        for r in spark.read.parquet(f"{a}/docs").collect()
    )
    db = sorted(
        (r.doc_id, r.conv_id, r.turn_idx)
        for r in spark.read.parquet(f"{b}/docs").collect()
    )
    assert da == db


def test_fused_equals_twopass(spark, transcripts_sf0001, tmp_path_factory):
    """The fused one-pass segment build and the two-pass files build are
    the SAME logical operator: identical doc ids, identical term stats,
    identical rankings (postings bytes may differ — chunk partitioning
    differs, so salted sub-stream assignment differs, which is rank-neutral
    by construction)."""
    import pyarrow.parquet as pq_mod

    from sync2any_spark.generator import ensure_transcripts
    from sync2any_spark.query.wand import IndexSearcher

    src = ensure_transcripts("sf0.001")
    # re-write with tiny row groups so the fused planner gets enough spans
    fine = str(tmp_path_factory.mktemp("fine")) + "/transcripts.parquet"
    pq_mod.write_table(pq_mod.read_table(src), fine, row_group_size=128)

    fused = str(tmp_path_factory.mktemp("idx_fu"))
    twop = str(tmp_path_factory.mktemp("idx_tp"))
    build_index(
        spark, spark.read.parquet(fine), fused, resume=False,
        source_path=fine, span_mb=0, **PARAMS,
    )
    from sync2any_spark.index.builder import read_index_meta

    # guard: the fused path actually ran (spans >= n_partitions)
    assert read_index_meta(fused)  # meta exists
    build_index(spark, spark.read.parquet(fine), twop, resume=False, **PARAMS)

    docs_a = sorted(
        (r.doc_id, r.conv_id, r.turn_idx, r.dl)
        for r in spark.read.parquet(f"{fused}/docs").collect()
    )
    docs_b = sorted(
        (r.doc_id, r.conv_id, r.turn_idx, r.dl)
        for r in spark.read.parquet(f"{twop}/docs").collect()
    )
    assert docs_a == docs_b
    terms_a = sorted(
        (r.term, r.df, r.cf)
        for r in spark.read.parquet(f"{fused}/terms").collect()
    )
    terms_b = sorted(
        (r.term, r.df, r.cf)
        for r in spark.read.parquet(f"{twop}/terms").collect()
    )
    assert terms_a == terms_b
    sa, sb = IndexSearcher(spark, fused), IndexSearcher(spark, twop)
    for q in ("ok", "w0000", "ok w0000", "中 文"):
        assert sa.search(q, 10) == sb.search(q, 10), q
