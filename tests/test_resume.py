"""Resume-from-checkpoint (FIXTURES.md invariant 6): a build killed after K
of N partition manifests, then re-run, equals a single-run build; and the
index does not depend on the source's row order."""

from __future__ import annotations

import numpy as np
import pytest

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


def test_resume_equals_single_run(
    spark, transcripts_sf0001, tmp_path_factory, monkeypatch
):
    """Kill a build after its SPIMI pass, drop the chunks of parts >= 5,
    re-run with resume: only the dropped parts are rebuilt (over the
    reused sorted copy) and the index equals a single run's."""
    import os

    from sync2any_spark.index import builder

    single = str(tmp_path_factory.mktemp("idx_single"))
    build_index(spark, transcripts_sf0001, single, resume=False, **PARAMS)
    assert not os.path.exists(f"{single}/_sorted_src")  # removed on success

    # a real crash: the terms stage raises after the SPIMI pass committed
    # every span, leaving the sorted copy and the manifests behind
    def crash(*a, **kw):
        raise RuntimeError("simulated crash after the SPIMI pass")

    resumed = str(tmp_path_factory.mktemp("idx_resumed"))
    with monkeypatch.context() as mp:
        mp.setattr(builder, "build_term_stats_driver", crash)
        with pytest.raises(RuntimeError, match="simulated crash"):
            build_index(spark, transcripts_sf0001, resumed, resume=False, **PARAMS)
    assert os.path.exists(f"{resumed}/_sorted_src/_SUCCESS")
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
    assert not os.path.exists(f"{resumed}/_sorted_src")

    assert _fingerprint(spark, resumed) == _fingerprint(spark, single)


def test_resume_over_another_layout_rebuilds_every_span(
    spark, tmp_path_factory
):
    """The chunk layout (n_buckets, n_salts, the merge sub-split and
    store_positions) is pinned with the span list: a resume that changes
    any of it rebuilds every span, and answers like a fresh build and the
    oracle. Reusing the chunks instead would merge chunks without
    positions into positional postings, or chunks keyed by the old bucket
    count into the new one."""
    import pyarrow.parquet as pq_mod

    from sync2any_spark.generator import ensure_queries, ensure_transcripts
    from sync2any_spark.oracle import BM25Oracle
    from sync2any_spark.query.phrase import phrase_topk_positional
    from sync2any_spark.query.wand import IndexSearcher

    tbl = pq_mod.read_table(ensure_transcripts("sf0.001")).sort_by(
        [("conv_id", "ascending"), ("turn_idx", "ascending")]
    )
    # tiny row groups so the sorted file plans enough spans to be used as-is
    src = str(tmp_path_factory.mktemp("resume_src")) + "/transcripts.parquet"
    pq_mod.write_table(tbl, src, row_group_size=128)
    oracle = BM25Oracle(list(enumerate(tbl.column("text").to_pylist())))
    opts = dict(source_path=src, span_mb=0, n_partitions=12, n_salts=4,
                heavy_df_threshold=500)

    fresh = str(tmp_path_factory.mktemp("idx_layout_fresh"))
    first = build_index(spark, None, fresh, resume=False, n_buckets=8,
                        store_positions=True, **opts)
    assert first["resort_reason"] is None
    n_spans = first["partitions_built"]
    want = IndexSearcher(spark, fresh)

    d = str(tmp_path_factory.mktemp("idx_layout_resumed"))
    build_index(spark, None, d, resume=False, n_buckets=8, **opts)
    queries = pq_mod.read_table(ensure_queries()).to_pandas()
    toks = next(t for t in oracle.tokens.values() if len(t) >= 6)
    phrases = ["ok w0000", f"{toks[2]} {toks[3]}", "中 文"]
    for change in ({"n_buckets": 8}, {"n_buckets": 4}):
        res = build_index(spark, None, d, resume=True, store_positions=True,
                          **change, **opts)
        assert res["partitions_built"] == n_spans, change
        got = IndexSearcher(spark, d)
        assert got.n_buckets == change["n_buckets"]
        for q in queries.itertuples(index=False):
            hits = got.search(q.query_text, int(q.k))
            assert hits == want.search(q.query_text, int(q.k)), q.query_text
            exp = oracle.topk(q.query_text, int(q.k))
            assert [h[0] for h in hits] == [e[0] for e in exp], q.query_text
            for (_, hs), (_, es) in zip(hits, exp):
                assert hs == pytest.approx(es, rel=1e-9), q.query_text
        for p in phrases:
            hits = phrase_topk_positional(got, p, 10)
            assert hits == phrase_topk_positional(want, p, 10), p
            exp = oracle.phrase_topk(p, 10)
            assert [h[0] for h in hits] == [e[0] for e in exp], p
            for (_, hs), (_, es) in zip(hits, exp):
                assert hs == pytest.approx(es, rel=1e-9), p
    # the merge itself refuses chunks of another layout, naming the key
    from sync2any_spark.index import builder

    paths = builder.IndexPaths(d)
    terms = builder.build_term_stats_driver(paths.chunks, 4)
    with pytest.raises(ValueError, match=r"part-00000 has n_buckets=4"):
        builder.build_postings_direct(
            spark, paths.chunks, terms, 1.0, 8, paths.postings, n_salts=4,
        )
    assert IndexSearcher(spark, d).search("ok", 5)  # postings left in place


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


def test_source_order_does_not_change_the_index(
    spark, transcripts_sf0001, tmp_path_factory
):
    """A sorted source file used as-is, a DataFrame and a row-shuffled
    source file (both re-sorted into a copy first) give the same index:
    identical doc ids, identical term stats, identical rankings on the
    reference queries (postings bytes may differ — span partitioning
    differs, so salted sub-stream assignment differs, which is
    rank-neutral by construction)."""
    import pyarrow.parquet as pq_mod

    from sync2any_spark.generator import ensure_queries, ensure_transcripts
    from sync2any_spark.query.wand import IndexSearcher

    tbl = pq_mod.read_table(ensure_transcripts("sf0.001"))
    # tiny row groups so the sorted file plans enough spans to be used as-is
    sorted_src = str(tmp_path_factory.mktemp("sorted")) + "/transcripts.parquet"
    pq_mod.write_table(tbl, sorted_src, row_group_size=128)
    shuffled_src = str(tmp_path_factory.mktemp("shuffled")) + "/transcripts.parquet"
    order = np.random.default_rng(11).permutation(tbl.num_rows)
    pq_mod.write_table(tbl.take(order), shuffled_src, row_group_size=128)

    legs = {
        "sorted file": (sorted_src, None),
        "DataFrame": (None, "no source_path"),
        "shuffled file": (shuffled_src, "footer conv order"),
    }
    fingerprints, searchers = {}, {}
    for name, (src, reason) in legs.items():
        d = str(tmp_path_factory.mktemp("idx_order"))
        res = build_index(
            spark, transcripts_sf0001 if src is None else spark.read.parquet(src),
            d, resume=False, source_path=src, span_mb=0, **PARAMS,
        )
        assert res["resort_reason"] == reason, name
        docs = sorted(
            (r.doc_id, r.conv_id, r.turn_idx, r.dl)
            for r in spark.read.parquet(f"{d}/docs").collect()
        )
        terms = sorted(
            (r.term, r.df, r.cf)
            for r in spark.read.parquet(f"{d}/terms").collect()
        )
        fingerprints[name] = (docs, terms)
        searchers[name] = IndexSearcher(spark, d)
    assert fingerprints["DataFrame"] == fingerprints["sorted file"]
    assert fingerprints["shuffled file"] == fingerprints["sorted file"]
    queries = pq_mod.read_table(ensure_queries()).to_pandas()
    for q in queries.itertuples(index=False):
        want = searchers["sorted file"].search(q.query_text, int(q.k))
        for name in ("DataFrame", "shuffled file"):
            got = searchers[name].search(q.query_text, int(q.k))
            assert got == want, (name, q.query_text)
