"""Index build + WAND retrieval vs oracle (SURVEY.md §7.1 M2-M4;
FIXTURES.md invariants 1-5, 7)."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sync2any_spark import B, K1
from sync2any_spark.generator import ensure_queries
from sync2any_spark.index.builder import build_index, read_index_meta
from sync2any_spark.index.codec import decode_doc_ids, decode_tfs
from sync2any_spark.oracle import BM25Oracle
from sync2any_spark.query.wand import IndexSearcher

HEAVY_DF = 500  # low threshold so the 'ok' term (df ≈ 890) exercises salting
N_SALTS = 4
# split_postings low so the heavy groups fan out at this tiny fixture scale
# (the production default only splits multi-million-posting groups)
PARAMS = dict(n_partitions=12, n_buckets=8, n_salts=N_SALTS,
              heavy_df_threshold=HEAVY_DF, split_postings=250)


@pytest.fixture(scope="module")
def index_dir(spark, transcripts_sf0001, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index_sf0001"))
    summary = build_index(
        spark,
        transcripts_sf0001,
        d,
        n_partitions=16,
        n_buckets=8,
        n_salts=N_SALTS,
        heavy_df_threshold=HEAVY_DF,
        split_postings=250,
    )
    assert summary["n_docs"] == transcripts_sf0001.count()
    return d


@pytest.fixture(scope="module")
def oracle(transcripts_sf0001):
    pdf = (
        transcripts_sf0001.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    o = BM25Oracle(list(enumerate(pdf["text"])))
    key_of = {
        i: (r.conv_id, r.turn_idx) for i, r in enumerate(pdf.itertuples(index=False))
    }
    return o, key_of


def test_doc_ids_dense_and_ordered(spark, index_dir):
    docs = spark.read.parquet(f"{index_dir}/docs")
    n = docs.count()
    assert docs.agg(F.min("doc_id"), F.max("doc_id")).first() == (0, n - 1)
    assert docs.select("doc_id").distinct().count() == n
    # doc_id order == (conv_id, turn_idx) order
    rows = docs.orderBy("doc_id").select("conv_id", "turn_idx").collect()
    assert rows == sorted(rows, key=lambda r: (r.conv_id, r.turn_idx))


def test_per_turn_text_equality(spark, index_dir, transcripts_sf0001):
    """North-rule row invariant: docs store text == source text under stable
    (conv_id, turn_idx) ordering."""
    docs = spark.read.parquet(f"{index_dir}/docs")
    joined = transcripts_sf0001.alias("s").join(
        docs.alias("d"), ["conv_id", "turn_idx"], "full"
    )
    n_mismatch = joined.where(
        ~(F.col("s.text") == F.col("d.text"))
        | F.col("s.text").isNull()
        | F.col("d.text").isNull()
    ).count()
    assert n_mismatch == 0
    assert docs.count() == transcripts_sf0001.count()


def test_dl_matches_oracle(spark, index_dir, oracle):
    o, _ = oracle
    dls = {
        r.doc_id: r.dl
        for r in spark.read.parquet(f"{index_dir}/docs").select("doc_id", "dl").collect()
    }
    assert dls == o.dl
    meta = read_index_meta(index_dir)
    assert meta["n_docs"] == o.n_docs
    assert meta["total_tokens"] == sum(o.dl.values())
    assert meta["avgdl"] == pytest.approx(o.avgdl, rel=1e-12)


def test_term_stats_match_oracle(spark, index_dir, oracle):
    """FIXTURES invariant 2: df == distinct docs, cf == Σtf per term."""
    o, _ = oracle
    terms = {
        r.term: (r.df, r.cf)
        for r in spark.read.parquet(f"{index_dir}/terms").collect()
    }
    assert len(terms) == len(o.postings)
    for term, plist in o.postings.items():
        assert terms[term] == (len(plist), sum(plist.values())), term


def test_postings_decode_match_oracle(spark, index_dir, oracle):
    """Decoded, merged posting blocks reproduce the oracle's postings exactly,
    and block ranges are disjoint (what makes salted streams WAND-safe)."""
    o, _ = oracle
    pdf = spark.read.parquet(f"{index_dir}/postings").toPandas()
    seen_terms = set()
    for term, g in pdf.groupby("term"):
        ids_all, tf_all = [], []
        for salt, gs in g.groupby("salt"):
            spans = []
            for r in gs.itertuples(index=False):
                ids = decode_doc_ids(r.doc_ids)
                tfs = decode_tfs(r.tfs)
                assert len(ids) == r.n_docs and ids[0] == r.min_doc and ids[-1] == r.max_doc
                assert (np.diff(ids) > 0).all()
                spans.append((r.min_doc, r.max_doc))
                ids_all.append(ids)
                tf_all.append(tfs)
            # within a (term, salt) stream blocks are doc-ordered and disjoint
            spans.sort()
            for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
                assert a1 < b0, f"overlapping blocks for {term} salt={salt}"
        ids_cat = np.concatenate(ids_all)
        tf_cat = np.concatenate(tf_all)
        # a doc lives in exactly one salted stream — never duplicated
        assert len(ids_cat) == len(np.unique(ids_cat)), term
        order = np.argsort(ids_cat)
        got = dict(zip(ids_cat[order].tolist(), tf_cat[order].tolist()))
        assert got == o.postings[term], term
        seen_terms.add(term)
    assert seen_terms == set(o.postings)


def test_block_max_is_upper_bound(spark, index_dir, oracle):
    """FIXTURES invariant 5: stored bound ≥ every realized block contribution."""
    o, _ = oracle
    pdf = spark.read.parquet(f"{index_dir}/postings").toPandas()
    for r in pdf.itertuples(index=False):
        tfs = decode_tfs(r.tfs).astype(float)
        dls = decode_tfs(r.dls).astype(float)
        contrib = tfs / (tfs + K1 * (1 - B + B * dls / o.avgdl))
        assert r.block_max_score >= contrib.max() - 1e-12
        assert r.block_max_score == pytest.approx(contrib.max(), rel=1e-12)


def test_salting_applied_and_balanced(spark, index_dir):
    """FIXTURES invariant 7: heavy terms split into salted sub-streams and
    no merge group dominates (max/median group size < 3x among heavy groups)."""
    pdf = (
        spark.read.parquet(f"{index_dir}/postings")
        .groupBy("term", "salt")
        .agg(F.sum("n_docs").alias("n"))
        .toPandas()
    )
    hot = pdf[pdf.term == "ok"]
    assert len(hot) == N_SALTS
    sizes = hot["n"].to_numpy()
    assert sizes.max() / np.median(sizes) < 3.0
    # light terms must not be salted
    light = pdf[pdf.term == "w4999"]
    assert (light["salt"] == 0).all()


def test_topk_matches_oracle_full_query_set(spark, index_dir, oracle):
    """FIXTURES invariant 3: rank-identical top-k (ids AND scores) for all
    50 reference queries."""
    o, key_of = oracle
    searcher = IndexSearcher(spark, index_dir)
    queries = pq.read_table(ensure_queries()).to_pandas()
    for q in queries.itertuples(index=False):
        got = searcher.search(q.query_text, int(q.k))
        want = o.topk(q.query_text, int(q.k))
        assert [g[0] for g in got] == [w[0] for w in want], q.query_text
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q.query_text


def test_local_searcher_matches_oracle(spark, index_dir, oracle):
    """The RAM-resident serving tier returns identical rankings from the
    same block files (no Spark in the query path)."""
    from sync2any_spark.query.serving import LocalSearcher

    o, _ = oracle
    searcher = LocalSearcher(index_dir)
    queries = pq.read_table(ensure_queries()).to_pandas()
    for q in queries.itertuples(index=False):
        got = searcher.search(q.query_text, int(q.k))
        want = o.topk(q.query_text, int(q.k))
        assert [g[0] for g in got] == [w[0] for w in want], q.query_text
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q.query_text


def test_distributed_matches_oracle(spark, index_dir, oracle):
    o, _ = oracle
    searcher = IndexSearcher(spark, index_dir)
    for qtext, k in [("ok", 10), ("w0001 w0002", 10), ("中 文", 5), ("zzzzmissing", 10)]:
        got = searcher.search(qtext, k, route="distributed")
        want = o.topk(qtext, k)
        assert [g[0] for g in got] == [w[0] for w in want], qtext
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)


def test_fetch_resolves_source_rows(spark, index_dir, oracle):
    o, key_of = oracle
    searcher = IndexSearcher(spark, index_dir)
    hits = searcher.search("w0000", 5)
    fetched = {r.doc_id: (r.conv_id, r.turn_idx) for r in searcher.fetch(hits).collect()}
    assert len(fetched) == 5
    for d, _ in hits:
        assert fetched[d] == key_of[d]


def test_schema_evolution_appended_column(spark, transcripts_sf0001, tmp_path_factory):
    """A6/§1.3 (reference: transform/RecordsTransform.java:25-38 — new
    columns appended only): an extra source column must not break the build
    nor change doc ids, and rides through to the docs store. Covers BOTH
    sources of the fused pass: a sorted file used as-is (source_path) and
    a DataFrame, re-sorted into a copy first."""
    import pyarrow.parquet as pq_mod
    import pyarrow as pa

    from sync2any_spark.generator import ensure_transcripts

    plain = str(tmp_path_factory.mktemp("idx_plain"))
    build_index(spark, transcripts_sf0001, plain, resume=False, **PARAMS)
    want_ids = sorted(
        (r.conv_id, r.turn_idx, r.doc_id)
        for r in spark.read.parquet(f"{plain}/docs").collect()
    )

    # augmented source: same rows + appended 'channel' column
    src = ensure_transcripts("sf0.001")
    tbl = pq_mod.read_table(src)
    tbl = tbl.append_column(
        "channel", pa.array([f"ch{i % 3}" for i in range(len(tbl))])
    )
    aug = str(tmp_path_factory.mktemp("aug")) + "/transcripts.parquet"
    pq_mod.write_table(tbl, aug, row_group_size=128)

    # fused path (source_path; span per row group so spans ≥ n_partitions)
    fused = str(tmp_path_factory.mktemp("idx_fused_ev"))
    build_index(
        spark, spark.read.parquet(aug), fused, resume=False,
        source_path=aug, span_mb=0, **PARAMS,
    )
    fdocs = spark.read.parquet(f"{fused}/docs")
    assert "channel" in fdocs.columns
    got = sorted(
        (r.conv_id, r.turn_idx, r.doc_id) for r in fdocs.collect()
    )
    assert got == want_ids

    # re-sort path (DataFrame input, no source_path)
    twop = str(tmp_path_factory.mktemp("idx_twop_ev"))
    build_index(spark, spark.read.parquet(aug), twop, resume=False, **PARAMS)
    tdocs = spark.read.parquet(f"{twop}/docs")
    assert "channel" in tdocs.columns
    got2 = sorted(
        (r.conv_id, r.turn_idx, r.doc_id) for r in tdocs.collect()
    )
    assert got2 == want_ids

    # ranking unaffected by the extra column
    a = IndexSearcher(spark, plain).search("ok w0000", 10)
    b = IndexSearcher(spark, fused).search("ok w0000", 10)
    assert a == b


def test_search_auto_routing_rank_identical(spark, index_dir):
    """The self-dispatching planner (round-2 top ask): with a zero budget
    every query routes to the distributed execution; rankings must be
    identical to the forced driver path. With an infinite budget the driver
    path runs; both must match the default searcher."""
    queries = pq.read_table(ensure_queries()).to_pandas()
    routed = IndexSearcher(spark, index_dir, route_budget=0)
    driver = IndexSearcher(spark, index_dir, route_budget=1 << 60)
    for q in queries.itertuples(index=False):
        a = routed.search(q.query_text, int(q.k))          # auto → distributed
        b = driver.search(q.query_text, int(q.k))          # auto → driver
        c = routed.search(q.query_text, int(q.k), route="driver")
        assert [x[0] for x in a] == [x[0] for x in b] == [x[0] for x in c], q.query_text
        for (_, sa), (_, sb) in zip(a, b):
            assert sa == pytest.approx(sb, rel=1e-9), q.query_text


def test_route_budget_boundary(spark, index_dir):
    """r4 VERDICT Next #7: pin the Σ-df pricing at the budget boundary.
    A query priced exactly AT the budget stays on the driver leg; one
    posting over it routes to the distributed leg — and both legs return
    the identical ranking, so a mis-priced budget can never change results,
    only cost."""
    queries = pq.read_table(ensure_queries()).to_pandas()
    base = IndexSearcher(spark, index_dir)
    qtext, k = queries.iloc[0].query_text, int(queries.iloc[0].k)
    qterms = base._qterms(qtext)
    dfs = base._term_dfs(qterms)
    price = sum(dfs[t] for t in qterms)
    assert price > 1  # boundary test needs a non-trivial price
    want = base.search(qtext, k)

    for budget, expect_distributed in ((price, False), (price - 1, True)):
        s = IndexSearcher(spark, index_dir, route_budget=budget)
        hits: list[int] = []
        orig = s._distributed
        s._distributed = lambda *a, _h=hits, _o=orig: (_h.append(1), _o(*a))[1]
        got = s.search(qtext, k)
        assert bool(hits) == expect_distributed, budget
        assert [g[0] for g in got] == [w[0] for w in want]
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)


def test_sharded_serving_matches_unsharded(spark, index_dir):
    """ShardedSearcher (round-2 Next #7): bucket-disjoint serving nodes,
    coordinator sums per-doc partials — rank- AND score-identical to one
    unsharded node on the full reference query set. Also proves each shard
    really loaded only its buckets."""
    from sync2any_spark.query.serving import LocalSearcher, ShardedSearcher

    whole = LocalSearcher(index_dir)
    sharded = ShardedSearcher.build(index_dir, 2)
    # disjoint RAM: no block is loaded twice, union is the whole index
    n0 = len(sharded.shards[0]._blocks)
    n1 = len(sharded.shards[1]._blocks)
    assert n0 > 0 and n1 > 0 and n0 + n1 == len(whole._blocks)

    queries = pq.read_table(ensure_queries()).to_pandas()
    for q in queries.itertuples(index=False):
        got = sharded.search(q.query_text, int(q.k))
        want = whole.search(q.query_text, int(q.k))
        assert [g[0] for g in got] == [w[0] for w in want], q.query_text
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-12), q.query_text


@pytest.fixture(scope="module")
def tombstoned(spark, index_dir, transcripts_sf0001, tmp_path_factory):
    """(index dir, live-corpus oracle) of a copy of ``index_dir`` with one
    committed delta segment: 3% of the docs updated, 2% deleted."""
    import shutil

    from sync2any_spark.streaming.incremental import apply_increments, live_docs

    d = str(tmp_path_factory.mktemp("index_tombstoned"))
    shutil.rmtree(d)
    shutil.copytree(index_dir, d)
    t = transcripts_sf0001
    h = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(100))
    updates = (
        t.where(h < 3)
        .withColumn("text", F.concat(F.lit("ok updated "), F.col("text")))
        .withColumn("op", F.lit("U"))
    )
    deletes = t.where((h >= 3) & (h < 5)).withColumn("op", F.lit("D"))
    assert apply_increments(spark, d, updates.unionByName(deletes))["tombstones"] > 0
    pdf = live_docs(spark, d).orderBy("doc_id").select("doc_id", "text").toPandas()
    return d, BM25Oracle(list(zip(pdf["doc_id"], pdf["text"])))


@pytest.mark.parametrize("tier", ["driver", "serving", "sharded", "replicated"])
def test_kernel_legs_identity(spark, index_dir, oracle, tombstoned, monkeypatch, tier):
    """Every leg of ``kernel.topk`` — the block-max pruned pre-pass (seed
    budgets 8, 1,000 and 10^7: a tiny seed gives a loose θ that prunes
    little; θ is a lower bound either way), the single-term tail and the
    slice-parallel exhaustive leg — is rank- and score-identical to the
    sequential exhaustive leg and to the oracle, through the driver route,
    the serving tier, sharded or replicated serving, on an index without
    tombstones and on one with them. The hot legs engage at
    ``PARALLEL_POSTINGS`` postings; the test forces that threshold to 0
    (every query hot) and to 10^12 (every query sequential)."""
    from collections import Counter

    from sync2any_spark.query import kernel
    from sync2any_spark.query.serving import LocalSearcher, ShardedSearcher

    ran = Counter()

    def count(name, real, did):
        def leg(*args):
            out = real(*args)
            ran[name] += did(args, out)
            return out

        monkeypatch.setattr(kernel, name, leg)

    count("_prune", kernel._prune, lambda a, out: out is not a[0])
    count("_single_term_tail", kernel._single_term_tail, lambda a, out: out is not None)
    count("_parallel", kernel._parallel, lambda a, out: 1)
    queries = pq.read_table(ensure_queries()).to_pandas()
    open_tier = {
        "driver": lambda d: IndexSearcher(spark, d).search,
        "serving": lambda d: LocalSearcher(d).search,
        "sharded": lambda d: ShardedSearcher.build(d, 2).search,
        "replicated": lambda d: ShardedSearcher.build_replicated(d, 3, 2).search,
    }[tier]
    for d, o in ((index_dir, oracle[0]), tombstoned):
        search = open_tier(d)
        monkeypatch.setattr(kernel, "PARALLEL_POSTINGS", 10**12)
        base = {
            (q.query_text, int(q.k)): search(q.query_text, int(q.k))
            for q in queries.itertuples(index=False)
        }
        monkeypatch.setattr(kernel, "PARALLEL_POSTINGS", 0)
        for seed in (8, 1000, 10_000_000):
            monkeypatch.setattr(kernel, "PRUNE_SEED_POSTINGS", seed)
            for (qtext, k), want in base.items():
                got = search(qtext, k)
                exact = o.topk(qtext, k)
                key = (d == index_dir, seed, qtext)
                assert [g[0] for g in got] == [w[0] for w in want] == [
                    e[0] for e in exact
                ], key
                for (_, gs), (_, ws), (_, es) in zip(got, want, exact):
                    assert gs == pytest.approx(ws, rel=1e-12), key
                    assert gs == pytest.approx(es, rel=1e-9), key
    # each hot leg decided at least one query: pruning kept a strict subset,
    # the tail answered, the parallel leg scored
    assert ran["_prune"] and ran["_single_term_tail"] and ran["_parallel"], ran


def test_replicated_serving_failover(spark, index_dir):
    """Round-5 (r4 VERDICT Next #3): the ES 8-shard × 2-replica layout —
    each shard group holds R full copies; the coordinator round-robins
    live copies and fails over on node loss. Dropping one replica of every
    group MID-query-set must leave results identical to the unsharded
    node; a replica dying mid-call (ConnectionError) must retry on its
    sibling; a whole group down must raise."""
    from sync2any_spark.query.serving import LocalSearcher, ShardedSearcher

    whole = LocalSearcher(index_dir)
    rep = ShardedSearcher.build_replicated(index_dir, n_shards=3, n_replicas=2)
    # every copy of a group loaded the same blocks; groups are disjoint
    for grp in rep.shards:
        assert len(grp.replicas) == 2
        assert len(grp.replicas[0]._blocks) == len(grp.replicas[1]._blocks)
    assert sum(len(g.replicas[0]._blocks) for g in rep.shards) == len(
        whole._blocks
    )

    queries = pq.read_table(ensure_queries()).to_pandas()

    def check(q):
        got = rep.search(q.query_text, int(q.k))
        want = whole.search(q.query_text, int(q.k))
        assert [g[0] for g in got] == [w[0] for w in want], q.query_text
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-12), q.query_text

    half = len(queries) // 2
    for q in queries.iloc[:half].itertuples(index=False):
        check(q)
    # node loss mid-query-set: replica 0 of EVERY group goes dark
    for grp in rep.shards:
        grp.replicas[0].up = False
    for q in queries.iloc[half:].itertuples(index=False):
        check(q)
    for grp in rep.shards:
        grp.replicas[0].up = True

    # mid-call death: the primary starts the call and raises — the
    # coordinator must transparently retry the sibling copy
    victim = rep.shards[0].replicas[0]
    orig = victim.partial_scores
    victim.partial_scores = lambda q: (_ for _ in ()).throw(
        ConnectionError("node died mid-call")
    )
    try:
        for q in queries.iloc[:5].itertuples(index=False):
            check(q)
    finally:
        victim.partial_scores = orig

    # red index: every copy of one group down → the query that needs that
    # group fails loudly, not silently with partial results
    for r in rep.shards[0].replicas:
        r.up = False
    with pytest.raises(ConnectionError):
        for q in queries.itertuples(index=False):
            rep.search(q.query_text, int(q.k))
    for r in rep.shards[0].replicas:
        r.up = True


def test_pyarrow_scan_equals_spark_scan(spark, index_dir, oracle):
    """The driver route's direct pyarrow fetch (zero Spark jobs) and the
    doc-range tasks of the distributed route both return the oracle's
    rankings and scores for the full query set."""
    o, _ = oracle
    searcher = IndexSearcher(spark, index_dir, route_budget=1 << 60)
    queries = pq.read_table(ensure_queries()).to_pandas()
    for q in queries.itertuples(index=False):
        want = o.topk(q.query_text, int(q.k))
        for route in ("driver", "distributed"):
            got = searcher.search(q.query_text, int(q.k), route=route)
            assert [g[0] for g in got] == [w[0] for w in want], (route, q.query_text)
            for (_, gs), (_, ws) in zip(got, want):
                assert gs == pytest.approx(ws, rel=1e-9), (route, q.query_text)


def test_local_searcher_fetch(spark, index_dir, transcripts_sf0001):
    """Serving-tier doc retrieval (ES _source fetch, no Spark): resolved
    rows carry the exact source text for every hit."""
    from sync2any_spark.query.serving import LocalSearcher

    local = LocalSearcher(index_dir)
    hits = local.search("ok w0000", 5)
    assert hits
    got = local.fetch(hits).sort_values("doc_id")
    assert list(got.columns) == ["doc_id", "score", "conv_id", "turn_idx", "role", "text"]
    assert len(got) == len(hits)
    src = {
        (r.conv_id, r.turn_idx): r.text
        for r in transcripts_sf0001.collect()
    }
    for r in got.itertuples(index=False):
        assert src[(r.conv_id, r.turn_idx)] == r.text
    assert dict(zip(got["doc_id"], got["score"])) == dict(hits)
    assert local.fetch([]).empty


def test_force_merge_postings(spark, transcripts_sf0001, tmp_path_factory, oracle):
    """force_merge (the ES POST /_forcemerge analog, round-4): the base
    postings rewrite into ONE term-sorted file per bucket, committed via the
    atomic meta.json swap. Rankings must be identical on every path
    (driver, serving tier, phrase) and match the oracle, the old layout
    must be gone, and vacuum must remove an orphaned superseded layout."""
    import glob as globmod
    import json
    import os
    import shutil

    from sync2any_spark.index.builder import (
        force_merge_postings,
        read_index_meta,
    )
    from sync2any_spark.query.phrase import phrase_topk_positional
    from sync2any_spark.query.serving import LocalSearcher

    d = str(tmp_path_factory.mktemp("index_fm"))
    build_index(spark, transcripts_sf0001, d, store_positions=True, **PARAMS)
    s0 = IndexSearcher(spark, d)
    queries = pq.read_table(ensure_queries()).to_pandas()
    before = {
        (q.query_text, int(q.k)): s0.search(q.query_text, int(q.k))
        for q in queries.itertuples(index=False)
    }
    phrase_before = phrase_topk_positional(s0, "ok w0000", 5)
    # positions survive the salted, split merge ("ok" is heavy)
    want = oracle[0].phrase_topk("ok w0000", 5)
    assert [g[0] for g in phrase_before] == [w[0] for w in want]
    for (_, gs), (_, ws) in zip(phrase_before, want):
        assert gs == pytest.approx(ws, rel=1e-9)
    n_before = len(globmod.glob(f"{d}/postings/bucket=*/*.parquet"))

    sc = spark.sparkContext
    sc.setJobGroup("force_merge", "force_merge_postings")
    try:
        res = force_merge_postings(spark, d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["buckets"] == PARAMS["n_buckets"]
    # one job whose buckets merge in parallel tasks (a groupBy over the
    # bucket table coalesces under AQE into one task)
    tracker = sc.statusTracker()
    (job,) = tracker.getJobIdsForGroup("force_merge")
    (stage,) = tracker.getJobInfo(job).stageIds
    assert tracker.getStageInfo(stage).numTasks > 1
    meta = read_index_meta(d)
    assert meta["postings_dir"] == res["out_dir"]
    n_after = len(globmod.glob(f"{d}/{res['out_dir']}/bucket=*/*.parquet"))
    assert n_after == res["buckets"] < n_before  # ONE file per bucket
    assert not os.path.isdir(f"{d}/postings")  # old layout removed

    s1 = IndexSearcher(spark, d)
    for q in queries.itertuples(index=False):
        key = (q.query_text, int(q.k))
        got = s1.search(*key)
        assert got == before[key], q.query_text
        want = oracle[0].topk(*key)
        assert [g[0] for g in got] == [w[0] for w in want], q.query_text
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), q.query_text
    local = LocalSearcher(d, with_positions=True)
    for q in queries.itertuples(index=False):
        key = (q.query_text, int(q.k))
        got = local.search(*key)
        assert [g[0] for g in got] == [w[0] for w in before[key]]
    assert phrase_topk_positional(s1, "ok w0000", 5) == phrase_before

    # vacuum removes a superseded layout orphaned by a crash after commit
    orphan = os.path.join(d, "postings_fm99999")
    shutil.copytree(os.path.join(d, res["out_dir"]), orphan)
    from sync2any_spark.streaming.incremental import vacuum

    removed = vacuum(d)
    assert orphan in removed and not os.path.isdir(orphan)
    assert os.path.isdir(os.path.join(d, res["out_dir"]))  # live layout kept


def test_bucket_restricted_term_dictionary(spark, index_dir):
    """IndexSearcher(buckets=[...]) (round-3 Missing #1): the driver term
    dictionary loads ONLY the given buckets' rows (the ES per-shard term
    dictionary — the full vocabulary never sits on one query node), and the
    restricted searcher answers queries over its own buckets' terms
    rank-identically to the unrestricted one."""
    from sync2any_spark.index.bucketing import bucket_of

    full = IndexSearcher(spark, index_dir)
    full._term_dfs(["ok"])  # force dictionary load
    n_buckets = full.n_buckets
    mine = list(range(0, n_buckets, 2))
    shard = IndexSearcher(spark, index_dir, buckets=mine)
    shard._term_dfs(["ok"])
    # bucket-bounded load: strictly fewer rows, and exactly the terms whose
    # bucket hashes into the subset
    assert 0 < len(shard._df_map) < len(full._df_map)
    want = {t for t in full._df_map.index if bucket_of(t, n_buckets) in set(mine)}
    assert set(shard._df_map.index) == want

    queries = pq.read_table(ensure_queries()).to_pandas()
    from sync2any_spark.tokenize import tokenize

    covered = 0
    for q in queries.itertuples(index=False):
        terms = list(dict.fromkeys(tokenize(q.query_text)))
        if terms and all(bucket_of(t, n_buckets) in set(mine) for t in terms):
            covered += 1
            assert shard.search(q.query_text, int(q.k)) == full.search(
                q.query_text, int(q.k)
            ), q.query_text
    assert covered > 0  # the query set exercises the restricted shard
    # a term OUTSIDE the shard's buckets is answered as absent (df=0),
    # exactly like a sharded deployment where another node owns it
    other = next(iter(set(full._df_map.index) - want))
    assert shard.search(other, 5) == []


def test_sorted_source_fast_path_identical_and_fallbacks(
    spark, tmp_path_factory
):
    """The sorted fused pass (doc_id = span base + local rank, zero
    driver-side PK reads) must (a) use a sorted source as-is and produce
    the exact index the re-sort path produces, (b) re-sort and retry when
    the manifest boundary check catches a turn-order violation the footer
    stats cannot see, and (c) decline upfront when
    footer stats show conv_id overlap."""
    import os

    import pandas as pd
    import pyarrow as pa

    import pyarrow.dataset as pads

    from sync2any_spark.index.builder import (
        plan_spans,
        read_manifests,
        sorted_span_bases,
        span_key_overlap,
    )

    def resort_rows(d):
        m = pads.dataset(d + "/metrics").to_table().to_pandas()
        return list(m[(m.stage == "resort") & (m.key != "wall_s")].key)

    def write_src(dirname, pdf, rg=64):
        p = os.path.join(str(tmp_path_factory.mktemp(dirname)), "t.parquet")
        tbl = pa.table(
            {
                "conv_id": pa.array(pdf.conv_id, pa.string()),
                "turn_idx": pa.array(pdf.turn_idx, pa.int32()),
                "role": pa.array(["user"] * len(pdf), pa.string()),
                "text": pa.array(pdf.text, pa.string()),
                "tool": pa.array([""] * len(pdf), pa.string()),
                "ts": pa.array(
                    np.full(len(pdf), np.datetime64("2026-01-01", "us"))
                ),
            }
        )
        pq.write_table(tbl, p, row_group_size=rg)
        return p

    rng = np.random.default_rng(7)
    rows = []
    for c in range(40):
        for t in range(int(rng.integers(3, 15))):
            rows.append((f"c{c:04d}", t, f"w{int(rng.integers(0, 40)):04d} ok"))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])

    # (a) sorted source: used as-is, index identical to the re-sort path
    src = write_src("sorted_src", pdf)
    spans = plan_spans(src, 0)
    assert len(spans) > 2 and sorted_span_bases(src, spans) is not None
    d_fast = str(tmp_path_factory.mktemp("idx_fast"))
    res = build_index(spark, spark.read.parquet(src), d_fast, n_partitions=2,
                      n_buckets=4, span_mb=0, source_path=src, resume=False)
    assert res["resort_reason"] is None and resort_rows(d_fast) == []
    assert span_key_overlap(read_manifests(f"{d_fast}/chunks")) is None
    d_slow = str(tmp_path_factory.mktemp("idx_slow"))
    # one row group → 1 span < n_partitions → re-sort path
    src_one = write_src("one_group_src", pdf, rg=len(pdf))
    res = build_index(spark, spark.read.parquet(src_one), d_slow,
                      n_partitions=2, n_buckets=4, span_mb=0,
                      source_path=src_one, resume=False)
    assert res["resort_reason"] == "too few spans"
    assert resort_rows(d_slow) == ["too few spans"]
    # no DataFrame given: the re-sort reads the source itself
    d_none = str(tmp_path_factory.mktemp("idx_slow_none"))
    res = build_index(spark, None, d_none, n_partitions=2, n_buckets=4,
                      span_mb=0, source_path=src_one, resume=False)
    assert res["resort_reason"] == "too few spans"
    fast = spark.read.parquet(f"{d_fast}/docs").orderBy("doc_id").toPandas()
    for d in (d_slow, d_none):
        slow = spark.read.parquet(f"{d}/docs").orderBy("doc_id").toPandas()
        pd.testing.assert_frame_equal(
            fast[["doc_id", "conv_id", "turn_idx", "dl"]],
            slow[["doc_id", "conv_id", "turn_idx", "dl"]],
        )

    # (b) conv-sorted but turn order broken ACROSS a row-group boundary:
    # footer precheck passes (conv non-decreasing), the within-span check
    # passes (each span locally sorted), the manifest boundary check must
    # catch it and the build must fall back to a correct index
    pdf_b = pdf.copy()
    # put one conversation's high turns in an earlier row group than its
    # low turns by swapping two blocks that land in different groups
    mid = len(pdf_b) // 2
    c_name = "c9999"
    lo = pd.DataFrame(
        {"conv_id": c_name, "turn_idx": [0, 1], "text": "ok ok"}
    )
    hi = pd.DataFrame(
        {"conv_id": c_name, "turn_idx": [2, 3], "text": "ok ok"}
    )
    # hi block first (earlier group), lo block last — conv_id still the
    # global max in both groups' stats windows only if nothing sorts after
    # it; use a trailing conv name
    pdf_b = pd.concat(
        [pdf_b.iloc[:mid], hi, pdf_b.iloc[mid:].assign(), lo],
        ignore_index=True,
    )
    # conv_id stats: groups before mid end <= c9999, the hi block's group
    # has max c9999, later groups min >= old names < c9999 → overlap →
    # footer check actually declines this one. Force the interesting case:
    # all of c9999 at the END, turns reversed across a group boundary.
    pdf_b = pd.concat(
        [
            pdf,
            pd.DataFrame(
                {
                    "conv_id": c_name,
                    # 64-row groups: pad so [2,3] and [0,1] straddle a
                    # row-group boundary
                    "turn_idx": list(range(4, 4 + 62)) + [2, 3, 0, 1],
                    "text": "ok ok",
                }
            ),
        ],
        ignore_index=True,
    )
    src_b = write_src("boundary_src", pdf_b)
    d_b = str(tmp_path_factory.mktemp("idx_boundary"))
    res = build_index(spark, spark.read.parquet(src_b), d_b, n_partitions=2,
                      n_buckets=4, span_mb=0, source_path=src_b, resume=False)
    # the manifest check rejected the as-is pass rather than silently
    # accepting it, and the retry over the re-sorted copy succeeded
    assert res["resort_reason"] == "span key ranges overlap"
    assert resort_rows(d_b) == ["span key ranges overlap"]
    assert span_key_overlap(read_manifests(f"{d_b}/chunks")) is None
    docs_b = spark.read.parquet(f"{d_b}/docs").orderBy("doc_id").toPandas()
    want = (
        pdf_b.sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    assert list(docs_b.conv_id) == list(want.conv_id)
    assert list(docs_b.turn_idx) == list(want.turn_idx)
    assert list(docs_b.doc_id) == list(range(len(want)))

    # (c) shuffled conv order: footer stats overlap → precheck declines
    pdf_c = pdf.sample(frac=1.0, random_state=3).reset_index(drop=True)
    src_c = write_src("shuffled_src", pdf_c)
    assert sorted_span_bases(src_c, plan_spans(src_c, 0)) is None
    d_c = str(tmp_path_factory.mktemp("idx_shuffled"))
    res = build_index(spark, spark.read.parquet(src_c), d_c, n_partitions=2,
                      n_buckets=4, span_mb=0, source_path=src_c, resume=False)
    assert res["resort_reason"] == "footer conv order"
    assert resort_rows(d_c) == ["footer conv order"]
    docs_c = spark.read.parquet(f"{d_c}/docs").orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(
        docs_c[["doc_id", "conv_id", "turn_idx", "dl"]],
        fast[["doc_id", "conv_id", "turn_idx", "dl"]],
    )


def test_sorted_fast_path_offsets_stays_metadata_scale(spark, tmp_path_factory):
    """Round 6 (r5 VERDICT Next #4): the round-5 scaling win rides on
    using a sorted source as-is — doc ids from footer stats alone. Pin it:
    a sorted source must skip the re-sort (no 'resort' stage) with an
    'offsets' wall that is a footer walk (well under a second), not a
    PK-column read or a Spark job."""
    import pyarrow.dataset as pads

    from sync2any_spark.generator import ensure_transcripts
    from sync2any_spark.index.builder import build_index

    src = ensure_transcripts("sf0.001")
    out = str(tmp_path_factory.mktemp("idx_sorted_pin"))
    res = build_index(
        spark, spark.read.parquet(src), out, n_partitions=2, n_buckets=4,
        resume=False, source_path=src, span_mb=4,
    )
    m = pads.dataset(out + "/metrics").to_table().to_pandas()
    stages = dict(
        m[m.key == "wall_s"][["stage", "value"]].itertuples(index=False)
    )
    assert "resort" not in stages, "sorted source was re-sorted"
    assert res["resort_reason"] is None
    assert stages["offsets"] < 0.5, stages


def test_build_wall_covers_every_stage(spark, tmp_path_factory, monkeypatch):
    """``build.wall_s`` is timed from function entry: it covers span
    planning and a failed as-is pass, so it is at least the sum of the
    stage ``wall_s`` rows even when the build re-sorts and retries."""
    import time

    import pyarrow.dataset as pads

    from sync2any_spark.generator import ensure_transcripts
    from sync2any_spark.index import builder

    real_plan = builder.plan_spans

    def slow_plan(*a, **kw):
        time.sleep(0.2)
        return real_plan(*a, **kw)

    real_overlap = builder.span_key_overlap
    calls = []

    def overlap_once(mans):  # reject the as-is pass only
        calls.append(1)
        return ("c", 0) if len(calls) == 1 else real_overlap(mans)

    monkeypatch.setattr(builder, "plan_spans", slow_plan)
    monkeypatch.setattr(builder, "span_key_overlap", overlap_once)
    src = ensure_transcripts("sf0.001")
    out = str(tmp_path_factory.mktemp("idx_wall"))
    res = build_index(
        spark, spark.read.parquet(src), out, n_partitions=2, n_buckets=4,
        resume=False, source_path=src, span_mb=4,
    )
    m = pads.dataset(out + "/metrics").to_table().to_pandas()
    walls = m[m.key == "wall_s"]
    retried = m[(m.stage == "resort") & (m.key != "wall_s")]
    assert list(retried.key) == ["span key ranges overlap"]
    assert res["resort_reason"] == "span key ranges overlap"
    stages = walls[walls.stage != "build"]
    assert len(stages[stages.stage == "offsets"]) == 2
    assert len(stages[stages.stage == "spimi"]) == 2
    build_wall = float(walls[walls.stage == "build"].value.iloc[0])
    assert build_wall == pytest.approx(res["wall_s"])
    assert build_wall >= float(stages.value.sum())


def test_build_starts_two_spark_jobs(spark, tmp_path_factory):
    """A build over a sorted ``source_path`` starts exactly two Spark jobs,
    the fused pass and the postings merge: both run their work lists as
    plain Python tasks, whose results come back with the job's one
    ``collect`` (a ``count()`` of a DataFrame manifest was two jobs under
    AQE)."""
    import uuid

    from sync2any_spark.generator import ensure_transcripts

    src = ensure_transcripts("sf0.001")
    transcripts = spark.read.parquet(src)  # its schema read is a job too
    out = str(tmp_path_factory.mktemp("idx_jobs"))
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build_index under test")
    try:
        res = build_index(
            spark, transcripts, out, n_partitions=2, n_buckets=4,
            resume=False, source_path=src, span_mb=4,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["resort_reason"] is None
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def test_meta_commit_survives_a_torn_write(spark, tmp_path_factory, monkeypatch):
    """``json.dump`` failing partway through meta.json: a build leaves no
    meta.json (no truncated file a reader would choke on), and a failed
    force-merge leaves the previous meta.json whole."""
    import json
    import os

    from sync2any_spark.generator import ensure_transcripts
    from sync2any_spark.index.builder import force_merge_postings, read_index_meta

    real_dump = json.dump

    def torn_dump(obj, f, *a, **kw):
        if "meta.json" not in os.path.basename(getattr(f, "name", "")):
            return real_dump(obj, f, *a, **kw)
        f.write(json.dumps(obj)[:10])
        raise OSError("no space left mid-write")

    src = ensure_transcripts("sf0.001")
    d = str(tmp_path_factory.mktemp("idx_torn"))
    params = dict(n_partitions=2, n_buckets=4, resume=False, source_path=src,
                  span_mb=4)
    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError, match="mid-write"):
            build_index(spark, spark.read.parquet(src), d, **params)
    assert not os.path.exists(os.path.join(d, "meta.json"))

    build_index(spark, spark.read.parquet(src), d, **params)
    before = read_index_meta(d)
    with monkeypatch.context() as m:
        m.setattr(json, "dump", torn_dump)
        with pytest.raises(OSError, match="mid-write"):
            force_merge_postings(spark, d)
    assert read_index_meta(d) == before
    assert IndexSearcher(spark, d).search("ok", 5)
