"""Phrase queries (match_phrase capability): algebra path + index-pruned
path, both rank-identical to the Lucene-PhraseQuery-semantics oracle."""

from __future__ import annotations

import pytest

from sync2any_spark.index.builder import build_index
from sync2any_spark.oracle import BM25Oracle
from sync2any_spark.query.phrase import phrase_topk, phrase_topk_indexed
from sync2any_spark.query.wand import IndexSearcher


@pytest.fixture(scope="module")
def corpus(spark, transcripts_sf0001):
    pdf = (
        transcripts_sf0001.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    oracle = BM25Oracle(list(enumerate(pdf["text"])))
    key_of = {
        i: (r.conv_id, r.turn_idx) for i, r in enumerate(pdf.itertuples(index=False))
    }
    return transcripts_sf0001, oracle, key_of


@pytest.fixture(scope="module")
def phrases(corpus):
    """Real bigrams/trigram from the corpus + edge cases."""
    _, oracle, _ = corpus
    toks = next(t for t in oracle.tokens.values() if len(t) >= 10)
    bigram = f"{toks[3]} {toks[4]}"
    trigram = f"{toks[3]} {toks[4]} {toks[5]}"
    return [
        bigram,
        trigram,
        "中 文",               # CJK adjacency (from the injected spans)
        "ok ok",               # repeated-term phrase (usually rare/absent)
        "w0000 zzzzmissing",   # absent term → empty
        "status done",         # from the JSON-brace spans
    ]


def test_phrase_algebra_matches_oracle(corpus, phrases):
    df, oracle, key_of = corpus
    matched_any = 0
    for phrase in phrases:
        got = [
            ((r.conv_id, r.turn_idx), r.score)
            for r in phrase_topk(df, phrase, 10, ["conv_id", "turn_idx"]).collect()
        ]
        want = [(key_of[d], s) for d, s in oracle.phrase_topk(phrase, 10)]
        assert [g[0] for g in got] == [w[0] for w in want], phrase
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), phrase
        matched_any += bool(want)
    assert matched_any >= 3  # the corpus-derived phrases genuinely match


@pytest.fixture(scope="module")
def index_dir(spark, transcripts_sf0001, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_phrase"))
    build_index(
        spark, transcripts_sf0001, d,
        n_partitions=8, n_buckets=8, n_salts=4, heavy_df_threshold=500,
    )
    return d


def test_phrase_indexed_matches_oracle(spark, corpus, phrases, index_dir):
    _, oracle, key_of = corpus
    searcher = IndexSearcher(spark, index_dir)
    for phrase in phrases:
        got = phrase_topk_indexed(searcher, phrase, 10)
        want = oracle.phrase_topk(phrase, 10)
        assert [key_of[g[0]] for g in got] == [key_of[w[0]] for w in want], phrase
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), phrase


@pytest.fixture(scope="module")
def pos_index_dir(spark, transcripts_sf0001, tmp_path_factory):
    """Index built WITH positional postings (store_positions=True — the
    DOCS_AND_FREQS_AND_POSITIONS index option)."""
    d = str(tmp_path_factory.mktemp("idx_phrase_pos"))
    build_index(
        spark, transcripts_sf0001, d,
        n_partitions=8, n_buckets=8, n_salts=4, heavy_df_threshold=500,
        store_positions=True,
    )
    return d


def test_phrase_positional_matches_oracle(spark, corpus, phrases, pos_index_dir):
    """match_phrase from stored positions only — NO docs-store re-read —
    rank- and score-identical to the Lucene-semantics oracle (closes
    VERDICT.md Missing #2)."""
    from sync2any_spark.query.phrase import phrase_topk_positional

    _, oracle, key_of = corpus
    searcher = IndexSearcher(spark, pos_index_dir)
    assert searcher.meta["store_positions"] is True
    for phrase in phrases:
        got = phrase_topk_positional(searcher, phrase, 10)
        want = oracle.phrase_topk(phrase, 10)
        assert [key_of[g[0]] for g in got] == [key_of[w[0]] for w in want], phrase
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), phrase


def test_positions_do_not_change_bm25(spark, index_dir, pos_index_dir):
    """The positional index ranks ordinary BM25 queries identically to the
    positions-free index (the pos column never enters the scoring path —
    parquet column pruning keeps it out of the scan)."""
    a = IndexSearcher(spark, index_dir)
    b = IndexSearcher(spark, pos_index_dir)
    for q in ("ok", "w0000", "ok w0000", "中 文", "hot1 hot2"):
        assert a.search(q, 10) == b.search(q, 10), q


def test_positional_index_raises_without_positions(spark, index_dir):
    from sync2any_spark.query.phrase import phrase_topk_positional

    searcher = IndexSearcher(spark, index_dir)
    with pytest.raises(ValueError, match="store_positions"):
        phrase_topk_positional(searcher, "ok w0000", 10)


def test_phrase_positional_after_increment(spark, transcripts_sf0001, tmp_path_factory):
    """Delta segments inherit the positional index option: a phrase touching
    freshly-appended docs resolves from delta-segment positions. A second
    batch updates one of them, so a doc holding the phrase is tombstoned:
    the driver route, the distributed route and the indexed (docs-store)
    leg all skip it and score the new version as the algebra scorer does."""
    import datetime

    from sync2any_spark.query.phrase import phrase_topk, phrase_topk_positional
    from sync2any_spark.streaming.incremental import apply_increments, live_docs

    d = str(tmp_path_factory.mktemp("idx_pos_inc"))
    build_index(
        spark, transcripts_sf0001, d,
        n_partitions=8, n_buckets=8, n_salts=4, heavy_df_threshold=500,
        store_positions=True,
    )
    ts = datetime.datetime(2026, 6, 2)
    inc = spark.createDataFrame(
        [
            ("conv_pp000001", 0, "user", "uniquephrase anchor here", "", ts, "I"),
            ("conv_pp000001", 1, "user", "another uniquephrase anchor", "", ts, "I"),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, op string",
    )
    apply_increments(spark, d, inc)
    upd = spark.createDataFrame(
        [
            (
                "conv_pp000001", 1, "user", "uniquephrase anchor or uniquephrase anchor",
                "", datetime.datetime(2026, 6, 3), "U",
            ),
        ],
        inc.schema,
    )
    apply_increments(spark, d, upd)
    searcher = IndexSearcher(spark, d)
    assert searcher.deleted.size  # the updated doc's old version
    got = phrase_topk_positional(searcher, "uniquephrase anchor", 10)
    assert len(got) == 2  # both live docs match the phrase, the dead one not
    assert phrase_topk_positional(searcher, "uniquephrase anchor", 10, route="distributed") == got
    indexed = phrase_topk_indexed(searcher, "uniquephrase anchor", 10)
    assert [g[0] for g in indexed] == [g[0] for g in got]
    # scores agree with the algebra scorer over the live corpus
    live = live_docs(spark, d)
    want = {
        (r.conv_id, r.turn_idx): r.score
        for r in phrase_topk(
            live, "uniquephrase anchor", 10, ["conv_id", "turn_idx"]
        ).collect()
    }
    docs = {r.doc_id: (r.conv_id, r.turn_idx)
            for r in live.select("doc_id", "conv_id", "turn_idx").collect()}
    for doc_id, score in got + indexed:
        assert score == pytest.approx(want[docs[doc_id]], rel=1e-9)


def test_serving_tier_phrase(corpus, pos_index_dir):
    """LocalSearcher.search_phrase (RAM-resident positional blocks) —
    rank/score-identical to the oracle: the ES-node match_phrase analog."""
    from sync2any_spark.query.serving import LocalSearcher

    _, oracle, key_of = corpus
    local = LocalSearcher(pos_index_dir, with_positions=True)
    for phrase in ("中 文", "ok ok", "w0000 zzzzmissing"):
        got = local.search_phrase(phrase, 10)
        want = oracle.phrase_topk(phrase, 10)
        assert [key_of[g[0]] for g in got] == [key_of[w[0]] for w in want], phrase
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), phrase
    # without positions loaded, the phrase path refuses loudly
    plain = LocalSearcher(pos_index_dir)
    with pytest.raises(ValueError, match="with_positions"):
        plain.search_phrase("中 文", 10)


def test_phrase_positional_distributed_matches_oracle(
    spark, corpus, phrases, pos_index_dir
):
    """The distributed positional execution (the driver core per doc-id
    range task, k rows per range to the driver) is rank/score-identical to
    the oracle — the scale path a stop-word phrase routes to."""
    from sync2any_spark.query.phrase import phrase_topk_positional

    _, oracle, key_of = corpus
    searcher = IndexSearcher(spark, pos_index_dir)
    for phrase in phrases:
        got = phrase_topk_positional(searcher, phrase, 10, route="distributed")
        want = oracle.phrase_topk(phrase, 10)
        assert [key_of[g[0]] for g in got] == [key_of[w[0]] for w in want], phrase
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), phrase


def test_phrase_routing_auto_picks_distributed(spark, corpus, phrases, pos_index_dir):
    """With a zero budget, auto-routing must take the distributed path for
    every phrase — and stay rank-identical to the forced driver path."""
    from sync2any_spark.query.phrase import phrase_topk_positional

    searcher = IndexSearcher(spark, pos_index_dir, route_budget=0)
    for phrase in phrases:
        auto = phrase_topk_positional(searcher, phrase, 10)  # routes distributed
        drv = phrase_topk_positional(searcher, phrase, 10, route="driver")
        assert [a[0] for a in auto] == [d[0] for d in drv], phrase
        for (_, gs), (_, ws) in zip(auto, drv):
            assert gs == pytest.approx(ws, rel=1e-9), phrase


def test_sharded_serving_phrase(corpus, phrases, pos_index_dir):
    """ShardedSearcher.search_phrase (round-3 Missing #2): the two-round
    occurrence exchange (candidate intersection from per-owner doc ids,
    then candidate-bounded slot positions) must be rank- AND
    score-identical to one unsharded node on phrases whose terms hash to
    DIFFERENT shards."""
    from sync2any_spark.index.bucketing import bucket_of
    from sync2any_spark.query.serving import LocalSearcher, ShardedSearcher

    whole = LocalSearcher(pos_index_dir, with_positions=True)
    n_buckets = int(whole.meta["n_buckets"])
    for n_shards in (2, 3):
        sharded = ShardedSearcher.build(pos_index_dir, n_shards, with_positions=True)
        crossed = 0
        for phrase in phrases:
            got = sharded.search_phrase(phrase, 10)
            want = whole.search_phrase(phrase, 10)
            assert [g[0] for g in got] == [w[0] for w in want], (n_shards, phrase)
            for (_, gs), (_, ws) in zip(got, want):
                assert gs == pytest.approx(ws, rel=1e-12), (n_shards, phrase)
            from sync2any_spark.tokenize import tokenize

            terms = list(dict.fromkeys(tokenize(phrase)))
            shards_hit = {bucket_of(t, n_buckets) % n_shards for t in terms}
            if len(shards_hit) > 1 and want:
                crossed += 1
        # the set must actually exercise the cross-shard path
        assert crossed > 0, f"no phrase crossed shards at n_shards={n_shards}"


def test_replicated_serving_phrase_failover(corpus, phrases, pos_index_dir):
    """Round-5: the two-round phrase exchange over REPLICATED shard groups —
    with one replica of every group down, ranks and scores stay identical
    to the unsharded node (the coordinator's owner lookup must route each
    phase of the exchange to a live copy)."""
    from sync2any_spark.query.serving import LocalSearcher, ShardedSearcher

    whole = LocalSearcher(pos_index_dir, with_positions=True)
    rep = ShardedSearcher.build_replicated(
        pos_index_dir, n_shards=2, n_replicas=2, with_positions=True
    )
    for grp in rep.shards:
        grp.replicas[1].up = False  # different victim than the search test
    for phrase in phrases:
        got = rep.search_phrase(phrase, 10)
        want = whole.search_phrase(phrase, 10)
        assert [g[0] for g in got] == [w[0] for w in want], phrase
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-12), phrase


def test_distributed_legs_run_one_job_without_shuffle(spark, index_dir, pos_index_dir):
    """Each distributed leg — BM25, positional phrase and indexed phrase —
    is ONE Spark job of ONE stage (doc-id range tasks, no exchange), counted
    under a job group set on the calling thread."""
    import uuid

    from sync2any_spark.query.phrase import phrase_topk_positional

    sc = spark.sparkContext

    def jobs_and_stages(leg):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "distributed leg under test")
        try:
            out = leg()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = [st for j in jobs for st in tracker.getJobInfo(j).stageIds]
        assert all(tracker.getStageInfo(st).numTasks > 0 for st in stages)
        return out, len(jobs), len(stages)

    plain, pos = IndexSearcher(spark, index_dir), IndexSearcher(spark, pos_index_dir)
    legs = {
        "bm25": lambda: plain.search("ok w0000", 10, route="distributed"),
        "positional phrase": lambda: phrase_topk_positional(
            pos, "中 文", 10, route="distributed"
        ),
        "indexed phrase": lambda: phrase_topk_indexed(plain, "中 文", 10),
    }
    for name, leg in legs.items():
        hits, n_jobs, n_stages = jobs_and_stages(leg)
        assert hits, name
        assert (n_jobs, n_stages) == (1, 1), name
