"""Single-node serving tier — RAM-resident postings, no Spark jobs per query.

The reference's search half is a single Elasticsearch node answering from
local RAM/page cache; the Spark scan path (IndexSearcher) pays a ~100 ms
scheduler floor per query, which is the wrong comparison for serving-tier
latency. LocalSearcher loads the SAME postings blocks (built by the Spark
job) into driver memory once via pyarrow and serves top-k with the exact
scorers — the deployment shape at 10^12 docs is this tier sharded by
``bucket`` across serving nodes, each loading only its buckets.

Scoring code and semantics are shared with IndexSearcher (exact BM25,
doc-id tie-break, tombstone skipping); tests assert both return identical
rankings to the oracle.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from .. import B, K1
from ..index.codec import decode_block_batch
from ..tokenize import tokenize
from .wand import bm25_contrib, idf, topk_sorted

BLOCK_COLS = [
    "term", "salt", "block_id", "min_doc", "max_doc",
    "doc_ids", "tfs", "dls", "max_tf", "min_dl", "n_docs",
]


# Σ-postings threshold above which a serving-node query scores
# slice-parallel on the shared pool (below it, pool dispatch costs more
# than it saves — light queries are a few hundred µs sequential)
_PAR_SERVE_POSTINGS = int(os.environ.get("SPARK_GRAFT_PAR_SERVE_POSTINGS", "200000"))
# block-max pruning pre-pass (hot serving queries): per-term seed decode
# budget for the θ estimate, and the kept-postings fraction above which the
# pruned plan is abandoned for the exhaustive slice-parallel scorer
_PRUNE_SEED_POSTINGS = int(os.environ.get("SPARK_GRAFT_PRUNE_SEED", "50000"))
_PRUNE_KEEP_MAX = float(os.environ.get("SPARK_GRAFT_PRUNE_KEEP_MAX", "0.7"))


class _ReplicaGroup:
    """R identical copies of one shard (same bucket set), with coordinator-
    side failover — the ES ``number_of_replicas`` deployment shape
    (reference: ``load/impl/EsLoadServiceImpl.java:198-201``, 8 shards × 2
    replicas). Each call round-robins across LIVE replicas (load spreading,
    like ES adaptive replica selection's uniform base case) and retries the
    next copy when a replica is down (``up = False``) or raises
    ``ConnectionError`` mid-call; only when EVERY copy of the group is
    unreachable does the query fail — exactly ES's red-index behavior.

    Exposes the LocalSearcher surface the coordinator uses, so a
    ``ShardedSearcher`` built over replica groups runs the identical
    partial-sum / phrase-exchange protocols with zero coordinator changes.
    """

    def __init__(self, replicas: "list[LocalSearcher]") -> None:
        if not replicas:
            raise ValueError("replica group needs at least one copy")
        self.replicas = replicas
        self._rr = 0

    def _call(self, method: str, *args):
        n = len(self.replicas)
        start = self._rr
        self._rr = (start + 1) % n  # benign race: any value load-balances
        last: "Exception | None" = None
        for i in range(n):
            r = self.replicas[(start + i) % n]
            if not getattr(r, "up", True):
                continue
            try:
                return getattr(r, method)(*args)
            except ConnectionError as e:  # node died mid-call → next copy
                last = e
        raise ConnectionError(
            f"all {n} replicas of shard group down"
        ) from last

    def _first_live(self) -> "LocalSearcher":
        for r in self.replicas:
            if getattr(r, "up", True):
                return r
        raise ConnectionError(f"all {len(self.replicas)} replicas down")

    # coordinator-facing API (ShardedSearcher.search / search_phrase)
    def search(self, query: str, k: int = 10):
        # single-owner fast path target: the whole query answers locally
        # on one live copy of this group (failover via _call)
        return self._call("search", query, k)

    def partial_scores(self, query: str):
        return self._call("partial_scores", query)

    def phrase_term_docs(self, term: str):
        return self._call("phrase_term_docs", term)

    def phrase_term_slots(self, term: str, cand):
        return self._call("phrase_term_slots", term, cand)

    def _term_blocks(self, term: str):
        return self._call("_term_blocks", term)

    def _df_of(self, term: str, g) -> int:
        # through _call, not _first_live: a replica raising ConnectionError
        # mid-query must fail over to a live sibling exactly like the data
        # calls do (ADVICE r5 #4)
        return self._call("_df_of", term, g)

    def _meta_attr(self, name: str):
        """Metadata accessor with the SAME failover as data calls: the
        first live replica is tried first, a ConnectionError moves on to
        the next copy (ADVICE r5 #4)."""
        n = len(self.replicas)
        last: "Exception | None" = None
        for r in self.replicas:
            if not getattr(r, "up", True):
                continue
            try:
                return getattr(r, name)
            except ConnectionError as e:
                last = e
        raise ConnectionError(
            f"all {n} replicas of shard group down"
        ) from last

    @property
    def meta(self):
        return self._meta_attr("meta")

    @property
    def buckets(self):
        return self._meta_attr("buckets")

    @property
    def deleted(self):
        return self._meta_attr("deleted")

    @property
    def n_docs(self):
        return self._meta_attr("n_docs")

    @property
    def avgdl(self):
        return self._meta_attr("avgdl")


class ShardedSearcher:
    """Coordinator over bucket-disjoint LocalSearchers — the multi-node
    serving deployment in code: each shard loads ONLY its buckets' postings
    and answers with per-doc PARTIAL sums for the query terms it owns; the
    coordinator sums partials by doc and takes the global top-k. Rank- and
    score-identical to one unsharded node (tested on the full query set):
    summing term contributions across shards is exactly the distributed-
    BM25 aggregation, whereas a rank-only merge would drop docs whose score
    splits across shards. Shard fan-out per query is bounded by the query's
    bucket set — a coordinator contacts only the owners of the terms'
    buckets. With ``build_replicated`` each shard is a ``_ReplicaGroup``
    (R copies, failover), matching the reference's 8-shard × 2-replica ES
    layout."""

    def __init__(self, shards: "list[LocalSearcher] | list[_ReplicaGroup]") -> None:
        self.shards = shards

    @classmethod
    def build(
        cls, index_dir: str, n_shards: int, with_positions: bool = False
    ) -> "ShardedSearcher":
        """Split the index's buckets round-robin over n_shards nodes
        (``with_positions=True`` loads the pos column on every node —
        required for ``search_phrase``)."""
        from ..index.builder import read_index_meta

        n_buckets = int(read_index_meta(index_dir)["n_buckets"])
        return cls(
            [
                LocalSearcher(
                    index_dir,
                    with_positions=with_positions,
                    buckets=list(range(s, n_buckets, n_shards)),
                )
                for s in range(n_shards)
            ]
        )

    @classmethod
    def build_replicated(
        cls,
        index_dir: str,
        n_shards: int,
        n_replicas: int = 2,
        with_positions: bool = False,
    ) -> "ShardedSearcher":
        """The full ES deployment shape: ``n_shards`` bucket-disjoint shard
        groups × ``n_replicas`` copies each (reference ES settings:
        ``number_of_shards=8, number_of_replicas=2``). In-process every
        copy is its own LocalSearcher (own RAM-resident blocks — the
        faithful cost model: a real replica is a full copy on another
        node). Queries round-robin over a group's live copies and fail over
        on node loss; results are bit-identical with any single replica of
        each group alive (tested)."""
        from ..index.builder import read_index_meta

        n_buckets = int(read_index_meta(index_dir)["n_buckets"])
        return cls(
            [
                _ReplicaGroup(
                    [
                        LocalSearcher(
                            index_dir,
                            with_positions=with_positions,
                            buckets=list(range(s, n_buckets, n_shards)),
                        )
                        for _ in range(n_replicas)
                    ]
                )
                for s in range(n_shards)
            ]
        )

    def search(self, query: str, k: int = 10) -> "list[tuple[int, float]]":
        # single-owner fast path: when every query term's bucket lives on
        # ONE shard (always true for single-term queries — a term's whole
        # posting list is bucket-complete), the answer is entirely local to
        # that node: delegate to its full search, which applies the
        # block-max pruned hot leg the partial-sum scatter cannot (its θ
        # is global, a shard's partials must stay exhaustive). Rank- and
        # score-identical — all contributions are on that shard.
        from ..tokenize import tokenize

        qterms = list(dict.fromkeys(tokenize(query)))
        owners = {id(o): o for t in qterms if (o := self._owner(t)) is not None}
        if len(owners) == 1:
            return next(iter(owners.values())).search(query, k)
        # scatter in parallel — in a real deployment these are concurrent
        # RPCs to separate nodes; in-process, the shards' decode/score
        # kernels release the GIL, so threads genuinely overlap
        from .wand import _score_pool

        futs = [
            _score_pool().submit(s.partial_scores, query) for s in self.shards
        ]
        parts = [f.result() for f in futs]
        parts = [(i, c) for i, c in parts if i.size]
        if not parts:
            return []
        ids = np.concatenate([i for i, _ in parts])
        contrib = np.concatenate([c for _, c in parts])
        from .wand import _group_sum

        uniq, scores = _group_sum(ids, contrib)
        return topk_sorted(uniq, scores, k)

    def _owner(self, term: str) -> "LocalSearcher | None":
        """The shard holding a term's bucket (a term's WHOLE posting list
        lives in exactly one bucket, so exactly one shard owns it)."""
        from ..index.bucketing import bucket_of

        n_buckets = int(self.shards[0].meta["n_buckets"])
        b = bucket_of(term, n_buckets)
        for s in self.shards:
            if s.buckets is None or b in s.buckets:
                return s
        return None

    def search_phrase(self, phrase: str, k: int = 10) -> "list[tuple[int, float]]":
        """Cross-shard match_phrase (round-3 Missing #2): a phrase's terms
        can hash to buckets on DIFFERENT nodes, and adjacency needs their
        positions together — the partial-SUM trick of ``search`` does not
        transfer. The protocol is a two-round occurrence exchange:

        1. each term's owner returns its sorted doc ids (8 B/posting); the
           coordinator intersects rarest-first into the candidate set and
           drops tombstones — no positions have moved yet;
        2. each owner returns (slot-start, len, positions, dl) partials for
           the CANDIDATE docs only (blocks outside the candidate range are
           pruned before decode), and the coordinator runs the same
           adjacency intersection as the single-node core
           (``phrase._adjacency_ptfs``) and scores with the summed-idf
           Lucene PhraseQuery weight.

        Exchange volume is bounded by the rarest term's postings (round 1)
        plus the candidates' occurrences (round 2) — a stop-word slot never
        ships its whole position list. Rank/score-identical to
        ``LocalSearcher.search_phrase`` on one node (tested)."""
        from .phrase import _adjacency_ptfs
        from .wand import _alive_mask

        terms = tokenize(phrase)
        uniq = list(dict.fromkeys(terms))
        if not uniq:
            return []
        owners = {}
        for t in uniq:
            own = self._owner(t)
            if own is None:
                return []
            owners[t] = own
        docs = {}
        for t in uniq:
            d = owners[t].phrase_term_docs(t)
            if d is None or d.size == 0:
                return []
            docs[t] = d
        # rarest-first intersection bounds every later step by the
        # smallest posting list (the Lucene PhraseQuery candidate bound)
        by_rarity = sorted(uniq, key=lambda t: docs[t].size)
        cand = docs[by_rarity[0]]
        for t in by_rarity[1:]:
            cand = cand[np.isin(cand, docs[t], assume_unique=True)]
            if cand.size == 0:
                return []
        deleted = self.shards[0].deleted
        if deleted.size:
            cand = cand[_alive_mask(deleted, cand)]
            if cand.size == 0:
                return []
        slices = {}
        dl = None
        for t in uniq:
            s, ln, pos, dls = owners[t].phrase_term_slots(t, cand)
            slices[t] = (s, ln, pos)
            if t == uniq[0]:
                dl = dls
        ptfs = _adjacency_ptfs(terms, slices, cand.size)
        hit = ptfs > 0
        cand, ptfs, dl = cand[hit], ptfs[hit], dl[hit]
        if cand.size == 0:
            return []
        node = self.shards[0]
        dfs = {t: owners[t]._df_of(t, owners[t]._term_blocks(t)) for t in uniq}
        if any(dfs[t] <= 0 for t in uniq):
            return []
        from .wand import idf

        idf_sum = sum(idf(node.n_docs, dfs[t]) for t in uniq)
        dl = dl.astype(np.float64)
        scores = idf_sum * ptfs / (
            ptfs + K1 * (1.0 - B + B * dl / node.avgdl)
        )
        return topk_sorted(cand, scores, k)


class LocalSearcher:
    """One serving node. ``buckets`` restricts the node to a subset of the
    hive ``bucket=`` partitions — the shard unit of the serving deployment:
    every term (its whole posting list) lives in exactly one bucket, so a
    node loads only its buckets' blocks and terms rows, and the fleet's RAM
    splits cleanly by bucket. Cross-shard queries are answered by
    ``ShardedSearcher``, which sums per-doc partials (a multi-term query's
    terms can hash to different buckets, so a rank-only merge would be
    wrong — partial SUMS are exchanged, exactly like distributed BM25)."""

    def __init__(
        self,
        index_dir: str,
        with_positions: bool = False,
        buckets: "list[int] | None" = None,
    ) -> None:
        import pyarrow.dataset as ds

        from ..index.builder import (
            IndexPaths,
            deletes_sources,
            postings_sources,
            read_index_meta,
        )
        from .wand import _load_deletes

        self.meta = read_index_meta(index_dir)
        self._index_dir = index_dir
        paths = IndexPaths(index_dir)
        tv = int(self.meta.get("terms_version", 0))
        st = ds.dataset(paths.stats_v(tv)).to_table().to_pandas().iloc[0]
        self.n_docs = int(st.n_docs)
        self.avgdl = float(st.avgdl)
        self.buckets = sorted(buckets) if buckets is not None else None
        # the serving node pins only the scoring columns unless it also
        # serves match_phrase (then the pos column loads too — Lucene's
        # .pos, columnar)
        cols = BLOCK_COLS + ["pos"] if with_positions else BLOCK_COLS
        self._with_positions = with_positions
        bucket_filter = (
            ds.field("bucket").isin(self.buckets)
            if self.buckets is not None
            else None
        )
        pdirs = postings_sources(index_dir, self.meta)
        if pdirs:
            blocks = pd.concat(
                [
                    ds.dataset(d, partitioning="hive")
                    .to_table(columns=cols, filter=bucket_filter)
                    .to_pandas()
                    for d in pdirs
                ],
                ignore_index=True,
            )
        else:  # all-empty corpus → no postings files
            blocks = pd.DataFrame({c: [] for c in cols})
        # term → block-slice index (sorted once; per-query lookup is O(log n))
        blocks = blocks.sort_values(["term", "salt", "min_doc"], kind="stable")
        self._blocks = blocks.reset_index(drop=True)
        terms = self._blocks["term"].to_numpy()
        change = np.concatenate(([True], terms[1:] != terms[:-1]))
        starts = np.flatnonzero(change)
        self._term_index = {
            terms[s]: (int(s), int(e))
            for s, e in zip(starts, np.append(starts[1:], len(terms)))
        }
        # tombstones: sorted int64 array (see wand._load_deletes)
        self.deleted = _load_deletes(deletes_sources(index_dir, self.meta))
        self._live_df: dict[str, int] | None = None
        if self.deleted.size:
            tdf = ds.dataset(paths.terms_v(tv)).to_table(
                filter=bucket_filter
            ).to_pandas()
            self._live_df = dict(zip(tdf["term"], tdf["df"].astype(int)))

    def fetch(self, hits: "list[tuple[int, float]]") -> pd.DataFrame:
        """Resolve winners to their source rows from the docs store — the
        ES ``_source`` fetch, served without Spark: a pyarrow dataset read
        with a doc_id predicate (row-group stats prune; the docs store is
        doc_id-ordered, so the k winners touch ~k row groups). Tombstoned
        ids are dropped first. Columns: doc_id, score, conv_id, turn_idx,
        role, text."""
        import pyarrow.dataset as ds

        cols = ["doc_id", "conv_id", "turn_idx", "role", "text"]
        if self.deleted.size:
            from .wand import _alive_mask

            ids = np.array([h[0] for h in hits], dtype=np.int64)
            alive = _alive_mask(self.deleted, ids) if ids.size else ids.astype(bool)
            hits = [h for h, a in zip(hits, alive) if a]
        if not hits:
            return pd.DataFrame(
                {c: [] for c in ["doc_id", "score"] + cols[1:]}
            )
        want = sorted(h[0] for h in hits)
        parts = [
            d.to_table(columns=cols, filter=ds.field("doc_id").isin(want)).to_pandas()
            for d in self._docs_datasets()
        ]
        docs = pd.concat(parts, ignore_index=True)
        scores = {d: s for d, s in hits}
        docs["score"] = docs["doc_id"].map(scores)
        return docs[["doc_id", "score", "conv_id", "turn_idx", "role", "text"]]

    def _docs_datasets(self):
        import pyarrow.dataset as ds

        from ..index.builder import docs_sources

        if not hasattr(self, "_docs_ds"):
            self._docs_ds = [
                ds.dataset(d) for d in docs_sources(self._index_dir, self.meta)
            ]
        return self._docs_ds

    def _term_blocks(self, term: str) -> "pd.DataFrame | None":
        span = self._term_index.get(term)
        if span is None:
            return None
        return self._blocks.iloc[span[0] : span[1]]

    def _df_of(self, term: str, g: pd.DataFrame) -> int:
        if self._live_df is not None:
            return int(self._live_df.get(term, 0))
        return int(g["n_docs"].sum())

    # -- cross-shard phrase protocol (coordinator: ShardedSearcher) --------
    def phrase_term_docs(self, term: str) -> "np.ndarray | None":
        """Phase-1 partial: the SORTED doc ids of one owned term (None if
        the shard doesn't hold it). 8 bytes/posting on the wire — the cheap
        exchange the coordinator's candidate intersection needs before any
        positions move."""
        g = self._term_blocks(term)
        if g is None:
            return None
        ids, _tfs, _dls = decode_block_batch(
            g["doc_ids"], g["tfs"], g["dls"], g["n_docs"].to_numpy()
        )
        return np.sort(ids)

    def phrase_term_slots(
        self, term: str, cand: np.ndarray
    ) -> "tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]":
        """Phase-2 partial: (starts, lens, flat positions, dls) of one
        owned term restricted to the CANDIDATE docs — the occurrence
        exchange is bounded by the candidate set, never a term's whole
        posting list. Blocks whose [min_doc, max_doc] range misses every
        candidate are pruned before decode (block-max metadata reused as a
        positional skip list). Requires ``with_positions=True``."""
        if not self._with_positions:
            raise ValueError("phrase slots need LocalSearcher(with_positions=True)")
        from .phrase import decode_term_postings

        g = self._term_blocks(term)
        mn = g["min_doc"].to_numpy()
        mx = g["max_doc"].to_numpy()
        lo = np.searchsorted(cand, mn)
        hi = np.searchsorted(cand, mx, side="right")
        g = g.iloc[np.flatnonzero(hi > lo)]
        ids, tfs, pos, dls = decode_term_postings(g)
        idx = np.searchsorted(ids, cand)  # cand ⊆ ids by construction
        starts_all = np.cumsum(tfs) - tfs
        s, ln = starts_all[idx], tfs[idx]
        m = int(ln.sum())
        out_start = np.cumsum(ln) - ln
        gather = (
            np.repeat(s, ln)
            + np.arange(m, dtype=np.int64)
            - np.repeat(out_start, ln)
        )
        return out_start, ln, pos[gather], dls[idx]

    def search_phrase(self, phrase: str, k: int = 10) -> "list[tuple[int, float]]":
        """match_phrase from the RAM-resident positional blocks — the ES
        serving-node execution (requires ``with_positions=True`` over an
        index built with ``store_positions=True``)."""
        from .phrase import _phrase_from_blocks

        if not self._with_positions or not self.meta.get("store_positions"):
            raise ValueError(
                "serving-tier phrase needs LocalSearcher(with_positions=True) "
                "over an index built with store_positions=True"
            )
        terms = tokenize(phrase)
        uniq = list(dict.fromkeys(terms))
        if not uniq:
            return []
        frames = [self._term_blocks(t) for t in uniq]
        if any(f is None for f in frames):
            return []
        pdf = pd.concat(frames, ignore_index=True)
        dfs = {t: self._df_of(t, g) for t, g in zip(uniq, frames)}
        if any(dfs[t] <= 0 for t in uniq):
            return []
        deleted = self.deleted if self.deleted.size else None
        return _phrase_from_blocks(
            pdf, terms, uniq, dfs, self.n_docs, self.avgdl, deleted, k
        )

    def search(self, query: str, k: int = 10) -> "list[tuple[int, float]]":
        qterms = list(dict.fromkeys(tokenize(query)))
        groups = [(t, self._term_blocks(t)) for t in qterms]
        groups = [(t, g) for t, g in groups if g is not None]
        if not groups:
            return []
        return self._vectorized(groups, k)

    def partial_scores(self, query: str) -> "tuple[np.ndarray, np.ndarray]":
        """(doc_ids, per-doc partial BM25 sums) for THIS node's share of the
        query's terms — the scatter half of the sharded execution. A term's
        entire posting list is in one bucket, so per-term contributions are
        complete here; the coordinator sums partials across nodes."""
        qterms = list(dict.fromkeys(tokenize(query)))
        groups = [(t, self._term_blocks(t)) for t in qterms]
        groups = [(t, g) for t, g in groups if g is not None]
        empty = (np.array([], dtype=np.int64), np.array([], dtype=np.float64))
        if not groups:
            return empty
        ids, contrib = self._partials(groups)
        if ids.size == 0:
            return empty
        from .wand import _group_sum

        return _group_sum(ids, contrib)

    def _partials(self, groups) -> "tuple[np.ndarray, np.ndarray]":
        ids_all, contrib_all = [], []
        for term, g in groups:
            df = self._df_of(term, g)
            if df <= 0:
                continue
            w = idf(self.n_docs, df)
            ids, tfs, dls = decode_block_batch(
                g["doc_ids"], g["tfs"], g["dls"], g["n_docs"].to_numpy()
            )
            ids_all.append(ids)
            contrib_all.append(bm25_contrib(w, tfs, dls, self.avgdl))
        if not ids_all:
            return np.array([], dtype=np.int64), np.array([], dtype=np.float64)
        ids = np.concatenate(ids_all)
        contrib = np.concatenate(contrib_all)
        if self.deleted.size:
            from .wand import _alive_mask

            alive = _alive_mask(self.deleted, ids)
            ids, contrib = ids[alive], contrib[alive]
        return ids, contrib

    def _vectorized(self, groups, k: int) -> "list[tuple[int, float]]":
        total = sum(int(g["n_docs"].sum()) for _, g in groups)
        if total >= _PAR_SERVE_POSTINGS:
            return self._vectorized_pruned(groups, k)
        ids, contrib = self._partials(groups)
        if ids.size == 0:
            return []
        if len({t for t, _ in groups}) == 1 and self.deleted.size == 0:
            uniq, scores = ids, contrib  # single term: sorted & unique already
        else:
            # per-doc sums sized by the match count (wand._group_sum)
            from .wand import _group_sum

            uniq, scores = _group_sum(ids, contrib)
        return topk_sorted(uniq, scores, k)

    def _decode_contrib(self, w: float, sl) -> "tuple[np.ndarray, np.ndarray]":
        """Decode one slice of block rows → (doc_ids, BM25 contributions),
        tombstones dropped. The leaf kernel of every hot-serving leg —
        numpy releases the GIL in decode/contrib, so pool threads overlap."""
        ids, tfs, dls = decode_block_batch(
            sl["doc_ids"], sl["tfs"], sl["dls"], sl["n_docs"].to_numpy()
        )
        contrib = bm25_contrib(w, tfs, dls, self.avgdl)
        if self.deleted.size:
            from .wand import _alive_mask

            alive = _alive_mask(self.deleted, ids)
            ids, contrib = ids[alive], contrib[alive]
        return ids, contrib

    def _weighted(self, groups) -> "list[tuple[float, pd.DataFrame]]":
        out = []
        for term, g in groups:
            df = self._df_of(term, g)
            if df > 0:
                out.append((idf(self.n_docs, df), g))
        return out

    def _vectorized_pruned(self, groups, k: int) -> "list[tuple[int, float]]":
        """Hot-query leg with a vectorized block-max pruning pre-pass
        (the block-max WAND idea reshaped for batch execution — a Python
        document-at-a-time traversal was 30× SLOWER than exhaustive
        decode on multi-stop-word queries, measured at 19M docs):

        1. per-block upper bounds from the drift-safe (max_tf, min_dl)
           metadata under CURRENT (df, avgdl) — tf/(tf+k1·norm) grows with
           tf and shrinks with dl, so the pair bounds every posting;
        2. seed a threshold θ: decode each term's top-ub blocks
           (~``_PRUNE_SEED_POSTINGS`` postings/term) and take the k-th best
           partial sum — partial ≤ true score, so θ lower-bounds the true
           k-th score;
        3. drop every block whose ub + Σ other-term global max ub < θ: no
           doc inside can reach θ. Any true top-k doc's blocks all survive
           (each such block's potential ≥ the doc's full score ≥ θ), so its
           score is EXACT in the pruned scoring, and every partially-scored
           doc sums below θ — the pruned top-k is rank- AND
           score-identical to the exhaustive leg (identity-tested);
        4. if pruning keeps > ``_PRUNE_KEEP_MAX`` of the postings (dense
           multi-stop-word queries: block maxima are near-uniform, nothing
           prunes), fall back to the exhaustive slice-parallel scorer —
           the seed pass cost is ~1% of the exhaustive decode.

        Single hot terms prune hardest (no other-term slack in the bound):
        2.3× over exhaustive at 19M docs; the fallback keeps the worst
        case within seed-cost of the round-4 latencies."""
        pairs = self._weighted(groups)
        if not pairs:
            return []
        from .wand import _group_sum, _score_pool

        ubs = []
        for w, g in pairs:
            mtf = g["max_tf"].to_numpy(np.float64)
            mdl = g["min_dl"].to_numpy(np.float64)
            ubs.append(w * mtf / (mtf + K1 * (1.0 - B + B * mdl / self.avgdl)))
        gmax = np.array([u.max() for u in ubs])
        # metadata-only feasibility floor: under the best POSSIBLE θ
        # (= Σ gmax), the keep condition degenerates to ub_i ≥ gmax_i, so
        # postings in blocks at their term's global max can never prune.
        # Dense multi-stop-word queries have near-uniform block maxima —
        # the floor alone exceeds the keep cap, and the seed pass would be
        # pure overhead: skip it without decoding a single block.
        floor_kept = tot_post = 0
        for (w, g), ub, gm in zip(pairs, ubs, gmax):
            nd = g["n_docs"].to_numpy()
            floor_kept += int(nd[ub >= gm - 1e-12].sum())
            tot_post += int(nd.sum())
        # multi-term: the cut a block must clear is θ − Σ other gmax, and
        # for frequent-term conjunctions the true k-th score sits far
        # enough below Σ gmax that near-max blocks always survive —
        # measured kept ≈ 1.0 on stop-word pairs even with an exact θ, so
        # the seed pass would be pure overhead. Attempt it only when the
        # perfect-θ floor shows near-certain prunability. Single-term
        # queries prune on θ alone (no other-term slack): always try.
        floor = floor_kept / tot_post if tot_post else 1.0
        if not tot_post or (len(pairs) > 1 and floor > 0.05) or floor > _PRUNE_KEEP_MAX:
            return self._score_or_fast(pairs, k)
        # seed budget ~2% of the query's postings (floored): enough for a
        # tight θ on big queries, bounded overhead on barely-hot ones
        seed_budget = max(4000, min(_PRUNE_SEED_POSTINGS, tot_post // 50))
        seed = []
        for (w, g), ub in zip(pairs, ubs):
            order = np.argsort(-ub)
            nd = g["n_docs"].to_numpy()[order]
            m = int(np.searchsorted(np.cumsum(nd), seed_budget)) + 1
            seed.append((w, g.iloc[order[:m]]))
        futs = [_score_pool().submit(self._decode_contrib, w, sl) for w, sl in seed]
        parts = [f.result() for f in futs]
        parts = [p for p in parts if p[0].size]
        theta = 0.0
        if parts:
            uniq, sc = _group_sum(
                np.concatenate([p[0] for p in parts]),
                np.concatenate([p[1] for p in parts]),
            )
            if sc.size >= k:
                # θ refinement: the seed partials under-estimate multi-term
                # docs (each term's top-ub blocks cover different doc
                # ranges), so the k-th PARTIAL is a weak bound. Take the
                # top-k partial docs as candidates and score them FULLY —
                # decode exactly the blocks whose doc range stabs a
                # candidate (ranges overlap across salts → broadcast
                # interval stab, k × n_blocks bools). k real docs' true
                # scores → the k-th of them still lower-bounds the true
                # k-th best, but tightly.
                cand = np.sort(uniq[np.argpartition(sc, -k)[-k:]])
                fids, fcon = [], []
                for (w, g), ub in zip(pairs, ubs):
                    lo = g["min_doc"].to_numpy(np.int64)
                    hi = g["max_doc"].to_numpy(np.int64)
                    m = (
                        (lo[None, :] <= cand[:, None])
                        & (cand[:, None] <= hi[None, :])
                    ).any(0)
                    if m.any():
                        i_, c_ = self._decode_contrib(w, g[m])
                        inc = np.isin(i_, cand)
                        fids.append(i_[inc])
                        fcon.append(c_[inc])
                if fids:
                    _, s2 = _group_sum(
                        np.concatenate(fids), np.concatenate(fcon)
                    )
                    if s2.size >= k:
                        theta = float(np.partition(s2, -k)[-k])
        if theta > 0.0:
            kept = tot = 0
            survivors = []
            other = gmax.sum() - gmax
            for i, ((w, g), ub) in enumerate(zip(pairs, ubs)):
                mask = (ub + other[i]) >= theta
                nd = g["n_docs"].to_numpy()
                kept += int(nd[mask].sum())
                tot += int(nd.sum())
                survivors.append((w, g[mask]))
            if tot and kept / tot <= _PRUNE_KEEP_MAX:
                return self._score_or_fast(survivors, k)
        return self._score_or_fast(pairs, k)

    def _vectorized_parallel(self, groups, k: int) -> "list[tuple[int, float]]":
        """Exhaustive hot-query leg: every block decodes. Kept callable
        directly as the identity oracle for `_vectorized_pruned`."""
        return self._score_pairs_parallel(self._weighted(groups), k)

    def _single_term_topk(
        self, w: float, g, k: int
    ) -> "list[tuple[int, float]] | None":
        """Single-term scorer that skips the doc-id decode for
        non-candidates (round 6, mirrors the driver path's
        ``_single_term_topk_arrow``): scores depend only on (tf, dl), so
        doc ids decode ONLY for the blocks holding postings at or above
        the k-th contribution. Valid only with no tombstones; None when
        boundary ties make the candidate set large (full path cheaper).
        Rank- and score-identical (shared ``topk_sorted`` tie-break)."""
        from ..index.codec import decode_block_batch, vb_decode

        if self.deleted.size:
            return None
        counts = g["n_docs"].to_numpy().astype(np.int64)
        tfs = vb_decode(b"".join(g["tfs"]))
        dls = vb_decode(b"".join(g["dls"]))
        contrib = bm25_contrib(w, tfs, dls, self.avgdl)
        n = contrib.size
        if n == 0:
            return []
        kk = min(k, n)
        tau = np.partition(contrib, n - kk)[n - kk]
        cand = np.flatnonzero(contrib >= tau)
        if cand.size > max(4 * k, n // 4):
            return None
        bounds = np.concatenate(([0], np.cumsum(counts)))
        blk = np.searchsorted(bounds, cand, side="right") - 1
        ublk = np.unique(blk)
        sub = g.iloc[ublk]
        ids_sub, _tf, _dl = decode_block_batch(
            sub["doc_ids"], sub["tfs"], sub["dls"], sub["n_docs"].to_numpy()
        )
        sub_bounds = np.concatenate(([0], np.cumsum(counts[ublk])))
        sub_pos = sub_bounds[np.searchsorted(ublk, blk)] + (cand - bounds[blk])
        return topk_sorted(ids_sub[sub_pos], contrib[cand], k)

    def _score_or_fast(self, pairs, k: int) -> "list[tuple[int, float]]":
        if len(pairs) == 1:
            fast = self._single_term_topk(pairs[0][0], pairs[0][1], k)
            if fast is not None:
                return fast
        return self._score_pairs_parallel(pairs, k)

    def _score_pairs_parallel(self, pairs, k: int) -> "list[tuple[int, float]]":
        """Slice-parallel scorer over (idf weight, block rows) pairs: each
        term's block rows split into slices scored on the shared thread
        pool (numpy releases the GIL in decode/contrib), then the per-doc
        sums merge via per-thread span-bincounts into the dense-span
        top-k — the same shape as the driver path's
        ``_vectorized_topk_arrow``, over the RAM-resident pandas blocks.
        Rank-identical to the sequential leg (same decode, same merge
        arithmetic)."""
        from .wand import (
            _SCORE_THREADS,
            _group_sum,
            _score_pool,
            topk_dense,
        )

        run = self._decode_contrib

        futs = []
        for w, g in pairs:
            n = len(g)
            t = min(_SCORE_THREADS, max(1, n))
            cuts = [i * n // t for i in range(t + 1)]
            for i in range(t):
                sl = g.iloc[cuts[i] : cuts[i + 1]]
                if len(sl):
                    futs.append(_score_pool().submit(run, w, sl))
        parts = [f.result() for f in futs]
        parts = [p for p in parts if p[0].size]
        if not parts:
            return []
        lo = min(int(p[0].min()) for p in parts)
        hi = max(int(p[0].max()) for p in parts)
        span = hi - lo + 1
        total = sum(p[0].size for p in parts)
        if span <= 4 * total:
            futs = [
                _score_pool().submit(
                    np.bincount, p[0] - lo, weights=p[1], minlength=span
                )
                for p in parts
            ]
            full = futs[0].result()
            for f in futs[1:]:
                full += f.result()
            return topk_dense(full, lo, k)
        uniq, scores = _group_sum(
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
        )
        return topk_sorted(uniq, scores, k)

