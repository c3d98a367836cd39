"""Single-node serving tier — RAM-resident postings, no Spark jobs per query.

The reference's search half is a single Elasticsearch node answering from
local RAM/page cache; the Spark scan path (IndexSearcher) pays a ~100 ms
scheduler floor per query, which is the wrong comparison for serving-tier
latency. LocalSearcher loads the SAME postings blocks (built by the Spark
job) into driver memory once via pyarrow and serves top-k with the exact
scorers — the deployment shape at 10^12 docs is this tier sharded by
``bucket`` across serving nodes, each loading only its buckets.

Scoring is IndexSearcher's: both hand (idf weight, Arrow block table)
pairs to the one BM25 kernel (``kernel.topk``), so the tiers differ only in
how they get their tables; tests assert both rank as the oracle does.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..index.codec import decode_block_batch_arrow
from ..tokenize import tokenize
from . import kernel
from .kernel import idf, topk_sorted


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

    def _df_of(self, term: str) -> int:
        # through _call, not _first_live: a replica raising ConnectionError
        # mid-query must fail over to a live sibling exactly like the data
        # calls do (ADVICE r5 #4)
        return self._call("_df_of", term)

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
        futs = [
            kernel.score_pool().submit(s.partial_scores, query) for s in self.shards
        ]
        parts = [p for p in (f.result() for f in futs) if p[0].size]
        if not parts:
            return []
        ids = np.concatenate([i for i, _ in parts])
        contrib = np.concatenate([c for _, c in parts])
        return topk_sorted(*kernel.group_sum(ids, contrib), k)

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
        from .phrase import _adjacency_ptfs, _phrase_bm25

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
            cand = cand[kernel.alive_mask(deleted, cand)]
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
        dfs = {t: owners[t]._df_of(t) for t in uniq}
        if any(dfs[t] <= 0 for t in uniq):
            return []
        idf_sum = sum(idf(node.n_docs, dfs[t]) for t in uniq)
        return topk_sorted(
            cand, _phrase_bm25(idf_sum, ptfs, dl.astype(np.float64), node.avgdl), k
        )


class LocalSearcher:
    """One serving node. ``buckets`` restricts the node to a subset of the
    hive ``bucket=`` partitions — the shard unit of the serving deployment:
    every term (its whole posting list) lives in exactly one bucket, so a
    node loads only its buckets' blocks and terms rows, and the fleet's RAM
    splits cleanly by bucket. Cross-shard queries are answered by
    ``ShardedSearcher``, which sums per-doc partials (a multi-term query's
    terms can hash to different buckets, so a rank-only merge would be
    wrong — partial SUMS are exchanged, exactly like distributed BM25).

    The node pins ONE Arrow table of its blocks, sorted by (term, salt,
    min_doc), with a (start, end) row range per term: a query term's blocks
    are a zero-copy slice, and the kernel decodes straight off its buffers
    (no Python ``bytes`` per block)."""

    def __init__(
        self,
        index_dir: str,
        with_positions: bool = False,
        buckets: "list[int] | None" = None,
    ) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from ..index.builder import (
            deletes_sources,
            postings_sources,
            read_index_meta,
            read_terms,
        )
        from .wand import _load_deletes

        self.meta = read_index_meta(index_dir)
        self._index_dir = index_dir
        self.n_docs = int(self.meta["n_docs"])
        self.avgdl = float(self.meta["avgdl"])
        self.buckets = sorted(buckets) if buckets is not None else None
        # the serving node pins only the scoring columns unless it also
        # serves match_phrase (then the pos column loads too — Lucene's
        # .pos, columnar)
        cols = kernel.BLOCK_COLS + ["salt"] + (["pos"] if with_positions else [])
        self._with_positions = with_positions
        bucket_filter = (
            ds.field("bucket").isin(self.buckets)
            if self.buckets is not None
            else None
        )
        parts = [
            ds.dataset(d, partitioning="hive").to_table(columns=cols, filter=bucket_filter)
            for d in postings_sources(index_dir, self.meta)
        ]
        self._term_index: "dict[str, tuple[int, int]]" = {}
        if parts:
            blocks = pa.concat_tables(parts, promote_options="permissive").sort_by(
                [("term", "ascending"), ("salt", "ascending"), ("min_doc", "ascending")]
            )
            self._blocks = blocks.combine_chunks()
            terms = self._blocks.column("term")
            n = len(terms)
            if n:
                change = pc.not_equal(terms.slice(1), terms.slice(0, n - 1))
                starts = np.concatenate(
                    ([0], np.flatnonzero(change.to_numpy(zero_copy_only=False)) + 1)
                )
                ends = np.append(starts[1:], n)
                names = terms.take(starts).to_pylist()
                self._term_index = dict(zip(names, zip(starts.tolist(), ends.tolist())))
        else:  # all-empty corpus → no postings files
            self._blocks = pa.table({c: [] for c in cols})
        # tombstones: sorted int64 array (see wand._load_deletes)
        self.deleted = _load_deletes(deletes_sources(index_dir, self.meta))
        self._live_df: dict[str, int] | None = None
        if self.deleted.size:
            tdf = read_terms(index_dir, self.meta, self.buckets)
            self._live_df = dict(
                zip(tdf.column("term").to_pylist(), tdf.column("df").to_pylist())
            )

    def fetch(self, hits: "list[tuple[int, float]]") -> pd.DataFrame:
        """Resolve winners to their source rows from the docs store — the
        ES ``_source`` fetch, served without Spark: a pyarrow dataset read
        with a doc_id predicate (row-group stats prune; the docs store is
        doc_id-ordered, so the k winners touch ~k row groups). Tombstoned
        ids are dropped first. Columns: doc_id, score, conv_id, turn_idx,
        role, text."""
        import pyarrow.dataset as ds

        cols = ["doc_id", "conv_id", "turn_idx", "role", "text"]
        ids = np.array([h[0] for h in hits], dtype=np.int64)
        hits = [h for h, a in zip(hits, kernel.alive_mask(self.deleted, ids)) if a]
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

    def _term_blocks(self, term: str):
        """The term's block rows (a zero-copy slice), or None."""
        span = self._term_index.get(term)
        if span is None:
            return None
        return self._blocks.slice(span[0], span[1] - span[0])

    def _df_of(self, term: str) -> int:
        """Live df: the terms table's when tombstones exist, else the
        term's postings count."""
        if self._live_df is not None:
            return int(self._live_df.get(term, 0))
        g = self._term_blocks(term)
        return 0 if g is None else int(g.column("n_docs").to_numpy().sum())

    def _query_terms(self, query: str) -> "list[tuple[float, object]]":
        """(idf weight, block slice) per live query term this node holds."""
        out = []
        for t in dict.fromkeys(tokenize(query)):
            g = self._term_blocks(t)
            df = self._df_of(t) if g is not None else 0
            if df > 0:
                out.append((idf(self.n_docs, df), g))
        return out

    # -- cross-shard phrase protocol (coordinator: ShardedSearcher) --------
    def phrase_term_docs(self, term: str) -> "np.ndarray | None":
        """Phase-1 partial: the SORTED doc ids of one owned term (None if
        the shard doesn't hold it). 8 bytes/posting on the wire — the cheap
        exchange the coordinator's candidate intersection needs before any
        positions move."""
        g = self._term_blocks(term)
        if g is None:
            return None
        ids, _tfs, _dls = decode_block_batch_arrow(g, parallel=False)
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
        lo = np.searchsorted(cand, g.column("min_doc").to_numpy())
        hi = np.searchsorted(cand, g.column("max_doc").to_numpy(), side="right")
        ids, tfs, pos, dls = decode_term_postings(g.filter(hi > lo))
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
        from .phrase import _phrase_scores

        if not self._with_positions or not self.meta.get("store_positions"):
            raise ValueError(
                "serving-tier phrase needs LocalSearcher(with_positions=True) "
                "over an index built with store_positions=True"
            )
        terms = tokenize(phrase)
        uniq = list(dict.fromkeys(terms))
        if not uniq:
            return []
        tables = {t: self._term_blocks(t) for t in uniq}
        if any(g is None for g in tables.values()):
            return []
        dfs = {t: self._df_of(t) for t in uniq}
        if any(dfs[t] <= 0 for t in uniq):
            return []
        return topk_sorted(
            *_phrase_scores(tables, terms, uniq, dfs, self.n_docs, self.avgdl, self.deleted),
            k,
        )

    def search(self, query: str, k: int = 10) -> "list[tuple[int, float]]":
        return kernel.topk(self._query_terms(query), self.deleted, self.avgdl, k)

    def partial_scores(self, query: str) -> "tuple[np.ndarray, np.ndarray]":
        """(doc_ids, per-doc partial BM25 sums) for THIS node's share of the
        query's terms — the scatter half of the sharded execution. A term's
        entire posting list is in one bucket, so per-term contributions are
        complete here; the coordinator sums partials across nodes."""
        return kernel.partial_sums(self._query_terms(query), self.deleted, self.avgdl)
