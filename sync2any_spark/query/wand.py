"""Top-k retrieval over the compressed index — driver and distributed paths.

Two physical strategies for the same logical operator (B6), mirroring how
ES picks between query phases:

- ``IndexSearcher.search`` — low-latency path. The query's term list is tiny:
  its terms' buckets select the ``bucket=K`` dirs, and a per-(postings root,
  bucket) term directory held by the searcher names the files and row groups
  that hold the terms, so only those are read (no footer parse per query).
  The surviving blocks (only the query terms' postings) are scored on the
  driver with numpy. This is the path a search tier would serve QPS from.
- ``search_distributed`` — scale path for huge candidate sets: the Spark
  ``bucket IN (…) AND term IN (…)`` pruned scan feeds ``mapInPandas``
  (vectorized per-block exact scoring → (doc_id, contrib) partials) →
  ``groupBy(doc_id).sum`` → ``ORDER BY score DESC LIMIT k``
  (TakeOrderedAndProject — no global sort).

Both return exactly the same ranking as the BM25 oracle: exact Lucene
formula, float64, ties by doc_id ascending.

A term's postings may be split across several salted sub-streams (builder
B3). Each doc lives in exactly one sub-stream, so every (term, salt) stream
is scored with the term's idf — the disjoint union scores identically to
one merged list.
"""

from __future__ import annotations

import math
import os
from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import B, K1
from ..index.codec import decode_doc_ids, decode_tfs
from ..tokenize import tokenize


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_contrib(w, tfs: np.ndarray, dls: np.ndarray, avgdl: float) -> np.ndarray:
    """Per-posting BM25 contribution ``w · tf/(tf + k1·(1−b+b·dl/avgdl))``
    with the constants folded — 4 ufunc passes instead of 7 on the hot
    arrays, int→float upcast inside the loops (no astype copy). ``w`` may
    be a scalar (one term) or a per-posting array. This is THE scoring
    kernel: every vectorized path (driver arrow, driver pandas,
    distributed mapInPandas, serving tier) calls it, so cross-path
    rankings are bit-identical, not merely approx-equal."""
    c1 = K1 * (1.0 - B)
    c2 = K1 * B / avgdl
    denom = c2 * dls
    denom += c1
    denom += tfs
    out = w * tfs
    out /= denom
    return out


def _is_deleted(deleted: "np.ndarray | None", doc: int) -> bool:
    """Membership in the sorted tombstone array (binary search — the
    compact live-docs representation; 8 bytes per deleted doc, sharded with
    the index at scale)."""
    if deleted is None or deleted.size == 0:
        return False
    i = int(np.searchsorted(deleted, doc))
    return i < deleted.size and int(deleted[i]) == doc


def _alive_mask(deleted: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Vectorized not-in-sorted-array test (O(n log m), no set / no isin
    hash build)."""
    idx = np.searchsorted(deleted, ids)
    idx_c = np.minimum(idx, deleted.size - 1)
    return ~((idx < deleted.size) & (deleted[idx_c] == ids))


def _group_sum(ids: np.ndarray, contrib: np.ndarray) -> "tuple[np.ndarray, np.ndarray]":
    """(unique doc ids ascending, per-doc contribution sums) with allocation
    proportional to the MATCH count, never the doc-id space.

    Replaces the former unconditional ``np.bincount(ids, …,
    minlength=max(ids)+1)`` whose dense accumulator scaled with the global
    doc-id space (8 GB per query on a 10^9-doc shard even for a two-match
    query — round-2 What's-wrong #2). Adaptive, allocation always
    O(matches): when the OBSERVED id span is within 4× the match count a
    span-offset bincount runs (C-speed scatter-add, accumulator ≤ 32
    bytes/match); otherwise a stable sort + ``np.add.reduceat``. Per-doc
    sums agree across the variants to the last ulp or so (float-sum
    reassociation) — far inside the 1e-9 tolerance every cross-engine
    ranking test and the 6-dp contract rounding use."""
    lo = int(ids.min())
    span = int(ids.max()) - lo + 1
    if span <= 4 * ids.size:
        full = np.bincount(ids - lo, weights=contrib, minlength=span)
        uniq = np.flatnonzero(full)
        return uniq + lo, full[uniq]
    order = np.argsort(ids, kind="stable")
    sids = ids[order]
    svals = contrib[order]
    change = np.concatenate(([True], sids[1:] != sids[:-1]))
    starts = np.flatnonzero(change)
    return sids[starts], np.add.reduceat(svals, starts)


def _load_deletes(dirs: "list[str]") -> np.ndarray:
    """Union of tombstone tables as one sorted int64 array (pyarrow read —
    driver-side but never a Spark collect)."""
    if not dirs:
        return np.array([], dtype=np.int64)
    import pyarrow.dataset as ds

    parts = [
        ds.dataset(d).to_table(columns=["doc_id"])["doc_id"].to_numpy()
        for d in dirs
    ]
    return np.unique(np.concatenate(parts).astype(np.int64))


# a query whose terms' summed live df exceeds this routes to the
# distributed execution instead of reading pruned blocks driver-side
# (round-2 What's-wrong #1: a stop-word term's postings are TBs at 10^12
# docs — the driver path is only valid for selective terms). The number is
# postings: 10^7 postings ≈ ~25 MB of compressed blocks — a bounded,
# sub-second pyarrow fetch; anything larger belongs on the cluster.
ROUTE_BUDGET = int(os.environ.get("SPARK_GRAFT_ROUTE_BUDGET", 10_000_000))

# slice-parallel scoring kicks in above this many blocks (~256k postings —
# below it thread fan-out overhead beats the win); numpy ufunc loops release
# the GIL, so a small driver-side pool gives near-linear speedup on the
# decode+score passes of hot-term queries
_PARALLEL_BLOCKS = 2048
_SCORE_THREADS = int(os.environ.get("SPARK_GRAFT_SCORE_THREADS", "4"))


def topk_sorted(
    uniq: np.ndarray, scores: np.ndarray, k: int
) -> "list[tuple[int, float]]":
    """Exact top-k with the engine-wide tie-break (score desc, doc_id
    asc); ``uniq`` need not be sorted but must be duplicate-free."""
    if k < len(uniq):
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        cand = np.flatnonzero(scores >= kth)  # boundary ties included
    else:
        cand = np.arange(len(uniq))
    order = cand[np.lexsort((uniq[cand], -scores[cand]))][:k]
    return [(int(uniq[i]), float(scores[i])) for i in order]


def topk_dense(full: np.ndarray, lo: int, k: int) -> "list[tuple[int, float]]":
    """Top-k straight off a DENSE span-offset score array (the
    span-bincount merge output): one partition over the span finds the
    kth score, one comparison collects candidates — no full
    flatnonzero + gather of every matched doc (a hot 2-term query
    matches ~80% of the corpus; materializing those ids cost two extra
    span-sized passes). BM25 contributions are strictly positive, so a
    zero cell is "no match" and the kth-score cut can only be crossed
    by real matches; a zero kth (fewer than k matches) falls back to
    the sparse path."""
    n = full.size
    if n == 0:
        return []
    if k < n:
        kth = np.partition(full, n - k)[n - k]
        if kth > 0.0:
            cand = np.flatnonzero(full >= kth)
            return topk_sorted(cand + lo, full[cand], k)
    uniq = np.flatnonzero(full)
    return topk_sorted(uniq + lo, full[uniq], k)
_SCORE_POOL = None


def _score_pool():
    global _SCORE_POOL
    if _SCORE_POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        _SCORE_POOL = ThreadPoolExecutor(_SCORE_THREADS)
    return _SCORE_POOL


def _data_files(fs, path: str) -> "list[str]":
    """Files under ``path`` that ``pyarrow.dataset`` discovery would read:
    recursive, skipping any name that starts with ``_`` or ``.``."""
    import pyarrow.fs as pafs

    sel = pafs.FileSelector(path, recursive=True, allow_not_found=True)
    base = len(path.rstrip("/")) + 1
    return sorted(
        i.path
        for i in fs.get_file_info(sel)
        if i.is_file
        and not any(c[:1] in ("_", ".") for c in i.path[base:].split("/"))
    )


class _TermDirectory:
    """Which files and row groups of one committed (postings root, bucket)
    dir hold which terms — the per-segment terms index a Lucene reader
    keeps in memory. Built once: each file's footer is parsed and its
    ``term`` column read; what stays is the parsed ``FileMetaData`` per file
    and the sorted distinct (term, file, row group) triples. A fetch
    binary-searches its terms here and reads only the row groups that hold
    them, so per-query work does not grow with the bucket's file count.
    File names carry no meaning: the two postings writers hash ``sub``
    differently (md5 vs xxhash64), so only the contents say where a term
    lives."""

    def __init__(self, fs, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.fs = fs
        self.files = _data_files(fs, path)
        self.metas = []
        parts = []
        for fid, f in enumerate(self.files):
            with fs.open_input_file(f) as src:
                pf = pq.ParquetFile(src)
                terms = pf.read(columns=["term"]).column("term")
            md = pf.metadata
            rows = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
            self.metas.append(md)
            parts.append(
                pa.table(
                    {
                        "term": terms,
                        "file": np.full(len(terms), fid, dtype=np.int32),
                        "rg": np.repeat(np.arange(len(rows), dtype=np.int32), rows),
                    }
                )
            )
        self.terms = np.array([], dtype=object)
        self.file = self.rg = np.array([], dtype=np.int32)
        if parts:
            tbl = (
                pa.concat_tables(parts, promote_options="permissive")
                .group_by(["term", "file", "rg"])
                .aggregate([])
                .sort_by("term")
            )
            self.terms = tbl.column("term").to_numpy(zero_copy_only=False)
            self.file = tbl.column("file").to_numpy()
            self.rg = tbl.column("rg").to_numpy()

    def lookup(self, terms: np.ndarray) -> "list[tuple[int, list[int]]]":
        """[(file index, sorted row groups)] holding any of ``terms``."""
        lo = np.searchsorted(self.terms, terms, side="left")
        hi = np.searchsorted(self.terms, terms, side="right")
        by_file: "dict[int, set]" = {}
        for a, b in zip(lo, hi):
            for f, g in zip(self.file[a:b], self.rg[a:b]):
                by_file.setdefault(int(f), set()).add(int(g))
        return [(f, sorted(g)) for f, g in sorted(by_file.items())]

    def read(self, fid: int, row_groups: "list[int]", cols: "list[str]", keep):
        """The ``keep`` terms' rows of ``row_groups`` of one file, read with
        its cached footer."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        with self.fs.open_input_file(self.files[fid]) as src:
            tbl = pq.ParquetFile(src, metadata=self.metas[fid]).read_row_groups(
                row_groups, columns=cols
            )
        return tbl.filter(pc.is_in(tbl.column("term"), value_set=keep))


class IndexSearcher:
    """Query-side handle on an index directory built by index.builder.

    **Self-dispatching planner**: every query's cost is known BEFORE any
    scan — Σ df of its terms, read from the driver-resident term dictionary
    (the terms table, loaded once via pyarrow: the same in-memory term
    dictionary every search engine holds; ``buckets=[...]`` restricts a
    sharded node to its buckets' rows — see ``_term_dfs``). At or below ``route_budget`` postings the
    low-latency driver path runs (pruned scan → collect → numpy); above it
    the query routes to ``search_distributed``, whose shuffle carries only
    (doc_id, contrib) partials — so a hot-term query can never pull an
    unbounded posting list across the driver (round-2 What's-wrong #1).

    The driver path issues ZERO Spark jobs by default, and opening the
    searcher starts none either: bucket list driver-side (md5, no job), df
    from the term dictionary, N/avgdl read with pyarrow at open, and the
    pruned blocks fetched by a direct pyarrow read (``scan="pyarrow"``, any
    pyarrow filesystem). The committed postings roots are resolved once at
    open — the searcher is a snapshot of that commit. The first query that
    touches a (root, bucket) builds its ``_TermDirectory`` (one footer parse
    and one ``term``-column read per file); every fetch after that reads
    only the files and row groups that hold the query's terms, with their
    cached footers. ``scan="spark"`` keeps the Spark scan; with
    ``cache=True`` that relation is pinned in executor memory — the "warm
    index" a serving tier would hold. The Spark relations (``_postings``,
    ``_postings_full``, ``_docs``) are built on first use by the
    distributed route, ``scan="spark"`` and ``fetch``; ``cache=True``
    builds them at open.
    """

    _block_cols = [
        "term", "salt", "block_id", "min_doc", "max_doc",
        "doc_ids", "tfs", "dls", "max_tf", "min_dl", "n_docs",
    ]

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        cache: bool = False,
        route_budget: int = ROUTE_BUDGET,
        buckets: "list[int] | None" = None,
    ) -> None:
        import pyarrow.dataset as ds

        from ..index.builder import (
            deletes_sources,
            fs_and_path,
            postings_sources,
            read_index_meta,
            IndexPaths,
        )

        self.spark = spark
        self.index_dir = index_dir
        self.route_budget = route_budget
        self.meta = read_index_meta(index_dir)
        self.n_buckets = int(self.meta["n_buckets"])
        # a sharded query tier gives each node a bucket subset: the node's
        # term dictionary loads ONLY those buckets' rows (at 10^12 docs the
        # full vocabulary is 10^8-10^9 terms — tens of GB; a bucket's slice
        # is 1/n_buckets of that), mirroring ES's per-shard term dictionary
        self.buckets = sorted(buckets) if buckets is not None else None
        paths = IndexPaths(index_dir)
        tv = int(self.meta.get("terms_version", 0))
        self._terms_path = paths.terms_v(tv)
        self._df_map: "pd.Series | None" = None  # lazy term dictionary
        # live corpus stats from the committed stats version (increments
        # commit a new version atomically via meta.json)
        st = ds.dataset(paths.stats_v(tv)).to_table().to_pylist()[0]
        self.n_docs = int(st["n_docs"])
        self.avgdl = float(st["avgdl"])
        # the committed postings roots, resolved once: the base plus every
        # committed delta segment (staging dirs are never listed)
        self._pdirs = postings_sources(index_dir, self.meta)
        self._roots = [fs_and_path(d) for d in self._pdirs]
        # lazy (root index, bucket) → _TermDirectory
        self._dirs: "dict[tuple[int, int], _TermDirectory]" = {}
        # with a pinned relation the Spark scan is the path that benefits —
        # make it the default so callers don't pay cache materialization
        # for a cache the pyarrow path would never touch
        self._cache = cache
        self._default_scan = "spark" if cache else "pyarrow"
        if cache:  # a warm serving index builds (and pins) them at open
            for name in ("_postings", "_docs"):
                getattr(self, name)
        # tombstones (Lucene live-docs analog): a SORTED numpy doc-id array
        # loaded via pyarrow (no Spark job, no Python set) — 8 bytes per
        # deleted doc, sharded alongside the index at serving scale;
        # membership is a binary search
        self.deleted = _load_deletes(deletes_sources(index_dir, self.meta))

    # -- Spark relations (distributed route, scan="spark", fetch) ----------
    def _union(self, dirs: "list[str]", empty_schema) -> DataFrame:
        """Each segment dir is its own hive-partitioned table root — union
        them (Spark refuses multi-root partition discovery). No dirs (an
        all-empty corpus writes no files) → an empty relation."""
        from functools import reduce

        if not dirs:
            return self.spark.createDataFrame([], empty_schema)
        parts = [self.spark.read.parquet(d) for d in dirs]
        return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)

    @cached_property
    def _postings_full(self) -> DataFrame:
        """All postings columns, never cached: positional reads
        (match_phrase) go through it, so the pos column stays on disk until
        a phrase query prunes-and-reads it."""
        from ..index.builder import BLOCK_SCHEMA

        return self._union(self._pdirs, BLOCK_SCHEMA)

    @cached_property
    def _postings(self) -> DataFrame:
        """The scoring relation; with ``cache=True`` only the scoring
        columns are pinned in executor memory."""
        if not self._cache:
            return self._postings_full
        rel = self._postings_full.select(*self._block_cols, "bucket").cache()
        rel.count()  # materialize
        return rel

    @cached_property
    def _docs(self) -> DataFrame:
        from ..index.builder import DOCS_SCHEMA, docs_sources

        return self._union(docs_sources(self.index_dir, self.meta), DOCS_SCHEMA)

    # -- helpers ---------------------------------------------------------
    def _qterms(self, query: str) -> list[str]:
        return list(dict.fromkeys(tokenize(query)))

    def _term_dfs(self, terms: "list[str]") -> "dict[str, int]":
        """Exact LIVE df per term from the driver-resident term dictionary
        (terms table, pyarrow-loaded once — no Spark job; the table is
        maintained exactly across increments, so this is always the live
        df). With ``buckets`` set, ONLY those buckets' rows load — the
        sharded-deployment memory bound (a term outside the shard's buckets
        maps to 0, same as an absent term: that shard never owns its
        postings). Absent terms map to 0."""
        if self._df_map is None:
            import pyarrow.dataset as ds

            bucket_filter = (
                ds.field("bucket").isin(self.buckets)
                if self.buckets is not None
                else None
            )
            tbl = ds.dataset(self._terms_path).to_table(
                columns=["term", "df"], filter=bucket_filter
            )
            self._df_map = pd.Series(
                tbl.column("df").to_numpy(zero_copy_only=False).astype(np.int64),
                index=tbl.column("term").to_numpy(zero_copy_only=False),
            )
        m = self._df_map
        return {t: int(m.get(t, 0)) for t in terms}

    def _pruned_blocks(self, qterms: list[str]) -> DataFrame:
        from ..index.bucketing import bucket_of

        buckets = sorted({bucket_of(t, self.n_buckets) for t in qterms})
        return self._postings.where(
            F.col("bucket").isin(buckets) & F.col("term").isin(qterms)
        )

    def _directory(self, root: int, bucket: int) -> _TermDirectory:
        # two threads racing on a first touch both build the same
        # directory; either one may stay
        key = (root, bucket)
        d = self._dirs.get(key)
        if d is None:
            fs, path = self._roots[root]
            d = self._dirs[key] = _TermDirectory(fs, f"{path}/bucket={bucket}")
        return d

    def _fetch_plan(
        self, qterms: "list[str]"
    ) -> "list[tuple[_TermDirectory, int, list[int]]]":
        """[(directory, file index, row groups)] that hold the query's
        terms, over every committed root of the terms' buckets."""
        from ..index.bucketing import bucket_of

        buckets = sorted({bucket_of(t, self.n_buckets) for t in qterms})
        keys = np.array(sorted(qterms), dtype=object)
        plan = []
        for r in range(len(self._roots)):
            for b in buckets:
                d = self._directory(r, b)
                plan += [(d, f, rgs) for f, rgs in d.lookup(keys)]
        return plan

    def _pruned_blocks_arrow(self, qterms: "list[str]", with_pos: bool = False):
        """Pruned blocks fetched with a DIRECT pyarrow read — no Spark job,
        no JVM→Python serialization, and (returned as an Arrow table) no
        Python ``bytes`` materialization either: the scoring path decodes
        straight off the Arrow binary buffers. The term directories
        (``_fetch_plan``) name the files and row groups that hold the
        query's terms; only those are read, with their cached footers, on
        the calling thread. Works against any pyarrow filesystem (local,
        S3, GCS). Bounded by the route budget: above it the query never
        takes this path."""
        import pyarrow as pa

        cols = self._block_cols + (["pos"] if with_pos else [])
        keep = pa.array(qterms, pa.string())
        parts = [d.read(f, rgs, cols, keep) for d, f, rgs in self._fetch_plan(qterms)]
        if not parts:
            return pa.table({c: [] for c in cols})
        if len(parts) == 1:
            return parts[0]
        return pa.concat_tables(parts, promote_options="permissive")

    # -- low-latency path -------------------------------------------------
    def search(
        self, query: str, k: int = 10, route: str = "auto",
        scan: "str | None" = None,
    ) -> list[tuple[int, float]]:
        """Top-k → [(doc_id, score)] rank-ordered, self-dispatching.

        ``route="auto"`` (default): the term dictionary prices the query as
        Σ df over its terms (driver-side, no scan); at or below
        ``route_budget`` postings the driver path runs, above it the query
        executes distributed (identical ranking — contract-gated) and only
        k rows reach the driver. ``route="driver"``/``"distributed"`` force
        a path (tests, diagnostics).

        Driver path scan: ``scan=None`` picks the searcher's default —
        ``"pyarrow"`` normally, ``"spark"`` when the searcher was built with
        ``cache=True`` (otherwise the pinned relation would never be
        touched). ``scan="pyarrow"`` reads the pruned blocks directly
        (only the files and row groups the term directories name, C++
        reader, no Spark job — the budget-bounded fetch is a few MB) and
        the vectorized engine scores straight off the Arrow buffers (no
        Python bytes);
        ``scan="spark"`` keeps the Spark scan (the cached-relation path).
        Every path decodes the fetched blocks and scores them with numpy;
        all return identical rankings (tested).
        """
        qterms = self._qterms(query)
        if not qterms:
            return []
        dfs = self._term_dfs(qterms)
        qterms = [t for t in qterms if dfs[t] > 0]
        if not qterms:
            return []
        if route == "distributed" or (
            route == "auto" and sum(dfs[t] for t in qterms) > self.route_budget
        ):
            rows = self.search_distributed(query, k).collect()
            return [(int(r.doc_id), float(r.score)) for r in rows]
        if scan is None:
            scan = self._default_scan
        if scan == "pyarrow":
            tbl = self._pruned_blocks_arrow(qterms)
            if tbl.num_rows == 0:
                return []
            return self._vectorized_topk_arrow(tbl, qterms, dfs, k)
        pdf = self._pruned_blocks(qterms).select(*self._block_cols).toPandas()
        if pdf.empty:
            return []
        return self._vectorized_topk(pdf, dfs, k)

    def _topk_from_postings(
        self, ids: np.ndarray, contrib: np.ndarray, single_term: bool, k: int
    ) -> list[tuple[int, float]]:
        """Shared tail of the vectorized engines: tombstone drop → per-doc
        sum → exact top-k with the engine-wide tie-break (score desc,
        doc_id asc). ``single_term`` skips the merge pass (one posting per
        doc — salted sub-streams are doc-disjoint)."""
        if self.deleted.size:
            alive = _alive_mask(self.deleted, ids)
            ids, contrib = ids[alive], contrib[alive]
        return self._topk_postsums(ids, contrib, single_term, k)

    def _pruned_single_arrow(
        self, tbl, w: float, k: int
    ) -> "list[tuple[int, float]] | None":
        """Block-max pruned leg for SINGLE-term hot queries on the arrow
        driver path (the serving tier's `_vectorized_pruned` reshaped for
        the Arrow block table; r5 VERDICT Next #3). Exact: a single-term
        doc lives in exactly one block, the drift-safe (max_tf, min_dl)
        bound dominates every score in its block, and θ is the k-th best
        of REAL seed scores (θ ≤ true k-th best), so every dropped block
        (ub < θ − ε) holds only docs that cannot enter the top-k; boundary
        ties survive via the ε slack. Returns None when pruning keeps too
        much (near-uniform block maxima) — callers fall back to the
        exhaustive scorer. Multi-term queries stay exhaustive here: on the
        bench's stop-word pairs the feasibility floor keeps ≈100% of
        postings (PLANS.md §10), so the seed pass would be pure
        overhead."""
        from ..index.codec import decode_block_batch_arrow

        mtf = tbl.column("max_tf").to_numpy().astype(np.float64)
        mdl = tbl.column("min_dl").to_numpy().astype(np.float64)
        ub = w * mtf / (mtf + K1 * (1.0 - B + B * mdl / self.avgdl))
        nd = tbl.column("n_docs").to_numpy().astype(np.int64)
        tot = int(nd.sum())
        order = np.argsort(-ub)
        budget = max(4000, min(50_000, tot // 50))
        m = int(np.searchsorted(np.cumsum(nd[order]), budget)) + 1
        seed_idx = np.sort(order[:m])
        seed = tbl.take(seed_idx)
        ids, tfs, dls = decode_block_batch_arrow(seed)
        contrib = bm25_contrib(w, tfs, dls, self.avgdl)
        if self.deleted.size:
            alive = _alive_mask(self.deleted, ids)
            contrib = contrib[alive]
        if contrib.size < k:
            return None
        theta = float(np.partition(contrib, contrib.size - k)[contrib.size - k])
        if theta <= 0.0:
            return None
        keep = ub >= theta - 1e-9
        if int(nd[keep].sum()) > tot // 2:
            return None
        sub = tbl.filter(keep)
        if self.deleted.size == 0:
            fast = self._single_term_topk_arrow(sub, w, k)
            if fast is not None:
                return fast
        idsk, tfsk, dlsk = decode_block_batch_arrow(sub)
        contribk = bm25_contrib(w, tfsk, dlsk, self.avgdl)
        if self.deleted.size:
            alivek = _alive_mask(self.deleted, idsk)
            idsk, contribk = idsk[alivek], contribk[alivek]
        return self._topk_postsums(idsk, contribk, True, k)

    def _single_term_topk_arrow(
        self, tbl, w: float, k: int
    ) -> "list[tuple[int, float]] | None":
        """Single-term exhaustive scorer that never decodes the doc-id
        column for non-candidates: scores depend only on (tf, dl), so the
        k-th contribution threshold is found from two column decodes, and
        doc ids decode ONLY for the blocks holding candidate postings
        (ids were ~40% of the single-term decode cost, plus the per-posting
        weight array disappears — w is a scalar). Valid only with no
        tombstones (alive filtering needs every id); returns None when
        boundary ties make the candidate set so large that the full path
        is cheaper. Rank- and score-identical: candidates are exactly the
        postings with contribution ≥ the k-th best, and the shared
        ``topk_sorted`` applies the engine tie-break."""
        from ..index.codec import (
            _decode_pool,
            arrow_binary_bytes,
            decode_block_batch_arrow,
            vb_decode,
        )

        f_tf = _decode_pool().submit(
            lambda: vb_decode(arrow_binary_bytes(tbl.column("tfs")))
        )
        dls = vb_decode(arrow_binary_bytes(tbl.column("dls")))
        tfs = f_tf.result()
        contrib = bm25_contrib(w, tfs, dls, self.avgdl)
        n = contrib.size
        if n == 0:
            return []
        kk = min(k, n)
        tau = np.partition(contrib, n - kk)[n - kk]
        cand = np.flatnonzero(contrib >= tau)
        if cand.size > max(4 * k, n // 4):
            return None  # massive score ties — full decode is cheaper
        counts = tbl.column("n_docs").to_numpy().astype(np.int64)
        bounds = np.concatenate(([0], np.cumsum(counts)))
        blk = np.searchsorted(bounds, cand, side="right") - 1
        ublk = np.unique(blk)
        ids_sub, _tf, _dl = decode_block_batch_arrow(
            tbl.take(ublk), parallel=False
        )
        sub_bounds = np.concatenate(([0], np.cumsum(counts[ublk])))
        sub_pos = (
            sub_bounds[np.searchsorted(ublk, blk)] + (cand - bounds[blk])
        )
        return topk_sorted(ids_sub[sub_pos], contrib[cand], k)

    def _vectorized_topk_arrow(
        self, tbl, qterms: "list[str]", dfs: dict[str, int], k: int
    ) -> list[tuple[int, float]]:
        """Exhaustive scoring straight off the Arrow block table — the
        default driver leg. ONE segmented varbyte decode per column over
        zero-copy views of the Arrow binary buffers (no per-block Python
        bytes, no join copy — the round-3 q8 fetch cost), per-block idf
        weights assigned with arrow-compute equality masks (no per-block
        Python string ever materializes), then spread per-posting by one
        ``np.repeat``. Hot-term queries (≥ ``_PARALLEL_BLOCKS`` blocks)
        score SLICE-PARALLEL: the table splits into zero-copy row slices,
        each thread decodes + scores its slice (numpy releases the GIL in
        the ufunc loops), and the per-doc sums merge via per-thread
        span-bincounts — allocation still O(matches + observed span).
        Caller guarantees every fetched block's term is in ``qterms`` with
        live df > 0 (search() drops dead terms before the fetch). Ranking
        is identical to ``_vectorized_topk`` (exact BM25, same
        tie-break)."""
        import pyarrow.compute as pc

        from ..index.codec import decode_block_batch_arrow

        term_col = tbl.column("term")
        w_block = np.zeros(tbl.num_rows, dtype=np.float64)
        for t in qterms:
            m = pc.equal(term_col, t).to_numpy(zero_copy_only=False)
            w_block[m] = idf(self.n_docs, dfs[t])
        deleted = self.deleted if self.deleted.size else None

        def score_slice(sl, w_block_sl):
            """(ids, contrib) of one row slice — runs GIL-light."""
            ids, tfs, dls = decode_block_batch_arrow(sl, parallel=False)
            counts = sl.column("n_docs").to_numpy().astype(np.int64)
            w_post = np.repeat(w_block_sl, counts)
            contrib = bm25_contrib(w_post, tfs, dls, self.avgdl)
            if deleted is not None:
                alive = _alive_mask(deleted, ids)
                ids, contrib = ids[alive], contrib[alive]
            return ids, contrib

        single = len(qterms) == 1
        if single and tbl.num_rows >= _PARALLEL_BLOCKS:
            w1 = idf(self.n_docs, dfs[qterms[0]])
            pruned = self._pruned_single_arrow(tbl, w1, k)
            if pruned is not None:
                return pruned
            if deleted is None:
                fast = self._single_term_topk_arrow(tbl, w1, k)
                if fast is not None:
                    return fast
        if tbl.num_rows < _PARALLEL_BLOCKS:
            ids, contrib = score_slice(tbl, w_block)
            return self._topk_postsums(ids, contrib, single, k)
        nrows = tbl.num_rows
        T = _SCORE_THREADS
        cuts = [i * nrows // T for i in range(T + 1)]
        futs = [
            _score_pool().submit(
                score_slice,
                tbl.slice(cuts[i], cuts[i + 1] - cuts[i]),
                w_block[cuts[i] : cuts[i + 1]],
            )
            for i in range(T)
        ]
        parts = [f.result() for f in futs]
        parts = [(i, c) for i, c in parts if i.size]
        if not parts:
            return []
        if single:
            # one posting per doc (salted sub-streams are doc-disjoint) —
            # no cross-slice merge needed
            ids = np.concatenate([p[0] for p in parts])
            return topk_sorted(ids, np.concatenate([p[1] for p in parts]), k)
        lo = min(int(p[0].min()) for p in parts)
        hi = max(int(p[0].max()) for p in parts)
        span = hi - lo + 1
        total = sum(p[0].size for p in parts)
        if span <= 4 * total:
            # per-thread span-offset bincounts, summed — the merge is T-1
            # adds over the observed span, never the global doc-id space
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
        ids = np.concatenate([p[0] for p in parts])
        contrib = np.concatenate([p[1] for p in parts])
        uniq, scores = _group_sum(ids, contrib)
        return topk_sorted(uniq, scores, k)

    def _topk_postsums(
        self, ids: np.ndarray, contrib: np.ndarray, single: bool, k: int
    ) -> list[tuple[int, float]]:
        """Per-doc sum (skipped for single-term) + top-k over ALREADY
        tombstone-filtered postings."""
        if ids.size == 0:
            return []
        if single:
            uniq, scores = ids, contrib
        else:
            uniq, scores = _group_sum(ids, contrib)
        return topk_sorted(uniq, scores, k)

    def _vectorized_topk(
        self, pdf, dfs: dict[str, int], k: int
    ) -> list[tuple[int, float]]:
        """Exhaustive numpy scoring of the collected blocks (exact BM25)."""
        from ..index.codec import decode_block_batch

        ids_all, contrib_all = [], []
        for term, g in pdf.groupby("term", sort=True):
            if dfs.get(term, 0) <= 0:
                continue
            w = idf(self.n_docs, dfs[term])
            ids, tfs, dls = decode_block_batch(
                g["doc_ids"], g["tfs"], g["dls"], g["n_docs"].to_numpy()
            )
            ids_all.append(ids)
            contrib_all.append(bm25_contrib(w, tfs, dls, self.avgdl))
        if not ids_all:
            return []
        ids = np.concatenate(ids_all)
        contrib = np.concatenate(contrib_all)
        return self._topk_from_postings(ids, contrib, len(ids_all) == 1, k)

    # -- distributed path --------------------------------------------------
    def search_distributed(self, query: str, k: int = 10) -> DataFrame:
        """Cluster-side scoring: pruned scan → vectorized partial scores →
        groupBy(doc_id).sum → TakeOrderedAndProject(k). Term weights come
        from the driver term dictionary — the whole query is ONE job."""
        qterms = self._qterms(query)
        spark = self.spark
        empty = spark.createDataFrame([], "doc_id long, score double")
        if not qterms:
            return empty
        dfs = self._term_dfs(qterms)
        qterms = [t for t in qterms if dfs.get(t, 0) > 0]
        if not qterms:
            return empty
        n_docs, avgdl = self.n_docs, self.avgdl
        weights = {t: idf(n_docs, dfs[t]) for t in qterms}
        # tombstones ride a real Spark broadcast (one copy per executor,
        # not per task closure)
        dead_bc = spark.sparkContext.broadcast(self.deleted)

        def score_blocks(batches):
            dead = dead_bc.value
            for pdf in batches:
                outs_d, outs_s = [], []
                for r in pdf.itertuples(index=False):
                    ids = decode_doc_ids(r.doc_ids)
                    tfs = decode_tfs(r.tfs)
                    dls = decode_tfs(r.dls)
                    if dead.size:
                        alive = _alive_mask(dead, ids)
                        ids, tfs, dls = ids[alive], tfs[alive], dls[alive]
                    if ids.size == 0:
                        continue
                    w = weights[r.term]
                    outs_d.append(ids)
                    outs_s.append(bm25_contrib(w, tfs, dls, avgdl))
                if outs_d:
                    yield pd.DataFrame(
                        {
                            "doc_id": np.concatenate(outs_d),
                            "contrib": np.concatenate(outs_s),
                        }
                    )

        # scoring needs 4 columns — projecting BEFORE the kernel keeps the
        # pos column (comparable in bytes to the postings themselves on a
        # positional index) and the block metadata out of the scan entirely
        partials = (
            self._pruned_blocks(qterms)
            .select("term", "doc_ids", "tfs", "dls")
            .mapInPandas(score_blocks, schema="doc_id long, contrib double")
        )
        scored = partials.groupBy("doc_id").agg(F.sum("contrib").alias("score"))
        return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

    def fetch(self, hits: list[tuple[int, float]]) -> DataFrame:
        """Resolve winners to their source rows (B8 doc-store get)."""
        empty_schema = (
            "doc_id long, score double, conv_id string, turn_idx int, "
            "role string, text string"
        )
        if not hits:
            return self.spark.createDataFrame([], empty_schema)
        live = [h for h in hits if not _is_deleted(self.deleted, h[0])]
        if not live:
            return self.spark.createDataFrame([], empty_schema)
        hit_df = self.spark.createDataFrame(live, "doc_id long, score double")
        return self._docs.join(F.broadcast(hit_df), "doc_id").select(
            "doc_id", "score", "conv_id", "turn_idx", "role", "text"
        )
