"""Top-k retrieval over the compressed index — one execution, two routes.

``IndexSearcher`` plans every query the same way: its terms' buckets select
the ``bucket=K`` dirs, and a per-(postings root, bucket) term directory held
by the searcher names the row runs each term occupies in which files and
row groups (``_fetch_plan``). Only those row groups are read (with cached
footers), and each term's runs are zero-copy slices of them, so the fetch
runs no ``is_in`` filter and no split by term. The BM25 kernel
(``kernel.topk``) scores the per-term block tables. The routes differ only
in where that runs:

- **driver** — the whole plan on the calling thread, no Spark job. This is
  the path a search tier would serve QPS from.
- **distributed** — for huge candidate sets: the same plan cut into doc-id
  ranges, one ``builder.run_tasks`` job (one stage, no shuffle). Each task
  reads the planned row groups once; per range it keeps the blocks whose
  doc span meets the range, scores them with the same kernel and returns
  its local top-k; the driver merges k × ranges rows (``_distributed``).

Both return exactly the same ranking as the BM25 oracle: exact Lucene
formula, float64, ties by doc_id ascending.
"""

from __future__ import annotations

from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import kernel
from .kernel import idf
from ..tokenize import tokenize

# the open upper end of the last doc-id range of a distributed query
_OPEN = np.iinfo(np.int64).max


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
# distributed execution instead of reading its blocks driver-side
# (round-2 What's-wrong #1: a stop-word term's postings are TBs at 10^12
# docs — the driver path is only valid for selective terms). The number is
# postings: 10^7 postings ≈ ~25 MB of compressed blocks — a bounded,
# sub-second pyarrow fetch; anything larger belongs on the cluster.
ROUTE_BUDGET = 10_000_000


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
    """Which row runs of which files and row groups of one committed
    (postings root, bucket) dir hold which terms — the per-segment terms
    index a Lucene reader keeps in memory. Built once: each file's footer
    is parsed and its ``term`` column read; what stays is the parsed
    ``FileMetaData`` per file and, sorted by term, one (term, file, row
    group, first row, rows) entry per run of equal adjacent terms within a
    row group. Every postings writer sorts by term, so a term usually has
    one run per row group; an unsorted row group just yields several. A
    fetch binary-searches its terms here and slices those runs out of the
    row groups, so per-query work does not grow with the bucket's file
    count. File names carry no meaning: the two postings writers hash
    ``sub`` differently (md5 vs xxhash64), so only the contents say where a
    term lives."""

    def __init__(self, fs, path: str) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
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
            self.metas.append(md)
            n = len(terms)
            if n == 0:
                continue
            rows = np.array([md.row_group(i).num_rows for i in range(md.num_row_groups)])
            rg = np.repeat(np.arange(rows.size, dtype=np.int32), rows)
            # a run starts at row 0, at a term change and at a row-group start
            new = np.ones(n, dtype=bool)
            new[1:] = pc.not_equal(terms[1:], terms[:-1]).to_numpy() | (rg[1:] != rg[:-1])
            starts = np.flatnonzero(new)
            first = starts - np.repeat(np.cumsum(rows) - rows, rows)[starts]
            parts.append(
                pa.table(
                    {
                        "term": terms.take(starts),
                        "file": np.full(starts.size, fid, dtype=np.int32),
                        "rg": rg[starts],
                        "first": first.astype(np.int64),
                        "rows": np.diff(np.append(starts, n)),
                    }
                )
            )
        self.terms = np.array([], dtype=object)
        self.file = self.rg = np.array([], dtype=np.int32)
        self.first = self.rows = np.array([], dtype=np.int64)
        if parts:
            tbl = pa.concat_tables(parts, promote_options="permissive").sort_by(
                [(c, "ascending") for c in ("term", "file", "rg", "first")]
            )
            self.terms = tbl.column("term").to_numpy(zero_copy_only=False)
            self.file, self.rg = tbl.column("file").to_numpy(), tbl.column("rg").to_numpy()
            self.first, self.rows = tbl.column("first").to_numpy(), tbl.column("rows").to_numpy()

    def runs(self, terms: np.ndarray) -> "dict[int, dict[int, list]]":
        """{file index: {row group: [(term, first row, rows)]}} of every run
        holding one of ``terms`` (sorted)."""
        lo = np.searchsorted(self.terms, terms, side="left")
        hi = np.searchsorted(self.terms, terms, side="right")
        out: "dict[int, dict[int, list]]" = {}
        for a, b in zip(lo, hi):
            for i in range(a, b):
                out.setdefault(int(self.file[i]), {}).setdefault(int(self.rg[i]), []).append(
                    (self.terms[i], int(self.first[i]), int(self.rows[i]))
                )
        return out

    def read(self, fid: int, groups: "dict[int, list]", cols: "list[str]"):
        """``_read_runs`` of one file, with its cached footer."""
        return _read_runs(self.fs, self.files[fid], groups, cols, self.metas[fid])


def _read_runs(fs, path: str, groups: "dict[int, list]", cols: "list[str]", md=None):
    """[(term, its rows)] for every run of ``groups`` ({row group: [(term,
    first row, rows)]}, as ``_TermDirectory.runs`` gives them) of one file:
    the row groups are read whole in one call (with ``md``, the file's
    footer, when the caller holds it), and each run is a zero-copy slice of
    them."""
    import pyarrow.parquet as pq

    rgs = sorted(groups)
    with fs.open_input_file(path) as src:
        pf = pq.ParquetFile(src, metadata=md)
        tbl = pf.read_row_groups(rgs, columns=cols)
    md = pf.metadata if md is None else md
    out, base = [], 0
    for g in rgs:
        out += [(term, tbl.slice(base + a, n)) for term, a, n in groups[g]]
        base += md.row_group(g).num_rows
    return out


def _per_term(parts: "dict[str, list]", cols: "list[str]") -> dict:
    """{term: one table} of each term's pieces; a term without any gets an
    empty table."""
    import pyarrow as pa

    out = {}
    for t, p in parts.items():
        if not p:
            out[t] = pa.table({c: [] for c in cols})
        elif len(p) == 1:
            out[t] = p[0]
        else:
            out[t] = pa.concat_tables(p, promote_options="permissive")
    return out


class IndexSearcher:
    """Query-side handle on an index directory built by index.builder.

    **Self-dispatching planner**: every query's cost is known BEFORE any
    scan — Σ df of its terms, read from the driver-resident term dictionary
    (the live terms table, loaded once via pyarrow: the same in-memory term
    dictionary every search engine holds; ``buckets=[...]`` restricts a
    sharded node to its buckets' rows — see ``_term_dfs``). At or below
    ``route_budget`` postings the low-latency driver path runs (pyarrow
    fetch → the BM25 kernel); above it the same plan and kernel run per
    doc-id range as one Spark job (``_distributed``), and only k rows per
    range reach the driver — so a hot-term query can never pull an
    unbounded posting list across the driver (round-2 What's-wrong #1).

    The driver path issues ZERO Spark jobs, and opening the searcher starts
    none either: bucket list driver-side (md5, no job), df from the term
    dictionary, N/avgdl from ``meta.json``, and the pruned blocks
    fetched by a direct pyarrow read (any pyarrow filesystem). The
    committed postings roots are resolved once at open — the searcher is a
    snapshot of that commit. The first query that touches a (root, bucket)
    builds its ``_TermDirectory`` (one footer parse and one ``term``-column
    read per file). Every fetch after that reads only the row groups that
    hold the query's terms, with their files' cached footers, and slices
    each term's runs out of them; between queries the searcher keeps its
    term directories, not the blocks. The one Spark relation, ``_docs``,
    is built on first use by ``fetch``.
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        route_budget: int = ROUTE_BUDGET,
        buckets: "list[int] | None" = None,
    ) -> None:
        from ..index.builder import (
            deletes_sources,
            fs_and_path,
            postings_sources,
            read_index_meta,
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
        self._df_map: "pd.Series | None" = None  # lazy term dictionary
        # live corpus stats of the commit (every apply commits them in
        # the same meta.json swap as its segment)
        self.n_docs = int(self.meta["n_docs"])
        self.avgdl = float(self.meta["avgdl"])
        # the committed postings roots, resolved once: the base plus every
        # committed delta segment (staging dirs are never listed)
        self._pdirs = postings_sources(index_dir, self.meta)
        self._roots = [fs_and_path(d) for d in self._pdirs]
        # lazy (root index, bucket) → _TermDirectory
        self._dirs: "dict[tuple[int, int], _TermDirectory]" = {}
        # tombstones (Lucene live-docs analog): a SORTED numpy doc-id array
        # loaded via pyarrow (no Spark job, no Python set) — 8 bytes per
        # deleted doc, sharded alongside the index at serving scale;
        # membership is a binary search
        self.deleted = _load_deletes(deletes_sources(index_dir, self.meta))

    @cached_property
    def _docs(self) -> DataFrame:
        from ..index.builder import DOCS_SCHEMA, docs_sources, union_parquet

        return union_parquet(
            self.spark, docs_sources(self.index_dir, self.meta), DOCS_SCHEMA
        )

    # -- helpers ---------------------------------------------------------
    def _qterms(self, query: str) -> list[str]:
        return list(dict.fromkeys(tokenize(query)))

    def _term_dfs(self, terms: "list[str]") -> "dict[str, int]":
        """Exact LIVE df per term from the driver-resident term dictionary
        (``builder.read_terms``: the base terms table plus the committed
        segments' deltas, pyarrow-loaded once — no Spark job). With
        ``buckets`` set, ONLY those buckets' rows load — the
        sharded-deployment memory bound (a term outside the shard's buckets
        maps to 0, same as an absent term: that shard never owns its
        postings). Absent terms map to 0."""
        if self._df_map is None:
            from ..index.builder import read_terms

            tbl = read_terms(self.index_dir, self.meta, self.buckets)
            self._df_map = pd.Series(
                tbl.column("df").to_numpy(zero_copy_only=False).astype(np.int64),
                index=tbl.column("term").to_numpy(zero_copy_only=False),
            )
        m = self._df_map
        return {t: int(m.get(t, 0)) for t in terms}

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
    ) -> "list[tuple[_TermDirectory, int, dict[int, list]]]":
        """[(directory, file index, {row group: [(term, first row, rows)]})]
        of every run holding a query term, over every committed root of the
        terms' buckets — exactly what ``_term_tables`` reads."""
        from ..index.bucketing import bucket_of

        buckets = sorted({bucket_of(t, self.n_buckets) for t in qterms})
        keys = np.array(sorted(qterms), dtype=object)
        plan = []
        for r in range(len(self._roots)):
            for b in buckets:
                d = self._directory(r, b)
                plan += [(d, f, groups) for f, groups in d.runs(keys).items()]
        return plan

    def _term_tables(self, qterms: "list[str]", with_pos: bool = False) -> dict:
        """{term: its block rows} for each of ``qterms`` — a direct pyarrow
        fetch, no Spark job, no JVM→Python serialization and no Python
        ``bytes``: the scoring path decodes straight off the Arrow binary
        buffers. The plan names each term's row runs; each file's row
        groups that hold them are read whole, on the calling thread, and
        each run is a zero-copy slice, so no ``is_in`` filter and no split
        by term runs. Works against any pyarrow filesystem (local, S3,
        GCS). Bounded by the route budget: above it the query never takes
        this path."""
        cols = kernel.BLOCK_COLS + (["pos"] if with_pos else [])
        parts: "dict[str, list]" = {t: [] for t in qterms}
        for d, f, groups in self._fetch_plan(qterms):
            for term, rows in d.read(f, groups, cols):
                parts[term].append(rows)
        return _per_term(parts, cols)

    # -- distributed route -------------------------------------------------
    def _ranges(self) -> "list[tuple[int, int]]":
        """``TASK_PACK`` × ``defaultParallelism`` equal-width doc-id ranges
        over ``[0, next_doc_id)`` — one ``run_tasks`` task per core. The
        last range is open-ended, so no doc id can fall outside them."""
        from ..index.builder import TASK_PACK

        n = TASK_PACK * self.spark.sparkContext.defaultParallelism
        width = max(1, -(-int(self.meta.get("next_doc_id", 0)) // n))
        cuts = [i * width for i in range(n)] + [_OPEN]
        return list(zip(cuts, cuts[1:]))

    def _distributed(self, qterms: "list[str]", cols: "list[str]", score, k: int):
        """Top-k → [(doc_id, score)] of ``score`` run per doc-id range as ONE
        Spark job (``builder.run_tasks``: one stage, no shuffle).

        The driver plans once (``_fetch_plan``); every task gets the plan,
        and each range's work item carries its ``(lo, hi)`` and its slice
        of the sorted tombstones. A task reads each planned row group once
        and slices each term's runs; per range it keeps the blocks with
        ``max_doc >= lo and min_doc < hi``, calls ``score(tables,
        tombstones)`` → (unique doc ids, scores), masks the ids to ``[lo,
        hi)`` and returns its local top-k; the driver merges at most k ×
        ranges rows. Exact: a doc's posting lies in a block with ``min_doc
        <= doc <= max_doc``, so every block holding an in-range doc is kept,
        and docs of straddling blocks outside the range are masked off
        before the local top-k. The postings row groups are sorted by term,
        so their doc spans cover the whole id space: each task reads every
        planned row group, and the ranges split the decode and scoring, not
        the reads."""
        from ..index.builder import run_tasks

        plan = [(d.fs, d.files[f], groups) for d, f, groups in self._fetch_plan(qterms)]
        if not plan:
            return []
        dead, work = self.deleted, []
        for lo, hi in self._ranges():
            a, b = np.searchsorted(dead, [lo, hi])
            work.append((lo, hi, dead[a:b]))

        def task(items):
            runs = [r for fs, path, groups in plan for r in _read_runs(fs, path, groups, cols)]
            spans = [
                (r.column("min_doc").to_numpy(), r.column("max_doc").to_numpy()) for _, r in runs
            ]
            for lo, hi, dead in items:
                parts: "dict[str, list]" = {t: [] for t in qterms}
                for (term, rows), (mn, mx) in zip(runs, spans):
                    parts[term].append(rows.filter((mx >= lo) & (mn < hi)))
                ids, scores = score(_per_term(parts, cols), dead)
                inr = (ids >= lo) & (ids < hi)
                yield from kernel.topk_sorted(ids[inr], scores[inr], k)

        rows = run_tasks(self.spark, work, task)
        if not rows:
            return []
        ids, scores = (np.array(c) for c in zip(*rows))
        return kernel.topk_sorted(ids, scores, k)

    # -- queries -------------------------------------------------------------
    def search(
        self, query: str, k: int = 10, route: str = "auto"
    ) -> list[tuple[int, float]]:
        """Top-k → [(doc_id, score)] rank-ordered, self-dispatching.

        ``route="auto"`` (default): the term dictionary prices the query as
        Σ df over its terms (driver-side, no scan); at or below
        ``route_budget`` postings the driver path runs, above it the query
        executes distributed (identical ranking — contract-gated) and only
        k rows reach the driver. ``route="driver"``/``"distributed"`` force
        a path (tests, diagnostics).

        The driver path reads only the row groups the term directories name
        (C++ reader, no Spark job — the budget-bounded fetch is a few MB),
        slices each term's runs out of them, and ``kernel.topk`` scores them
        straight off the Arrow buffers (no Python bytes). The distributed
        path runs the same fetch and ``kernel.partial_sums`` per doc-id
        range (``_distributed``).
        """
        qterms = self._qterms(query)
        if not qterms:
            return []
        dfs = self._term_dfs(qterms)
        qterms = [t for t in qterms if dfs[t] > 0]
        if not qterms:
            return []
        weights = [(t, idf(self.n_docs, dfs[t])) for t in qterms]
        if route == "distributed" or (
            route == "auto" and sum(dfs[t] for t in qterms) > self.route_budget
        ):
            avgdl = self.avgdl

            def score(tables, dead):
                return kernel.partial_sums([(w, tables[t]) for t, w in weights], dead, avgdl)

            return self._distributed(qterms, kernel.BLOCK_COLS, score, k)
        tables = self._term_tables(qterms)
        terms = [(w, tables[t]) for t, w in weights]
        return kernel.topk(terms, self.deleted, self.avgdl, k)

    def fetch(self, hits: list[tuple[int, float]]) -> DataFrame:
        """Resolve winners to their source rows (B8 doc-store get)."""
        empty_schema = (
            "doc_id long, score double, conv_id string, turn_idx int, "
            "role string, text string"
        )
        if not hits:
            return self.spark.createDataFrame([], empty_schema)
        ids = np.array([h[0] for h in hits], dtype=np.int64)
        live = [h for h, a in zip(hits, kernel.alive_mask(self.deleted, ids)) if a]
        if not live:
            return self.spark.createDataFrame([], empty_schema)
        hit_df = self.spark.createDataFrame(live, "doc_id long, score double")
        return self._docs.join(F.broadcast(hit_df), "doc_id").select(
            "doc_id", "score", "conv_id", "turn_idx", "role", "text"
        )
