"""Incremental index maintenance — the CDC half of the reference.

The reference applies binlog changes row-at-a-time as ES upserts/deletes by
``_id`` (``load/impl/EsLoadServiceImpl.java:51-110``); redelivery is
tolerated because upserts are idempotent. Our batch analog follows the
Lucene segment model:

- an increment batch (transcripts columns + ``op`` I/U/D) is first reduced
  to its *effective* rows — unchanged upserts (null-safe compare over text,
  role, tool, ts) and deletes of absent keys drop out, which is exactly what
  makes re-applying a batch a no-op (idempotence test F4);
- updates/deletes tombstone the old ``doc_id`` (deletes table = Lucene
  live-docs); inserts/updates append fresh doc ids ABOVE the current max —
  ids are never reused, so all existing postings stay valid;
- new rows are tokenized into a delta segment whose postings land in a
  segment-owned dir: delta doc ids sort strictly after base ids, so every
  term's stream stays doc-ordered;
- term stats are kept *exactly* by additive deltas: each apply writes its
  batch's signed per-term (added − removed) df and cf, with removed counts
  recomputed from the tombstoned rows' stored text, as one more
  segment-owned table, and readers sum the base terms table and the
  committed deltas (``builder.read_terms``) — Lucene's per-segment term
  stats, but with deletes counted, so BM25 over the live corpus stays
  rank-identical to a fresh build; the corpus stats (``n_docs``,
  ``avgdl``, ``total_tokens``) live in ``meta.json``;
- ``compact()`` rebuilds the index from the live docs (force-merge analog),
  purging tombstones and re-densifying doc ids.

There is one apply, and it runs in-process over key-ordered slices of
the batch. A batch that fits ``DRIVER_APPLY_BYTES`` is one slice, brought
to the driver by one Arrow collect (two Spark jobs per batch: the shape
aggregate and the collect). A bigger batch is range-sorted once into a
staging dir under the index and streamed back with pyarrow in slices of
at most that many bytes (three Spark jobs, whatever its size), in the
bounded bulk chunks the reference loads changes in
(``load/impl/CkLoadServiceImpl.java:58-63,171-191``). Each apply records
its route, its slice count and the reason it declined the one collect.

Crash atomicity (the write-ahead shape the reference gets from ES bulk
acks + Kafka offset commits, ``extract/KafkaMsgListener.java:312-330``):
every artifact of segment N — postings_segs/segN, docs_segs/segN,
deletes_segs/segN, terms_segs/segN — is written with deterministic names
into a dir the apply wipes first (each slice adds its own part files), and
readers resolve ONLY through ``meta.json`` (``segments`` and the corpus
stats). The single atomic ``os.replace`` of meta.json is the
commit point: a crash anywhere before it leaves the index exactly at the
previous commit, and a retry of the same (or a different) batch rewrites
the orphaned segment artifacts (no duplicate postings, no double counting
— tested by killing the apply mid-slices and before commit); ``vacuum``
removes what a crash left, the staging dir included.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.builder import (
    DOCS_SCHEMA,
    IndexPaths,
    _range_sort,
    _source_files,
    _spimi_rows_for_texts,
    append_metrics_driver,
    build_index,
    commit_meta,
    deletes_sources,
    docs_sources,
    read_index_meta,
    run_tasks,
    union_parquet,
    write_postings_driver,
)
from ..index.bucketing import bucket_of
from ..query.wand import _load_deletes


# driver memory budget, in bytes, of one apply slice: a batch whose text
# fits, and whose collected columns together fit, is one slice after one
# collect (the tokenizer's transient memory is ~21x the text bytes, so
# ~170 MB at the budget); a bigger batch is staged and applied in slices of
# at most this size, and a slice whose matched stored text passes it is
# halved. Every decline is recorded.
DRIVER_APPLY_BYTES = 8 << 20
# per batch row, the collect's fixed-width Arrow bytes beyond the string
# values: five 4-byte string offsets, int32 turn_idx, int64 ts
_ARROW_ROW_BYTES = 5 * 4 + 4 + 8


def all_docs(spark: SparkSession, index_dir: str, meta: "dict | None" = None) -> DataFrame:
    """Docs store including tombstoned rows (base + committed segments)."""
    meta = meta or read_index_meta(index_dir)
    return union_parquet(spark, docs_sources(index_dir, meta), DOCS_SCHEMA)


def deleted_ids(spark: SparkSession, index_dir: str, meta: "dict | None" = None) -> DataFrame:
    """Tombstoned doc ids (base + committed segments)."""
    meta = meta or read_index_meta(index_dir)
    return union_parquet(spark, deletes_sources(index_dir, meta), "doc_id long")


def live_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """Docs store minus tombstones (the queryable corpus)."""
    meta = read_index_meta(index_dir)
    dead = deleted_ids(spark, index_dir, meta)
    return all_docs(spark, index_dir, meta).join(dead, "doc_id", "left_anti")


def read_segment_changes(
    spark: SparkSession,
    index_dir: str,
    after_segment: int = 0,
    until_segment: "int | None" = None,
) -> "tuple[DataFrame, DataFrame]":
    """Snapshot-range incremental read (the Iceberg ``incremental read
    between snapshots`` analog, SURVEY §3.2): (added docs, tombstoned ids)
    committed strictly after ``after_segment`` up to ``until_segment``.

    Parity argument (SCALE.md §Iceberg): ``meta.json['segments']`` is the
    snapshot log and the atomic meta.json replace is the metadata-pointer
    swap — exactly Iceberg's commit protocol; every segment's data files
    are immutable once committed, so a range read is a plain union of the
    in-range segment dirs with no visibility races.
    """
    meta = read_index_meta(index_dir)
    paths = IndexPaths(index_dir)
    segs = [
        s for s in meta.get("segments", [])
        if s > after_segment and (until_segment is None or s <= until_segment)
    ]
    doc_dirs = [paths.docs_seg(s) for s in segs]
    del_dirs = [paths.deletes_seg(s) for s in segs]
    doc_dirs = [d for d in doc_dirs if os.path.isdir(d)]
    del_dirs = [d for d in del_dirs if os.path.isdir(d)]
    return (
        union_parquet(spark, doc_dirs, DOCS_SCHEMA),
        union_parquet(spark, del_dirs, "doc_id long"),
    )


def _write_seg_table(out_dir: str, tbl, part: int) -> None:
    """Write one slice's rows of a segment-owned table (docs, deletes or
    term deltas) as ``part-<part>.parquet``; an empty table writes nothing.
    The apply wipes the dir before its first slice, so no part file of a
    crashed earlier attempt survives."""
    import pyarrow.parquet as pq

    if tbl.num_rows:
        os.makedirs(out_dir, exist_ok=True)
        pq.write_table(
            tbl, os.path.join(out_dir, f"part-{part:05d}.parquet"),
            compression="zstd",
        )


def _noop(route: str, decline: "str | None" = None,
          store_rows_scanned: "int | None" = None, slices: int = 0) -> dict:
    """Summary of an apply that commits nothing (empty or no-op batch)."""
    return {
        "tombstones": 0, "new_docs": 0, "segment": None, "wall_s": 0.0,
        "route": route, "decline": decline,
        "store_rows_scanned": store_rows_scanned, "slices": slices,
    }


def _commit_segment(
    index_dir: str, paths: IndexPaths, meta: dict, segment: int, *,
    n_docs_live: int, avgdl: float, total_tokens: int, next_id: int, n_new: int,
    n_tombstones: int, t0: float, laps: "dict[str, float]", route: str,
    decline: "str | None", store_rows_scanned: int, slices: int,
) -> dict:
    """Commit point of an apply: ONE atomic meta.json replace, then the
    run's ``increment`` metrics rows — counts, wall, the route
    (``route=<route>``), the decline reason (``decline=<reason>``), the
    store rows probed, the slice count and every stage lap
    (``<lap>_s``). Returns the apply summary."""
    meta["segments"] = meta.get("segments", []) + [segment]
    meta["last_segment"] = segment
    meta["n_docs"] = n_docs_live
    meta["avgdl"] = avgdl
    meta["total_tokens"] = total_tokens
    meta["next_doc_id"] = int(next_id) + int(n_new)
    commit_meta(index_dir, meta)

    wall = time.time() - t0
    laps = {lap: round(v, 3) for lap, v in laps.items()}
    rows = [
        ("increment", "segment", float(segment)),
        ("increment", "tombstones", float(n_tombstones)),
        ("increment", "new_docs", float(n_new)),
        ("increment", "wall_s", wall),
        ("increment", f"route={route}", 1.0),
        ("increment", "store_rows_scanned", float(store_rows_scanned)),
        ("increment", "slices", float(slices)),
        *(("increment", f"{lap}_s", v) for lap, v in laps.items()),
    ]
    if decline is not None:
        rows.append(("increment", f"decline={decline}", 1.0))
    append_metrics_driver(paths.metrics, rows)
    return {
        **_noop(route, decline, store_rows_scanned, slices),
        "tombstones": n_tombstones,
        "new_docs": n_new,
        "segment": segment,
        "wall_s": wall,
        "stage_walls": laps,
    }


# the batch as the apply holds it, and the stored columns it reads for a
# matched key; ts is normalised on both sides to the one timestamp flavor
# every writer lineage of the docs store casts to
_TS = pa.timestamp("us", tz="UTC")
_BATCH_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", _TS),
    ("op", pa.string()),
])
_OLD_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("role", pa.string()),
    ("tool", pa.string()), ("ts", _TS), ("dl", pa.int64()),
])
_KEY_SCHEMA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32())])
_KEY_ORDER = [("conv_id", "ascending"), ("turn_idx", "ascending")]


def _row_bytes(batch: pa.Table) -> np.ndarray:
    """Each batch row's collected bytes, priced as the shape aggregate
    prices a batch: its string values plus ``_ARROW_ROW_BYTES``."""
    out = np.full(batch.num_rows, _ARROW_ROW_BYTES, dtype=np.int64)
    for c in ("conv_id", "role", "text", "tool", "op"):
        out += pc.fill_null(pc.binary_length(batch[c]), 0).to_numpy()
    return out


def _staged_slices(src: str):
    """The staged batch in key order, cut into slices of at most
    DRIVER_APPLY_BYTES and never less than one row. The range-sorted files
    are read one row group at a time, so the driver holds one row group
    plus one slice."""
    import pyarrow.parquet as pq

    rest = _BATCH_SCHEMA.empty_table()
    for f in _source_files(src):
        pf = pq.ParquetFile(f)
        for g in range(pf.metadata.num_row_groups):
            rg = pf.read_row_group(g, columns=_BATCH_SCHEMA.names)
            rest = pa.concat_tables(
                [rest, rg.select(_BATCH_SCHEMA.names).cast(_BATCH_SCHEMA)]
            )
            ends = np.cumsum(_row_bytes(rest))
            lo = 0
            while True:
                room = (ends[lo - 1] if lo else 0) + DRIVER_APPLY_BYTES
                hi = max(lo + 1, int(np.searchsorted(ends, room, side="right")))
                if hi >= len(ends):  # the rest fits: wait for more rows
                    break
                yield rest.slice(lo, hi - lo).combine_chunks()
                lo = hi
            rest = rest.slice(lo)
    if rest.num_rows:
        yield rest.combine_chunks()


def _probe_store(
    files: "list[str]", dead: np.ndarray, batch: pa.Table,
    budget: "int | None",
) -> "tuple[pa.Table | None, int]":
    """Keys-first probe of the docs store ``files`` for the batch's keys.
    Per file: row groups whose ``conv_id`` stats miss the batch's key range
    are skipped, only ``conv_id, turn_idx`` are read and hash-joined to the
    batch keys, and the stored columns are read only for the row groups
    that hold a match, keeping only the matched rows; tombstoned ids
    (``dead``) drop out. Returns (the live matched rows — ``_OLD_SCHEMA``
    plus the batch row index ``bi`` — and the store rows whose keys were
    read), or (None, rows read) once the matched text passes ``budget``
    (None: no limit)."""
    import pyarrow.parquet as pq

    mm = pc.min_max(batch["conv_id"])
    key_lo, key_hi = mm["min"].as_py(), mm["max"].as_py()
    keys = batch.select(_KEY_SCHEMA.names).append_column(
        "bi", pa.array(np.arange(batch.num_rows, dtype=np.int64))
    )
    parts, scanned, text_bytes = [], 0, 0
    for f in files:
        pf = pq.ParquetFile(f)
        md = pf.metadata
        ci = pf.schema_arrow.get_field_index("conv_id")
        rgs = []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ci).statistics
            if (
                st is not None and st.has_min_max and key_lo is not None
                and (st.max < key_lo or st.min > key_hi)
            ):
                continue
            rgs.append(g)
        if not rgs:
            continue
        fk = pf.read_row_groups(rgs, columns=_KEY_SCHEMA.names)
        scanned += fk.num_rows
        hit = (
            fk.select(_KEY_SCHEMA.names).cast(_KEY_SCHEMA)
            .append_column("pos", pa.array(np.arange(fk.num_rows, dtype=np.int64)))
            .join(keys, _KEY_SCHEMA.names, join_type="inner")
        )
        if not hit.num_rows:
            continue
        sizes = np.array([md.row_group(g).num_rows for g in rgs], dtype=np.int64)
        starts = np.cumsum(sizes) - sizes
        pos, bi = hit["pos"].to_numpy(), hit["bi"].to_numpy()
        grp = np.searchsorted(starts, pos, side="right") - 1
        for g in np.unique(grp):
            sel = grp == g
            old = (
                pf.read_row_group(rgs[g], columns=_OLD_SCHEMA.names)
                .take(pos[sel] - starts[g])
                .select(_OLD_SCHEMA.names)
                .cast(_OLD_SCHEMA, safe=False)
                .append_column("bi", pa.array(bi[sel]))
            )
            if dead.size:
                old = old.filter(pa.array(~np.isin(old["doc_id"].to_numpy(), dead)))
            text_bytes += pc.sum(pc.binary_length(old["text"])).as_py() or 0
            if budget is not None and text_bytes > budget:
                return None, scanned
            parts.append(old)
    if not parts:
        return _OLD_SCHEMA.append(pa.field("bi", pa.int64())).empty_table(), scanned
    return pa.concat_tables(parts), scanned


def _null_safe_eq(a, b) -> np.ndarray:
    """Spark's ``eqNullSafe`` over two aligned Arrow columns."""
    eq = pc.or_(
        pc.fill_null(pc.equal(a, b), False),
        pc.and_(pc.is_null(a), pc.is_null(b)),
    )
    return eq.to_numpy(zero_copy_only=False)


def apply_increments(
    spark: SparkSession, index_dir: str, increments: DataFrame
) -> dict:
    """Apply one I/U/D batch (SURVEY.md §3.2 analog). Returns the summary:
    ``tombstones``, ``new_docs``, ``segment``, ``wall_s``, ``stage_walls``,
    ``route`` (``"driver"`` or ``"sliced"``), ``decline`` (None, or why
    the batch was not applied as one collected slice), ``slices`` and
    ``store_rows_scanned`` (docs-store rows whose keys the probe read).

    Batch contract (mirrors one-binlog-row-per-message): at most one op per
    (conv_id, turn_idx) — enforced, because apply order within a batch would
    otherwise be undefined.

    One apply, run in-process over key-ordered slices of the batch:

    - ``driver``: a batch whose text, and whose collected columns
      together, are at most DRIVER_APPLY_BYTES is one slice after one
      ``toArrow`` collect — two Spark jobs, the shape aggregate and the
      collect.
    - ``sliced``: a bigger batch (``decline`` says ``batch text …`` or
      ``batch total …``) is written once, sorted into one file, into the
      staging dir ``_apply_src`` — three Spark jobs — and streamed back
      with pyarrow in slices of at most DRIVER_APPLY_BYTES; a slice whose
      matched stored text passes the budget (``matched store text over
      budget``) is halved and probed again, down to one row, which is
      applied whatever its size.

    Per slice, the docs store is probed keys-first with pyarrow
    (``_probe_store``); the new rows are tokenized ONCE
    (``_spimi_rows_for_texts``), giving the added (df, cf), the docs
    segment's ``dl`` and the delta postings' chunk; the removed side is the
    same kernel over the stored texts plus the stored ``dl``. Fresh doc ids
    run on from ``next_doc_id`` in key order across slices. Each slice
    writes its own part files of the segment's postings
    (``write_postings_driver``, scored with the avgdl after that slice),
    docs and deletes; the summed term deltas are written once, as the
    segment's ``terms_segs`` table, and ``_commit_segment`` commits the
    segment and the corpus stats with one meta.json swap and
    records the route, the decline reason, the slice count and the stage
    laps (summed over slices) as ``increment`` metrics rows.
    """
    import shutil
    from collections import deque

    import pyarrow.dataset as pds

    paths = IndexPaths(index_dir)
    meta = read_index_meta(index_dir)
    t0 = time.time()
    laps: dict[str, float] = {}
    _last = [t0]

    def _lap(name: str) -> None:
        now = time.time()
        laps[name] = laps.get(name, 0.0) + now - _last[0]
        _last[0] = now

    # coalesce(1): the one-partition child already satisfies the distinct
    # and global aggregates, so the shape is ONE job with no exchange (under
    # AQE each exchange stage would be a job of its own)
    shape = increments.coalesce(1).agg(
        F.count("*").alias("n"),
        F.countDistinct("conv_id", "turn_idx").alias("k"),
        F.coalesce(F.sum(F.octet_length("text")), F.lit(0)).alias("text_bytes"),
        F.coalesce(
            F.sum(F.octet_length(F.concat_ws("", "conv_id", "role", "tool", "op"))),
            F.lit(0),
        ).alias("other_bytes"),
    ).first()
    n_batch, n_keys = int(shape.n), int(shape.k)
    if n_batch != n_keys:
        raise ValueError(
            f"{n_batch - n_keys} keys appear more than once in the batch"
        )
    if n_batch == 0:
        return _noop("driver")
    # text alone, then every collected column: a mass delete with NULL text
    # has no text bytes but is still collected whole
    batch_bytes = shape.text_bytes + shape.other_bytes + n_batch * _ARROW_ROW_BYTES
    decline = None
    if shape.text_bytes > DRIVER_APPLY_BYTES:
        decline = (
            f"batch text {shape.text_bytes / 2**20:.1f} MB over "
            f"{DRIVER_APPLY_BYTES / 2**20:g} MB"
        )
    elif batch_bytes > DRIVER_APPLY_BYTES:
        decline = (
            f"batch total {batch_bytes / 2**20:.1f} MB over "
            f"{DRIVER_APPLY_BYTES / 2**20:g} MB"
        )
    batch = increments.select(*_BATCH_SCHEMA.names)
    if decline is None:
        slices = [
            batch.toArrow().cast(_BATCH_SCHEMA).sort_by(_KEY_ORDER).combine_chunks()
        ]
    else:
        # ONE range partition: the slices are applied one after another on
        # the driver, so more sorted files buy nothing, while a range
        # partitioner over more partitions samples its input first — one
        # more Spark job, two when the input's partitions are skewed
        _range_sort(batch, paths.apply_src, 1)
        _lap("stage_batch")
        slices = _staged_slices(paths.apply_src)

    segment = int(meta.get("last_segment", 0)) + 1
    # fresh doc ids above the high-water mark, in key order
    next_id = int(meta["next_doc_id"])
    for d in (
        paths.postings_seg(segment), paths.docs_seg(segment),
        paths.deletes_seg(segment), paths.terms_seg(segment),
    ):
        shutil.rmtree(d, ignore_errors=True)
    files = [f for d in docs_sources(index_dir, meta) for f in pds.dataset(d).files]
    dead = _load_deletes(deletes_sources(index_dir, meta))
    store_positions = bool(meta.get("store_positions", False))
    deltas: "list[pa.Table]" = []
    n_new = n_tombstones = d_tokens = scanned = n_slices = 0
    todo: deque = deque()
    for piece in slices:
        todo.append(piece)
        while todo:
            part = todo.popleft()
            old, n_read = _probe_store(
                files, dead, part, DRIVER_APPLY_BYTES if part.num_rows > 1 else None
            )
            scanned += n_read
            if old is None:
                # halve; the first half goes first, so ids stay in key order
                decline = decline or "matched store text over budget"
                half = part.num_rows // 2
                todo.extendleft([part.slice(half), part.slice(0, half)])
                continue
            n_slices += 1

            # each slice row's stored row (null where the key is new), then
            # the effective rows: a delete of a present key, an upsert that
            # changes text, role, tool or ts (null-safe)
            at = np.full(part.num_rows, -1, dtype=np.int64)
            at[old["bi"].to_numpy()] = np.arange(old.num_rows)
            cur = old.take(pa.array(at, mask=at < 0))
            same = at >= 0
            for c in ("text", "role", "tool", "ts"):
                same &= _null_safe_eq(part[c], cur[c])
            op = part["op"]
            is_del = pc.fill_null(pc.equal(op, "D"), False).to_numpy(
                zero_copy_only=False
            )
            is_up = ~same & pc.fill_null(pc.not_equal(op, "D"), False).to_numpy(
                zero_copy_only=False
            )
            gone = cur.filter(pa.array((at >= 0) & (is_del | is_up)))
            new = part.filter(pa.array(is_up))
            _lap("join_and_tombstones")
            if gone.num_rows == 0 and new.num_rows == 0:
                continue

            doc_ids = int(next_id) + n_new + np.arange(new.num_rows, dtype=np.int64)
            _lap("new_doc_ids")

            # --- term and stat deltas: the chunk kernel's per-term
            # (n_docs, cf) over the new rows (the ONE tokenize pass, whose
            # rows are also the delta postings) minus the same over the
            # stored texts ----------------------------------------------
            rows, _, dls = _spimi_rows_for_texts(
                0, doc_ids, new["text"], store_positions
            )
            removed, _, _ = _spimi_rows_for_texts(
                0, np.arange(gone.num_rows, dtype=np.int64), gone["text"]
            )
            deltas.append(pa.table({
                "term": pa.array(np.concatenate([rows["term"], removed["term"]]), pa.string()),
                "df": pa.array(np.concatenate([rows["n_docs"], -removed["n_docs"]]), pa.int64()),
                "cf": pa.array(np.concatenate([rows["cf"], -removed["cf"]]), pa.int64()),
            }))
            n_new += new.num_rows
            n_tombstones += gone.num_rows
            d_tokens += int(dls.sum()) - int(pc.sum(gone["dl"]).as_py() or 0)
            n_live = int(meta["n_docs"]) - n_tombstones + n_new
            total_tokens = int(meta["total_tokens"]) + d_tokens
            avgdl = total_tokens / n_live if n_live else 0.0
            _lap("term_deltas_and_stats")

            write_postings_driver(
                rows, avgdl, int(meta["n_buckets"]), paths.postings_seg(segment),
                store_positions, part=n_slices,
            )
            _lap("delta_postings")

            docs = (
                new.select(["conv_id", "turn_idx", "role", "text", "tool", "ts"])
                .add_column(0, "doc_id", pa.array(doc_ids))
                .append_column("dl", pa.array(dls.astype(np.int32)))
            )
            _write_seg_table(paths.docs_seg(segment), docs, n_slices)
            _write_seg_table(
                paths.deletes_seg(segment),
                pa.table({"doc_id": pa.array(np.sort(gone["doc_id"].to_numpy()))}),
                n_slices,
            )
            _lap("segment_writes")
    shutil.rmtree(paths.apply_src, ignore_errors=True)
    route = "driver" if decline is None else "sliced"
    if n_tombstones == 0 and n_new == 0:
        return _noop(route, decline, scanned, n_slices)

    # the segment's term deltas: (added − removed) df and cf per term,
    # signed; a term whose both sums are 0 is left out
    delta = (
        pa.concat_tables(deltas).group_by("term")
        .aggregate([("df", "sum"), ("cf", "sum")]).sort_by("term")
    )
    delta = delta.filter(
        pc.or_(pc.not_equal(delta["df_sum"], 0), pc.not_equal(delta["cf_sum"], 0))
    )
    buckets = [bucket_of(t, int(meta["n_buckets"])) for t in delta["term"].to_pylist()]
    _write_seg_table(paths.terms_seg(segment), pa.table({
        "term": delta["term"], "df": delta["df_sum"], "cf": delta["cf_sum"],
        "bucket": pa.array(buckets, pa.int32()),
    }), 0)
    _lap("term_deltas_and_stats")

    return _commit_segment(
        index_dir, paths, meta, segment, n_docs_live=n_live,
        avgdl=avgdl, total_tokens=total_tokens, next_id=next_id, n_new=n_new,
        n_tombstones=n_tombstones, t0=t0, laps=laps, route=route,
        decline=decline, store_rows_scanned=scanned, slices=n_slices,
    )


def vacuum(index_dir: str) -> "list[str]":
    """Remove artifacts no commit references: base-postings layouts a
    force-merge superseded, and the orphan segment dirs and batch staging
    dir of crashed applies (the Iceberg
    `expire_snapshots`/`remove_orphan_files` analog). Safe at any time —
    readers resolve only through meta.json, and the live segment
    artifacts are exactly the committed segments'. Returns removed paths."""
    import shutil

    meta = read_index_meta(index_dir)
    paths = IndexPaths(index_dir)
    committed = set(meta.get("segments", []))
    removed: list[str] = []

    for name in sorted(os.listdir(index_dir)):
        full = os.path.join(index_dir, name)
        if name == "postings" or name.startswith("postings_fm"):
            # base-postings layouts superseded by a force-merge commit
            # (meta['postings_dir'] names the ONE live base layout)
            if name != meta.get("postings_dir", "postings"):
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
        elif full == paths.apply_src:
            shutil.rmtree(full, ignore_errors=True)
            removed.append(full)
        elif name in ("postings_segs", "docs_segs", "deletes_segs", "terms_segs"):
            for seg in sorted(os.listdir(full)):
                n = int(seg.replace("seg", ""))
                if n not in committed:
                    p = os.path.join(full, seg)
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(p)
    return removed


def compaction_stats(index_dir: str) -> dict:
    """Merge-policy inputs: total docs, tombstoned docs, deleted ratio,
    committed segment count — all from metadata-scale reads (parquet footer
    row counts; no Spark job)."""
    import pyarrow.dataset as pds

    def footer_rows(dirs: "list[str]") -> int:
        return sum(pds.dataset(d, format="parquet").count_rows() for d in dirs)

    meta = read_index_meta(index_dir)
    n_dead = footer_rows(deletes_sources(index_dir, meta))
    n_total = footer_rows(docs_sources(index_dir, meta))
    return {
        "n_docs_total": n_total,
        "n_deleted": n_dead,
        "deleted_ratio": (n_dead / n_total) if n_total else 0.0,
        "n_segments": len(meta.get("segments", [])),
    }


def maybe_compact(
    spark: SparkSession,
    index_dir: str,
    out_dir: str,
    max_deleted_ratio: float = 0.3,
    max_segments: int = 16,
) -> "dict | None":
    """Merge-policy trigger (the ES/Lucene TieredMergePolicy analog,
    expressed as the reference's operational knob): compact when tombstones
    exceed ``max_deleted_ratio`` of the stored docs (dead postings slow
    every query and waste RAM in the serving tier) or when the delta
    segment count passes ``max_segments`` (every reader unions one relation
    per segment). Returns the compaction summary, or None when the index is
    healthy — callers loop this after increments exactly like ES's
    background merge scheduler."""
    st = compaction_stats(index_dir)
    if (
        st["deleted_ratio"] <= max_deleted_ratio
        and st["n_segments"] <= max_segments
    ):
        return None
    out = compact(spark, index_dir, out_dir)
    out["trigger"] = st
    return out


_CORPUS_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _key_range(lo, hi):
    """Dataset filter: a (conv_id, turn_idx) key in ``[lo, hi)``; a None
    bound is open. Row groups whose ``conv_id`` stats miss it are not read."""
    conv, turn = pc.field("conv_id"), pc.field("turn_idx")
    expr = pc.scalar(True)
    if lo is not None:
        expr &= (conv > lo[0]) | ((conv == lo[0]) & (turn >= lo[1]))
    if hi is not None:
        expr &= (conv < hi[0]) | ((conv == hi[0]) & (turn < hi[1]))
    return expr


def _splice_live_sorted(
    spark: SparkSession, index_dir: str, meta: dict, tmp: str
) -> None:
    """Write the live corpus in key order as ``tmp/part-<span>.parquet``
    with ZERO shuffle: the base docs store is (conv_id, turn_idx)-sorted
    on disk (doc ids were assigned in key order) and deletes are an id
    set, so compaction is an LSM merge of sorted runs, not a re-sort.

    One ``run_tasks`` job, one task per non-empty base docs file, the
    files taken in first-row-key order (one task with no base file when
    the base has no rows). Each task reads its file, drops the tombstoned
    ids (a broadcast), adds the delta rows of its key interval ``[first
    key of its file, first key of the next)`` — read straight from the
    committed ``docs_segs`` files, row groups pruned by ``conv_id`` stats
    and cast to the base schema; the first span also takes every key
    before the base, the last every key after it — sorts by key and
    writes its span. Span 0 is written even with no rows, so the copy
    keeps a schema. The driver reads footers and each base file's first
    key; it never holds delta text.

    The copy is in key order when the base files hold disjoint key
    ranges; ``build_index`` checks that from the footers and the span
    keys and re-sorts a copy that is not (``resort_reason``). Raises
    ``RuntimeError`` when the rows written are not the live rows the
    footers and the tombstones count."""
    import glob as _glob

    import pyarrow.parquet as pq

    paths = IndexPaths(index_dir)
    dirs = docs_sources(index_dir, meta)
    base_files = _source_files(paths.docs) if paths.docs in dirs else []
    seg_files = [f for d in dirs if d != paths.docs for f in _source_files(d)]
    heads, n_base = [], 0
    for f in base_files:
        pf = pq.ParquetFile(f)
        if pf.metadata.num_rows:
            k = pf.read_row_group(0, columns=_KEY_SCHEMA.names)
            heads.append(((k["conv_id"][0].as_py(), k["turn_idx"][0].as_py()), f))
            n_base += pf.metadata.num_rows
    heads.sort()
    work = [
        (span, f, key if span else None,
         heads[span + 1][0] if span + 1 < len(heads) else None)
        for span, (key, f) in enumerate(heads)
    ] or [(0, None, None, None)]
    # the base store's column types (tz-aware vs naive ts differ by writer
    # lineage); a build over no rows writes no docs file to read them from
    like = pq.read_schema(base_files[0]) if base_files else _BATCH_SCHEMA
    schema = pa.schema([like.field(c) for c in _CORPUS_COLS])
    dead = _load_deletes(deletes_sources(index_dir, meta))
    expected = (
        n_base + sum(pq.ParquetFile(f).metadata.num_rows for f in seg_files)
        - int(dead.size)
    )
    os.makedirs(tmp, exist_ok=True)
    dead_bc = spark.sparkContext.broadcast(dead)

    def kern(work_it):
        import pyarrow.dataset as pds

        live = ~pc.field("doc_id").isin(pa.array(dead_bc.value))
        for span, path, lo, hi in work_it:
            parts = [
                pds.dataset(path).to_table(columns=_CORPUS_COLS, filter=live)
            ] if path else []
            if seg_files:
                parts.append(pds.dataset(seg_files).to_table(
                    columns=_CORPUS_COLS, filter=live & _key_range(lo, hi)
                ))
            tbl = (
                pa.concat_tables([p.cast(schema) for p in parts]).sort_by(_KEY_ORDER)
                if parts else schema.empty_table()
            )
            if tbl.num_rows or span == 0:
                out_f = os.path.join(tmp, f"part-{span:05d}.parquet")
                tmp_f = out_f + f".tmp-{os.getpid()}"
                pq.write_table(
                    tbl, tmp_f, compression="snappy", row_group_size=2048
                )
                os.replace(tmp_f, out_f)
            yield tbl.num_rows

    sc = spark.sparkContext
    sc.setJobDescription("compact: live-splice temp corpus (zero-shuffle)")
    try:
        written = sum(run_tasks(spark, work, kern))
    finally:
        sc.setJobDescription(None)
        dead_bc.unpersist()
    # a task killed mid-write leaves a .tmp-<pid> file its retry does not
    # remove (the retry replaces under its own pid) — sweep them so the
    # build's re-sort, which reads every file of the copy, sees only spans
    for stale in _glob.glob(os.path.join(tmp, "*.tmp-*")):
        try:
            os.remove(stale)
        except OSError:
            pass
    if written != expected:
        raise RuntimeError(
            f"compact wrote {written} live rows; the footers and "
            f"tombstones count {expected}"
        )


def compact(spark: SparkSession, index_dir: str, out_dir: str) -> dict:
    """Force-merge analog: rebuild the index from the live corpus. Purges
    tombstones, re-densifies doc ids, restores exact block-max bounds.

    ``_splice_live_sorted`` writes the live corpus as ``<out_dir>/live_src``
    and ``build_index`` builds from that copy with the index's own
    parameters: as-is when its footers and span keys show key order, else
    after its one re-sort (compact ≡ fresh build, rank-identity pytest).
    Returns ``build_index``'s summary, with ``live_spliced`` (the copy was
    used as-is: ``resort_reason`` is None) and the whole call's
    ``wall_s``."""
    import shutil

    meta = read_index_meta(index_dir)
    t0 = time.time()
    shutil.rmtree(out_dir, ignore_errors=True)
    # no leading "_" or ".": Spark's file listing skips such names and logs
    # "All paths were ignored" for the re-sort's read of the copy
    tmp = os.path.join(out_dir, "live_src")
    _splice_live_sorted(spark, index_dir, meta, tmp)
    splice_wall = time.time() - t0
    out = build_index(
        spark,
        None,
        out_dir,
        # the copy mirrors the BASE store's file geometry (one span per base
        # file), so the fresh build's partition count keeps span planning at
        # fresh-build granularity; a count derived from the live doc count
        # would push `len(spans) < n_partitions` at large corpora and
        # trigger the row-group-finest re-plan (measured at sf1: 9,378
        # micro-spans, compact 509 s vs ~100 s fresh-build-shaped)
        n_partitions=int(meta["n_partitions"]),
        n_buckets=meta["n_buckets"],
        n_salts=meta["n_salts"],
        heavy_df_threshold=meta["heavy_df_threshold"],
        resume=False,
        source_path=tmp,
        span_mb=4,
        store_positions=bool(meta.get("store_positions", False)),
    )
    shutil.rmtree(tmp, ignore_errors=True)
    append_metrics_driver(
        os.path.join(out_dir, "metrics"), [("live_splice", "wall_s", splice_wall)]
    )
    out["wall_s"] = time.time() - t0
    out["live_spliced"] = out["resort_reason"] is None
    return out
