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
- terms/stats tables are maintained *exactly* (old ± added ∓ removed, with
  removed term counts recomputed from the tombstoned rows' stored text), so
  BM25 over the live corpus stays rank-identical to a fresh build — unlike
  Lucene, which lets df drift until merge;
- ``compact()`` rebuilds the index from the live docs (force-merge analog),
  purging tombstones and re-densifying doc ids.

A batch that fits ``DRIVER_APPLY_BYTES`` is applied in-process after
one Arrow collect (two Spark jobs per batch: the shape aggregate and the
collect); bigger batches take the distributed path. Each apply records
its route and the reason it declined the in-process one.

Crash atomicity (the write-ahead shape the reference gets from ES bulk
acks + Kafka offset commits, ``extract/KafkaMsgListener.java:312-330``):
every artifact of segment N — postings_segs/segN, docs_segs/segN,
deletes_segs/segN, terms_vN, stats_vN — is written with deterministic names
into a dir its writer wipes first, and readers resolve ONLY through
``meta.json`` (``segments`` + ``terms_version``). The single atomic
``os.replace`` of meta.json is the commit point: a crash anywhere before it
leaves the index exactly at the previous commit, and a retry of the same
(or a different) batch rewrites the orphaned segment artifacts (no
duplicate postings, no double counting — tested by killing the apply
before commit).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.builder import (
    IndexPaths,
    _spimi_rows_for_texts,
    append_metrics_driver,
    build_chunks,
    build_index,
    build_postings_direct,
    build_term_stats,
    deletes_sources,
    docs_sources,
    read_index_meta,
    write_postings_driver,
    write_stats_driver,
)
from ..query.algebra import SPARK_TOKEN_RE


# driver memory budget, in bytes: a batch whose text fits, and whose
# collected columns together fit, is applied in-process (the tokenizer's
# transient memory is ~21x the text bytes, so ~170 MB at the budget), and
# so is compact's delta pre-pass when the delta docs and deletes footers
# fit it; past it, the distributed apply and the re-sort compact run, and
# the decline reason is recorded
DRIVER_APPLY_BYTES = 8 << 20
# per batch row, the collect's fixed-width Arrow bytes beyond the string
# values: five 4-byte string offsets, int32 turn_idx, int64 ts
_ARROW_ROW_BYTES = 5 * 4 + 4 + 8

# the distributed apply ranks fresh doc ids driver-side (one 2-column
# toPandas + a broadcast id map) up to this many new rows; larger backfills
# use the distributed two-level prefix sum
DRIVER_RANK_ROWS = int(os.environ.get("SPARK_GRAFT_DRIVER_RANK_ROWS", 1_000_000))


def _write_meta(index_dir: str, meta: dict) -> None:
    tmp = os.path.join(index_dir, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, os.path.join(index_dir, "meta.json"))


def all_docs(spark: SparkSession, index_dir: str, meta: "dict | None" = None) -> DataFrame:
    """Docs store including tombstoned rows (base + committed segments)."""
    from ..index.builder import DOCS_SCHEMA

    meta = meta or read_index_meta(index_dir)
    dirs = docs_sources(index_dir, meta)
    if not dirs:
        return spark.createDataFrame([], DOCS_SCHEMA)
    from functools import reduce

    parts = [spark.read.parquet(d) for d in dirs]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def deleted_ids(spark: SparkSession, index_dir: str, meta: "dict | None" = None) -> "DataFrame | None":
    meta = meta or read_index_meta(index_dir)
    dirs = deletes_sources(index_dir, meta)
    if not dirs:
        return None
    from functools import reduce

    parts = [spark.read.parquet(d) for d in dirs]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def live_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    """Docs store minus tombstones (the queryable corpus)."""
    meta = read_index_meta(index_dir)
    docs = all_docs(spark, index_dir, meta)
    dead = deleted_ids(spark, index_dir, meta)
    if dead is not None:
        docs = docs.join(dead, "doc_id", "left_anti")
    return docs


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
    from functools import reduce

    from ..index.builder import DOCS_SCHEMA

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
    added = (
        reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [spark.read.parquet(d) for d in doc_dirs],
        )
        if doc_dirs
        else spark.createDataFrame([], DOCS_SCHEMA)
    )
    removed = (
        reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            [spark.read.parquet(d) for d in del_dirs],
        )
        if del_dirs
        else spark.createDataFrame([], "doc_id long")
    )
    return added, removed


# old terms tables at or below this row count (parquet footer metadata)
# update driver-side in pandas — one pyarrow read + merge instead of a
# full-outer sort-merge join and a distributed rewrite whose cost grows
# with the INDEX vocabulary, not the batch
TERMS_UPDATE_DRIVER_ROWS = int(
    os.environ.get("SPARK_GRAFT_TERMS_UPDATE_DRIVER_ROWS", 5_000_000)
)


def _terms_table_rows(terms_dir: str) -> "int | None":
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    try:
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in ds.dataset(terms_dir).files
        )
    except Exception:
        return None


def _update_terms_driver(
    old_dir: str, delta: pd.DataFrame, n_buckets: int, out_dir: str
) -> bool:
    """terms_v(segment) = old terms ± delta, computed driver-side. Returns
    False when the old table exceeds the driver budget (callers fall back
    to the distributed full-outer join)."""
    import pyarrow.dataset as ds

    from ..index.builder import write_terms_driver
    from ..index.bucketing import bucket_of

    rows = _terms_table_rows(old_dir)
    if rows is None or rows > TERMS_UPDATE_DRIVER_ROWS:
        return False
    old = (
        ds.dataset(old_dir)
        .to_table(columns=["term", "df", "cf", "bucket"])
        .to_pandas()
    )
    m = old.merge(delta, on="term", how="outer")
    df = m["df"].fillna(0).astype(np.int64) + m["d_df"].fillna(0).astype(np.int64)
    cf = m["cf"].fillna(0).astype(np.int64) + m["d_cf"].fillna(0).astype(np.int64)
    keep = df > 0
    out = pd.DataFrame(
        {
            "term": m["term"][keep],
            "df": df[keep],
            "cf": cf[keep],
            "bucket": m["bucket"][keep],
        }
    )
    new_mask = out["bucket"].isna()
    if new_mask.any():
        out.loc[new_mask, "bucket"] = [
            bucket_of(t, n_buckets) for t in out.loc[new_mask, "term"]
        ]
    out["bucket"] = out["bucket"].astype(np.int32)
    out = out.sort_values("term", kind="stable").reset_index(drop=True)
    write_terms_driver(out, out_dir)
    return True


def _update_terms_spark(
    spark: SparkSession, paths: IndexPaths, meta: dict, segment: int,
    delta: DataFrame,
) -> None:
    """terms_v(segment) = old terms ± ``delta`` (term, d_df, d_cf) as a
    distributed full-outer join — for old tables over the driver budget
    and for backfill-scale batches."""
    from ..index.bucketing import bucket_expr

    old_terms = spark.read.parquet(paths.terms_v(meta.get("terms_version", 0)))
    (
        old_terms.select("term", "df", "cf")
        .join(delta, "term", "full")
        .select(
            "term",
            (
                F.coalesce(F.col("df"), F.lit(0))
                + F.coalesce(F.col("d_df"), F.lit(0))
            ).alias("df"),
            (
                F.coalesce(F.col("cf"), F.lit(0))
                + F.coalesce(F.col("d_cf"), F.lit(0))
            ).alias("cf"),
        )
        .where(F.col("df") > 0)
        .withColumn("bucket", bucket_expr("term", meta["n_buckets"]))
        .write.mode("overwrite")
        .parquet(paths.terms_v(segment))
    )


def _write_seg_table(out_dir: str, tbl) -> None:
    """Write one segment-owned table (docs or deletes) as a single pyarrow
    file. The dir is wiped first, so the part files of a crashed earlier
    attempt — Spark-written ones included — never survive; an empty table
    leaves no dir."""
    import shutil

    import pyarrow.parquet as pq

    shutil.rmtree(out_dir, ignore_errors=True)
    if tbl.num_rows:
        os.makedirs(out_dir)
        pq.write_table(
            tbl, os.path.join(out_dir, "part-00000.parquet"), compression="zstd"
        )


def _seg_prefix(segment: int) -> str:
    """Chunk-file prefix of delta segment ``segment``."""
    return f"seg{segment:03d}-"


def _write_delta_chunks(
    new_docs: "DataFrame | None", paths: IndexPaths, meta: dict,
    segment: int, n_new: int,
) -> None:
    """Distributed apply: SPIMI pass over a batch's new rows into segment
    ``segment``'s chunk namespace (``seg{N}-part-*``). A crashed apply may have left chunk
    files for this (uncommitted) segment number behind, and a retry with a
    DIFFERENT batch must not mix them in, so the namespace is wiped first.
    The chunks carry the index's (n_buckets, n_salts) layout, so the delta
    merge below is always the zero-shuffle one."""
    import glob as globmod

    prefix = _seg_prefix(segment)
    for stale in globmod.glob(os.path.join(paths.chunks, prefix + "*")):
        os.remove(stale)
    if n_new == 0:
        return
    # delta partition count sized to the batch (≥ ~4k docs per SPIMI task):
    # a 40k-doc delta through the full snapshot partition count spends its
    # wall on empty-task scheduling, not tokenizing
    n_delta_parts = max(1, min(int(meta["n_partitions"]), n_new // 4000 + 1))
    build_chunks(
        new_docs, paths.chunks, n_delta_parts, prefix=prefix,
        n_buckets=int(meta["n_buckets"]), n_salts=int(meta["n_salts"]),
        store_positions=bool(meta.get("store_positions", False)),
    ).count()


def _write_delta_postings(
    spark: SparkSession, paths: IndexPaths, meta: dict, segment: int,
    delta_terms: "DataFrame | None", avgdl: float,
) -> None:
    """Distributed apply's delta postings: the zero-shuffle merge of the
    segment's chunks into its own postings dir (overwrite = retry-safe).
    ``delta_terms`` None means the batch added no docs; the dir is
    removed."""
    import shutil

    out = paths.postings_seg(segment)
    if delta_terms is None:
        shutil.rmtree(out, ignore_errors=True)
        return
    build_postings_direct(
        spark, paths.chunks, delta_terms, avgdl, int(meta["n_buckets"]), out,
        n_salts=int(meta["n_salts"]),
        heavy_df_threshold=int(meta["heavy_df_threshold"]),
        glob=_seg_prefix(segment) + "part-*.parquet",
        store_positions=bool(meta.get("store_positions", False)),
    )


def _read_stats(paths: IndexPaths, meta: dict):
    """The committed corpus-stats row (n_docs, avgdl, total_tokens)."""
    import pyarrow.dataset as pads

    tv = meta.get("terms_version", 0)
    return pads.dataset(paths.stats_v(tv)).to_table().to_pandas().iloc[0]


def _noop(route: str, decline: "str | None" = None,
          store_rows_scanned: "int | None" = None) -> dict:
    """Summary of an apply that commits nothing (empty or no-op batch)."""
    return {
        "tombstones": 0, "new_docs": 0, "segment": None, "wall_s": 0.0,
        "route": route, "decline": decline,
        "store_rows_scanned": store_rows_scanned,
    }


def _commit_segment(
    index_dir: str, paths: IndexPaths, meta: dict, segment: int, *,
    n_docs_live: int, avgdl: float, next_id: int, n_new: int,
    n_tombstones: int, t0: float, laps: "dict[str, float]", route: str,
    decline: "str | None" = None, store_rows_scanned: "int | None" = None,
) -> dict:
    """Commit point of both apply routes: ONE atomic meta.json replace,
    then the run's ``increment`` metrics rows — counts, wall, the route
    (``route=<route>``), the decline reason (``decline=<reason>``), the
    store rows probed and every stage lap (``<lap>_s``). Returns the apply
    summary."""
    meta["segments"] = meta.get("segments", []) + [segment]
    meta["terms_version"] = segment
    meta["last_segment"] = segment
    meta["n_docs"] = n_docs_live
    meta["avgdl"] = avgdl
    meta["next_doc_id"] = int(next_id) + int(n_new)
    _write_meta(index_dir, meta)

    wall = time.time() - t0
    rows = [
        ("increment", "segment", float(segment)),
        ("increment", "tombstones", float(n_tombstones)),
        ("increment", "new_docs", float(n_new)),
        ("increment", "wall_s", wall),
        ("increment", f"route={route}", 1.0),
        *(("increment", f"{lap}_s", v) for lap, v in laps.items()),
    ]
    if decline is not None:
        rows.append(("increment", f"decline={decline}", 1.0))
    if store_rows_scanned is not None:
        rows.append(("increment", "store_rows_scanned", float(store_rows_scanned)))
    append_metrics_driver(paths.metrics, rows)
    return {
        **_noop(route, decline, store_rows_scanned),
        "tombstones": n_tombstones,
        "new_docs": n_new,
        "segment": segment,
        "wall_s": wall,
        "stage_walls": laps,
    }


# the batch as the in-process apply holds it, and the stored columns it
# reads for a matched key; ts is normalised on both sides to the one
# timestamp flavor every writer lineage of the docs store casts to
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


def _probe_store(
    index_dir: str, meta: dict, batch: pa.Table, key_lo, key_hi
) -> "tuple[pa.Table | None, int]":
    """Keys-first probe of the docs store for the batch's keys. Per file:
    row groups whose ``conv_id`` stats miss ``[key_lo, key_hi]`` are
    skipped, only ``conv_id, turn_idx`` are read and hash-joined to the
    batch keys, and the stored columns are read only for the row groups
    that hold a match, keeping only the matched rows; tombstoned ids drop
    out. Returns (the live matched rows — ``_OLD_SCHEMA`` plus the batch
    row index ``bi`` — and the store rows whose keys were read), or
    (None, rows read) once the matched text passes DRIVER_APPLY_BYTES."""
    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    from ..query.wand import _load_deletes

    dead = _load_deletes(deletes_sources(index_dir, meta))
    keys = batch.select(_KEY_SCHEMA.names).append_column(
        "bi", pa.array(np.arange(batch.num_rows, dtype=np.int64))
    )
    parts, scanned, text_bytes = [], 0, 0
    files = [f for d in docs_sources(index_dir, meta) for f in pds.dataset(d).files]
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
            if text_bytes > DRIVER_APPLY_BYTES:
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
    ``route`` (``"driver"`` or ``"distributed"``), ``decline`` (None, or
    why the in-process route was declined) and ``store_rows_scanned``
    (docs-store rows whose keys the in-process probe read; None on the
    distributed route).

    Batch contract (mirrors one-binlog-row-per-message): at most one op per
    (conv_id, turn_idx) — enforced, because apply order within a batch would
    otherwise be undefined.

    Two routes, same committed state:

    - ``driver``: a batch whose text, and whose collected columns
      together, are at most DRIVER_APPLY_BYTES runs two Spark jobs — the
      shape aggregate and one ``toArrow`` collect — and nothing else
      touches Spark. The docs store is probed keys-first with
      pyarrow (``_probe_store``); the new rows are tokenized ONCE
      (``_spimi_rows_for_texts``), giving the added (df, cf), the docs
      segment's ``dl`` and the delta postings' chunk; the removed side is
      the same kernel over the stored texts plus the stored ``dl``;
      terms, stats, postings (``write_postings_driver``: one term-sorted
      file per bucket), docs and deletes are written with pyarrow.
    - ``distributed``: bigger batches, or batches whose matched stored text
      passes the same budget (shuffle join + signed tokenize union +
      full-outer terms join, SPIMI chunks and the zero-shuffle merge), whose
      every stage scales out.

    Both commit through ``_commit_segment``, which records the route, the
    decline reason and the stage laps as ``increment`` metrics rows.
    """
    paths = IndexPaths(index_dir)
    meta = read_index_meta(index_dir)
    t0 = time.time()
    laps: dict[str, float] = {}
    _last = [t0]

    def _lap(name: str) -> None:
        now = time.time()
        laps[name] = round(now - _last[0], 3)
        _last[0] = now

    # coalesce(1): the one-partition child already satisfies the distinct
    # and global aggregates, so the shape is ONE job with no exchange (under
    # AQE each exchange stage would be a job of its own)
    shape = increments.coalesce(1).agg(
        F.count("*").alias("n"),
        F.countDistinct("conv_id", "turn_idx").alias("k"),
        F.min("conv_id").alias("key_lo"),
        F.max("conv_id").alias("key_hi"),
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
    else:
        batch = (
            increments.select(*_BATCH_SCHEMA.names).toArrow()
            .cast(_BATCH_SCHEMA).combine_chunks()
        )
        old, scanned = _probe_store(
            index_dir, meta, batch, shape.key_lo, shape.key_hi
        )
        if old is None:
            decline = "matched store text over budget"
    if decline is not None:
        return _apply_increments_distributed(
            spark, index_dir, increments, paths, meta, t0, laps, _lap, decline
        )

    # each batch row's stored row (null where the key is new), then the
    # effective rows: a delete of a present key, an upsert that changes
    # text, role, tool or ts (null-safe)
    at = np.full(n_batch, -1, dtype=np.int64)
    at[old["bi"].to_numpy()] = np.arange(old.num_rows)
    cur = old.take(pa.array(at, mask=at < 0))
    same = at >= 0
    for c in ("text", "role", "tool", "ts"):
        same &= _null_safe_eq(batch[c], cur[c])
    op = batch["op"]
    is_del = pc.fill_null(pc.equal(op, "D"), False).to_numpy(zero_copy_only=False)
    is_up = ~same & pc.fill_null(pc.not_equal(op, "D"), False).to_numpy(
        zero_copy_only=False
    )
    gone = cur.filter(pa.array((at >= 0) & (is_del | is_up)))
    n_tombstones, n_new = gone.num_rows, int(is_up.sum())
    _lap("join_and_tombstones")
    if n_tombstones == 0 and n_new == 0:
        return _noop("driver", store_rows_scanned=scanned)

    segment = int(meta.get("last_segment", 0)) + 1
    # fresh doc ids above the high-water mark, in key order
    next_id = meta.get("next_doc_id")
    if next_id is None:
        max_doc = all_docs(spark, index_dir, meta).agg(F.max("doc_id")).first()[0]
        next_id = int(max_doc) + 1 if max_doc is not None else 0
    new = batch.filter(pa.array(is_up)).sort_by(
        [("conv_id", "ascending"), ("turn_idx", "ascending")]
    )
    doc_ids = int(next_id) + np.arange(n_new, dtype=np.int64)
    _lap("new_doc_ids")

    # --- term and stat deltas: the chunk kernel's per-term (n_docs, cf)
    # over the new rows (the ONE tokenize pass, whose rows are also the
    # delta postings) minus the same over the stored texts ---------------
    store_positions = bool(meta.get("store_positions", False))
    rows, _, dls = _spimi_rows_for_texts(0, doc_ids, new["text"], store_positions)
    removed, _, _ = _spimi_rows_for_texts(
        0, np.arange(n_tombstones, dtype=np.int64), gone["text"]
    )
    delta = (
        pd.DataFrame({
            "term": np.concatenate([rows["term"], removed["term"]]),
            "d_df": np.concatenate([rows["n_docs"], -removed["n_docs"]]),
            "d_cf": np.concatenate([rows["cf"], -removed["cf"]]),
        })
        .astype({"d_df": np.int64, "d_cf": np.int64})
        .groupby("term", sort=False, as_index=False)
        .sum()
    )
    st = _read_stats(paths, meta)
    n_docs_live = int(st.n_docs) - n_tombstones + n_new
    total_tokens = (
        int(st.total_tokens) - int(pc.sum(gone["dl"]).as_py() or 0)
        + int(dls.sum())
    )
    avgdl = total_tokens / n_docs_live if n_docs_live else 0.0
    write_stats_driver(paths.stats_v(segment), n_docs_live, avgdl, total_tokens)
    if not _update_terms_driver(
        paths.terms_v(meta.get("terms_version", 0)), delta,
        meta["n_buckets"], paths.terms_v(segment),
    ):
        _update_terms_spark(
            spark, paths, meta, segment,
            spark.createDataFrame(delta, schema="term string, d_df long, d_cf long"),
        )
    _lap("term_deltas_and_stats")

    write_postings_driver(
        rows, avgdl, int(meta["n_buckets"]), paths.postings_seg(segment),
        store_positions,
    )
    _lap("delta_postings")

    docs = (
        new.select(["conv_id", "turn_idx", "role", "text", "tool", "ts"])
        .add_column(0, "doc_id", pa.array(doc_ids))
        .append_column("dl", pa.array(dls.astype(np.int32)))
    )
    _write_seg_table(paths.docs_seg(segment), docs)
    _write_seg_table(
        paths.deletes_seg(segment),
        pa.table({"doc_id": pa.array(np.sort(gone["doc_id"].to_numpy()))}),
    )
    _lap("segment_writes")

    return _commit_segment(
        index_dir, paths, meta, segment, n_docs_live=n_docs_live,
        avgdl=avgdl, next_id=next_id, n_new=n_new,
        n_tombstones=n_tombstones, t0=t0, laps=laps, route="driver",
        store_rows_scanned=scanned,
    )


def _apply_increments_distributed(
    spark: SparkSession,
    index_dir: str,
    increments: DataFrame,
    paths: IndexPaths,
    meta: dict,
    t0: float,
    laps: "dict[str, float]",
    _lap,
    decline: str,
) -> dict:
    """Backfill-scale route, taken for the reason ``decline``: the join,
    the signed tokenize union and the full-outer terms join run
    distributed; the delta segment is SPIMI chunks in the index's layout
    plus the zero-shuffle merge, and the commit is the in-process route's
    ``_commit_segment``."""
    live = live_docs(spark, index_dir).select(
        "conv_id", "turn_idx", F.col("doc_id").alias("old_doc_id"),
        F.col("text").alias("cur_text"), F.col("role").alias("cur_role"),
        F.col("tool").alias("cur_tool"), F.col("ts").alias("cur_ts"),
        F.col("dl").alias("cur_dl"),
    )
    joined = increments.join(live, ["conv_id", "turn_idx"], "left").persist()

    # effective rows (idempotence): D of absent key → no-op; I/U identical to
    # the stored row → no-op (the ES docAsUpsert equivalence check). The
    # compare is null-safe (a NULL text must not silently drop the op) and
    # covers the non-text columns too: a role/tool/ts-only change is
    # rank-neutral but must rewrite the doc row or fetch() serves stale data.
    unchanged = (
        F.col("cur_text").eqNullSafe(F.col("text"))
        & F.col("cur_role").eqNullSafe(F.col("role"))
        & F.col("cur_tool").eqNullSafe(F.col("tool"))
        & F.col("cur_ts").eqNullSafe(F.col("ts"))
    )
    deletes_new = joined.where(
        (F.col("op") == "D") & F.col("old_doc_id").isNotNull()
    ).select(F.col("old_doc_id").alias("doc_id"))
    upserts = joined.where(
        (F.col("op") != "D") & (F.col("old_doc_id").isNull() | ~unchanged)
    )
    tombstoned_updates = upserts.where(F.col("old_doc_id").isNotNull()).select(
        F.col("old_doc_id").alias("doc_id")
    )
    all_tombstones = deletes_new.union(tombstoned_updates).persist()
    n_tombstones = all_tombstones.count()
    _lap("join_and_tombstones")

    # fresh doc ids above the current max — never reused. Batch-internal
    # rank comes from a scalable two-level prefix sum (assign_doc_ids), so
    # arbitrarily large backfill batches don't funnel through a
    # single-partition window. The id high-water
    # mark rides in meta.json (round 5) — the snapshot build and every
    # commit maintain it, so no full docs-store scan prices the next id;
    # the agg below is only the migration fallback for pre-round-5 metas.
    from ..index.builder import assign_doc_ids

    next_id = meta.get("next_doc_id")
    if next_id is None:
        max_doc = all_docs(spark, index_dir, meta).agg(F.max("doc_id")).first()[0]
        next_id = int(max_doc) + 1 if max_doc is not None else 0
    ups = upserts.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    n_new = ups.count()  # cached parent — also prices the rank path below
    if 0 < n_new <= DRIVER_RANK_ROWS:
        # typical CDC batch: rank the (conv_id, turn_idx) keys driver-side
        # (one toPandas of two columns) and broadcast the id map back —
        # the distributed two-level prefix sum costs ~3 s of job overhead
        # for a 40k-row batch
        kp = ups.select("conv_id", "turn_idx").toPandas()
        kp = kp.sort_values(
            ["conv_id", "turn_idx"], kind="stable"
        ).reset_index(drop=True)
        kp["doc_id"] = kp.index.to_numpy(dtype="int64") + int(next_id)
        ids_df = spark.createDataFrame(kp)
        with_ids = ups.join(F.broadcast(ids_df), ["conv_id", "turn_idx"])
    else:
        # backfill-scale batches: the same scalable two-level prefix sum
        # the snapshot build uses — never a single-partition window
        with_ids = assign_doc_ids(ups).withColumn(
            "doc_id", (F.col("doc_id") + F.lit(next_id)).cast("long")
        )
    new_docs = (
        with_ids
        .withColumn(
            "dl",
            # coalesce: a NULL text is ZERO tokens, matching the snapshot
            # writer (ADVICE r5 #5 — size(NULL) is NULL and would drift
            # total_tokens/avgdl on a later tombstone of this row)
            F.coalesce(
                F.size(
                    F.regexp_extract_all(
                        F.lower(F.col("text")), F.lit(SPARK_TOKEN_RE), 0
                    )
                ),
                F.lit(0),
            ),
        )
        .select("doc_id", "conv_id", "turn_idx", "role", "text", "tool", "ts", "dl")
        .persist()
    )
    _lap("new_doc_ids")

    if n_tombstones == 0 and n_new == 0:
        joined.unpersist()
        all_tombstones.unpersist()
        new_docs.unpersist()
        return _noop("distributed", decline)

    segment = int(meta.get("last_segment", 0)) + 1

    # --- term/stat deltas (exact live maintenance) -----------------------
    # the tombstoned rows' stored text already sits in the CACHED join
    # (cur_* columns) — deriving removed stats from it kills two full
    # docs-store scans per apply (round 5). dl is the STORED column
    # itself (ADVICE r5 #5: recomputing via size(regexp_extract_all(...))
    # disagrees with the writer on NULL text), so the stat deltas match
    # the store by construction.
    removed_rows = joined.where(
        F.col("old_doc_id").isNotNull()
        & ((F.col("op") == "D") | ~unchanged)
    ).select(
        F.col("old_doc_id").alias("doc_id"),
        F.col("cur_text").alias("text"),
        F.col("cur_dl").alias("dl"),
    )
    # one signed tokenize pass over removed ∪ added (a doc id is on exactly
    # one side — tombstoned ids are never reused), one join against the old
    # terms table: halves the delta-stat jobs (round 5)
    signed = (
        removed_rows.select("doc_id", "text", "dl")
        .withColumn("sign", F.lit(-1))
        .unionByName(
            new_docs.select("doc_id", "text", "dl").withColumn("sign", F.lit(1))
        )
        .persist()
    )
    from ..query.algebra import term_freqs

    delta_stats = (
        term_freqs(signed, ["doc_id", "sign"])
        .groupBy("term")
        .agg(
            F.sum("sign").alias("d_df"),
            F.sum(F.col("sign") * F.col("tf")).alias("d_cf"),
        )
    )
    _update_terms_spark(spark, paths, meta, segment, delta_stats)
    _lap("term_deltas")

    # --- stats (exact, one grouped agg over the signed union) --------------
    st = _read_stats(paths, meta)
    deltas = {
        int(r.sign): r
        for r in signed.groupBy("sign")
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("tok"),
        )
        .collect()
    }
    rm = deltas.get(-1)
    ad = deltas.get(1)
    n_docs_live = int(st.n_docs) - int(rm.n if rm else 0) + int(ad.n if ad else 0)
    total_tokens = (
        int(st.total_tokens)
        - int(rm.tok if rm else 0)
        + int(ad.tok if ad else 0)
    )
    avgdl = total_tokens / n_docs_live if n_docs_live else 0.0
    write_stats_driver(paths.stats_v(segment), n_docs_live, avgdl, total_tokens)
    _lap("stats")

    # --- delta segment postings: SPIMI chunks + the zero-shuffle merge ----
    _write_delta_chunks(new_docs, paths, meta, segment, n_new)
    delta_terms = build_term_stats(
        spark, paths.chunks, meta["n_buckets"],
        glob=_seg_prefix(segment) + "part-*.parquet",
    ) if n_new else None
    _write_delta_postings(spark, paths, meta, segment, delta_terms, avgdl)
    _lap("delta_postings")

    # --- segment docs + tombstones (segment-owned dirs) --------------------
    new_docs.write.mode("overwrite").parquet(paths.docs_seg(segment))
    all_tombstones.write.mode("overwrite").parquet(paths.deletes_seg(segment))
    _lap("segment_writes")

    out = _commit_segment(
        index_dir, paths, meta, segment, n_docs_live=n_docs_live,
        avgdl=avgdl, next_id=next_id, n_new=n_new,
        n_tombstones=n_tombstones, t0=t0, laps=laps, route="distributed",
        decline=decline,
    )
    # a CDC session applies batches forever: release this batch's cached
    # partitions so storage memory can't accumulate across applies
    joined.unpersist()
    all_tombstones.unpersist()
    new_docs.unpersist()
    signed.unpersist()
    return out


def vacuum(index_dir: str) -> "list[str]":
    """Remove artifacts no commit references: superseded terms_v/stats_v
    versions and staging/orphan segment dirs from crashed applies (the
    Iceberg `expire_snapshots`/`remove_orphan_files` analog). Safe at any
    time — readers resolve only through meta.json, and live artifacts are
    exactly {terms_version} ∪ {committed segments}. Returns removed paths."""
    import shutil

    meta = read_index_meta(index_dir)
    paths = IndexPaths(index_dir)
    keep_v = int(meta.get("terms_version", 0))
    committed = set(meta.get("segments", []))
    removed: list[str] = []

    for name in sorted(os.listdir(index_dir)):
        full = os.path.join(index_dir, name)
        if name.startswith(("terms_v", "stats_v")):
            v = int(name.split("_v")[1])
            if v != keep_v:
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
        elif name == "postings" or name.startswith("postings_fm"):
            # base-postings layouts superseded by a force-merge commit
            # (meta['postings_dir'] names the ONE live base layout)
            if name != meta.get("postings_dir", "postings"):
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
        elif name in ("postings_segs", "docs_segs", "deletes_segs"):
            for seg in sorted(os.listdir(full)):
                n = int(seg.replace("seg", ""))
                if n not in committed:
                    p = os.path.join(full, seg)
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(p)

    # orphan delta-segment CHUNK files (segNNN-part-*) from crashed applies:
    # intermediate by design, referenced by nothing once meta.json resolves
    # the commit, and actively dangerous for a retry with a different batch
    import re

    chunks_dir = paths.chunks
    if os.path.isdir(chunks_dir):
        for name in sorted(os.listdir(chunks_dir)):
            m = re.match(r"seg(\d+)-", name)
            if m and int(m.group(1)) not in committed:
                p = os.path.join(chunks_dir, name)
                os.remove(p)
                removed.append(p)
    return removed


def compaction_stats(spark: SparkSession, index_dir: str) -> dict:
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
    st = compaction_stats(spark, index_dir)
    if (
        st["deleted_ratio"] <= max_deleted_ratio
        and st["n_segments"] <= max_segments
    ):
        return None
    out = compact(spark, index_dir, out_dir)
    out["trigger"] = st
    return out


_CORPUS_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _splice_live_sorted(
    spark: SparkSession, index_dir: str, meta: dict, tmp: str
) -> "tuple[bool, str | None]":
    """Write the conv-sorted live temp corpus with ZERO shuffle: the base
    docs store is already (conv_id, turn_idx)-sorted on disk (doc ids were
    assigned in key order), deletes are an id set, and delta segments are
    small — so compaction is an LSM merge of sorted runs, not a re-sort.
    One task per base file reads its span, drops tombstoned rows, splices
    in the (driver-pre-sorted) delta rows of its key interval, and writes
    the merged span; lexical output order preserves the global key order,
    so the build's fused pass consumes it as-is (and its boundary
    verifier still audits the result downstream).

    Returns ``(engaged, decline_reason)``: ``(True, None)`` when the temp
    corpus was written, ``(False, reason)`` when preconditions fail — no
    base store, footer stats missing or out of order at row-group
    granularity, delta docs + deletes bytes (footer ``total_byte_size``)
    past DRIVER_APPLY_BYTES, or the row-conservation check after the merge
    — in which case the caller hands the live docs to ``build_index``,
    which range-sorts them.
    """
    import glob as _glob

    import pyarrow.dataset as pds
    import pyarrow.parquet as pq

    from ..index.builder import footer_conv_walk
    from ..query.wand import _load_deletes

    paths = IndexPaths(index_dir)
    base_files = sorted(_glob.glob(os.path.join(paths.docs, "*.parquet")))
    if not base_files:
        return False, "no base docs files"
    seg_dirs = [d for d in docs_sources(index_dir, meta) if d != paths.docs]
    del_dirs = deletes_sources(index_dir, meta)
    seg_files = [
        f for d in seg_dirs for f in sorted(_glob.glob(os.path.join(d, "*.parquet")))
    ]
    try:
        # the driver budget, priced from the delta docs and deletes footers:
        # the pre-pass below holds those rows, text included
        seg_md = [pq.ParquetFile(f).metadata for f in seg_files]
        del_md = [
            pq.ParquetFile(f).metadata
            for d in del_dirs for f in _glob.glob(os.path.join(d, "*.parquet"))
        ]
        n_delta_raw = sum(md.num_rows for md in seg_md)
        held = sum(
            md.row_group(g).total_byte_size
            for md in seg_md + del_md for g in range(md.num_row_groups)
        )
        if held > DRIVER_APPLY_BYTES:
            return False, "delta+dead bytes over budget"

        # Footer walk: conv order at row-group granularity across the base
        # files (equality allowed — a conversation may straddle groups),
        # then the exact (conv, turn) key of each file's first row, which is
        # the span boundary the delta placement searches.
        _, unsorted = footer_conv_walk(base_files)
        if unsorted is not None:
            return False, unsorted
        firsts: "list[tuple[str, int]]" = []
        n_base = 0
        kept_files: "list[str]" = []
        for f in base_files:
            pf = pq.ParquetFile(f)
            if pf.metadata.num_rows == 0:
                continue
            if "doc_id" not in pf.schema_arrow.names:
                return False, "missing columns in base footer"
            head = pf.read_row_group(0, columns=["conv_id", "turn_idx"])
            firsts.append((head.column(0)[0].as_py(), int(head.column(1)[0].as_py())))
            n_base += pf.metadata.num_rows
            kept_files.append(f)
        if not kept_files:
            return False, "all base files empty"
        if any(firsts[i] >= firsts[i + 1] for i in range(len(firsts) - 1)):
            return False, "first-row keys not increasing"

        # Tombstone ids: one sorted driver array (the delete-bitmap analog;
        # budget-gated above).
        dead = _load_deletes(del_dirs)

        # Delta pre-pass (driver): concat the committed delta segments, drop
        # tombstoned rows, sort by key, write ONE small-row-group file the
        # merge tasks range-prune. This is the only place delta text is
        # held in memory — bounded by DRIVER_APPLY_BYTES.
        delta_path = ""
        n_delta_live = 0
        if seg_files and n_delta_raw:
            dt = pds.dataset(seg_files).to_table(columns=["doc_id"] + _CORPUS_COLS)
            if dead.size:
                dt = dt.filter(pa.array(~np.isin(dt["doc_id"].to_numpy(), dead)))
            dt = dt.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
            dt = dt.select(_CORPUS_COLS)
            # match the base store's physical schema exactly (tz-aware vs
            # naive timestamps differ by writer lineage; the UTC-pinned
            # session makes the int64 micros identical, so this cast only
            # relabels the type so concat/stats line up)
            base_schema = pq.ParquetFile(kept_files[0]).schema_arrow
            dt = dt.cast(
                pa.schema([base_schema.field(c) for c in _CORPUS_COLS])
            )
            n_delta_live = dt.num_rows
            if n_delta_live:
                os.makedirs(tmp, exist_ok=True)
                delta_path = os.path.join(tmp, "_delta_sorted.parquet")
                pq.write_table(
                    dt, delta_path, compression="zstd", row_group_size=2048
                )
        expected_live = n_base + n_delta_raw - int(dead.size)
        if expected_live <= 0:
            return False, "no live rows"
    except Exception as e:  # precondition probing over arbitrary layouts —
        # decline to the re-sort path, but keep the reason inspectable
        if os.environ.get("SPARK_GRAFT_DEBUG"):
            import traceback

            traceback.print_exc()
        return False, repr(e)

    os.makedirs(tmp, exist_ok=True)
    from ..index.builder import _packed_partitions

    work = [
        (
            i,
            kept_files[i],
            firsts[i + 1][0] if i + 1 < len(firsts) else None,
            firsts[i + 1][1] if i + 1 < len(firsts) else None,
        )
        for i in range(len(kept_files))
    ]
    dead_bc = spark.sparkContext.broadcast(dead)
    out_cols = list(_CORPUS_COLS)

    def kern(pdfs):
        import pyarrow as pa
        import pyarrow.parquet as pq

        for pdf in pdfs:
            for span, path, hi_conv, hi_turn in zip(
                pdf["span"], pdf["path"], pdf["hi_conv"], pdf["hi_turn"]
            ):
                span = int(span)
                base = pq.read_table(path, columns=["doc_id"] + out_cols)
                dd = dead_bc.value
                if dd.size:
                    ids = base["doc_id"].to_numpy()
                    base = base.filter(pa.array(~np.isin(ids, dd)))
                base = base.select(out_cols)
                parts = [base]
                if delta_path:
                    # this span owns delta keys in [first_key(span),
                    # first_key(span+1)); span 0 also takes anything before
                    # the base corpus, the last span anything after it
                    lo = None if span == 0 else firsts[span]
                    hi = (
                        None
                        if hi_conv is None or (isinstance(hi_conv, float))
                        else (str(hi_conv), int(hi_turn))
                    )
                    dpf = pq.ParquetFile(delta_path)
                    md = dpf.metadata
                    cidx = {
                        md.row_group(0).column(j).path_in_schema: j
                        for j in range(md.num_columns)
                    }["conv_id"]
                    rgs = []
                    for g in range(md.num_row_groups):
                        st = md.row_group(g).column(cidx).statistics
                        if st is None or not st.has_min_max:
                            rgs.append(g)
                            continue
                        if lo is not None and st.max < lo[0]:
                            continue
                        if hi is not None and st.min > hi[0]:
                            continue
                        rgs.append(g)
                    if rgs:
                        dl = dpf.read_row_groups(rgs, columns=out_cols)
                        cv = np.asarray(dl.column("conv_id").to_pylist(), dtype=object)
                        tn = dl.column("turn_idx").to_numpy()
                        mask = np.ones(len(cv), dtype=bool)
                        if lo is not None:
                            mask &= (cv > lo[0]) | ((cv == lo[0]) & (tn >= lo[1]))
                        if hi is not None:
                            mask &= (cv < hi[0]) | ((cv == hi[0]) & (tn < hi[1]))
                        if mask.any():
                            parts.append(dl.filter(pa.array(mask)).select(out_cols))
                tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
                if len(parts) > 1:
                    # keys are unique across live rows (updates tombstone
                    # the old version), so sort order is total
                    tbl = tbl.sort_by(
                        [("conv_id", "ascending"), ("turn_idx", "ascending")]
                    )
                if tbl.num_rows:
                    out_f = os.path.join(tmp, f"part-{span:05d}.parquet")
                    tmp_f = out_f + f".tmp-{os.getpid()}"
                    pq.write_table(
                        tbl, tmp_f, compression="snappy", row_group_size=2048
                    )
                    os.replace(tmp_f, out_f)
                yield pd.DataFrame({"span": [span], "rows": [tbl.num_rows]})

    sc = spark.sparkContext
    rdd = sc.parallelize(work, _packed_partitions(len(work)))
    flist = spark.createDataFrame(
        rdd, "span long, path string, hi_conv string, hi_turn int"
    )
    import shutil

    sc.setJobDescription("compact: live-splice temp corpus (zero-shuffle)")
    try:
        got = flist.mapInPandas(kern, "span long, rows long").toPandas()
    except Exception as e:
        if os.environ.get("SPARK_GRAFT_DEBUG"):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
        return False, repr(e)
    finally:
        sc.setJobDescription(None)
        dead_bc.unpersist()
    # a task killed mid-write leaves a .tmp-<pid> file its retry does not
    # remove (the retry replaces under its own pid) — sweep them so the
    # downstream corpus read sees only committed spans
    for stale in _glob.glob(os.path.join(tmp, "*.tmp-*")):
        try:
            os.remove(stale)
        except OSError:
            pass
    written = int(got["rows"].sum())
    if written != expected_live:
        # row conservation failed — wipe and let the re-sort path recompute
        shutil.rmtree(tmp, ignore_errors=True)
        return False, f"row conservation {written} != {expected_live}"
    if delta_path:
        os.remove(delta_path)
    return True, None


def compact(spark: SparkSession, index_dir: str, out_dir: str) -> dict:
    """Force-merge analog: rebuild the index from the live corpus. Purges
    tombstones, re-densifies doc ids, restores exact block-max bounds.

    The live corpus reaches the fresh build's sorted fused pass sorted by
    key: through the zero-shuffle LSM splice of the sorted base store and
    the small deltas when its preconditions hold, else as the live-docs
    DataFrame, which ``build_index`` range-sorts once (compact ≡ fresh
    build, rank-identity pytest). The decline reason is returned as
    ``splice_decline`` and written as a ``("splice_decline", reason, 1.0)``
    metrics row."""
    import shutil

    meta = read_index_meta(index_dir)
    t0 = time.time()
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = os.path.join(out_dir, "_live_src")
    spliced, splice_decline = _splice_live_sorted(spark, index_dir, meta, tmp)
    splice_wall = time.time() - t0
    if spliced:
        # the spliced temp mirrors the BASE store's file geometry (one
        # merged span per base file), so the fresh-build partition count
        # from meta keeps span planning at the proven fresh-build
        # granularity — a ~6k-doc-derived count here would push
        # `len(spans) < n_partitions` at large corpora and trigger the
        # row-group-finest re-plan (measured at sf1: 9,378 micro-spans,
        # compact 509 s vs ~100 s fresh-build-shaped)
        corpus, source = spark.read.parquet(tmp), tmp
        n_parts = int(meta["n_partitions"])
    else:
        # re-sort partition count from the LIVE DOC COUNT (scale-adaptive,
        # guide §2): ~6k-doc files keep each fused task's tokenize/encode
        # working set cache-resident under full task concurrency, floored
        # at 4 partitions/core and capped so tiny-file overhead can't
        # dominate
        par = spark.sparkContext.defaultParallelism
        n_docs_live = int(meta.get("n_docs", 0)) or 1
        n_parts = max(
            int(meta["n_partitions"]),
            4 * par,
            min(64 * par, -(-n_docs_live // 6000)),
        )
        corpus = live_docs(spark, index_dir).select(*_CORPUS_COLS)
        source = None
    out = build_index(
        spark,
        corpus,
        out_dir,
        n_partitions=n_parts,
        n_buckets=meta["n_buckets"],
        n_salts=meta["n_salts"],
        heavy_df_threshold=meta["heavy_df_threshold"],
        resume=False,
        source_path=source,
        span_mb=4,
        store_positions=bool(meta.get("store_positions", False)),
    )
    shutil.rmtree(tmp, ignore_errors=True)
    append_metrics_driver(
        os.path.join(out_dir, "metrics"),
        [("live_splice", "wall_s", splice_wall)]
        if spliced
        else [("splice_decline", splice_decline, 1.0)],
    )
    out["wall_s"] = time.time() - t0
    out["live_spliced"] = bool(spliced)
    out["splice_decline"] = splice_decline
    return out
