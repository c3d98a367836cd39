"""Distributed inverted-index build — SPIMI per partition, resumable.

Pipeline (SURVEY.md §7.1 M2/M3, north-rule core):

1. **Stable doc ids** — ``doc_id`` = global rank of ``(conv_id, turn_idx)``,
   the reference's composite-PK doc identity
   (``transform/RecordsTransform.java:110-125``, ``model/mysql/IndexMeta.java``),
   so the id is a pure function of the data, never of task scheduling
   (SURVEY.md §7.3). The build reads a source SORTED by that key: a span's
   base id is the prefix row count from the parquet footers and a row's id
   is base + its rank within the span. A source that is not provably sorted
   (a DataFrame, too few spans, out-of-order footer conv ranges, or span
   key ranges that overlap after the pass) is range-sorted once into
   ``_sorted_src`` first. A duplicated key raises, naming the key.
2. **One fused pass** — shuffle-free: one task per source span reads its
   rows with pyarrow and writes a complete mini-segment: the docs-store
   file (source row + ``doc_id`` + ``dl``; the doc *is* the row, as in the
   reference's parameter projection, ``transform/RecordsTransform.java:54-76``)
   and the SPIMI chunk (tokenize + tf-count + varbyte-encode in one
   vectorized numpy kernel, ``_spimi_rows_for_texts``), committed by a
   per-span manifest JSON written last; CDC delta segments run the same
   kernel. A re-run skips completed spans (the analog of the reference's
   offset-reset / checkpoint-ack recovery,
   ``extract/KafkaMsgListener.java:76-79,312-330``); a changed span list
   invalidates the manifests via ``_filelist.json``.
3. **Term stats** — ``groupBy(term)`` over chunk rows (map-side combined;
   hot terms are sums of few-hundred-byte rows, not row explosions; parquet
   column pruning keeps the posting binaries out of this scan).
4. **Salted compaction merge** — chunks of a term are concatenated in doc-id
   order and re-cut into 128-posting blocks with exact per-block max-score
   bounds. Terms with df above a threshold are salted into ``n_salts``
   disjoint sub-streams (a doc lives in exactly one stream, so BM25 sums
   stay exact) to keep the merge balanced under Zipf skew (B3). The chunk
   files are sorted by merge group, so each merge task reads its own
   group's row groups directly — no shuffle (``build_postings_direct``).
5. **Postings layout** — parquet partitioned by ``bucket`` (md5-based:
   first 15 hex chars of ``md5(term)`` mod ``n_buckets``, see
   ``index/bucketing.py`` — md5 so the driver AND the DuckDB oracle can
   compute buckets without a Spark job) so a query's ``bucket IN … AND
   term IN …`` filter prunes partitions and pushes predicates into the
   scan. The merge tasks hold whole (bucket, sub, salt) groups, so the
   partitioned write emits directly from the merge — no extra shuffle.

Scale posture: at most one corpus exchange (the re-sort, only for a source
that is not already sorted); nothing collects more than per-span counts
and boundary keys to the driver. Knobs: ``n_partitions`` (the re-sort's
file count, and the span floor an as-is source must reach),
``n_buckets`` (query-side pruning granularity), ``n_salts`` ×
``heavy_df_threshold`` (merge-group upper bound ≈ heavy-term df / n_salts).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import B, BLOCK_SIZE, K1
from ..query.algebra import SPARK_TOKEN_RE

# groups per bucket in the compaction merge — parallelism knob, independent
# of the bucket count (a term always lands in exactly one (bucket, sub))
MERGE_SUBSPLIT = 8

# Work units (spans / files / merge groups) per Spark task: several units
# share one task, amortizing the per-task scheduling + Python-runner round
# trip (measured 13-150 ms per task under core pinning — with one span per
# task it rivaled the kernel itself). Units within a task are processed one
# at a time, so the cache-resident kernel working set is unchanged; the
# work lists are uniform, so the coarser tail stays balanced. A PURE
# function of the work-list size — never of the executor count — so the
# same input yields the identical job at every parallelism level (the
# N-vs-4N methodology's invariant). Env-overridable.
TASK_PACK = int(os.environ.get("SPARK_GRAFT_TASK_PACK", "3"))


# the fused pass's duplicate-key error prefix; the driver re-raises a
# task's message under it as a plain ValueError
_DUP_KEY = "duplicate (conv_id, turn_idx) key"


def _packed_partitions(n_units: int) -> int:
    return max(1, -(-n_units // TASK_PACK))

# a merge group whose heavy terms sum past this many postings fans out into
# doc-disjoint salt tasks (≤ n_salts) — ~2M postings ≈ a comfortable
# single-task decode+encode (sub-second); far below it, extra tasks just
# multiply per-task file-open overhead
SPLIT_POSTINGS = int(os.environ.get("SPARK_GRAFT_SPLIT_POSTINGS", 2_000_000))

# chunk-file compression: intermediate SPIMI chunks are written once and read
# twice (term stats + merge) — cheap-but-fast beats maximum ratio here
# chunk varbyte columns are already compressed (delta-gap + base-128) —
# zstd over them costs SPIMI-write and merge-read CPU for ~25% size on a
# TRANSIENT artifact; metadata columns stay zstd. Env var forces one codec
# for everything (diagnostics).
_CHUNK_CODEC_ENV = os.environ.get("SPARK_GRAFT_CHUNK_COMPRESSION")
CHUNK_COMPRESSION = _CHUNK_CODEC_ENV or {
    **{c: "NONE" for c in ("doc_ids", "tfs", "dls", "pos")},
    **{
        c: "ZSTD"
        for c in (
            "term", "part_id", "min_doc", "max_doc", "n_docs", "cf",
            "bucket", "sub",
        )
    },
}

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("min_doc", T.LongType()),
        T.StructField("max_doc", T.LongType()),
        T.StructField("n_docs", T.IntegerType()),
        T.StructField("cf", T.LongType()),
        T.StructField("doc_ids", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("dls", T.BinaryType()),
        T.StructField("pos", T.BinaryType()),
    ]
)

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("rows", T.LongType()),
        T.StructField("n_terms", T.LongType()),
        T.StructField("sum_dl", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("attempt", T.IntegerType()),
    ]
)

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("block_id", T.IntegerType()),
        T.StructField("min_doc", T.LongType()),
        T.StructField("max_doc", T.LongType()),
        T.StructField("n_docs", T.IntegerType()),
        T.StructField("doc_ids", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("dls", T.BinaryType()),
        T.StructField("block_max_score", T.DoubleType()),
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_dl", T.IntegerType()),
        T.StructField("pos", T.BinaryType()),
    ]
)


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def chunks(self) -> str:
        return os.path.join(self.root, "chunks")

    @property
    def terms(self) -> str:
        return os.path.join(self.root, "terms")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def stats(self) -> str:
        return os.path.join(self.root, "stats")

    @property
    def metrics(self) -> str:
        return os.path.join(self.root, "metrics")

    @property
    def sorted_src(self) -> str:
        # the build's range-sorted copy of a source it cannot use as-is
        return os.path.join(self.root, "_sorted_src")

    @property
    def deletes(self) -> str:
        return os.path.join(self.root, "deletes")

    # --- per-segment paths (incremental maintenance, crash-atomic commit):
    # every increment writes ONLY seg-owned dirs; the single atomic
    # os.replace of meta.json is the commit point (streaming/incremental.py)
    def postings_seg(self, n: int) -> str:
        return os.path.join(self.root, "postings_segs", f"seg{n:05d}")

    def docs_seg(self, n: int) -> str:
        return os.path.join(self.root, "docs_segs", f"seg{n:05d}")

    def deletes_seg(self, n: int) -> str:
        return os.path.join(self.root, "deletes_segs", f"seg{n:05d}")

    def terms_v(self, n: int) -> str:
        return self.terms if n == 0 else os.path.join(self.root, f"terms_v{n:05d}")

    def stats_v(self, n: int) -> str:
        return self.stats if n == 0 else os.path.join(self.root, f"stats_v{n:05d}")


def fs_and_path(uri: str):
    """(pyarrow FileSystem, path) for a local path or any URI pyarrow
    resolves (``file://``, ``s3://``, ...)."""
    import pyarrow as pa
    import pyarrow.fs as pafs

    try:
        return pafs.FileSystem.from_uri(uri)
    except pa.ArrowInvalid:  # a relative local path has no scheme
        return pafs.LocalFileSystem(), os.path.abspath(uri)


def _has_parquet(d: str) -> bool:
    """True if the dir holds any parquet data file (including inside hive
    partition subdirs like bucket=K/). Depth-first, stopping at the first
    dir that holds one."""
    import pyarrow.fs as pafs

    fs, path = fs_and_path(d)
    if fs.get_file_info(path).type != pafs.FileType.Directory:
        return False
    stack = [path]
    while stack:
        infos = fs.get_file_info(pafs.FileSelector(stack.pop()))
        if any(i.is_file and i.path.endswith(".parquet") for i in infos):
            return True
        stack += [i.path for i in infos if i.type == pafs.FileType.Directory]
    return False


def read_index_meta(index_dir: str) -> dict:
    fs, path = fs_and_path(index_dir)
    with fs.open_input_stream(path.rstrip("/") + "/meta.json") as f:
        return json.loads(f.read())


def postings_sources(index_dir: str, meta: dict) -> "list[str]":
    """Base postings dir + every COMMITTED delta segment (meta['segments']).
    Uncommitted staging dirs are invisible by construction — crash-safety
    comes from readers resolving strictly through the committed meta.
    ``meta['postings_dir']`` (written by ``force_merge_postings``) redirects
    the base to a read-optimized rewrite; absent → the build layout."""
    p = IndexPaths(index_dir)
    base = os.path.join(index_dir, meta.get("postings_dir", "postings"))
    out = [base] if _has_parquet(base) else []
    for n in meta.get("segments", []):
        d = p.postings_seg(n)
        if _has_parquet(d):
            out.append(d)
    return out


def docs_sources(index_dir: str, meta: dict) -> "list[str]":
    p = IndexPaths(index_dir)
    out = [p.docs] if _has_parquet(p.docs) else []
    for n in meta.get("segments", []):
        d = p.docs_seg(n)
        if _has_parquet(d):
            out.append(d)
    return out


def deletes_sources(index_dir: str, meta: dict) -> "list[str]":
    p = IndexPaths(index_dir)
    out = [p.deletes] if _has_parquet(p.deletes) else []
    for n in meta.get("segments", []):
        d = p.deletes_seg(n)
        if _has_parquet(d):
            out.append(d)
    return out


DOCS_SCHEMA = (
    "doc_id long, conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, dl int"
)


def _conv_offsets(
    transcripts: DataFrame, n_range_parts: int = 64
) -> "tuple[DataFrame, int, bool]":
    """(conv_offsets(conv_id, conv_offset, n_turns), n_convs, dense).

    Two-level prefix sum: per-conversation turn counts are range-partitioned
    by ``conv_id``; partition subtotals (one long per partition) come to the
    driver and go back as broadcast offsets. ``dense`` is true when every
    conversation's ``turn_idx`` is exactly 0..n_turns-1 (the reference's PK
    contract) — checked with one tiny agg over the conv relation, never the
    corpus.
    """
    spark = transcripts.sparkSession
    # density needs all four: count, min=0, max=n-1 AND countDistinct=n —
    # without the distinct check a duplicated key (turn_idx [0,1,1,3])
    # passes and the broadcast fast path would assign duplicate doc_ids.
    # countDistinct costs a distinct-pair shuffle of the two PK columns
    # (the snapshot build needs no offsets: it reads a key-sorted source).
    convs = (
        transcripts.groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.min("turn_idx").alias("_mn"),
            F.max("turn_idx").alias("_mx"),
            F.countDistinct("turn_idx").alias("_nd"),
        )
        .repartitionByRange(n_range_parts, "conv_id")
        .sortWithinPartitions("conv_id")
        .withColumn("part_id", F.spark_partition_id())
        .persist()
    )
    agg = convs.groupBy("part_id").agg(
        F.sum("n_turns").alias("s"),
        F.count("*").alias("n"),
        F.sum(
            F.when(
                (F.col("_mn") != 0)
                | (F.col("_mx") != F.col("n_turns") - 1)
                | (F.col("_nd") != F.col("n_turns")),
                1,
            ).otherwise(0)
        ).alias("bad"),
    ).collect()
    subtotals = {r.part_id: r.s for r in agg}
    n_convs = int(sum(r.n for r in agg))
    dense = sum(r.bad for r in agg) == 0
    offsets, acc = [], 0
    for pid in sorted(subtotals):
        offsets.append((pid, acc))
        acc += subtotals[pid]
    off_df = spark.createDataFrame(offsets, "part_id int, part_offset long")
    w_part = (
        Window.partitionBy("part_id")
        .orderBy("conv_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    conv_offsets = (
        convs.join(F.broadcast(off_df), "part_id")
        .withColumn(
            "conv_offset",
            F.col("part_offset") + F.coalesce(F.sum("n_turns").over(w_part), F.lit(0)),
        )
        .select("conv_id", "conv_offset", "n_turns")
    )
    return conv_offsets, n_convs, dense


# conversations below this count broadcast the offset table (map-only doc-id
# assignment); above it, fall back to a shuffle join — the 10^9-conversation
# regime where a broadcast table would not fit executors
BROADCAST_CONV_LIMIT = 20_000_000


def assign_doc_ids(transcripts: DataFrame, n_range_parts: int = 64) -> DataFrame:
    """transcripts + dense stable ``doc_id`` (global (conv_id, turn_idx) rank).

    Fast path (the reference's PK contract holds: ``turn_idx`` is dense
    0..n-1 per conversation): ``doc_id = conv_offset + turn_idx`` via a
    broadcast join of the small conversation-offset table — the corpus is
    touched by exactly ONE map-side pass (no corpus shuffle, no window).
    Fallback (non-dense turn_idx): shuffle join + per-conversation
    ``row_number`` window (the round-1 path). Both produce the identical
    global (conv_id, turn_idx) rank, deterministic under re-runs.
    """
    conv_offsets, n_convs, dense = _conv_offsets(transcripts, n_range_parts)
    if dense:
        off = conv_offsets.select("conv_id", "conv_offset")
        if n_convs <= BROADCAST_CONV_LIMIT:
            off = F.broadcast(off)
        return transcripts.join(off, "conv_id").withColumn(
            "doc_id",
            (F.col("conv_offset") + F.col("turn_idx").cast("long")).cast("long"),
        ).drop("conv_offset")
    w_turn = Window.partitionBy("conv_id").orderBy("turn_idx")
    out = transcripts.join(
        conv_offsets.select("conv_id", "conv_offset"), "conv_id"
    ).withColumn(
        "doc_id", (F.col("conv_offset") + F.row_number().over(w_turn) - 1).cast("long")
    )
    return out.drop("conv_offset")


BASE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def build_docs(transcripts: DataFrame) -> DataFrame:
    """The docs-store relation as one Spark plan: source row + doc_id + dl
    (JVM-side token count). The snapshot build writes the same rows from
    its fused pass; this plan serves the DuckDB contract query
    ``docs_table_transcripts``.

    Schema evolution (A6/§1.3): the reference's contract is new-columns-
    appended-only (``transform/RecordsTransform.java:25-38`` re-pulls the
    schema on column growth) — any column beyond the base six is carried
    through to the docs store unchanged, after ``dl``. Doc ids depend only
    on (conv_id, turn_idx), so an appended column can never change them.
    """
    extras = [c for c in transcripts.columns if c not in BASE_COLS]
    with_ids = assign_doc_ids(transcripts)
    return with_ids.withColumn(
        "dl",
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(SPARK_TOKEN_RE), 0)
        ),
    ).select("doc_id", *BASE_COLS, "dl", *extras)


def _write_chunk(
    chunks_dir: str, prefix: str, part_id: int, rows: dict,
    n_rows_docs: int, n_terms: int, t0: float, *, n_buckets: int,
    n_salts: int, sum_dl: int = 0, wfs=None,
    span_keys: "tuple | None" = None,
) -> pd.DataFrame:
    """Write one SPIMI chunk parquet, then its manifest (data first,
    manifest LAST — the per-partition commit order the fswrite protocol
    relies on); returns the manifest row. ``wfs`` is the filesystem
    adapter (None = local POSIX).

    Every term row carries its (bucket, sub, salt) merge key and the file
    is SORTED by (bucket, sub, salt, term) with small row groups — the
    layout the ZERO-SHUFFLE merge needs: a merge task later reads exactly
    its group's contiguous span from each chunk file via parquet row-group
    stats, so the corpus never crosses a Spark shuffle or the JVM→Python
    Arrow hop (round-3 What's-wrong #1: the merge's shuffle+IPC scaled at
    ~0.63 and capped build scaling at ~0.73). The salt is
    ``salt_of_part(part_id, n_salts)`` — constant per file — and is
    written for EVERY row; the merge planner uses it only for heavy-term
    groups. ``n_buckets``/``n_salts`` are recorded in the manifest and
    must match the merge's, or it falls back to the shuffle merge."""
    import pyarrow as pa

    from .bucketing import bucket_sub_arrays, salt_of_part
    from .fswrite import LOCAL

    wfs = wfs or LOCAL
    wfs.makedirs(chunks_dir)
    path = os.path.join(chunks_dir, f"{prefix}part-{part_id:05d}.parquet")
    b, s = bucket_sub_arrays(
        np.asarray(rows["term"], dtype=object), n_buckets, MERGE_SUBSPLIT
    )
    salt = np.full(len(b), salt_of_part(part_id, n_salts), dtype=np.int32)
    rows = {**rows, "bucket": b, "sub": s, "salt": salt}
    schema = pa.schema([
        ("term", pa.string()),
        ("part_id", pa.int32()),
        ("min_doc", pa.int64()),
        ("max_doc", pa.int64()),
        ("n_docs", pa.int32()),
        ("cf", pa.int64()),
        ("doc_ids", pa.binary()),
        ("tfs", pa.binary()),
        ("dls", pa.binary()),
        ("pos", pa.binary()),
        ("bucket", pa.int32()),
        ("sub", pa.int32()),
        ("salt", pa.int32()),
    ])
    table = pa.table(rows, schema=schema).sort_by(
        [
            ("bucket", "ascending"), ("sub", "ascending"),
            ("salt", "ascending"), ("term", "ascending"),
        ]
    )
    wfs.write_table(
        table, path, compression=CHUNK_COMPRESSION,
        row_group_size=max(512, -(-len(b) // 64)),  # ≤ ~64 groups per file
    )
    manifest = {
        "partition_id": part_id,
        "status": "done",
        "rows": int(n_rows_docs),
        "n_terms": int(n_terms),
        "sum_dl": int(sum_dl),
        "wall_ms": int((time.time() - t0) * 1000),
        "attempt": 1,
    }
    ret = pd.DataFrame([manifest])  # MANIFEST_SCHEMA columns only
    # layout keys ride in the json sidecar (the merge planner verifies
    # them) but NOT in the applyInPandas return row
    manifest["n_buckets"] = int(n_buckets)
    manifest["n_subs"] = MERGE_SUBSPLIT
    manifest["n_salts"] = int(n_salts)
    if span_keys is not None:
        # fused pass: the sorted span's boundary PKs ride in the json
        # sidecar so the driver can verify global key disjointness after
        # the pass (span_key_overlap)
        fc, ft, lc, lt = span_keys
        manifest["first_conv"] = fc
        manifest["first_turn"] = int(ft)
        manifest["last_conv"] = lc
        manifest["last_turn"] = int(lt)
    mpath = os.path.join(chunks_dir, f"{prefix}part-{part_id:05d}.manifest.json")
    wfs.write_json(manifest, mpath)
    return ret


_EMPTY_CHUNK_ROWS = {
    "term": np.array([], dtype=object),
    "part_id": np.array([], dtype=np.int32),
    "min_doc": np.array([], dtype=np.int64),
    "max_doc": np.array([], dtype=np.int64),
    "n_docs": np.array([], dtype=np.int32),
    "cf": np.array([], dtype=np.int64),
    "doc_ids": [], "tfs": [], "dls": [], "pos": [],
}


def _spimi_encode(
    part_id: int,
    doc_ids: np.ndarray,
    dls: np.ndarray,
    toks: "list[list[str]]",
    store_positions: bool = False,
) -> "tuple[dict, int]":
    """(chunk rows dict, n_terms) from per-doc token lists — the vectorized
    SPIMI core: factorize terms to codes, combine ``code * n_rows + row_pos``
    into one int64 key, one stable argsort yields (term, doc) groups sorted
    by (term, doc) — doc ascending within a term because the caller
    pre-sorts rows by doc_id, and (when ``store_positions``) in-doc token
    positions ascending within a posting because the stable sort preserves
    token order. Positions are the Lucene DOCS_AND_FREQS_AND_POSITIONS
    index option: off by default (BM25 needs none), on for match_phrase
    without docs-store re-tokenization."""
    from itertools import chain

    n_rows = len(doc_ids)
    lens = np.fromiter((len(x) for x in toks), dtype=np.int64, count=len(toks))
    flat = np.asarray(list(chain.from_iterable(toks)), dtype=object)
    if flat.size == 0:
        return dict(_EMPTY_CHUNK_ROWS), 0
    codes, uniq_terms = pd.factorize(flat, sort=True)
    row_pos = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
    key = codes.astype(np.int64) * n_rows + row_pos
    order = np.argsort(key, kind="stable")
    sk = key[order]
    pchange = np.concatenate(([True], sk[1:] != sk[:-1]))
    pstarts = np.flatnonzero(pchange)  # posting starts in sorted-token space
    pends = np.append(pstarts[1:], len(sk))
    tf = pends - pstarts
    uk = sk[pstarts]
    t_code = uk // n_rows
    pos = uk % n_rows
    ids = doc_ids[pos]
    dl_arr = dls[pos]

    change = np.concatenate(([True], t_code[1:] != t_code[:-1]))
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], len(uk))
    bounds = np.append(starts, len(uk))

    from .codec import (
        encode_doc_id_segments,
        encode_positions_segments,
        vb_encode_segments,
    )

    rows = {
        "term": uniq_terms[t_code[starts]].astype(object),
        "part_id": np.full(len(starts), part_id, dtype=np.int32),
        "min_doc": ids[starts],
        "max_doc": ids[ends - 1],
        "n_docs": (ends - starts).astype(np.int32),
        "cf": np.add.reduceat(tf, starts).astype(np.int64),
        "doc_ids": encode_doc_id_segments(ids, bounds),
        "tfs": vb_encode_segments(tf.astype(np.int64), bounds),
        "dls": vb_encode_segments(dl_arr, bounds),
    }
    if store_positions:
        # in-doc token position of every sorted occurrence
        doc_start = np.repeat(np.cumsum(lens) - lens, lens)
        pos_in_doc = (np.arange(flat.size, dtype=np.int64) - doc_start)[order]
        posting_bounds = np.append(pstarts, len(sk))
        # term-row segment offsets in sorted-token space
        seg_bounds = posting_bounds[bounds]
        rows["pos"] = encode_positions_segments(
            pos_in_doc, posting_bounds, seg_bounds
        )
    else:
        rows["pos"] = [b""] * len(starts)
    return rows, len(starts)


def _spimi_encode_codes(
    part_id: int,
    doc_ids: np.ndarray,
    dls: np.ndarray,
    codes: np.ndarray,
    doc_lens: np.ndarray,
    uniq_terms: np.ndarray,
    store_positions: bool = False,
) -> "tuple[dict, int]":
    """``_spimi_encode`` over pre-factorized token codes (the byte-level
    tokenizer output, round 6): identical chunk rows, no per-token Python
    strings. ``codes`` index the SORTED vocabulary ``uniq_terms`` and run in
    document order (callers pre-sort rows by doc_id), so ONE stable int32
    argsort (numpy radix) yields the (term, doc, in-doc position) order the
    old combined-int64-key sort produced — and the div/mod decomposition
    disappears (term and row indices are gathered directly)."""
    n_rows = len(doc_ids)
    if codes.size == 0:
        return dict(_EMPTY_CHUNK_ROWS), 0
    row_pos = np.repeat(np.arange(n_rows, dtype=np.int32), doc_lens)
    order = np.argsort(codes.astype(np.int32), kind="stable")
    c_s = codes[order]
    r_s = row_pos[order]
    pchange = np.concatenate(([True], (c_s[1:] != c_s[:-1]) | (r_s[1:] != r_s[:-1])))
    pstarts = np.flatnonzero(pchange)
    pends = np.append(pstarts[1:], c_s.size)
    tf = pends - pstarts
    t_code = c_s[pstarts]
    pos = r_s[pstarts].astype(np.int64)
    ids = doc_ids[pos]
    dl_arr = dls[pos]

    change = np.concatenate(([True], t_code[1:] != t_code[:-1]))
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], len(t_code))
    bounds = np.append(starts, len(t_code))

    from .codec import (
        encode_doc_id_segments,
        encode_positions_segments,
        vb_encode_segments,
    )

    rows = {
        "term": uniq_terms[t_code[starts]].astype(object),
        "part_id": np.full(len(starts), part_id, dtype=np.int32),
        "min_doc": ids[starts],
        "max_doc": ids[ends - 1],
        "n_docs": (ends - starts).astype(np.int32),
        "cf": np.add.reduceat(tf, starts).astype(np.int64),
        "doc_ids": encode_doc_id_segments(ids, bounds),
        "tfs": vb_encode_segments(tf.astype(np.int64), bounds),
        "dls": vb_encode_segments(dl_arr, bounds),
    }
    if store_positions:
        doc_start = np.repeat(np.cumsum(doc_lens) - doc_lens, doc_lens)
        pos_in_doc = (np.arange(codes.size, dtype=np.int64) - doc_start)[order]
        posting_bounds = np.append(pstarts, c_s.size)
        seg_bounds = posting_bounds[bounds]
        rows["pos"] = encode_positions_segments(
            pos_in_doc, posting_bounds, seg_bounds
        )
    else:
        rows["pos"] = [b""] * len(starts)
    return rows, len(starts)


def _spimi_rows_for_texts(
    part_id: int,
    doc_ids: np.ndarray,
    text_col,
    store_positions: bool = False,
) -> "tuple[dict, int, np.ndarray]":
    """(chunk rows, n_terms, dls) for one span/partition: byte-level
    tokenizer when the bytes are fast-path-safe, regex fallback otherwise.
    ``text_col`` is an Arrow array/chunked array (or anything pa.array can
    wrap) aligned with ``doc_ids`` (already doc-sorted)."""
    import pyarrow as pa

    from ..tokenize import TOKEN_RE, tokenize_arrow_codes

    if not isinstance(text_col, (pa.Array, pa.ChunkedArray)):
        text_col = pa.array(text_col, pa.string(), from_pandas=True)
    fast = tokenize_arrow_codes(text_col)
    if fast is not None:
        codes, doc_lens, uniq = fast
        rows, n_terms = _spimi_encode_codes(
            part_id, doc_ids, doc_lens, codes, doc_lens, uniq,
            store_positions=store_positions,
        )
        return rows, n_terms, doc_lens
    findall = TOKEN_RE.findall
    texts = text_col.to_pandas()
    toks = [findall(t.lower()) if t else [] for t in texts]
    dls = np.fromiter((len(x) for x in toks), dtype=np.int64, count=len(toks))
    rows, n_terms = _spimi_encode(
        part_id, doc_ids, dls, toks, store_positions=store_positions
    )
    return rows, n_terms, dls


def _chunk_builder_pandas(chunks_dir: str, prefix: str = "", *,
                          n_buckets: int, n_salts: int,
                          store_positions: bool = False):
    """The SPIMI kernel over one CDC delta partition's docs rows
    (``build_chunks``): tokenize, tf-count and varbyte-encode entirely
    inside the Arrow batch (byte-level tokenizer, regex fallback —
    ``_spimi_rows_for_texts``, the kernel the snapshot build's fused pass
    runs too), then write the chunk + manifest."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.time()
        part_id = int(pdf["part_id"].iloc[0])
        pdf = pdf.sort_values("doc_id")
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        # dls come from the tokenizer itself (identical to the stored dl
        # column by the proven JVM≡Python token equivalence; NULL-text rows
        # count 0 both ways)
        rows, n_terms, dls = _spimi_rows_for_texts(
            part_id, doc_ids, pdf["text"], store_positions=store_positions
        )
        return _write_chunk(
            chunks_dir, prefix, part_id, rows, len(pdf), n_terms, t0,
            sum_dl=int(dls.sum()), n_buckets=n_buckets, n_salts=n_salts,
        )

    return build


def completed_partitions(
    chunks_dir: str, prefix: str = "", wfs=None
) -> set[int]:
    """Partition ids with a committed manifest — resolved through ``wfs``
    so resume bookkeeping sees the store the tasks actually wrote to."""
    from .fswrite import LOCAL

    _wfs = wfs or LOCAL
    done = set()
    for name in _wfs.listdir(chunks_dir):
        if name.startswith(f"{prefix}part-") and name.endswith(".manifest.json"):
            m = _wfs.read_json(os.path.join(chunks_dir, name))
            if m.get("status") == "done":
                done.add(int(m["partition_id"]))
    return done


def build_chunks(
    docs: DataFrame,
    chunks_dir: str,
    n_partitions: int,
    *,
    n_buckets: int,
    n_salts: int,
    prefix: str = "",
    store_positions: bool = False,
) -> DataFrame:
    """SPIMI pass over a docs relation (the CDC delta segment): rows are
    grouped by ``part_id = xxhash64(conv_id) % n_partitions`` and each
    group runs the chunk kernel. Returns the manifest DataFrame (one row
    per partition built). Callers own the ``prefix`` chunk namespace and
    wipe it first; ``n_buckets``/``n_salts`` must be the index's, so the
    chunks pass the zero-shuffle merge's layout check."""
    part = F.pmod(F.xxhash64("conv_id"), F.lit(n_partitions)).cast("int")
    kern = _chunk_builder_pandas(
        chunks_dir, prefix, n_buckets=n_buckets, n_salts=n_salts,
        store_positions=store_positions,
    )
    return (
        docs.select("doc_id", "text", part.alias("part_id"))
        .groupBy("part_id")
        .applyInPandas(kern, schema=MANIFEST_SCHEMA)
    )


def read_manifests(chunks_dir: str, prefix: str = "", wfs=None) -> "list[dict]":
    """All committed partition manifests (the lineage/metrics sidecars),
    resolved through ``wfs`` (object-store deployments read them back from
    the store the tasks wrote to)."""
    from .fswrite import LOCAL

    _wfs = wfs or LOCAL
    out = []
    for name in sorted(_wfs.listdir(chunks_dir)):
        if name.startswith(f"{prefix}part-") and name.endswith(".manifest.json"):
            out.append(_wfs.read_json(os.path.join(chunks_dir, name)))
    return out


def _source_files(source_path: str) -> "list[str]":
    """The parquet files of a source, in lexical order — the order the
    span list and the doc ids follow."""
    if not os.path.isdir(source_path):
        return [source_path]
    return sorted(
        os.path.join(source_path, f)
        for f in os.listdir(source_path)
        if f.endswith(".parquet")
    )


def plan_spans(source_path: str, span_mb: int = 8) -> "list[tuple[str, int, int]]":
    """Work list for the fused segment build: (file, rg_lo, rg_hi) spans of
    ~span_mb (uncompressed) bytes. Row groups are parquet's atomic read
    unit — this is exactly how Spark's own scan planner splits files, done
    here with pyarrow metadata so each fused task owns a byte-bounded slice
    of the source. Driver cost: one footer read per file (the same metadata
    pass any planner pays)."""
    import pyarrow.parquet as pq

    spans: list[tuple[str, int, int]] = []
    # span_mb <= 0 → one row group per span (finest possible granularity)
    budget = max(span_mb, 0) << 20
    for path in _source_files(source_path):
        md = pq.ParquetFile(path).metadata
        lo, acc = 0, 0
        for g in range(md.num_row_groups):
            acc += md.row_group(g).total_byte_size
            if acc >= budget:
                spans.append((path, lo, g + 1))
                lo, acc = g + 1, 0
        if lo < md.num_row_groups:
            spans.append((path, lo, md.num_row_groups))
    return spans


def footer_conv_walk(
    files: "list[str]", check_order: bool = True
) -> "tuple[dict[tuple[str, int], int], str | None]":
    """One footer pass over ``files``: the row count of every (file, row
    group), and — with ``check_order`` — why the ``conv_id`` min/max stats
    do NOT show group-granular order across the file sequence
    (``max_conv(g) <= min_conv(g+1)``; equality allowed, a conversation
    may straddle groups), or None when they do. The reason names the file:
    ``"file conv order violated at f"`` when ``f``'s first group breaks
    order, ``"row-group conv order violated at f"`` when a later one does."""
    import pyarrow.parquet as pq

    prev_max, prev_file = None, None
    group_rows: "dict[tuple[str, int], int]" = {}
    for path in files:
        md = pq.ParquetFile(path).metadata
        if check_order and md.num_row_groups:
            rg0 = md.row_group(0)
            names = {
                rg0.column(i).path_in_schema: i for i in range(rg0.num_columns)
            }
            if "conv_id" not in names:
                return group_rows, f"no conv_id column in {path}"
            ci = names["conv_id"]
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            group_rows[(path, g)] = rg.num_rows
            if not check_order or rg.num_rows == 0:
                continue
            st = rg.column(ci).statistics
            if st is None or not st.has_min_max:
                return group_rows, f"absent conv stats in {path}"
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                mn, mx = mn.decode(), mx.decode()
            if prev_max is not None and mn < prev_max:
                where = "row-group" if prev_file == path else "file"
                return group_rows, f"{where} conv order violated at {path}"
            prev_max, prev_file = mx, path
    return group_rows, None


def sorted_span_bases(
    source_path: str, spans: "list[tuple[str, int, int]]",
    check_order: bool = True,
) -> "list[int] | None":
    """Per-span base doc ids for the sorted fused pass, or None.

    When the source is globally ordered by ``(conv_id, turn_idx)``, the
    dense ``doc_id`` — the global key rank — is simply the global row
    index: each span's base is the prefix row count from the footers, and
    a task's local rank within its sorted span completes the id. Cost: the
    same footer walk ``plan_spans`` already paid (no column read, no Spark
    job).

    ``check_order`` is a *precheck* for a source used as-is: the footer
    ``conv_id`` min/max stats must show group-granular order
    (``max_conv(g) <= min_conv(g+1)`` across the whole file sequence),
    else None. Equality across a boundary is allowed — a conversation may
    straddle row groups. The authority is the post-pass boundary check
    (last key of span i < first key of span i+1, see
    ``span_key_overlap``) together with each task's local sort.
    The build's own re-sorted copy skips the precheck: it is sorted by
    construction.
    """
    group_rows, unsorted = footer_conv_walk(
        _source_files(source_path), check_order
    )
    if unsorted is not None:
        return None
    bases, acc = [], 0
    for path, lo, hi in spans:
        bases.append(acc)
        acc += sum(group_rows[(path, g)] for g in range(lo, hi))
    return bases


def _wipe_dir(wfs, path: str) -> None:
    """Remove every file directly under ``path`` through the WriteFS
    adapter (the outputs of a rejected as-is pass; subdirectories are
    left — the fused pass writes flat dirs only)."""
    from .fswrite import LOCAL

    _wfs = wfs or LOCAL
    for n in _wfs.listdir(path):
        try:
            _wfs.remove(os.path.join(path, n))
        except (IsADirectoryError, PermissionError, OSError):
            pass


def span_key_overlap(mans: "list[dict]") -> "tuple | None":
    """Post-pass authority for the sorted fused pass: None when every
    committed span manifest carries its sorted span's first/last
    (conv_id, turn_idx) keys and consecutive spans' key ranges are disjoint
    and ascending (the global ranking is then exact), else the first span
    key that breaks this. Empty spans (no rows) are skipped; a non-empty
    manifest without boundary keys (a resumed chunk of an older build)
    fails with ``(None, None)``, since the boundaries next to it would
    otherwise go unchecked (ADVICE r5 #1). On a source sorted by
    construction the only possible failure is a key repeated across a span
    boundary."""
    if any(m.get("rows", 0) > 0 and m.get("first_conv") is None for m in mans):
        return (None, None)
    keyed = sorted(
        (m for m in mans if m.get("first_conv") is not None),
        key=lambda m: m["partition_id"],
    )
    prev = None
    for m in keyed:
        first = (m["first_conv"], m["first_turn"])
        if prev is not None and first <= prev:
            return first
        prev = (m["last_conv"], m["last_turn"])
    return None


def _pin_worklist(chunks_dir: str, names: "list[str]", resume: bool,
                  wfs=None) -> bool:
    """Pin the span work list under the chunks dir; returns the
    effective resume flag (False wipes stale outputs — manifests from a
    different layout cannot be trusted as span indices). All I/O goes
    through ``wfs`` so the worklist and the wiped files live on the SAME
    store the tasks write to."""
    from .fswrite import LOCAL

    _wfs = wfs or LOCAL
    _wfs.makedirs(chunks_dir)
    flist_path = os.path.join(chunks_dir, "_filelist.json")
    if resume:
        if _wfs.exists(flist_path):
            if _wfs.read_json(flist_path) != names:
                resume = False
        else:
            resume = False
    if not resume:
        for n in _wfs.listdir(chunks_dir):
            if n.startswith("part-"):
                _wfs.remove(os.path.join(chunks_dir, n))
    _wfs.write_json(names, flist_path)
    return resume


def build_segments(
    spark: SparkSession,
    index_dir: str,
    spans: "list[tuple[str, int, int]]",
    span_bases: "list[int]",
    *,
    n_buckets: int,
    n_salts: int,
    resume: bool = True,
    store_positions: bool = False,
    filesystem=None,
) -> DataFrame:
    """Fused segment build — ONE corpus pass writes docs store + SPIMI chunk.

    The Lucene-segment shape: every task owns one source span and flushes a
    complete mini-segment — the stored-fields file (``docs/part-N.parquet``,
    written by Arrow C++, which handles string-heavy parquet several times
    faster than the JVM writer) and the postings chunk — then commits via
    its manifest (written last, so a crash leaves only complete segments).

    The source is sorted by ``(conv_id, turn_idx)``, so ``doc_id =
    span_bases[i] + local (conv, turn) rank`` (``sorted_span_bases``): no
    conversation-offset table, no shuffle, and one long per span on the
    driver. Each task sorts its span, raises on a duplicated key (naming
    it) and records its first/last keys in the manifest for the driver's
    global disjointness check (``span_key_overlap``).
    """
    paths = IndexPaths(index_dir)
    names = [f"{os.path.basename(p)}:{lo}-{hi}" for p, lo, hi in spans]
    resume = _pin_worklist(paths.chunks, names, resume, wfs=filesystem)
    done = completed_partitions(paths.chunks, wfs=filesystem) if resume else set()
    from .fswrite import LOCAL

    wfs = filesystem or LOCAL
    # the docs dir must hold EXACTLY one part file per span: anything else
    # (a shrunk source, a changed span_mb, a pass over a different source)
    # is stale and would serve duplicate rows that disagree with the
    # manifest-derived n_docs/avgdl (ADVICE round 2). Listed/removed
    # through WriteFS so a filesystem= deployment cleans the store the
    # tasks actually wrote to (round-3 ADVICE).
    expected = {f"part-{i:05d}.parquet" for i in range(len(spans))}
    for n in wfs.listdir(paths.docs):
        if n not in expected:
            try:
                wfs.remove(os.path.join(paths.docs, n))
            except (IsADirectoryError, PermissionError, OSError):
                pass  # subdirectory or non-file entry — not stale docs data
    todo = [
        (i, p, lo, hi, span_bases[i])
        for i, (p, lo, hi) in enumerate(spans)
        if i not in done
    ]
    if not todo:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    wfs.makedirs(paths.docs)
    chunks_dir, docs_dir = paths.chunks, paths.docs

    def kern(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        # one compute thread per task — concurrent tasks × a default
        # all-cores Arrow pool thrash (measured 8× kernel-time inflation)
        pa.set_cpu_count(1)
        pa.set_io_thread_count(2)
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                t0 = time.time()
                part_id = int(r.part_id)
                pf = pq.ParquetFile(r.path)
                tbl = pf.read_row_groups(list(range(int(r.lo), int(r.hi))))
                conv = tbl.column("conv_id").to_pandas().to_numpy()
                turn = tbl.column("turn_idx").to_numpy().astype(np.int64)
                codes = pd.factorize(conv, sort=True)[0]
                order = np.lexsort((turn, codes))
                c_s, t_s = codes[order], turn[order]
                dup = np.flatnonzero((c_s[1:] == c_s[:-1]) & (t_s[1:] == t_s[:-1]))
                if dup.size:
                    i = order[dup[0]]
                    raise ValueError(
                        f"{_DUP_KEY} ({str(conv[i])!r}, {int(turn[i])})"
                    )
                doc_ids = int(r.base) + np.arange(len(order), dtype=np.int64)
                span_keys = None
                if len(order):
                    span_keys = (
                        str(conv[order[0]]), int(t_s[0]),
                        str(conv[order[-1]]), int(t_s[-1]),
                    )
                tbl = tbl.take(order)
                rows, n_terms, dls = _spimi_rows_for_texts(
                    part_id, doc_ids, tbl.column("text"),
                    store_positions=store_positions,
                )
                cols = {
                    "doc_id": pa.array(doc_ids, pa.int64()),
                    "conv_id": tbl.column("conv_id"),
                    "turn_idx": tbl.column("turn_idx"),
                    "role": tbl.column("role"),
                    "text": tbl.column("text"),
                    "tool": tbl.column("tool"),
                    "ts": tbl.column("ts"),
                    "dl": pa.array(dls.astype(np.int32), pa.int32()),
                }
                # schema evolution: appended source columns ride along
                # unchanged (reference contract: new columns appended only)
                for name in tbl.schema.names:
                    if name not in cols:
                        cols[name] = tbl.column(name)
                docs_tbl = pa.table(cols)
                dpath = os.path.join(docs_dir, f"part-{part_id:05d}.parquet")
                wfs.write_table(docs_tbl, dpath, compression="snappy")
                # chunk then manifest LAST — the docs file above is only
                # trusted once this manifest lands (fswrite commit order)
                yield _write_chunk(
                    chunks_dir, "", part_id, rows, len(doc_ids), n_terms,
                    t0, sum_dl=int(dls.sum()), wfs=wfs, n_buckets=n_buckets,
                    n_salts=n_salts, span_keys=span_keys,
                )

    rdd = spark.sparkContext.parallelize(todo, _packed_partitions(len(todo)))
    flist = spark.createDataFrame(
        rdd, "part_id int, path string, lo int, hi int, base long"
    )
    return flist.mapInPandas(kern, schema=MANIFEST_SCHEMA)


def _read_chunks(spark: SparkSession, chunks_dir: str, glob: str) -> DataFrame:
    """Chunk reader tolerant of an all-empty corpus (no token → no chunk
    files): returns an empty, correctly-typed relation instead of a
    path-not-found error."""
    import glob as globmod

    if not globmod.glob(os.path.join(chunks_dir, glob)):
        return spark.createDataFrame([], CHUNK_SCHEMA)
    # mergeSchema: a resumed dir may mix layout generations (chunks with
    # and without the bucket/sub/salt columns) — the shuffle merge
    # recomputes its own keys, so the union schema is always safe
    return spark.read.option("mergeSchema", "true").parquet(
        os.path.join(chunks_dir, glob)
    )


def build_term_stats(
    spark: SparkSession, chunks_dir: str, n_buckets: int, glob: str = "part-*.parquet"
) -> DataFrame:
    """terms(term, df, cf, bucket) from chunk rows (map-side combined sums)."""
    from .bucketing import bucket_expr

    chunks = _read_chunks(spark, chunks_dir, glob)
    return chunks.groupBy("term").agg(
        F.sum("n_docs").cast("long").alias("df"), F.sum("cf").alias("cf")
    ).withColumn("bucket", bucket_expr("term", n_buckets))


# chunk-term row budget for the driver-side terms aggregation: the chunk
# manifests record n_terms per chunk, so the decision costs nothing. At or
# below the budget the (term, n_docs, cf) columns are read with pyarrow and
# aggregated in pandas — no Spark job, no ~2 s fixed floor; above it the
# distributed groupBy runs (the 10^12-doc regime, where the vocabulary ×
# chunk-count product no longer fits one machine).
DRIVER_TERMS_ROWS = int(os.environ.get("SPARK_GRAFT_DRIVER_TERMS_ROWS", 30_000_000))


def build_term_stats_driver(
    chunks_dir: str, n_buckets: int, wfs=None
) -> "pd.DataFrame | None":
    """terms(term, df, cf, bucket) aggregated driver-side with pyarrow, or
    None when the chunk-term row count (from the manifests) exceeds
    DRIVER_TERMS_ROWS — or when manifests are ABSENT for existing chunk
    files (the budget can't be priced, so never aggregate unboundedly on
    the driver; round-3 ADVICE). File listing and manifest reads resolve
    through ``wfs`` so object-store deployments price and read the store
    the tasks wrote to. Output is identical to ``build_term_stats`` —
    per-term integer sums are order-independent."""
    import fnmatch

    import pyarrow.dataset as ds

    from .fswrite import LOCAL

    _wfs = wfs or LOCAL
    mans = read_manifests(chunks_dir, wfs=_wfs)
    if mans and sum(m.get("n_terms", 0) for m in mans) > DRIVER_TERMS_ROWS:
        return None
    files = sorted(
        os.path.join(chunks_dir, n)
        for n in _wfs.listdir(chunks_dir)
        if fnmatch.fnmatch(n, "part-*.parquet")
    )
    if not files:
        return pd.DataFrame(
            {"term": pd.Series([], dtype=object), "df": pd.Series([], dtype=np.int64),
             "cf": pd.Series([], dtype=np.int64), "bucket": pd.Series([], dtype=np.int32)}
        )
    if not mans:
        return None
    tbl = ds.dataset(files, filesystem=_wfs.fs).to_table(
        columns=["term", "n_docs", "cf"]
    )
    pdf = tbl.to_pandas()
    agg = (
        pdf.groupby("term", sort=True)
        .agg(df=("n_docs", "sum"), cf=("cf", "sum"))
        .reset_index()
    )
    from .bucketing import bucket_of

    agg["df"] = agg["df"].astype(np.int64)
    agg["cf"] = agg["cf"].astype(np.int64)
    agg["bucket"] = np.fromiter(
        (bucket_of(t, n_buckets) for t in agg["term"]),
        dtype=np.int32,
        count=len(agg),
    )
    return agg


def write_stats_driver(
    out_dir: str, n_docs: int, avgdl: float, total_tokens: int
) -> None:
    """Write the one-row corpus-stats table directly with pyarrow
    (tmp→rename). The former one-row ``spark.createDataFrame(...).write``
    cost a full Spark job (~0.4–0.9 s fixed floor per build at bench
    scale); the relation served to readers is identical."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "part-00000.parquet")
    tmp = path + f".tmp-{os.getpid()}"
    pq.write_table(
        pa.table(
            {
                "n_docs": pa.array([int(n_docs)], pa.int64()),
                "avgdl": pa.array([float(avgdl)], pa.float64()),
                "total_tokens": pa.array([int(total_tokens)], pa.int64()),
            }
        ),
        tmp,
        compression="zstd",
    )
    os.replace(tmp, path)
    # drop any other data file from a previous layout of this dir
    for n in os.listdir(out_dir):
        full = os.path.join(out_dir, n)
        if n.endswith(".parquet") and n != "part-00000.parquet":
            try:
                os.remove(full)
            except OSError:
                pass


def append_metrics_driver(
    metrics_dir: str, rows: "list[tuple[str, str, float]]"
) -> None:
    """Append metric rows as ONE pyarrow file with a unique name — the
    driver-side spelling of ``df.write.mode("append")`` for the tiny
    metrics table; ts is TIMESTAMP(MICROS, UTC) — the one parquet flavor
    both Spark and pyarrow read back without complaint). Dataset readers
    union all files, so mixed Spark/pyarrow-written dirs read identically."""
    import time as _time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(metrics_dir, exist_ok=True)
    now = np.datetime64(int(_time.time() * 1_000_000), "us")
    tbl = pa.table(
        {
            "stage": pa.array([r[0] for r in rows], pa.string()),
            "key": pa.array([r[1] for r in rows], pa.string()),
            "value": pa.array([float(r[2]) for r in rows], pa.float64()),
            "ts": pa.array(np.full(len(rows), now), pa.timestamp("us", tz="UTC")),
        }
    )
    path = os.path.join(metrics_dir, f"part-{uuid.uuid4().hex}.parquet")
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp, compression="zstd")
    os.replace(tmp, path)


def write_terms_driver(terms_pdf: "pd.DataFrame", out_dir: str) -> None:
    """Write a driver-aggregated terms table as one parquet file (tmp→rename;
    same relation ``spark.read.parquet`` serves as the Spark-written one)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "part-00000.parquet")
    tmp = path + f".tmp-{os.getpid()}"
    schema = pa.schema(
        [("term", pa.string()), ("df", pa.int64()),
         ("cf", pa.int64()), ("bucket", pa.int32())]
    )
    pq.write_table(
        pa.Table.from_pandas(terms_pdf, schema=schema, preserve_index=False),
        tmp, compression="zstd",
    )
    os.replace(tmp, path)


def write_postings_driver(
    rows: dict, avgdl: float, n_buckets: int, out_dir: str,
    store_positions: bool = False,
) -> int:
    """Encode and write the postings of ONE doc-ordered SPIMI chunk (the
    rows ``_spimi_rows_for_texts`` returns: term-sorted, one row per term)
    driver-side: one ``_blocks_from_sorted`` pass over every term, then one
    term-sorted file per bucket (``bucket=K/part-00000.parquet``) — the
    layout ``force_merge_postings`` writes, which every reader serves. The
    CDC driver apply's delta writer. ``out_dir`` is wiped first, so no part
    file of an earlier attempt survives; returns the block count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .bucketing import bucket_of

    shutil.rmtree(out_dir, ignore_errors=True)
    terms = np.asarray(rows["term"], dtype=object)
    if not len(terms):
        return 0
    n_docs = np.asarray(rows["n_docs"], dtype=np.int64)
    blocks = _blocks_from_sorted(
        terms, n_docs, b"".join(rows["doc_ids"]), b"".join(rows["tfs"]),
        b"".join(rows["dls"]),
        b"".join(rows["pos"]) if store_positions else None,
        avgdl, 0, 0, store_positions,
    )
    term_bucket = np.fromiter(
        (bucket_of(t, n_buckets) for t in terms), np.int32, len(terms)
    )
    blk_bucket = np.repeat(term_bucket, -(-n_docs // BLOCK_SIZE))
    order = np.argsort(blk_bucket, kind="stable")  # term order per bucket
    tbl = pa.table({k: v for k, v in blocks.items() if k != "bucket"})
    tbl = tbl.take(order)
    lo = 0
    for b, n in enumerate(np.bincount(blk_bucket, minlength=n_buckets)):
        if n:
            d = os.path.join(out_dir, f"bucket={b}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(
                tbl.slice(lo, n), os.path.join(d, "part-00000.parquet"),
                compression=POSTINGS_COMPRESSION,
                row_group_size=2048,  # force_merge_postings' row groups
            )
        lo += n
    return tbl.num_rows


# Postings parquet: the varbyte columns ARE the compression (delta-gap +
# base-128 — Lucene ships .doc/.pos files with no general-purpose codec on
# top for the same reason); zstd over them costs 2-3× the scan time at query
# time for ~25% size. Metadata columns stay zstd.
POSTINGS_COMPRESSION = {
    **{c: "NONE" for c in ("doc_ids", "tfs", "dls", "pos")},
    **{
        c: "ZSTD"
        for c in (
            "term", "salt", "block_id", "min_doc", "max_doc", "n_docs",
            "block_max_score", "max_tf", "min_dl",
        )
    },
}


_EMPTY_BLOCK_ROWS = {
    "term": [], "bucket": [], "salt": [], "block_id": [],
    "min_doc": [], "max_doc": [], "n_docs": [],
    "doc_ids": [], "tfs": [], "dls": [],
    "block_max_score": [], "max_tf": [], "min_dl": [], "pos": [],
}


def _merge_group(
    pdf: pd.DataFrame, avgdl: float, bucket: int, salt: int,
    store_positions: bool = False,
) -> dict:
    """Merge one (bucket, sub, salt) group's chunk rows into doc-ordered
    128-posting blocks — pandas spelling (the shuffle/delta path). Sorts
    the frame, then hands column bytes to ``_blocks_from_sorted``."""
    if len(pdf) == 0:
        return dict(_EMPTY_BLOCK_ROWS)
    pdf = pdf.sort_values(["term", "min_doc"], kind="stable")
    return _blocks_from_sorted(
        pdf["term"].to_numpy(),
        pdf["n_docs"].to_numpy(dtype=np.int64),
        b"".join(pdf["doc_ids"]),
        b"".join(pdf["tfs"]),
        b"".join(pdf["dls"]),
        b"".join(pdf["pos"]) if store_positions else None,
        avgdl, bucket, salt, store_positions,
    )


def _merge_group_arrow(
    tbl, avgdl: float, bucket: int, salt: int,
    store_positions: bool = False,
) -> dict:
    """Arrow spelling of ``_merge_group`` — the zero-shuffle merge path:
    the task read its group's chunk rows itself (pyarrow, row-group
    pruned), so the column bytes go straight from the Arrow buffers into
    the batched varbyte decode with no per-row Python bytes objects (the
    Arrow→pandas materialization was ~40% of the old merge stage)."""
    from .codec import arrow_binary_bytes

    if tbl.num_rows == 0:
        return dict(_EMPTY_BLOCK_ROWS)
    tbl = tbl.sort_by([("term", "ascending"), ("min_doc", "ascending")])
    return _blocks_from_sorted(
        np.asarray(tbl.column("term").to_pylist(), dtype=object),
        tbl.column("n_docs").to_numpy().astype(np.int64),
        arrow_binary_bytes(tbl.column("doc_ids")),
        arrow_binary_bytes(tbl.column("tfs")),
        arrow_binary_bytes(tbl.column("dls")),
        arrow_binary_bytes(tbl.column("pos")) if store_positions else None,
        avgdl, bucket, salt, store_positions,
    )


def _blocks_from_sorted(
    terms: np.ndarray, n_per_chunk: np.ndarray,
    doc_buf, tf_buf, dl_buf, pos_buf,
    avgdl: float, bucket: int, salt: int, store_positions: bool,
) -> dict:
    """The compaction-merge core over (term, min_doc)-sorted chunk rows.
    Fully vectorized across the whole group: chunks are decoded with
    ONE varbyte pass (segmented cumsum restores absolute doc ids), per-term
    doc order comes from one lexsort, and every block of every term is
    encoded with ONE segmented varbyte pass per column. With
    ``store_positions`` the per-posting occurrence positions ride along:
    decoded flat, permuted by the same posting order via a vectorized
    gather, re-encoded per block (the Lucene .pos analog — kept in its own
    parquet column so every non-phrase query prunes it away for free).
    Buffers may be ``bytes`` or uint8 views (``vb_decode`` takes both)."""

    from .codec import (
        encode_doc_id_segments,
        encode_positions_segments,
        vb_decode,
        vb_encode_segments,
    )

    n_rows = len(terms)
    chunk_bounds = np.zeros(n_rows + 1, dtype=np.int64)
    chunk_bounds[1:] = np.cumsum(n_per_chunk)
    n = int(chunk_bounds[-1])

    # batched decode: gaps of all chunks in one pass, then segmented
    # cumsum (each chunk's first gap is its absolute doc id)
    gaps = vb_decode(doc_buf)
    total = np.cumsum(gaps)
    corrections = np.zeros(n_rows, dtype=np.int64)
    corrections[1:] = total[chunk_bounds[1:-1] - 1]
    ids = total - np.repeat(corrections, n_per_chunk)
    tfs = vb_decode(tf_buf)
    dls = vb_decode(dl_buf)

    # per-term doc order (chunk doc-ranges interleave across partitions)
    tchange = np.concatenate(([True], terms[1:] != terms[:-1]))
    term_gid = np.repeat(np.cumsum(tchange) - 1, n_per_chunk)
    order = np.lexsort((ids, term_gid))

    if store_positions:
        # positions, flat and aligned with the PRE-permutation postings:
        # decode gaps, restore absolutes with per-posting cumsum resets
        pgaps = vb_decode(pos_buf)
        ptotal = np.cumsum(pgaps)
        pb = np.cumsum(tfs)  # posting ends in flat position space
        pcorr = np.zeros(n, dtype=np.int64)
        pcorr[1:] = ptotal[pb[:-1] - 1]
        pos_abs = ptotal - np.repeat(pcorr, tfs)
        # permute posting GROUPS by `order` (variable-length gather)
        off_in = pb - tfs
        lens_out = tfs[order]
        m = int(lens_out.sum())
        out_start = np.cumsum(lens_out) - lens_out
        gather = (
            np.repeat(off_in[order], lens_out)
            + np.arange(m, dtype=np.int64)
            - np.repeat(out_start, lens_out)
        )
        pos_perm = pos_abs[gather]
        posting_bounds_out = np.append(out_start, m)

    ids, tfs, dls = ids[order], tfs[order], dls[order]

    # value-index bounds per term, then per-128 block bounds per term
    term_first_chunk = np.flatnonzero(tchange)
    term_bounds = chunk_bounds[np.append(term_first_chunk, n_rows)]
    term_names = terms[term_first_chunk]
    starts_list = [
        np.arange(term_bounds[i], term_bounds[i + 1], BLOCK_SIZE)
        for i in range(len(term_names))
    ]
    blk_starts = np.concatenate(starts_list)
    bounds = np.append(blk_starts, n)
    blk_ends = bounds[1:]
    blocks_per_term = np.array([len(s) for s in starts_list])

    contrib = tfs / (tfs + K1 * (1.0 - B + B * dls / avgdl))
    out = {
        "term": np.repeat(term_names, blocks_per_term),
        "bucket": np.full(len(blk_starts), bucket, dtype=np.int32),
        "salt": np.full(len(blk_starts), salt, dtype=np.int32),
        "block_id": np.concatenate(
            [np.arange(k, dtype=np.int32) for k in blocks_per_term]
        ),
        "min_doc": ids[blk_starts],
        "max_doc": ids[blk_ends - 1],
        "n_docs": (blk_ends - blk_starts).astype(np.int32),
        "doc_ids": encode_doc_id_segments(ids, bounds),
        "tfs": vb_encode_segments(tfs, bounds),
        "dls": vb_encode_segments(dls, bounds),
        # exact bound at build-time avgdl (diagnostics/tests); the query
        # path recomputes a drift-safe bound from (max_tf, min_dl)
        "block_max_score": np.maximum.reduceat(contrib, blk_starts),
        "max_tf": np.maximum.reduceat(tfs, blk_starts).astype(np.int32),
        "min_dl": np.minimum.reduceat(dls, blk_starts).astype(np.int32),
    }
    if store_positions:
        out["pos"] = encode_positions_segments(
            pos_perm, posting_bounds_out, posting_bounds_out[bounds]
        )
    else:
        out["pos"] = [b""] * len(blk_starts)
    return out


def _postings_writer(avgdl: float, out_dir: str, store_positions: bool = False,
                     wfs=None):
    """applyInPandas kernel wrapper around ``_merge_group`` that writes its
    group's block file DIRECTLY (pyarrow, tmp→rename into the hive layout
    ``bucket=K/part-<sub>-<salt>.parquet``) and returns one manifest row —
    the snapshot-build path. This keeps the block table out of the
    Python→JVM Arrow hop and out of the JVM parquet writer + serial job
    commit (measured ~25% of the merge stage), the same direct-write shape
    as the fused segment pass. The caller wipes ``out_dir`` first;
    deterministic names make retries overwrite in place."""

    from .fswrite import LOCAL

    _wfs = wfs or LOCAL

    def write_group(key, pdf):
        import pyarrow as pa

        pa.set_cpu_count(1)
        t0 = time.time()
        bucket, sub, salt = int(key[0]), int(key[1]), int(key[2])
        out = _merge_group(pdf, avgdl, bucket, salt, store_positions)
        n_blocks = len(out["term"])
        if n_blocks:
            cols = {k: v for k, v in out.items() if k != "bucket"}
            d = os.path.join(out_dir, f"bucket={bucket}")
            _wfs.makedirs(d)
            path = os.path.join(d, f"part-{sub:03d}-{salt:03d}.parquet")
            _wfs.write_table(pa.table(cols), path, compression=POSTINGS_COMPRESSION)
        return pd.DataFrame(
            [{
                "bucket": bucket, "sub": sub, "salt": salt,
                "n_blocks": n_blocks,
                "wall_ms": int((time.time() - t0) * 1000),
            }]
        )

    return write_group


def _salted_chunks(
    spark: SparkSession,
    chunks_dir: str,
    terms: DataFrame,
    n_buckets: int,
    n_salts: int,
    heavy_df_threshold: int,
    glob: str,
) -> DataFrame:
    """Chunk rows + (bucket, sub, salt) merge-group keys. Heavy terms
    (df > threshold) split into ``n_salts`` sub-streams by
    ``xxhash64(min_doc)`` so no single merge group holds a stop-word's whole
    posting list; each doc is in exactly one sub-stream, so query-time BM25
    sums are unaffected (streams of one term just add)."""
    from .bucketing import bucket_expr

    chunks = _read_chunks(spark, chunks_dir, glob)
    heavy = terms.where(F.col("df") > heavy_df_threshold).select(
        "term", F.lit(True).alias("is_heavy")
    )
    return (
        chunks.join(F.broadcast(heavy), "term", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("is_heavy"),
                F.pmod(F.xxhash64("min_doc"), F.lit(n_salts)).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("is_heavy")
        .withColumn("bucket", bucket_expr("term", n_buckets))
        # sub-split within a bucket (a term maps to exactly one sub) so merge
        # parallelism is n_buckets × MERGE_SUBSPLIT, independent of the
        # bucket count chosen for query pruning
        .withColumn("sub", F.pmod(F.xxhash64("term"), F.lit(MERGE_SUBSPLIT)))
    )



# Worker-global chunk-reader cache for the zero-shuffle merge: every merge
# task reads from (almost) every chunk file, so parsing each file's footer
# per task is the dominant fixed cost (measured ~2 ms x 118 files x 257
# tasks). Python workers are reused across tasks, so the parsed
# ParquetFile handles + per-row-group (bucket, sub, salt) stats live for
# the whole stage and each task prunes row groups with one numpy compare.
# Keyed by one id per merge call, never by file names: a rewritten chunk
# file keeps its name (a CDC segment retried with another batch, a rebuild
# in place), and a name key would hand the retry the old file's handle.
# Bounded: the cache clears itself past 4 entries. At 10^5+ chunk files per
# segment the cache should hold parsed metadata rather than open handles -
# the merge then runs per segment group, which bounds the list (SCALE.md).
_MERGE_READER_CACHE: dict = {}


def _chunk_readers(files: "list[str]", merge_id: str, fs=None):
    import pyarrow.parquet as pq

    got = _MERGE_READER_CACHE.get(merge_id)
    if got is not None:
        return got
    out = []
    for f in files:
        pf = pq.ParquetFile(fs.open_input_file(f) if fs is not None else f)
        md = pf.metadata
        nb = md.num_row_groups
        stats = np.empty((nb, 6), dtype=np.int64)
        if nb:
            idx = {
                md.row_group(0).column(j).path_in_schema: j
                for j in range(md.num_columns)
            }
            for i in range(nb):
                rg = md.row_group(i)
                for c, col in enumerate(("bucket", "sub", "salt")):
                    st = rg.column(idx[col]).statistics
                    if st is None or not st.has_min_max:
                        # stats absent (e.g. an empty-partition chunk):
                        # unbounded range → never pruned, the row mask
                        # stays exact
                        stats[i, 2 * c] = -(1 << 62)
                        stats[i, 2 * c + 1] = 1 << 62
                    else:
                        stats[i, 2 * c] = int(st.min)
                        stats[i, 2 * c + 1] = int(st.max)
        out.append((pf, stats))
    if len(_MERGE_READER_CACHE) >= 4:
        _MERGE_READER_CACHE.clear()
    _MERGE_READER_CACHE[merge_id] = out
    return out


def _read_merge_group(
    readers, cols: "list[str]", b: int,
    sub_lo: int = 0, sub_hi: "int | None" = None,
    own_salts: "list[int] | None" = None,
    heavy: "list[str] | None" = None,
    heavy_only: bool = False,
):
    """One merge task's chunk rows: row groups pruned via the cached
    (bucket, sub[, salt]) stats, then an exact row-level mask.
    ``[sub_lo, sub_hi]`` is an inclusive CONTIGUOUS sub range (the chunk
    sort makes it one span per file — coarse ranges keep per-file
    row-group read amplification low and the kernel slices single subs in
    memory). Returns an Arrow table with ``cols`` (+ ``sub`` when the
    range spans more than one sub)."""
    import pyarrow as pa

    if sub_hi is None:
        sub_hi = MERGE_SUBSPLIT - 1
    out_cols = cols + ["sub"] if sub_hi > sub_lo else cols
    read_cols = list(dict.fromkeys(cols + ["bucket", "sub", "salt"]))
    parts = []
    for pf, stats in readers:
        if stats.shape[0] == 0:
            continue
        keep = (stats[:, 0] <= b) & (stats[:, 1] >= b)
        keep &= (stats[:, 2] <= sub_hi) & (stats[:, 3] >= sub_lo)
        if heavy_only and own_salts is not None:
            sel = np.zeros(stats.shape[0], dtype=bool)
            for c in own_salts:
                sel |= (stats[:, 4] <= c) & (stats[:, 5] >= c)
            keep &= sel
        rgs = np.flatnonzero(keep)
        if rgs.size == 0:
            continue
        parts.append(
            pf.read_row_groups(list(rgs), columns=read_cols, use_threads=False)
        )
    if not parts:
        return pa.table({c: [] for c in out_cols})
    tbl = pa.concat_tables(parts, promote_options="permissive")
    bk = tbl.column("bucket").to_numpy()
    sb = tbl.column("sub").to_numpy()
    mask = (bk == b) & (sb >= sub_lo) & (sb <= sub_hi)
    if heavy is not None and own_salts is not None:
        sl = tbl.column("salt").to_numpy()
        in_salt = np.isin(sl, own_salts)
        t_in = np.isin(
            np.asarray(tbl.column("term").to_pylist(), dtype=object),
            np.asarray(heavy, dtype=object),
        )
        if heavy_only:
            mask &= t_in & in_salt
        else:
            mask &= ~t_in | in_salt
    return tbl.filter(mask).select(out_cols)


def _build_postings_direct_shuffle(
    spark: SparkSession,
    chunks_dir: str,
    terms: DataFrame,
    avgdl: float,
    n_buckets: int,
    out_dir: str,
    n_salts: int = 8,
    heavy_df_threshold: int = 10_000,
    glob: str = "part-*.parquet",
    store_positions: bool = False,
    filesystem=None,
) -> int:
    """Legacy salted compaction merge THROUGH a shuffle (kept as the
    fallback for chunk files without the (bucket, sub) sorted layout):
    each merge task writes its group's block file into the hive layout
    itself and returns a manifest row. Returns total blocks."""
    salted = _salted_chunks(
        spark, chunks_dir, terms, n_buckets, n_salts, heavy_df_threshold, glob
    )
    manifest = salted.groupBy("bucket", "sub", "salt").applyInPandas(
        _postings_writer(
            avgdl, out_dir, store_positions=store_positions, wfs=filesystem
        ),
        schema="bucket int, sub int, salt int, n_blocks long, wall_ms long",
    )
    agg = manifest.agg(F.coalesce(F.sum("n_blocks"), F.lit(0)).alias("nb")).first()
    return int(agg.nb)


def build_postings_direct(
    spark: SparkSession,
    chunks_dir: str,
    terms: DataFrame,
    avgdl: float,
    n_buckets: int,
    out_dir: str,
    n_salts: int = 8,
    heavy_df_threshold: int = 10_000,
    glob: str = "part-*.parquet",
    store_positions: bool = False,
    filesystem=None,
    split_postings: "int | None" = None,
) -> int:
    """ZERO-SHUFFLE salted compaction merge (snapshot build path).

    The corpus-wide shuffle was the build's last scaling bottleneck
    (round-3 What's-wrong #1: the postings stage scaled at 0.69 N→4N, and
    the no-op decomposition showed the shuffle + JVM→Python Arrow hop —
    not the merge kernels — was the 0.63-scaling component). The chunk
    files are now SORTED by (bucket, sub, term) with small row groups
    (``_write_chunk``), so each merge task READS ITS OWN GROUP directly:
    a pyarrow scan with a (bucket, sub[, term, min_doc]) filter prunes to
    the group's contiguous row-group span in every chunk file — the bytes
    go disk → Arrow → numpy decode with no shuffle, no IPC hop, no
    per-row Python objects. On a cluster this is the classic
    "executors read their assigned key range from the shared store"
    pattern (the docs/SPIMI stages already work this way).

    Skew control keeps the salted semantics: every chunk carries a salt
    (round-robin over its partition id — ``bucketing.salt_of_part``), and
    a (bucket, sub) group that contains HEAVY terms (df >
    ``heavy_df_threshold``) fans out into ``n_salts`` tasks, each reading
    the heavy terms' rows only from ITS salt's chunk files (the salt is
    constant per file, so pruning skips whole files); light terms stay
    whole in the salt-0 task. A heavy term appears once per partition, so
    its rows split across salts evenly BY CONSTRUCTION, and each doc is
    in exactly one sub-stream — query-time BM25 sums are unaffected.

    Chunk files WITHOUT the sorted layout (older indexes, resumed builds)
    fall back to the legacy shuffle merge. Returns total blocks."""
    import fnmatch
    import shutil

    import pyarrow.dataset as pads

    from .bucketing import bucket_of, sub_of
    from .fswrite import LOCAL

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    wfs = filesystem or LOCAL
    names = sorted(nm for nm in wfs.listdir(chunks_dir) if fnmatch.fnmatch(nm, glob))
    files = [os.path.join(chunks_dir, nm) for nm in names]
    if not files:
        return 0
    prefix = glob.split("part-")[0]
    mans = read_manifests(chunks_dir, prefix, wfs=wfs)
    layout_ok = (
        "salt" in pads.dataset(files[:1], filesystem=wfs.fs).schema.names
        and mans
        and all(
            m.get("n_buckets") == n_buckets
            and m.get("n_subs") == MERGE_SUBSPLIT
            and m.get("n_salts") == n_salts
            for m in mans
        )
    )
    if not layout_ok:
        return _build_postings_direct_shuffle(
            spark, chunks_dir, terms, avgdl, n_buckets, out_dir,
            n_salts=n_salts, heavy_df_threshold=heavy_df_threshold,
            glob=glob, store_positions=store_positions, filesystem=filesystem,
        )

    # split plan: a (bucket, sub) group fans out only when its heavy
    # terms' summed df warrants it — k = ceil(Σdf / SPLIT_POSTINGS) tasks
    # (≤ n_salts), each owning the salt classes {s : s % k == i}. The salt
    # is constant per chunk FILE (part_id % n_salts), so a split task
    # opens ONLY its salts' files — no read amplification, and ~256 + a
    # few tasks total instead of 256 × n_salts.
    heavy_rows = (
        terms.where(F.col("df") > F.lit(heavy_df_threshold))
        .select("term", "df").limit(100_000).collect()
    )
    heavy_by_group: "dict[tuple[int, int], list[str]]" = {}
    heavy_df_sum: "dict[tuple[int, int], int]" = {}
    for r in heavy_rows:
        key = (bucket_of(r.term, n_buckets), sub_of(r.term, MERGE_SUBSPLIT))
        heavy_by_group.setdefault(key, []).append(r.term)
        heavy_df_sum[key] = heavy_df_sum.get(key, 0) + int(r.df)

    tasks = []
    split_at = split_postings or SPLIT_POSTINGS
    split_k: "dict[tuple[int, int], int]" = {}
    for (b, s), tot in heavy_df_sum.items():
        k = min(n_salts, max(1, -(-tot // split_at)))
        if k > 1:
            split_k[(b, s)] = k
    # coarse tasks own CONTIGUOUS sub ranges (low per-file read
    # amplification; subs sliced in-kernel), sized so the task count is
    # ~2× the cluster parallelism — enough slots to balance without
    # multiplying fixed per-task scan cost; dedicated salt tasks own each
    # SPLIT (b, s) group
    par = spark.sparkContext.defaultParallelism
    ranges_per_bucket = min(
        MERGE_SUBSPLIT, max(1, -(-2 * par // n_buckets))
    )
    step = -(-MERGE_SUBSPLIT // ranges_per_bucket)
    for b in range(n_buckets):
        for lo in range(0, MERGE_SUBSPLIT, step):
            hi = min(lo + step - 1, MERGE_SUBSPLIT - 1)
            tasks.append((b, -1 - lo, hi, 1))  # sub-range task marker
        for s in range(MERGE_SUBSPLIT):
            k = split_k.get((b, s))
            if k:
                for i in range(k):
                    tasks.append((b, s, i, k))

    cols = ["term", "min_doc", "max_doc", "n_docs", "doc_ids", "tfs", "dls"]
    if store_positions:
        cols.append("pos")
    _fs = wfs.fs
    merge_id = uuid.uuid4().hex  # the tasks' reader-cache key
    # part_id (→ salt class) straight off the file name: {prefix}part-NNNNN
    import re

    _pat = re.compile(r"part-(\d+)\.parquet$")
    file_salts = [
        int(_pat.search(f).group(1)) % n_salts for f in files
    ]

    def _write_block_file(out, b, s, salt):
        import pyarrow as pa

        n_blocks = len(out["term"])
        if n_blocks:
            out_cols = {kk: v for kk, v in out.items() if kk != "bucket"}
            d = os.path.join(out_dir, f"bucket={b}")
            wfs.makedirs(d)
            wfs.write_table(
                pa.table(out_cols),
                os.path.join(d, f"part-{s:03d}-{salt:03d}.parquet"),
                compression=POSTINGS_COMPRESSION,
            )
        return n_blocks

    def merge_tasks(batches):
        import pyarrow as pa

        pa.set_cpu_count(1)
        pa.set_io_thread_count(2)
        for pdf_t in batches:
            for row in pdf_t.itertuples(index=False):
                t0 = time.time()
                b, s, salt, k = (
                    int(row.bucket), int(row.sub), int(row.salt), int(row.k)
                )
                readers = _chunk_readers(files, merge_id, fs=_fs)
                if s < 0:
                    # sub-range task: one span read, subs sliced in
                    # memory; split (b, sub) groups are owned by their
                    # salt tasks. Encoding: s = -1 - sub_lo, salt = sub_hi.
                    sub_lo, sub_hi = -1 - s, salt
                    btbl = _read_merge_group(
                        readers, cols, b, sub_lo=sub_lo, sub_hi=sub_hi
                    )
                    sub_arr = (
                        btbl.column("sub").to_numpy()
                        if sub_hi > sub_lo
                        else np.full(btbl.num_rows, sub_lo, dtype=np.int32)
                    )
                    for sub in range(sub_lo, sub_hi + 1):
                        if (b, sub) in split_k:
                            continue
                        stbl = btbl.filter(sub_arr == sub)
                        if "sub" in stbl.column_names:
                            stbl = stbl.select(cols)
                        out = _merge_group_arrow(
                            stbl, avgdl, b, 0, store_positions
                        )
                        nb = _write_block_file(out, b, sub, 0)
                        yield pd.DataFrame(
                            [{
                                "bucket": b, "sub": sub, "salt": 0,
                                "n_blocks": nb,
                                "wall_ms": int((time.time() - t0) * 1000),
                            }]
                        )
                    continue
                hv = heavy_by_group[(b, s)]
                own = [c for c in range(n_salts) if c % k == salt]
                if salt == 0:
                    # all light rows + heavy rows of the owned salts
                    tbl = _read_merge_group(
                        readers, cols, b, sub_lo=s, sub_hi=s,
                        own_salts=own, heavy=hv,
                    )
                else:
                    # heavy-only task: only the owned salts' files
                    sub_readers = [
                        r for r, fs_ in zip(readers, file_salts)
                        if fs_ in own
                    ]
                    tbl = _read_merge_group(
                        sub_readers, cols, b, sub_lo=s, sub_hi=s,
                        own_salts=own, heavy=hv, heavy_only=True,
                    )
                out = _merge_group_arrow(tbl, avgdl, b, salt, store_positions)
                nb = _write_block_file(out, b, s, salt)
                yield pd.DataFrame(
                    [{
                        "bucket": b, "sub": s, "salt": salt,
                        "n_blocks": nb,
                        "wall_ms": int((time.time() - t0) * 1000),
                    }]
                )

    # parallelize — deliberately NOT a groupBy shuffle: AQE would coalesce
    # the tiny task table into ONE partition and serialize every merge
    # group (measured 240 s vs 4 s). TASK_PACK groups per partition
    # amortize the per-task floor; contiguous grouping keeps bucket
    # locality for the worker-global reader cache.
    rdd = spark.sparkContext.parallelize(tasks, _packed_partitions(len(tasks)))
    task_df = spark.createDataFrame(rdd, "bucket int, sub int, salt int, k int")
    manifest = task_df.mapInPandas(
        merge_tasks,
        schema="bucket int, sub int, salt int, n_blocks long, wall_ms long",
    )
    # collect the tiny per-task manifest (one row per merge task) and keep
    # the task walls next to the layout: diagnosing a merge-stage scaling
    # residue needs the task histogram (straggler vs substrate), not just
    # the stage wall. Underscore prefix → invisible to pyarrow dataset
    # discovery of the hive layout.
    pdf_m = manifest.toPandas()
    try:
        wfs.write_json(
            {
                "task_wall_ms": [int(x) for x in pdf_m["wall_ms"]],
                "task_keys": [
                    [int(r.bucket), int(r.sub), int(r.salt)]
                    for r in pdf_m.itertuples(index=False)
                ],
            },
            os.path.join(out_dir, "_task_walls.json"),
        )
    except OSError:
        pass  # diagnostics only — never fail the build for them
    return int(pdf_m["n_blocks"].sum()) if len(pdf_m) else 0


def force_merge_postings(
    spark: SparkSession,
    index_dir: str,
    row_group_rows: int = 2048,
    filesystem=None,
) -> dict:
    """Read-optimize the base postings — the Lucene/ES ``force_merge``
    analog (a serving index is force-merged before read-heavy use; the
    reference's ES target does exactly this via POST /_forcemerge).

    The salted compaction merge writes one file per (sub, salt) task — the
    right granularity for build parallelism, the wrong one for query I/O:
    a hot-term fetch pays per-file footer+fragment overhead × 64. This pass
    rewrites each bucket into ONE term-sorted file with ``row_group_rows``
    rows per row group, so a query touches one file per bucket and prunes
    to its terms' row groups via the parquet column stats. Distributed
    (the bucket is the rewrite unit — at 10^12 docs a bucket is one serving
    shard's postings — and each task takes TASK_PACK buckets), task-side
    writes go through ``WriteFS``, and the COMMIT is the atomic meta.json
    swap: readers resolve the base dir through ``meta['postings_dir']``, so
    a crash mid-rewrite leaves the committed layout untouched and a retry
    simply overwrites the staging dir. The old layout is removed only after the
    swap. Returns {buckets, blocks, out_dir, wall_s}."""
    import shutil

    from .fswrite import LOCAL

    t0 = time.time()
    meta = read_index_meta(index_dir)
    cur_rel = meta.get("postings_dir", "postings")
    cur = os.path.join(index_dir, cur_rel)
    if not _has_parquet(cur):
        return {"buckets": 0, "blocks": 0, "out_dir": cur_rel, "wall_s": 0.0}
    version = int(meta.get("postings_fm_version", 0)) + 1
    out_rel = f"postings_fm{version:05d}"
    out_dir = os.path.join(index_dir, out_rel)
    shutil.rmtree(out_dir, ignore_errors=True)  # stale staging from a crash
    wfs = filesystem or LOCAL
    buckets = sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(cur)
        if name.startswith("bucket=")
    )

    def merge_buckets(batches):
        import pyarrow as pa
        import pyarrow.dataset as pds

        pa.set_cpu_count(1)
        for pdf in batches:
            for b in pdf["bucket"]:
                b = int(b)
                tbl = pds.dataset(os.path.join(cur, f"bucket={b}")).to_table()
                tbl = tbl.sort_by([
                    ("term", "ascending"), ("salt", "ascending"),
                    ("min_doc", "ascending"),
                ])
                d = os.path.join(out_dir, f"bucket={b}")
                wfs.makedirs(d)
                wfs.write_table(
                    tbl,
                    os.path.join(d, "part-00000.parquet"),
                    compression=POSTINGS_COMPRESSION,
                    row_group_size=row_group_rows,
                )
                yield pd.DataFrame([{"bucket": b, "n_blocks": tbl.num_rows}])

    # parallelize, not a groupBy: AQE coalesces a shuffle of this tiny
    # bucket table into ONE partition and merges every bucket in one task
    # (the build_postings_direct trap)
    rdd = spark.sparkContext.parallelize(
        [(b,) for b in buckets], _packed_partitions(len(buckets))
    )
    man = (
        spark.createDataFrame(rdd, "bucket int")
        .mapInPandas(merge_buckets, schema="bucket int, n_blocks long")
        .toPandas()
    )
    # commit: atomic meta swap flips every reader to the merged layout
    meta = read_index_meta(index_dir)
    old_rel = meta.get("postings_dir", "postings")
    meta["postings_dir"] = out_rel
    meta["postings_fm_version"] = version
    tmp = os.path.join(index_dir, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(index_dir, "meta.json"))
    shutil.rmtree(os.path.join(index_dir, old_rel), ignore_errors=True)
    return {
        "buckets": len(buckets),
        "blocks": int(man["n_blocks"].sum()),
        "out_dir": out_rel,
        "wall_s": time.time() - t0,
    }


def _plan_build_spans(
    source_path: str, span_mb: int, par: int, n_partitions: int
) -> "list[tuple[str, int, int]]":
    """The fused pass's span list. ``span_mb`` is an UPPER bound (guide
    §2.2/§6: derive the partitioning from input size AND available
    parallelism, never a fixed constant): below ~12 spans per core the
    plan is re-cut finer — smaller fused tasks keep their tokenize/encode
    working set cache-resident (measured 1.5× on the SPIMI stage at
    local[32]) and the task tail packs better — and below
    ``n_partitions`` spans it falls to row-group granularity. Row groups
    stay the atomic unit, so a source with huge row groups keeps coarse
    spans."""
    spans = plan_spans(source_path, span_mb)
    for cand in (2, 1):
        if len(spans) >= 12 * par or cand >= span_mb:
            break
        finer = plan_spans(source_path, cand)
        if len(finer) > len(spans):
            spans = finer
    if len(spans) < n_partitions:
        finest = plan_spans(source_path, 0)
        if len(finest) > len(spans):
            spans = finest
    return spans


def _range_sort(transcripts: DataFrame, out: str, n_partitions: int) -> None:
    """Write ``transcripts`` sorted by (conv_id, turn_idx) as ``n_partitions``
    files — one range exchange, then a local sort, so lexical file order is
    key order and a conversation never spans two files. Snappy (a
    transient full corpus copy: compression CPU would dominate) with 4 MB
    row groups, so the span planner cuts cache-resident fused tasks."""
    (
        transcripts.repartitionByRange(n_partitions, "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite")
        .option("compression", "snappy")
        .option("parquet.block.size", str(4 << 20))
        .parquet(out)
    )


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    n_partitions: int = 32,
    n_buckets: int = 16,
    n_salts: int = 8,
    heavy_df_threshold: int = 10_000,
    resume: bool = True,
    input_split_mb: "int | None" = None,
    source_path: "str | None" = None,
    span_mb: int = 8,
    store_positions: bool = False,
    filesystem=None,
    split_postings: "int | None" = None,
) -> dict:
    """Full snapshot build (reference entry point 1, SURVEY.md §3.1).

    One physical path: the sorted fused pass (``build_segments``) — each
    task reads one span of a (conv_id, turn_idx)-sorted source and flushes
    a complete mini-segment (docs file + SPIMI chunk), Lucene segment-flush
    style; corpus stats come from the manifests — then the terms stage and
    the zero-shuffle postings merge.

    The source at ``source_path`` is used as-is when it plans at least
    ``max(n_partitions // 2, min(cores, n_partitions))`` spans and its
    footers prove conv order (``sorted_span_bases``). Otherwise
    ``transcripts`` is range-sorted once into ``<index_dir>/_sorted_src``
    (``n_partitions`` files) and the same pass runs over that copy. The
    summary's ``resort_reason`` (also a ``("resort", reason, 1.0)`` metrics
    row) says why: ``"no source_path"``, ``"too few spans"``, ``"footer
    conv order"``, or ``"span key ranges overlap"`` — the as-is pass ran
    but its span boundary keys overlap, so its outputs are wiped and the
    build re-sorts and retries, once. It is None when the source was used
    as-is. A duplicated (conv_id, turn_idx) key raises ``ValueError``
    naming the key. With ``resume`` a committed copy (``_SUCCESS``) is
    reused, so the span list and the manifests of a crashed run stay
    valid; the copy is removed once ``meta.json`` is written.

    ``filesystem`` (an ``index.fswrite.WriteFS``) redirects every TASK-SIDE
    direct write (docs files, SPIMI chunks, postings blocks, manifests)
    through a pyarrow filesystem — the object-store deployment path; None
    keeps plain local I/O. Commit protocol per fswrite.py: data files
    first, manifest last, snapshot visibility via the meta.json swap.

    ``input_split_mb`` narrows ``spark.sql.files.maxPartitionBytes`` for the
    re-sort's scan of ``transcripts`` (a source in a few large files would
    otherwise feed the range exchange from too few scan tasks).

    Returns a summary dict with stage timings (also appended to the metrics
    table — the analog of the reference's tpq/lag stats, A24).
    """
    t_start = time.time()  # build.wall_s covers the whole call
    paths = IndexPaths(index_dir)
    metrics: list[tuple[str, str, float]] = []
    par = spark.sparkContext.defaultParallelism

    def fused_pass(spans, bases, resume):
        t = time.time()
        manifest = build_segments(
            spark, index_dir, spans, bases, resume=resume, n_buckets=n_buckets,
            n_salts=n_salts, store_positions=store_positions,
            filesystem=filesystem,
        )
        try:
            built = manifest.count()  # action: the fused corpus pass
        except Exception as e:  # a task's duplicate-key raise, re-raised
            dup = re.search(re.escape(_DUP_KEY) + ".*", str(e))
            if dup is None:
                raise
            raise ValueError(dup.group(0)) from None
        metrics.append(("spimi", "wall_s", time.time() - t))
        return built, read_manifests(paths.chunks, wfs=filesystem)

    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    if input_split_mb:
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(input_split_mb * 1024 * 1024)
        )
    try:
        t0 = time.time()
        reason = "no source_path"
        if source_path:
            spans = _plan_build_spans(source_path, span_mb, par, n_partitions)
            bases = None
            if len(spans) < max(n_partitions // 2, min(par, n_partitions)):
                reason = "too few spans"
            else:
                # footer stats only: no PK-column read, no Spark job
                bases = sorted_span_bases(source_path, spans)
                reason = "footer conv order" if bases is None else None
        metrics.append(("offsets", "wall_s", time.time() - t0))
        if reason is None:
            built, mans = fused_pass(spans, bases, resume)
            if span_key_overlap(mans) is not None:
                _wipe_dir(filesystem, paths.chunks)
                _wipe_dir(filesystem, paths.docs)
                reason = "span key ranges overlap"
        if reason is not None:
            t1 = time.time()
            src = paths.sorted_src
            if not (resume and os.path.exists(os.path.join(src, "_SUCCESS"))):
                _range_sort(transcripts, src, n_partitions)
            metrics.append(("resort", "wall_s", time.time() - t1))
            metrics.append(("resort", reason, 1.0))
            t0 = time.time()
            spans = _plan_build_spans(src, span_mb, par, n_partitions)
            bases = sorted_span_bases(src, spans, check_order=False)
            metrics.append(("offsets", "wall_s", time.time() - t0))
            built, mans = fused_pass(spans, bases, resume)
            dup = span_key_overlap(mans)
            if dup is not None:  # sorted by construction: a repeated key
                raise ValueError(f"{_DUP_KEY} {dup!r} across spans")
        metrics.append(("spimi", "partitions_built", float(built)))

        t1 = time.time()
        n_docs = sum(m["rows"] for m in mans)
        total_tokens = sum(m.get("sum_dl", 0) for m in mans)
        avgdl = float(total_tokens) / n_docs if n_docs else 0.0
        write_stats_driver(paths.stats, n_docs, avgdl, total_tokens)
        metrics.append(("stats", "wall_s", time.time() - t1))

        t3 = time.time()
        # terms stage: driver pyarrow aggregation under the manifest-derived
        # row budget (no Spark job — kills a fixed ~2 s floor that dragged
        # the N→4N efficiency), distributed groupBy above it. The merge only
        # needs the HEAVY terms (df > threshold) as a broadcast side — a few
        # hundred rows either way.
        terms_pdf = build_term_stats_driver(paths.chunks, n_buckets, wfs=filesystem)
        if terms_pdf is not None:
            write_terms_driver(terms_pdf, paths.terms)
            heavy_pdf = terms_pdf[terms_pdf["df"] > heavy_df_threshold]
            terms = spark.createDataFrame(
                heavy_pdf, schema="term string, df long, cf long, bucket int"
            )
        else:
            terms = build_term_stats(spark, paths.chunks, n_buckets)
            terms.write.mode("overwrite").parquet(paths.terms)
            terms = spark.read.parquet(paths.terms)
        metrics.append(("terms", "wall_s", time.time() - t3))

        t4 = time.time()
        # zero-shuffle merge: each task READS its (bucket, sub, salt)
        # group's row-group-pruned span from the sorted chunk files and
        # writes its block file straight into the hive layout — no corpus
        # shuffle, no JVM→Python Arrow hop, no serial write-job commit
        n_blocks = build_postings_direct(
            spark,
            paths.chunks,
            terms,
            avgdl,
            n_buckets,
            paths.postings,
            n_salts=n_salts,
            heavy_df_threshold=heavy_df_threshold,
            store_positions=store_positions,
            filesystem=filesystem,
            split_postings=split_postings,
        )
        metrics.append(("postings", "wall_s", time.time() - t4))
        metrics.append(("postings", "n_blocks", float(n_blocks)))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)

    meta = {
        "n_buckets": n_buckets,
        "n_salts": n_salts,
        "n_partitions": n_partitions,
        "heavy_df_threshold": heavy_df_threshold,
        "block_size": BLOCK_SIZE,
        "n_docs": int(n_docs),
        # id high-water mark for increments: snapshot ids are the dense
        # rank 0..n-1, so the next fresh id is n_docs. apply_increments
        # maintains it per commit — no full-store max() scan prices ids.
        "next_doc_id": int(n_docs),
        "avgdl": avgdl,
        "store_positions": bool(store_positions),
        "format_version": 2,
    }
    with open(os.path.join(index_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    shutil.rmtree(paths.sorted_src, ignore_errors=True)

    wall = time.time() - t_start
    metrics.append(("build", "wall_s", wall))
    metrics.append(("build", "docs_per_s", float(n_docs) / max(wall, 1e-9)))
    append_metrics_driver(paths.metrics, metrics)

    return {
        "n_docs": int(n_docs),
        "avgdl": avgdl,
        "wall_s": wall,
        "docs_per_s": float(n_docs) / max(wall, 1e-9),
        "partitions_built": int(built),
        "resort_reason": reason,
    }
