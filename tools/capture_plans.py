#!/usr/bin/env python
"""Capture .explain('formatted') plans for the round-6 plan evidence.

Usage: python tools/capture_plans.py <out_dir> <suffix>
  e.g. python tools/capture_plans.py plans/r06 after

Captures, into files named with <suffix>:
  - compact_docs: the plan that moves the text corpus when compact()'s
    live copy (``live_src``) is out of key order: build_index's re-sort of
    that copy, one repartitionByRange + sortWithinPartitions write. A copy
    in key order is built as-is and runs no such plan
  - bm25_topk_distributed_transcripts: the declared distributed query
    (plan shape must be unchanged — included as the no-regression proof)

An I/U/D batch is applied first so the live docs carry tombstones. The
apply itself has no plan to capture: a batch under the driver byte budget
is collected once as Arrow and applied in-process.
"""
import contextlib
import io
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np
import pyarrow.parquet as pq

from sync2any_spark.generator import ensure_transcripts
from sync2any_spark.index.builder import build_index, read_index_meta
from sync2any_spark.session import get_spark
from sync2any_spark.streaming.incremental import (
    _splice_live_sorted,
    apply_increments,
)


def explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans", cpus=8, shuffle_partitions=16)
    src = ensure_transcripts("sf0.001", 1)
    idx = "/tmp/r06-plan-idx"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(
        spark, None, idx, n_partitions=8, n_buckets=4,
        resume=False, source_path=src, span_mb=4,
    )
    # an I/U/D batch so the live copy drops tombstones (the compact shape)
    head = pq.read_table(src).slice(0, 3000).to_pandas()
    m = len(head)
    third = m // 3
    head["op"] = np.array(
        ["U"] * (m - 2 * third) + ["D"] * third + ["I"] * third
    )
    ins = head["op"] == "I"
    head.loc[ins, "turn_idx"] = head.loc[ins, "turn_idx"] + 100_000
    head.loc[head["op"] == "U", "text"] = head.loc[head["op"] == "U", "text"] + " x"
    batch = spark.createDataFrame(
        head[["conv_id", "turn_idx", "op", "role", "text", "tool", "ts"]]
    )
    apply_increments(spark, idx, batch)

    # 1. the corpus-moving plan of compact(): build_index's re-sort of the
    # spliced live copy
    meta = read_index_meta(idx)
    live_src = idx + "_live_src"
    _splice_live_sorted(spark, idx, meta, live_src)
    plan_df = (
        spark.read.parquet(live_src)
        .repartitionByRange(meta["n_partitions"], "conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
    )
    with open(os.path.join(out_dir, f"compact_docs_{suffix}.txt"), "w") as f:
        f.write(explain_str(plan_df))

    # 2. declared distributed query (no-regression evidence)
    from __spark_entry__ import queries

    q = queries()["bm25_topk_distributed_transcripts"]
    with open(
        os.path.join(out_dir, f"bm25_topk_distributed_transcripts_{suffix}.txt"),
        "w",
    ) as f:
        f.write(explain_str(q(spark, "/root/testdata/sf0.001")))
    shutil.rmtree(idx, ignore_errors=True)
    shutil.rmtree(live_src, ignore_errors=True)
    spark.stop()
    print("plans written to", out_dir, "suffix", suffix)


if __name__ == "__main__":
    main()
