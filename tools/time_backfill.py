#!/usr/bin/env python
"""Backfill timer: one CDC batch over ``DRIVER_APPLY_BYTES`` applied to a
fresh copy of an sf0.01 × MULT index, timed end to end, REPEAT times in
one Spark session (the first apply also pays the session's warm-up).

The base index is built once per multiplier under
``data/index/backfill-sf0.01x<MULT>`` and copied for every apply. The batch
is INSERTS new rows (texts borrowed from random stored rows, new
conversation ids), UPDATES stored rows with one word prepended and DELETES
stored rows, all drawn with SEED. Each ``apply_increments`` call is timed
and prints one JSON line: the round, batch rows and MB, wall s, rows/s, the
route, slice count, decline reason and stage laps from the apply summary,
the Spark jobs the apply started, and ``ok`` (the summary's counts match
the batch and the prepended word is searchable).

Usage: python tools/time_backfill.py [--mult 1] [--inserts 10000]
       [--updates 15000] [--deletes 5000] [--seed 0] [--repeat 2] [--cpus N]

The defaults are a 30k-row, ~10.7 MB batch on sf0.01 (24,438 stored rows);
``--mult 4 --inserts 20000 --updates 50000 --deletes 10000`` is an 80k-row,
~28.6 MB batch on sf0.01 x 4.
"""
import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from sync2any_spark.generator import DATA_ROOT, ensure_transcripts
from sync2any_spark.index.builder import build_index, read_index_meta
from sync2any_spark.query.wand import IndexSearcher
from sync2any_spark.session import get_spark
from sync2any_spark.streaming.incremental import apply_increments

MARKER = "backfillmark"


def make_batch(src: str, n_ins: int, n_upd: int, n_del: int, seed: int) -> pa.Table:
    """INSERT, UPDATE and DELETE rows over the source corpus, seeded."""
    corpus = pq.read_table(src)
    n = corpus.num_rows
    if n_upd + n_del > n:
        raise SystemExit(f"{n_upd + n_del} updates + deletes > {n} stored rows")
    rng = np.random.default_rng(seed)
    pick = rng.permutation(n)[: n_upd + n_del]
    upd = corpus.take(pa.array(pick[:n_upd]))
    upd = upd.set_column(
        upd.schema.get_field_index("text"), "text",
        pc.binary_join_element_wise(MARKER, pc.fill_null(upd["text"], ""), " "),
    )
    dele = corpus.take(pa.array(pick[n_upd:]))
    ins = corpus.take(pa.array(rng.integers(0, n, n_ins)))
    i = np.arange(n_ins)
    ins = ins.set_column(
        ins.schema.get_field_index("conv_id"), "conv_id",
        pa.array([f"conv_bf{seed:03d}_{c:07d}" for c in i // 8]),
    )
    ins = ins.set_column(
        ins.schema.get_field_index("turn_idx"), "turn_idx",
        pa.array((i % 8).astype(np.int32)),
    )
    parts = [
        t.append_column("op", pa.array([op] * t.num_rows, pa.string()))
        for t, op in ((ins, "I"), (upd, "U"), (dele, "D"))
    ]
    return pa.concat_tables(parts)


def time_apply(spark, idx: str, batch_path: str, n_rows: int, args) -> dict:
    """One timed apply of the batch to ``idx``: wall, rate, summary fields,
    the Spark jobs it started and the correctness check."""
    df = spark.read.parquet(batch_path)
    sc = spark.sparkContext
    group = f"time_backfill-{os.path.basename(idx)}"
    sc.setJobGroup(group, "timed apply")
    t0 = time.perf_counter()
    s = apply_increments(spark, idx, df)
    wall = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    ok = (
        s["tombstones"] == args.updates + args.deletes
        and s["new_docs"] == args.inserts + args.updates
        and (args.updates == 0 or bool(IndexSearcher(spark, idx).search(MARKER, 10)))
    )
    return {
        "wall_s": round(wall, 2), "rows_per_s": round(n_rows / wall),
        "route": s["route"], "slices": s.get("slices"), "decline": s["decline"],
        "spark_jobs": jobs, "ok": ok, "stage_walls": s.get("stage_walls"),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--mult", type=int, default=1)
    ap.add_argument("--inserts", type=int, default=10000)
    ap.add_argument("--updates", type=int, default=15000)
    ap.add_argument("--deletes", type=int, default=5000)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    args = ap.parse_args()

    spark = get_spark(
        "time_backfill", cpus=args.cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    src = ensure_transcripts("sf0.01", args.mult)
    base = os.path.join(DATA_ROOT, "index", f"backfill-sf0.01x{args.mult}")
    try:
        read_index_meta(base)
        cached = True
    except (OSError, ValueError):  # no index yet, or one of another format
        cached = False
    if not cached:
        shutil.rmtree(base, ignore_errors=True)
        build_index(
            spark, spark.read.parquet(src), base, source_path=src,
            n_partitions=4 * args.cpus, n_buckets=16, n_salts=4,
            heavy_df_threshold=20_000, resume=False, span_mb=4,
        )

    work = tempfile.mkdtemp(prefix="time_backfill_")
    try:
        batch = make_batch(src, args.inserts, args.updates, args.deletes, args.seed)
        batch_path = os.path.join(work, "batch.parquet")
        pq.write_table(batch, batch_path)
        text_mb = pc.sum(pc.binary_length(batch["text"])).as_py() / 2**20
        for rnd in range(args.repeat):
            idx = os.path.join(work, f"index{rnd}")
            shutil.copytree(base, idx)
            print(json.dumps({
                "round": rnd, "mult": args.mult, "seed": args.seed,
                "batch_rows": batch.num_rows, "batch_text_mb": round(text_mb, 2),
                **time_apply(spark, idx, batch_path, batch.num_rows, args),
            }), flush=True)
            shutil.rmtree(idx)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
