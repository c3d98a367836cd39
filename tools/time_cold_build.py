#!/usr/bin/env python
"""Cold-build timer: REPEAT snapshot builds of the perfbench corpus (sf0.01
x 2) in ONE fresh Spark app on ``local[CPUS]``, with perfbench's
``build_params``. The first build is the one ``build_turns_per_s`` times
(a fresh driver's first job); the later ones show the same build warm.

Each build prints one JSON line: the round, wall s and turns/s (timed as
perfbench times it, the source's ``spark.read.parquet`` included), the
stage walls ``build_index`` writes to its metrics table, and per Spark job
the task count and min/p50/max task wall in ms, read from the app's event
log after the last build.

Usage: python tools/time_cold_build.py [--repeat 3] [--cpus N]
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
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import pyarrow.dataset as ds

from inputs import MULT, SF
from run import DRIVER_MEMORY, build_params
from sync2any_spark.generator import ensure_transcripts
from sync2any_spark.index.builder import build_index
from sync2any_spark.session import get_spark
from tracing import read_event_log


def stage_walls(idx: str) -> dict:
    rows = ds.dataset(os.path.join(idx, "metrics")).to_table().to_pylist()
    return {
        r["stage"]: round(r["value"], 3) for r in rows if r["key"] == "wall_s"
    }


def job_rows(jobs: list, tasks: list, lo_ms: float, hi_ms: float) -> list:
    """Per job submitted in [lo_ms, hi_ms]: its task count and task walls."""
    out = []
    for j in jobs:
        if not lo_ms <= j["submit_ms"] <= hi_ms:
            continue
        walls = sorted(
            t["finish_ms"] - t["launch_ms"] for t in tasks if t["stage"] in j["stages"]
        )
        out.append({
            "job": j["job"], "tasks": len(walls),
            "task_ms": [walls[0], walls[(len(walls) - 1) // 2], walls[-1]]
            if walls else [],
        })
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    args = ap.parse_args()

    src = ensure_transcripts(SF, MULT)
    n_turns = ds.dataset(src).count_rows()
    work = tempfile.mkdtemp(prefix="time_cold_build_")
    event_dir = os.path.join(work, "eventlog")
    os.makedirs(event_dir)
    spark = get_spark(
        "time_cold_build", cpus=args.cpus,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    builds = []
    try:
        for rnd in range(args.repeat):
            idx = os.path.join(work, f"index{rnd}")
            lo_ms = time.time() * 1000
            t0 = time.perf_counter()
            build_index(spark, spark.read.parquet(src), idx, source_path=src,
                        **build_params(args.cpus))
            wall = time.perf_counter() - t0
            builds.append({
                "round": rnd, "wall_s": round(wall, 2),
                "turns_per_s": round(n_turns / wall),
                "stage_walls": stage_walls(idx),
                "window_ms": (lo_ms, time.time() * 1000),
            })
            shutil.rmtree(idx)
    finally:
        spark.stop()  # closes the event log
    try:
        (log,) = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        jobs, tasks = read_event_log(log)
        for b in builds:
            b["jobs"] = job_rows(jobs, tasks, *b.pop("window_ms"))
            print(json.dumps(b), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
