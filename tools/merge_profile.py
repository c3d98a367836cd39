#!/usr/bin/env python
"""Profile the postings merge in isolation at a given parallelism.

Replays build_postings_direct (the ZERO-SHUFFLE merge) against an existing
chunks dir and prints per-group wall_ms plus the stage wall, so N-vs-4N
merge scaling can be decomposed into (task skew, substrate, overhead).
The merge layout (n_buckets, n_salts, heavy_df_threshold) and avgdl are
read from the index's meta.json, which always matches the chunks' layout
(the merge raises a ValueError naming the key when it does not).

Usage: taskset -c 0-N python tools/merge_profile.py <index_dir> <cpus>
"""
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    idx, cpus = sys.argv[1], int(sys.argv[2])
    from sync2any_spark.session import get_spark
    from sync2any_spark.index.builder import (
        IndexPaths, build_postings_direct, build_term_stats_driver,
        read_index_meta,
    )

    meta = read_index_meta(idx)
    n_buckets = int(meta["n_buckets"])
    n_salts = int(meta["n_salts"])
    heavy = int(meta["heavy_df_threshold"])

    spark = get_spark(f"merge_prof_c{cpus}", cpus=cpus, shuffle_partitions=96)
    paths = IndexPaths(idx)
    avgdl = float(meta["avgdl"])
    terms_pdf = build_term_stats_driver(paths.chunks, n_buckets)
    out_dir = f"/dev/shm/merge_prof_c{cpus}"
    for rnd in range(2):
        t0 = time.time()
        nb = build_postings_direct(
            spark, paths.chunks, terms_pdf, avgdl, n_buckets, out_dir,
            n_salts=n_salts, heavy_df_threshold=heavy,
        )
        wall = time.time() - t0
        print(json.dumps({
            "cpus": cpus, "pass": "warm" if rnd else "cold",
            "stage_wall_s": round(wall, 2), "n_blocks": nb,
        }))
    shutil.rmtree(out_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
