#!/usr/bin/env python
"""Profile the postings merge in isolation at a given parallelism.

Replays build_postings_direct (the ZERO-SHUFFLE merge) against an existing
chunks dir and prints per-group wall_ms plus the stage wall, so N-vs-4N
merge scaling can be decomposed into (task skew, substrate, overhead).
The merge layout (n_buckets, n_salts, heavy_df_threshold) is read from the
index's meta.json: a mismatch with the chunks' layout would replay the
shuffle fallback instead of the zero-shuffle merge.

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
    import pyarrow.dataset as ds

    meta = read_index_meta(idx)
    n_buckets = int(meta["n_buckets"])
    n_salts = int(meta["n_salts"])
    heavy = int(meta["heavy_df_threshold"])

    spark = get_spark(f"merge_prof_c{cpus}", cpus=cpus, shuffle_partitions=96)
    paths = IndexPaths(idx)
    st = ds.dataset(paths.stats).to_table().to_pandas().iloc[0]
    avgdl = float(st.avgdl)
    terms_pdf = build_term_stats_driver(paths.chunks, n_buckets)
    terms = spark.createDataFrame(
        terms_pdf[terms_pdf["df"] > heavy],
        schema="term string, df long, cf long, bucket int",
    )
    out_dir = f"/dev/shm/merge_prof_c{cpus}"
    for rnd in range(2):
        t0 = time.time()
        nb = build_postings_direct(
            spark, paths.chunks, terms, avgdl, n_buckets, out_dir,
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
