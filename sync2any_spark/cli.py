"""Job entry points — the spark-submit surface of the engine.

Cluster usage (the north-rule deployment shape):

    zip -r sync2any_spark.zip sync2any_spark/
    spark-submit --py-files sync2any_spark.zip -m ... sync2any_spark/cli.py \\
        build --input <transcripts parquet/Iceberg path> --index <index dir> \\
        --partitions 4096 --buckets 1024

Locally (sandbox): ``python -m sync2any_spark.cli <cmd> ...`` — the session
factory runs local[N]; under spark-submit an existing SparkSession/master is
reused as-is.

Subcommands mirror the reference's entry points (SURVEY.md §3):
``build`` = boot-time snapshot sync (§3.1), ``increment`` = the CDC apply
(§3.2), ``query``/``status`` = the read/control plane (§3.3), ``compact`` =
segment force-merge.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(cpus: int | None):
    from .session import get_spark

    return get_spark("sync2any_spark_cli", cpus=cpus)


def cmd_build(args) -> int:
    from .index.builder import build_index

    spark = _spark(args.cpus)
    transcripts = spark.read.parquet(args.input)
    summary = build_index(
        spark,
        transcripts,
        args.index,
        n_partitions=args.partitions,
        n_buckets=args.buckets,
        n_salts=args.salts,
        heavy_df_threshold=args.heavy_df,
        resume=not args.no_resume,
        # fused one-pass build when the input allows it; build_index falls
        # back to the two-pass build by itself otherwise
        source_path=args.input,
    )
    print(json.dumps(summary))
    return 0


def cmd_query(args) -> int:
    from .query.wand import IndexSearcher

    spark = _spark(args.cpus)
    searcher = IndexSearcher(spark, args.index, cache=args.cache)
    t0 = time.time()
    if args.distributed:
        hits = [
            (r.doc_id, r.score)
            for r in searcher.search_distributed(args.query, args.topk).collect()
        ]
    else:
        hits = searcher.search(args.query, args.topk)
    wall = time.time() - t0
    rows = searcher.fetch(hits).orderBy("score", ascending=False).collect()
    out = {
        "query": args.query,
        "k": args.topk,
        "wall_ms": round(wall * 1000, 2),
        "hits": [
            {
                "doc_id": r.doc_id,
                "score": round(r.score, 6),
                "conv_id": r.conv_id,
                "turn_idx": r.turn_idx,
            }
            for r in rows
        ],
    }
    print(json.dumps(out))
    return 0


def cmd_increment(args) -> int:
    from .streaming.incremental import apply_increments

    spark = _spark(args.cpus)
    increments = spark.read.parquet(args.input)
    summary = apply_increments(spark, args.index, increments)
    print(json.dumps(summary))
    return 0


def cmd_compact(args) -> int:
    from .streaming.incremental import compact, maybe_compact

    spark = _spark(args.cpus)
    if args.if_needed:
        summary = maybe_compact(
            spark, args.index, args.out,
            max_deleted_ratio=args.max_deleted_ratio,
            max_segments=args.max_segments,
        )
        print(json.dumps(summary if summary is not None else {"skipped": True}))
        return 0
    summary = compact(spark, args.index, args.out)
    print(json.dumps(summary))
    return 0


def cmd_stream(args) -> int:
    """Run the streaming increment consumer (A3). ``--from-offset`` is the
    reference's PUT /offset reset (api/StateController.java:80-106): it sets
    the Kafka startingOffsets AND, with ``--reset-checkpoint``, discards the
    stream checkpoint so the (re)start actually honors the new position —
    safe because increments are idempotent by key."""
    import os
    import shutil

    from .streaming.stream import run_increment_stream

    spark = _spark(args.cpus)
    checkpoint = args.checkpoint or os.path.join(args.index, "_stream_checkpoint")
    if args.reset_checkpoint:
        shutil.rmtree(checkpoint, ignore_errors=True)
    run_increment_stream(
        spark,
        args.index,
        input_dir=args.input,
        checkpoint_dir=checkpoint,
        available_now=not args.follow,
        source=args.source,
        kafka_bootstrap=args.kafka_bootstrap,
        kafka_topic=args.kafka_topic,
        starting_offsets=args.from_offset,
    )
    print(json.dumps({"index": args.index, "checkpoint": checkpoint}))
    return 0


def cmd_status(args) -> int:
    """Control-plane view over manifests/metrics (reference §3.3 dashboard).
    Each ``stage.key`` metric shows its latest run's value (the row with
    the greatest ``ts``). Reads with pyarrow; starts no SparkSession."""
    import os

    import pyarrow.dataset as ds

    out = {}
    meta_path = os.path.join(args.index, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            out["meta"] = json.load(f)
    metrics_dir = os.path.join(args.index, "metrics")
    if os.path.isdir(metrics_dir):
        pdf = ds.dataset(metrics_dir).to_table().to_pandas()
        latest = pdf.sort_values("ts", kind="stable").drop_duplicates(
            ["stage", "key"], keep="last"
        )
        out["metrics"] = {
            f"{r.stage}.{r.key}": round(float(r.value), 3)
            for r in latest.itertuples(index=False)
        }
    from .index.builder import completed_partitions

    out["completed_partitions"] = len(
        completed_partitions(os.path.join(args.index, "chunks"))
    )
    print(json.dumps(out, indent=1))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="sync2any_spark")
    p.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="snapshot index build (resumable)")
    b.add_argument("--input", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--partitions", type=int, default=64)
    b.add_argument("--buckets", type=int, default=32)
    b.add_argument("--salts", type=int, default=8)
    b.add_argument("--heavy-df", type=int, default=20_000)
    b.add_argument("--no-resume", action="store_true")
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query", help="BM25 top-k")
    q.add_argument("--index", required=True)
    q.add_argument("--query", required=True)
    q.add_argument("--topk", type=int, default=10)
    q.add_argument("--distributed", action="store_true")
    q.add_argument("--cache", action="store_true")
    q.set_defaults(fn=cmd_query)

    i = sub.add_parser("increment", help="apply an I/U/D batch")
    i.add_argument("--input", required=True)
    i.add_argument("--index", required=True)
    i.set_defaults(fn=cmd_increment)

    c = sub.add_parser("compact", help="force-merge into a fresh index")
    c.add_argument("--index", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--if-needed", action="store_true",
                   help="merge-policy mode: compact only past the thresholds")
    c.add_argument("--max-deleted-ratio", type=float, default=0.3)
    c.add_argument("--max-segments", type=int, default=16)
    c.set_defaults(fn=cmd_compact)

    st = sub.add_parser("stream", help="streaming increment consumer")
    st.add_argument("--index", required=True)
    st.add_argument("--input", default=None, help="parquet inbox dir (files source)")
    st.add_argument("--source", choices=["files", "kafka"], default="files")
    st.add_argument("--kafka-bootstrap", default=None)
    st.add_argument("--kafka-topic", default=None)
    st.add_argument(
        "--from-offset", default="earliest",
        help='startingOffsets: "earliest", "latest", or a JSON offset map',
    )
    st.add_argument("--reset-checkpoint", action="store_true")
    st.add_argument("--checkpoint", default=None)
    st.add_argument("--follow", action="store_true",
                    help="keep running (default drains available and stops)")
    st.set_defaults(fn=cmd_stream)

    s = sub.add_parser("status", help="manifest/metrics dashboard")
    s.add_argument("--index", required=True)
    s.set_defaults(fn=cmd_status)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
