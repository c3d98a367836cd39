"""Structured Streaming ingestion — the reference's Kafka CDC listener,
Spark-first (SURVEY.md §2.A A3, §2.D).

The reference consumes binlog events from Kafka one row at a time
(``extract/KafkaMsgListener.java``), acking at CHECKPOINT markers. The
Spark-native equivalent is a streaming source feeding ``foreachBatch``,
where each micro-batch applies the same idempotent I/U/D merge the batch
path uses (streaming.incremental.apply_increments): a micro-batch whose
text fits ``DRIVER_APPLY_BYTES`` is collected once as Arrow and applied
in-process (two Spark jobs per batch), a bigger one is staged once and
applied in-process in key-ordered slices of at most that budget (three
Spark jobs), and each commit records its route and slice count:

- **source**: a file source (a directory new increment-parquet files land
  in — the sandbox stand-in for the Kafka topic) or a real
  ``readStream.format("kafka")`` + JSON-envelope decode (needs a broker +
  the spark-sql-kafka package on the cluster);
- **ordering** (A5): inside a micro-batch, highest-offset-wins per
  (conv_id, turn_idx) when the source carries offsets (Kafka), else
  latest-by-ts. The dedup runs INSIDE ``foreachBatch`` — a batch DataFrame
  — because a row_number window over a non-time column is not a legal
  streaming transform (Spark rejects it at query start);
- **message routing** (A6): the envelope carries ``messageType`` — DML rows
  apply as increments, DDL CREATE-TABLE events register new tables against
  the rule registry mid-stream, BEGIN/COMMIT/HEARTBEAT markers are skipped
  (``extract/KafkaMsgListener.java:76-139``);
- **exactly-once-ish** (§2.D): the streaming checkpoint records consumed
  files/offsets; replayed batches are no-ops because upserts are idempotent
  by key (the same redelivery tolerance the reference relies on,
  ``load/impl/EsLoadServiceImpl.java:100-110``);
- **backpressure**: ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger`` ≙ the
  reference's MAX_POLL_RECORDS bound;
- **offset reset**: ``starting_offsets`` parameterizes where a (re)started
  stream begins — the reference's ``PUT /offset`` reset
  (``api/StateController.java:80-106``); pair with a fresh
  ``checkpoint_dir`` to force a replay from that point.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .incremental import apply_increments

INCREMENT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, op string"
)

# the CDC envelope the reference's listener consumes: one JSON message per
# event — messageType routes it (DML row / DDL statement / txn marker), op +
# commit timestamp + row image for DML, table name for DDL
# (extract/KafkaMsgListener.java:65-139 reads these fields off the record)
ENVELOPE_SCHEMA = (
    "messageType string, op string, ts string, table string, "
    "data struct<conv_id string, turn_idx int, role string, text string, "
    "tool string>"
)

# txn/liveness markers: consumed for ack bookkeeping, never applied
# (extract/KafkaMsgListener.java:76-90)
MARKER_TYPES = ("BEGIN", "COMMIT", "HEARTBEAT")


def decode_kafka_envelope(raw):
    """Kafka records → envelope rows (streaming-safe projection).

    ``raw`` has the Kafka source shape (key/value binary, topic, partition,
    offset, timestamp). The JSON value is parsed JVM-side (``from_json`` —
    no Python in the hot path). This is a pure per-row projection, legal
    under ``readStream``: the per-key highest-offset-wins ordering guard
    runs inside ``foreachBatch`` (see ``_dedup_batch``), where the
    micro-batch is a plain batch DataFrame — a row_number window over a
    non-time column would be rejected at streaming query start otherwise.
    Keeps ``offset``/``messageType``/``table`` for the batch-side router.
    """
    from pyspark.sql import functions as F

    return raw.select(
        F.from_json(F.col("value").cast("string"), ENVELOPE_SCHEMA).alias("m"),
        "offset",
    ).select(
        F.col("m.data.conv_id").alias("conv_id"),
        F.col("m.data.turn_idx").alias("turn_idx"),
        F.col("m.data.role").alias("role"),
        F.col("m.data.text").alias("text"),
        F.col("m.data.tool").alias("tool"),
        F.to_timestamp("m.ts").alias("ts"),
        F.col("m.op").alias("op"),
        F.col("m.messageType").alias("messageType"),
        F.col("m.table").alias("table"),
        "offset",
    )


def _dedup_batch(batch_df):
    """One op per key per micro-batch: highest offset wins when the source
    carries offsets (Kafka ordering), else latest by (ts, op) — the same
    latest-wins collapse as A19. Returns exactly INCREMENT_SCHEMA columns."""
    from pyspark.sql import Window, functions as F

    if "offset" in batch_df.columns:
        order = [F.col("offset").desc()]
    else:
        order = [F.col("ts").desc(), F.col("op").desc()]
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(*order)
    deduped = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return deduped.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts", "op"
    )


def route_envelope_batch(spark, index_dir: str, batch_df, registry=None) -> dict:
    """A6 message-type router over one micro-batch: markers skipped, DDL
    CREATE-TABLE events registered against the rule registry, DML deduped
    and applied as increments. Returns {"applied": …, "registered": […]}.

    Envelopes without a ``messageType`` (plain-row sources) are DML — the
    reference treats untyped records as row events."""
    from pyspark.sql import functions as F

    registered: list[str] = []
    has_type = "messageType" in batch_df.columns
    if has_type:
        typed = batch_df.persist()
        if registry is not None:
            # DDL events are rare control rows — collecting the table names
            # is a per-batch handful, never data-sized
            ddl = (
                typed.where(F.col("messageType") == "DDL")
                .select("table")
                .where(F.col("table").isNotNull())
                .distinct()
                .collect()
            )
            for r in ddl:
                target = registry.register_table(r.table)
                if target is not None:
                    registered.append(r.table)
        dml = typed.where(
            F.col("messageType").isNull()
            | ~F.col("messageType").isin("DDL", *MARKER_TYPES)
        )
    else:
        dml = batch_df
    deduped = _dedup_batch(dml)
    if deduped.isEmpty():
        if has_type:
            typed.unpersist()
        return {"applied": None, "registered": registered}
    out = apply_increments(spark, index_dir, deduped)
    if has_type:
        typed.unpersist()
    return {"applied": out, "registered": registered}


def _read_stream(
    spark: SparkSession,
    source: str,
    input_dir: str | None = None,
    max_files_per_trigger: int = 1,
    kafka_bootstrap: str | None = None,
    kafka_topic: str | None = None,
    starting_offsets: str = "earliest",
):
    """Streaming source factory: ``files`` (parquet-dir stand-in used in the
    sandbox) or ``kafka`` (the production path — envelope decode included;
    needs a broker + the spark-sql-kafka package on the cluster).
    ``starting_offsets`` is the offset-reset control: "earliest", "latest",
    or a per-partition JSON offset map (the reference's PUT /offset)."""
    if source == "kafka":
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_bootstrap)
            .option("subscribe", kafka_topic)
            .option("startingOffsets", starting_offsets)
            .option("maxOffsetsPerTrigger", 600)  # ≙ reference MAX_POLL_RECORDS
            .load()
        )
        return decode_kafka_envelope(raw)
    return (
        spark.readStream.schema(INCREMENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def run_increment_stream(
    spark: SparkSession,
    index_dir: str,
    input_dir: str | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    source: str = "files",
    kafka_bootstrap: str | None = None,
    kafka_topic: str | None = None,
    starting_offsets: str = "earliest",
    registry=None,
):
    """Consume increment batches and maintain the index.

    With ``available_now=True`` (default — used in tests and backfills) the
    stream drains everything currently available and stops; a live
    deployment passes False and a processing-time trigger. ``registry`` (a
    ``pipeline.rules.RuleRegistry``) activates the DDL branch: CREATE-TABLE
    envelope events register new tables mid-stream.
    Returns the StreamingQuery (already awaited when available_now).
    """
    checkpoint_dir = checkpoint_dir or os.path.join(index_dir, "_stream_checkpoint")
    src = _read_stream(
        spark, source, input_dir, max_files_per_trigger,
        kafka_bootstrap, kafka_topic, starting_offsets,
    )

    def process(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        route_envelope_batch(spark, index_dir, batch_df, registry=registry)

    writer = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
