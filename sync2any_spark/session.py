"""SparkSession factory with the engine's standard configuration.

The reference pins no Spark config (it is a Spring Boot app); the settings
here encode the engine's scale posture:

- AQE on (runtime coalesce + skew-join mitigation),
- Arrow on (every UDF in this engine is a pandas/Arrow UDF),
- UTC session timezone (the reference hard-codes a +8h timestamp shift,
  ``model/mysql/TableRecords.java:304-308`` — we pin UTC instead and test it),
- shuffle partitions sized to the local core count; on a real cluster this
  is ``--conf spark.sql.shuffle.partitions=<2-3x total cores>``,
- Python workers start from ``pyspark_graft_worker`` (repo root), which
  stops each task from re-reading ``pyspark.zip``'s directory when the
  archive has not changed (see that module).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "sync2any_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    # 3× cores: slack for stragglers + room for AQE to coalesce down; a
    # width equal to the core count gates every shuffle stage on its single
    # biggest partition (measured as the round-1 local[32] regression)
    shuffle_partitions = shuffle_partitions or 3 * cpus

    # Python workers do NOT inherit the driver's sys.path — only PYTHONPATH.
    # The SPIMI/merge kernels import sync2any_spark inside tasks, so the
    # package root must be on PYTHONPATH before the JVM (and its worker
    # factory) starts. On a real cluster --py-files does this instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # importable because pkg_root is on PYTHONPATH (above)
        .config("spark.python.worker.module", "pyspark_graft_worker")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # MICROS (not the INT96 legacy default): pyarrow reads INT96 back as
        # nanos, and a task-side pyarrow rewrite of such a column produces
        # TIMESTAMP(NANOS) parquet that Spark itself refuses to read — the
        # compact() sorted-temp-corpus path hits exactly that round trip
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # shuffle/spill through RAM-backed storage: local-mode shuffles on
        # the single virtual disk otherwise serialize 32-way writers
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
