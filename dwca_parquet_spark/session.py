"""SparkSession construction with scale-oriented defaults.

Mirrors the configuration surface of the reference's ``settings.py:11-26``
(S3 endpoint / path-style / credentials, compression codec) but on Spark:
Hadoop S3A instead of DuckDB httpfs secrets, and AQE enabled so runtime
statistics re-plan shuffles/joins — the knob that matters at 100 TB.

Design notes (100 TB design point, tested on local[32]):
- AQE on: coalesces shuffle partitions, splits skewed partitions, converts
  sort-merge joins to broadcast when runtime stats allow.
- ``spark.sql.shuffle.partitions`` defaults to cores locally; on a real
  cluster set ≈ 2-3× total executor cores (or rely on AQE coalescing from a
  high initial value).
- zstd everywhere (reference writes zstd parquet, ``libs/parquet.py:48``).
- Arrow enabled for the Pandas-UDF paths (multimodal/decode operators).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from dwca_parquet_spark.sinks.parquet import COMPRESSION

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "dwca-parquet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    s3_endpoint: str | None = None,
    s3_key: str | None = None,
    s3_secret: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    S3 parameters mirror reference ``settings.py:18-26`` (endpoint,
    path-style access, key/secret) but configure Hadoop S3A. All are
    optional — local/testing sessions need none of them.
    """
    cores = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.parquet.compression.codec", COMPRESSION)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Dimension tables in the star schema are small; the default 10 MB
        # broadcast threshold already catches them, but be explicit so the
        # intent survives config drift.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Parquet TIMESTAMP(NANOS) is not a legal Spark timestamp; read it as
        # epoch-nanos BIGINT (events.ts fixture) — operators convert to µs,
        # matching DuckDB's ns→µs truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if s3_endpoint:
        builder = (
            builder.config("spark.hadoop.fs.s3a.endpoint", s3_endpoint)
            .config("spark.hadoop.fs.s3a.path.style.access", "true")
            .config(
                "spark.hadoop.fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem"
            )
        )
    if s3_key:
        builder = builder.config("spark.hadoop.fs.s3a.access.key", s3_key)
    if s3_secret:
        builder = builder.config("spark.hadoop.fs.s3a.secret.key", s3_secret)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
