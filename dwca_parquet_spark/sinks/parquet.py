"""Parquet sinks with the reference's output contract, fixed for scale.

Reference behavior (``/root/reference/src/dwca_parquet/libs/parquet.py:24-51``):
- zstd compression, overwrite mode;
- two outputs per conversion: versioned ``…/{id}/v{ver}.parquet`` and a
  mutable "latest" ``…/{id}.parquet`` alias;
- writes to S3 (``s3://bucket/…``) and probes existence with fsspec
  (``libs/parquet.py:33``) for idempotency;
- (anti-pattern) the query EXECUTES TWICE, once per output.

Here: write once, then filesystem-side copy to the latest alias — the
documented fix from SURVEY §4.1. Every file lands through
``fs.commit_single_file`` / ``FS.replace`` (staged hidden sibling, one
replace step), and the versioned file is committed after the alias. All
path handling goes through ``dwca_parquet_spark.fs.FS`` (Hadoop
FileSystem resolved from the path's scheme), so local paths, ``file://``,
``hdfs://`` and ``s3a://`` URIs all take the same code path; nothing
touches the driver's local disk.

``single_file=True`` reproduces the reference's one-file layout
(coalesce(1) + publish) for small/medium outputs; directory layout is
the default for bulk data, where rename-based commits give way to Spark's
committer.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame

from dwca_parquet_spark.fs import FS, commit_single_file, hidden

# The one output codec of every parquet write that sets one: the reference
# publishes zstd parquet (``libs/parquet.py:48``).
COMPRESSION = "zstd"


def write_parquet(
    df: DataFrame, path: str | Path, single_file: bool = False
) -> str:
    """Write df as zstd parquet. Returns the final path (string, URI-safe).

    single_file: coalesce to one task and rename the part file to ``path``
    (reference writes one .parquet object).
    """
    path = str(path)
    if single_file:
        return commit_single_file(
            df.sparkSession,
            path,
            lambda tmp: df.coalesce(1)
            .write.mode("overwrite")
            .option("compression", COMPRESSION)
            .parquet(tmp),
        )
    df.write.mode("overwrite").option("compression", COMPRESSION).parquet(path)
    return path


def versioned_paths(
    base_dir: str | Path, dataset_id: str, version: str | int
) -> tuple[str, str]:
    """``(versioned, latest)`` paths of one dataset version: the reference's
    scheme (``libs/parquet.py:24-29``), ``{base}/{id}/v{ver}.parquet`` plus
    the mutable ``{base}/{id}.parquet`` alias."""
    base = str(base_dir).rstrip("/")
    return f"{base}/{dataset_id}/v{version}.parquet", f"{base}/{dataset_id}.parquet"


def write_versioned(
    df: DataFrame,
    base_dir: str | Path,
    dataset_id: str,
    version: str | int,
) -> tuple[str, str] | None:
    """Versioned + latest outputs, computing the plan ONCE.

    Mirrors the reference's path scheme (:func:`versioned_paths`) and its
    idempotency guard (``:33``: skip when the versioned output exists;
    returns None in that case), but replaces the double execution
    (``:48-51``) with write-once + filesystem-side copy. The existence
    probe runs on the path's own filesystem (S3 object probe on a real
    deployment), matching the reference's fsspec ``exists`` semantics.

    The versioned file is the commit point, so it is published last: the
    plan is written once to a hidden staged sibling, the latest alias is
    published from that copy, and only then is the staged file renamed to
    ``v{ver}.parquet``. A crash anywhere before that rename leaves no
    versioned file, so the next request redoes the whole conversion
    instead of skipping it with the alias missing or stale.
    """
    versioned, latest = versioned_paths(base_dir, dataset_id, version)
    spark = df.sparkSession
    fs = FS(spark, versioned)
    if fs.exists(versioned):
        return None
    staged = write_parquet(df, hidden(versioned), single_file=True)
    commit_single_file(spark, latest, lambda tmp: fs.copy(staged, f"{tmp}/part-0"))
    fs.replace(staged, versioned)
    return versioned, latest


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | Path | None = None,
) -> str:
    """Write df as a bucketed parquet TABLE (hash-bucketed on
    ``bucket_cols`` into ``num_buckets`` files per partition, optionally
    sorted within buckets).

    The co-location lever for repeated big-big joins: two tables bucketed
    on the same key with the same bucket count join WITHOUT any Exchange —
    each bucket pairs with its counterpart directly, and with ``sort_cols``
    the per-bucket sort drops out of the sort-merge join too. At 100 TB
    this converts every recurring fact-fact join on the bucket key from a
    full shuffle into a local merge.

    Bucketing metadata lives in the session catalog (``saveAsTable`` —
    Spark cannot express bucketing for plain-path writes); on a real
    deployment the catalog is a metastore and the layout persists. The
    bucket hash is Spark's own (Murmur3) — bucketed layouts are a
    Spark-side optimization, not an engine-portable contract like the
    operators' polynomial hashes.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("compression", COMPRESSION)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", str(path))
    writer.saveAsTable(table)
    return table


def write_clustered(
    df: DataFrame,
    path: str | Path,
    cluster_by: list[str],
    num_files: int | None = None,
) -> str:
    """Range-clustered parquet layout: rows range-partitioned by
    ``cluster_by`` across files and sorted within each file.

    The 100 TB scan lever: parquet stores per-file/row-group min-max
    statistics, and a range-clustered layout makes those statistics
    selective — a reader filtering on the cluster keys skips whole files
    (Spark/DuckDB/pyarrow all do this automatically). Unclustered writes
    give every file ~the full key range, so min-max pruning prunes nothing.

    ``repartitionByRange`` samples the keys to build balanced range bounds
    (one shuffle), ``sortWithinPartitions`` orders rows for row-group-level
    pruning and better RLE/dictionary compression on the sort key. Rows with
    equal boundary keys may straddle two files — pruning is conservative,
    correctness is unaffected.
    """
    cols = [df[c] for c in cluster_by]
    part = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    (
        part.sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .option("compression", COMPRESSION)
        .parquet(str(path))
    )
    return str(path)


def write_partitioned_dynamic(
    df: DataFrame,
    path: str | Path,
    partition_by: list[str],
) -> str:
    """Overwrite ONLY the hive partitions present in ``df``, leaving every
    other partition untouched — the per-batch landing write for a table
    partitioned by ingestion date / source.

    Spark's default overwrite ("static") deletes the WHOLE table first;
    the dynamic mode scopes the delete to partitions the incoming frame
    actually carries. That is the difference between "re-land one day"
    and "destroy the corpus" at 100 TB, and it composes with partition
    pruning on the read side: a filter on the partition column reaches
    the scan as a PartitionFilter and skips every other directory
    entirely (pinned in test_fs.py). The session conf is set around the
    write and restored — callers' settings are not leaked on.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.write.mode("overwrite")
            .option("compression", COMPRESSION)
            .partitionBy(*partition_by)
            .parquet(str(path))
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return str(path)
