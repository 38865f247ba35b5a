"""CSV sink (SURVEY §2.G op 12 closure; round-trip-tested).

The reference never writes CSV — it only *reads* DwC-A CSVs
(``/root/reference/src/dwca_parquet/templates/query.sql:2,4``) — but the
engine's sink surface mirrors its source surface so datasets can round-trip.
Defaults chosen for lossless round-trips: header row, explicit null marker,
quoting handled by Spark's writer, uncompressed comma-separated text.

Scale note: like every Spark file sink this writes a directory of part
files — one per partition, written in parallel by executors.
``single_file=True`` is the driver-coalesced convenience for small outputs.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from dwca_parquet_spark.fs import commit_single_file

# Lossless null-vs-empty contract (property-tested): the WRITER emits null
# as \N and empty string quoted (its default '""'); the READER maps \N back
# to null and must NOT set emptyValue — overriding it to '' makes the
# writer emit empty unquoted, which every reader then collapses to null.
# ignoreLeading/TrailingWhiteSpace: the WRITER defaults these to true and
# silently trims ' ' → '' — both sides pin false for lossless whitespace.
CSV_OPTIONS = {
    "header": "true",
    "nullValue": "\\N",
    "timestampFormat": "yyyy-MM-dd HH:mm:ss",
    "escape": '"',
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
}


def write_csv(
    df: DataFrame,
    path: str | Path,
    single_file: bool = False,
) -> str:
    """Write df as CSV. Returns the final path (string, URI-safe).

    ``single_file=True`` coalesces to one task and renames the part file to
    ``path`` (same commit-rename contract as sinks.parquet.write_parquet).
    All filesystem ops route through dwca_parquet_spark.fs.FS, so object
    store URIs work identically to local paths.
    """
    path = str(path)
    if single_file:
        return commit_single_file(
            df.sparkSession,
            path,
            lambda tmp: df.coalesce(1)
            .write.mode("overwrite")
            .options(**CSV_OPTIONS)
            .csv(tmp),
        )
    df.write.mode("overwrite").options(**CSV_OPTIONS).csv(path)
    return path


def read_csv(
    spark: SparkSession,
    path: str | Path,
    schema: StructType | str,
) -> DataFrame:
    """Read back a write_csv output with an explicit schema.

    Schema-first (no inference) is the determinism rule from SURVEY §1.2:
    sniffer differences between engines are the #1 round-trip hazard.
    """
    return spark.read.options(**CSV_OPTIONS).schema(schema).csv(str(path))
