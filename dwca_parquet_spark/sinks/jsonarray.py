"""JSON-array sink: one file containing a single JSON array (not JSONL).

Reference: ``COPY records TO 's3://…' (FORMAT json, ARRAY true)``
(``/root/reference/src/dwca_parquet/libs/geoapi.py:73-75``). Spark's json
writer emits JSONL directories, so for byte parity the rows serialize via
``to_json(struct(*))`` on executors and only the small serialized strings
collect for the single-file write — acceptable because this sink exists for
catalog/config outputs (hundreds of rows), never bulk data.

The file itself is written through the path's own Hadoop FileSystem and
published by ``fs.commit_single_file`` (staged, then one replace step), so
``s3a://…`` catalog outputs work like the reference's S3 COPY target and a
reader never sees a half-written array.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dwca_parquet_spark.fs import FS, commit_single_file


def write_json_array(
    df: DataFrame,
    path: str | Path,
    max_rows: int = 100_000,
) -> str:
    """``max_rows`` guards the driver-side collect: this sink is for
    catalog-sized outputs only, and failing fast beats OOM-ing the driver
    if someone points bulk data at it. Returns the path (string)."""
    path = str(path)
    serialized = (
        df.limit(max_rows + 1)
        .select(F.to_json(F.struct(*df.columns)).alias("j"))
        .collect()
    )
    if len(serialized) > max_rows:
        raise ValueError(
            f"write_json_array is a catalog sink (≤{max_rows} rows); "
            "use write_parquet for bulk data"
        )
    body = ",\n".join(r["j"] for r in serialized)
    payload = ("[\n" + body + "\n]\n").encode("utf-8")

    fs = FS(df.sparkSession, path)
    return commit_single_file(
        df.sparkSession, path, lambda tmp: fs.write_bytes(f"{tmp}/part-0", payload)
    )
