"""Small-file compaction (SURVEY §2 round-4 extension).

Every incremental pipeline (CDC merges, streaming sinks, per-batch
appends) degrades its table into thousands of small files; at 100 TB the
scan cost becomes dominated by file-open overhead and the driver's file
listing, not bytes. Compaction rewrites a parquet directory into
~target-size files and swaps it in place.

Shape: size the output from the ACTUAL byte total (one FS listing, no
data read), then ``coalesce(n_out)`` — a shuffle-FREE narrow merge of
input splits into fewer write tasks (repartition would shuffle every
byte; compaction's job is IO, not balance).
The swap is write-to-temp → rename-away → rename-in → delete, the same
staged-rename discipline as sinks/parquet.py's single-file writer; a
reader never observes a half-written directory (rename is atomic per FS
contract on HDFS/local; on S3A the window is the two renames).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from dwca_parquet_spark.fs import FS
from dwca_parquet_spark.sinks.parquet import COMPRESSION


def compaction_plan(
    spark: SparkSession, path: str, target_bytes: int = 128 << 20
) -> dict:
    """Inspect a parquet directory: file count, byte total, and the
    output file count a compaction would produce. Pure FS metadata."""
    fs = FS(spark, path)
    files = [
        (p, fs.size(p))
        for p in fs.glob(str(path).rstrip("/") + "/*.parquet")
    ]
    total = sum(s for _, s in files)
    n_out = max(1, -(-total // target_bytes))  # ceil
    return {
        "n_files": len(files),
        "total_bytes": total,
        "n_out": int(n_out),
        "files": files,
    }


def compact_parquet(
    spark: SparkSession, path: str, target_bytes: int = 128 << 20
) -> dict:
    """Rewrite ``path`` into ~target_bytes files when the current count
    exceeds TWICE the planned one; no-op otherwise (the hysteresis stops
    compaction churn on same-codec tables: rewriting its own output
    changes nothing, so the next plan is a no-op). When the table's current
    codec is not zstd the byte total shifts and one extra pass may run
    before the table is stable — harmless, and it converges because the
    codec no longer changes. Returns the plan plus ``acted``."""
    plan = compaction_plan(spark, path, target_bytes)
    if plan["n_files"] <= 2 * plan["n_out"]:
        plan["acted"] = False
        return plan
    base = str(path).rstrip("/")
    tmp, old = base + ".compact-tmp", base + ".compact-old"
    fs = FS(spark, base)
    for stale in (tmp, old):  # crashed predecessor leftovers
        if fs.exists(stale):
            fs.delete(stale)
    (
        spark.read.parquet(base)
        .coalesce(plan["n_out"])
        .write.mode("overwrite")
        .option("compression", COMPRESSION)
        .parquet(tmp)
    )
    fs.rename(base, old)
    try:
        fs.rename(tmp, base)
    except Exception:
        fs.rename(old, base)  # roll back; leave tmp for inspection
        raise
    fs.delete(old)
    plan["acted"] = True
    plan["n_files_after"] = len(fs.glob(base + "/*.parquet"))
    return plan
