"""Z-order (Morton-curve) clustered parquet writes — multi-dimensional
data skipping (SURVEY §2 round-4 extension).

Range-clustering on ONE column (sinks/parquet.py write_clustered) gives
per-file min/max pruning on that column and none on any other. Production
table formats solve multi-predicate pruning by clustering on a space-
filling curve: map each clustering column to a small rank bucket,
interleave the bucket bits into one Morton value, range-partition + sort
on it. Files then hold small hyper-rectangles of the value space, so a
predicate on ANY clustered column overlaps few files. (Same design as the
OPTIMIZE ZORDER of open-source lakehouse formats; here it is ~40 lines of
DataFrame ops, no format extension needed — parquet row-group stats do the
skipping.)

Scale/shuffle shape: bucket boundaries come from approxQuantile — a
bounded driver collect of 2^bits doubles per column (the same bounded-
scalar category as IVF centroids); the z-value is a pure projection; the
ONE shuffle is the range partition by z — exactly the shuffle any
clustered write pays. Quantile (not value-uniform) bucketing keeps file
sizes balanced under skew.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dwca_parquet_spark.sinks.parquet import COMPRESSION


def _bucket_expr(col: str, bounds: list[float], bits: int):
    """Rank bucket in [0, 2^bits): #boundaries ≤ value (null → 0).
    bounds has 2^bits - 1 interior quantile cut points."""
    arr = F.array(*[F.lit(float(b)) for b in bounds])
    v = F.col(col).cast("double")
    return F.when(v.isNull(), F.lit(0)).otherwise(
        F.size(F.filter(arr, lambda b: v >= b))
    )


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 6, rel_err: float = 0.001
) -> DataFrame:
    """Append ``_zval``: the Morton interleave of per-column quantile-rank
    buckets (bits per column). Deterministic given the input data."""
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    out = df
    bucket_cols = []
    for i, c in enumerate(cols):
        bounds = df.select(F.col(c).cast("double").alias(c)).approxQuantile(
            c, probs, rel_err
        )
        out = out.withColumn(f"_zb{i}", _bucket_expr(c, bounds, bits))
        bucket_cols.append(f"_zb{i}")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i in range(len(cols)):
            bit = F.shiftright(F.col(bucket_cols[i]), b).bitwiseAND(F.lit(1))
            z = z + (bit.cast("long") * (1 << (b * len(cols) + i)))
    return out.withColumn("_zval", z).drop(*bucket_cols)


def write_zordered(
    df: DataFrame,
    path: str | Path,
    cols: list[str],
    bits: int = 6,
    num_files: int | None = None,
) -> None:
    """Write df z-order-clustered on ``cols``: range-partitioned AND
    sorted within partitions by the Morton value, so every parquet file
    (and row group) covers a compact hyper-rectangle — min/max stats on
    each clustered column prune files for predicates on any of them."""
    zdf = zorder_value(df, cols, bits)
    n = num_files or zdf.sparkSession.sparkContext.defaultParallelism
    (
        zdf.repartitionByRange(n, "_zval")
        .sortWithinPartitions("_zval")
        .drop("_zval")
        .write.mode("overwrite")
        .option("compression", COMPRESSION)
        .parquet(str(path))
    )


def file_pruning_profile(
    spark, path: str | Path, col: str
) -> DataFrame:
    """Per-file (file, min, max) for a column of a written dataset — the
    measurable skipping surface (what parquet footer stats expose to the
    reader)."""
    return (
        spark.read.parquet(str(path))
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min(col).alias("min_v"),
            F.max(col).alias("max_v"),
        )
    )
