"""JSON-Lines corpus source/sink (SURVEY §2 round-4 extension).

JSONL is the interchange format of pretraining corpora (one JSON object
per line — every public text dataset ships this way); an engine claiming
the training-data pipeline surface must read and write it natively. Thin,
contract-explicit wrappers over Spark's JSON reader/writer:

- schema-FIRST reads (infer only on request): inference differences are
  the #1 cross-engine parity risk (SURVEY §1.2), and at 100 TB an
  inference pass is a full extra scan of the corpus.
- corrupt lines are a POLICY, not a crash: 'keep' routes them into a
  ``_corrupt_record`` column (PERMISSIVE), 'drop' discards them
  (DROPMALFORMED), 'fail' aborts (FAILFAST). Crawl-derived JSONL always
  carries some garbage; losing it silently is the one wrong default.
- writes are one-object-per-line (Spark's json sink), gzip-compressed;
  rewrite through :mod:`dwca_parquet_spark.sinks.compact` applies
  unchanged since the sink is a directory of part files like any other.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

CORRUPT_COL = "_corrupt_record"
_MODES = {"keep": "PERMISSIVE", "drop": "DROPMALFORMED", "fail": "FAILFAST"}


def read_jsonl(
    spark: SparkSession,
    path: str | Path,
    schema: str,
    corrupt: str = "keep",
) -> DataFrame:
    """Read JSONL with an explicit schema (DDL string). ``corrupt`` policy:
    'keep' (adds ``_corrupt_record`` holding the raw bad line), 'drop',
    or 'fail'."""
    if corrupt not in _MODES:
        raise ValueError(f"corrupt must be one of {sorted(_MODES)}")
    full = schema
    if corrupt == "keep":
        full = f"{schema}, {CORRUPT_COL} string"
    return (
        spark.read.schema(full)
        .option("mode", _MODES[corrupt])
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(str(path))
    )


def write_jsonl(df: DataFrame, path: str | Path) -> str:
    """Write one JSON object per line (nulls omitted — the JSONL
    convention; readers treat absent and null alike under an explicit
    schema). gzip: universally decompressible by downstream tooling,
    unlike zstd-for-json."""
    df.write.mode("overwrite").option("compression", "gzip").json(str(path))
    return str(path)
