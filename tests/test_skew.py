"""salted_join correctness: identical results to the plain equi-join
(VERDICT r3 item 8's correctness half; the wall-time half is recorded in
SCALE.md).

The fixture plants a hot key holding ~40% of the fact rows, unmatched fact
keys (exercising left-join semantics), and unmatched dim keys (must not
appear under inner/left) — the exact shapes salting could corrupt if the
salt leaked into the output or the replication multiplied rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dwca_parquet_spark.operators.relational import salted_join


def _fixture(spark):
    # 400 hot rows on key 0, 600 spread over keys 1..59, 50 rows on key
    # 9999 which has NO dim match; dim has keys 0..79 (60..79 unmatched)
    fact = spark.range(1050).select(
        F.when(F.col("id") < 400, F.lit(0))
        .when(F.col("id") < 1000, (F.col("id") % 59 + 1))
        .otherwise(F.lit(9999))
        .alias("key"),
        (F.col("id") * 7 % 101).alias("v"),
    )
    dim = spark.range(80).select(
        F.col("id").alias("key"), F.sha2(F.col("id").cast("string"), 256).alias("p")
    )
    return fact, dim


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_salted_inner_identical(spark):
    fact, dim = _fixture(spark)
    plain = fact.join(dim, "key")
    salted = salted_join(fact, dim, "key", num_salts=8)
    assert "_salt" not in salted.columns
    assert _rows(salted) == _rows(plain)


def test_salted_left_identical(spark):
    fact, dim = _fixture(spark)
    plain = fact.join(dim, "key", "left")
    salted = salted_join(fact, dim, "key", num_salts=8, how="left")
    got, want = _rows(salted), _rows(plain)
    assert got == want
    # the unmatched hot-side key survives exactly once per fact row
    assert sum(1 for r in got if r[0] == 9999 and r[1] is None) == 50


def test_salted_join_salts_spread_the_hot_key(spark):
    """The salt must actually split the hot key across several join keys —
    otherwise the operator is a no-op that still passes the identity tests."""
    fact, dim = _fixture(spark)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(8))
    n_distinct = (
        fact.filter(F.col("key") == 0)
        .select(salt.alias("s"))
        .distinct()
        .count()
    )
    assert n_distinct >= 6  # 400 hashed rows over 8 salts: all 8 expected
