"""Streaming activity state: the exact sufficient statistic for the
round-9 event panels (resample+ffill, op 138; cohort retention, op 140),
folded per micro-batch (SURVEY §2.G op 143).

A continuously-ingested event stream needs continuously-current activity
panels without rescanning history. Both panels are functions of ONE
bounded state table — per (key, finest-interval bucket): event count and
the EXACT decimal value sum. Counts and decimal sums are additive, so
the fold law is exact, not approximate:

- fold(batches) ≡ the one-shot aggregate over the union, BIT-exactly —
  counts are integers, sums stay DECIMAL(38,2) in state (never double:
  adding doubles across batches would make the fold order-dependent;
  the cast to double happens ONCE, at report time, exactly where the
  batch operator casts);
- the resample report runs the IDENTICAL grid+ffill plan as the batch
  operator (operators/events.py resample_grid_ffill), so report(state)
  ≡ resample_ffill(union) row-for-row;
- the cohort report derives weekly buckets from the hourly state by
  integer division (weeks are whole multiples of the finest interval),
  so report(state) ≡ cohort_retention(union) row-for-row.

State size is the activity matrix itself — Σ_key active_buckets rows,
the same granularity as the panel output, NOT the event count: per-batch
work is O(batch) + a merge bounded by the touched (key, bucket) cells.

Replay safety: the versioned-state format of ``dwca_parquet_spark.fs``
(``latest_version`` / ``commit_version``) — staged ``v<batch_id>.tmp`` →
atomic rename, the applied watermark IS the newest complete version, and
a replayed batch_id <= watermark is a no-op before any read or merge
(re-adding an additive partial would double-count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwca_parquet_spark.fs import commit_version, latest_version
from dwca_parquet_spark.operators.events import resample_grid_ffill, ts_micros
from dwca_parquet_spark.streaming import run_stream

# key cast to string so the state schema is stable whatever the stream's
# key type (the sketches-state precedent); sum exact decimal, never double
ACT_SCHEMA = "key string, bucket long, n_events long, sum_value decimal(38,2)"

HOUR_US = 3_600_000_000


def read_activity_state(
    spark: SparkSession, state_path: str
) -> tuple[int, DataFrame]:
    """(watermark, state) — an empty correctly-typed table when none."""
    wm = latest_version(spark, state_path)
    if wm < 0:
        return wm, spark.createDataFrame([], ACT_SCHEMA)
    base = f"{str(state_path).rstrip('/')}/v{wm}"
    return wm, spark.read.schema(ACT_SCHEMA).parquet(f"{base}/act.parquet")


def _batch_partial(
    batch: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    interval_us: int,
) -> DataFrame:
    return (
        batch.select(
            F.col(key_col).cast("string").alias("key"),
            ts_micros(batch, ts_col).alias("_us"),
            F.col(value_col),
        )
        .withColumn("bucket", F.expr(f"_us div {interval_us}"))
        .groupBy("key", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("sum_value"),
        )
    )


def apply_activity_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    interval_us: int = HOUR_US,
) -> bool:
    """Fold one micro-batch into the stored activity state; False =
    replay skipped. The merge is ONE map-side-combinable groupBy over
    state ∪ batch-partial — integer adds + exact decimal adds."""
    wm, state = read_activity_state(spark, state_path)
    if batch_id <= wm:
        return False
    part = _batch_partial(batch, ts_col, key_col, value_col, interval_us)
    merged = (
        state.unionByName(part)
        .groupBy("key", "bucket")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("sum_value").cast("decimal(38,2)").alias("sum_value"),
        )
    )
    commit_version(
        spark, state_path, batch_id,
        lambda tmp: merged.coalesce(1).write.parquet(f"{tmp}/act.parquet"),
        keep=2,
    )
    return True


def activity_resample_report(state: DataFrame, key_col: str = "key") -> DataFrame:
    """The op-138 panel from state: cast the exact decimal sums to double
    (the one cast, same place the batch operator casts) and run the
    IDENTICAL grid+ffill plan."""
    obs = state.select(
        F.col("key").alias(key_col),
        "bucket",
        "n_events",
        F.col("sum_value").cast("double").alias("_sum_value"),
    )
    return resample_grid_ffill(obs, key_col)


def activity_cohort_report(
    state: DataFrame, buckets_per_cohort: int = 168
) -> DataFrame:
    """The op-140 panel from state: weekly buckets derive from the hourly
    state by integer division (168 h/week), then the op-140 aggregation
    shape verbatim. Output: (cohort_bucket, offset, n_users)."""
    act = state.select(
        F.col("key"),
        F.expr(f"bucket div {buckets_per_cohort}").alias("cbucket"),
    ).distinct()
    cohort = act.groupBy("key").agg(F.min("cbucket").alias("cohort_bucket"))
    return (
        act.join(cohort, "key")
        .select(
            "cohort_bucket",
            (F.col("cbucket") - F.col("cohort_bucket")).alias("offset"),
            F.col("key"),
        )
        .groupBy("cohort_bucket", "offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def stream_activity_maintain(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    interval_us: int = HOUR_US,
):
    """Start a streaming query maintaining the activity state; read the
    panels any time via read_activity_state + the report functions."""
    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        apply_activity_batch(
            spark, state_path, batch, batch_id,
            ts_col=ts_col, key_col=key_col, value_col=value_col,
            interval_us=interval_us,
        )

    return run_stream(stream, checkpoint, body)


# ---------------------------------------------------------------------------
# Streaming trend state (SURVEY §2.G op 146): op 144's sufficient
# statistic — per-group OLS moments — folded per micro-batch. The five
# moments are exact decimal sums and the count an integer, all additive,
# so state(batches) ≡ the one-shot moment aggregate BIT-exactly, and the
# report runs the IDENTICAL closed-form stage (trend_from_moments) the
# batch operator uses: report(state) ≡ trend_by_group(union) EXACTLY —
# the op-132 evaluation-state discipline applied to the regression leg.
# State is |groups| rows of seven numbers; per-batch work is O(batch).
# ---------------------------------------------------------------------------

TREND_SCHEMA = (
    "grp string, n long, sx decimal(38,0), sy decimal(38,2), "
    "sxx decimal(38,0), sxy decimal(38,2), syy decimal(38,4)"
)


def read_trend_state(
    spark: SparkSession, state_path: str
) -> tuple[int, DataFrame]:
    wm = latest_version(spark, state_path)
    if wm < 0:
        return wm, spark.createDataFrame([], TREND_SCHEMA)
    base = f"{str(state_path).rstrip('/')}/v{wm}"
    return wm, spark.read.schema(TREND_SCHEMA).parquet(f"{base}/trend.parquet")


def _trend_partial(
    batch: DataFrame,
    ts_col: str,
    group_col: str,
    value_col: str,
    x_unit_us: int,
    x_origin_us: int,
) -> DataFrame:
    pt = batch.select(
        F.col(group_col).cast("string").alias("grp"),
        ts_micros(batch, ts_col).alias("_us"),
        F.col(value_col).alias("_y"),
    ).select(
        "grp",
        F.expr(f"(_us - {x_origin_us}) div {x_unit_us}").alias("_x"),
        F.col("_y"),
    )
    xd = F.col("_x").cast("decimal(18,0)")
    yd = F.col("_y").cast("decimal(18,2)")
    return pt.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).cast("decimal(38,0)").alias("sx"),
        F.sum(yd).cast("decimal(38,2)").alias("sy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(xd * yd).cast("decimal(38,2)").alias("sxy"),
        F.sum(yd * yd).cast("decimal(38,4)").alias("syy"),
    )


def apply_trend_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    ts_col: str = "ts",
    group_col: str = "event_type",
    value_col: str = "value",
    x_unit_us: int = HOUR_US,
    x_origin_us: int = 0,
) -> bool:
    """Fold one micro-batch's OLS moments into the stored state; False =
    replay skipped (the transactional versioned-state discipline)."""
    wm, state = read_trend_state(spark, state_path)
    if batch_id <= wm:
        return False
    part = _trend_partial(
        batch, ts_col, group_col, value_col, x_unit_us, x_origin_us
    )
    merged = (
        state.unionByName(part)
        .groupBy("grp")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sx").cast("decimal(38,0)").alias("sx"),
            F.sum("sy").cast("decimal(38,2)").alias("sy"),
            F.sum("sxx").cast("decimal(38,0)").alias("sxx"),
            F.sum("sxy").cast("decimal(38,2)").alias("sxy"),
            F.sum("syy").cast("decimal(38,4)").alias("syy"),
        )
    )
    commit_version(
        spark, state_path, batch_id,
        lambda tmp: merged.coalesce(1).write.parquet(f"{tmp}/trend.parquet"),
        keep=2,
    )
    return True


def trend_report(state: DataFrame) -> DataFrame:
    """The op-144 result from state: cast the exact decimal moments to
    double (the one cast, same place the batch aggregate casts) and run
    the IDENTICAL closed-form stage."""
    from dwca_parquet_spark.operators.events import trend_from_moments

    return trend_from_moments(
        state.select(
            "grp",
            "n",
            F.col("sx").cast("double").alias("_sx"),
            F.col("sy").cast("double").alias("_sy"),
            F.col("sxx").cast("double").alias("_sxx"),
            F.col("sxy").cast("double").alias("_sxy"),
            F.col("syy").cast("double").alias("_syy"),
        )
    )


def stream_trend_maintain(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    ts_col: str = "ts",
    group_col: str = "event_type",
    value_col: str = "value",
    x_unit_us: int = HOUR_US,
    x_origin_us: int = 0,
):
    """Start a streaming query maintaining the trend-moment state; read
    the regression panel any time via read_trend_state + trend_report."""
    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        apply_trend_batch(
            spark, state_path, batch, batch_id,
            ts_col=ts_col, group_col=group_col, value_col=value_col,
            x_unit_us=x_unit_us, x_origin_us=x_origin_us,
        )

    return run_stream(stream, checkpoint, body)


def activity_rolling_report(
    state: DataFrame, window_buckets: int, buckets_per_day: int = 24
) -> DataFrame:
    """The op-147 panel from the op-143 state: the (key, bucket) activity
    matrix IS rolling_active_users' first stage, so the report derives
    daily activity from the hourly state by integer division and runs
    the identical explode+distinct+count — report(state) ≡
    rolling_active_users(union) row-for-row (pinned). A continuously-
    current DAU/WAU/MAU panel with no event rescans."""
    act = state.select(
        F.col("key"),
        F.expr(f"bucket div {buckets_per_day}").alias("_b"),
    ).distinct()
    hi = act.groupBy().agg(F.max("_b").alias("_hi"))
    exploded = act.crossJoin(F.broadcast(hi)).select(
        F.col("key"),
        F.explode(
            F.sequence(
                F.col("_b"),
                F.least(
                    F.col("_b") + F.lit(window_buckets - 1), F.col("_hi")
                ),
            )
        ).alias("bucket"),
    )
    return (
        exploded.distinct()
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def activity_anomaly_report(
    state: DataFrame, z_threshold: float = 2.0
) -> DataFrame:
    """The op-149 panel from the op-143 state: the state's per-bucket
    decimal sums ARE the operator's bucket table, so the report runs the
    IDENTICAL scoring plan — report(state) ≡ bucket_anomalies(union)
    row-for-row by the additive fold law (pinned)."""
    from dwca_parquet_spark.operators.events import anomalies_from_buckets

    obs = state.select(
        "key", "bucket", F.col("sum_value").cast("decimal(18,2)").alias("_s")
    )
    return anomalies_from_buckets(obs, z_threshold)


def activity_cusum_report(
    state: DataFrame, slack: str = "0.00", tau: float = 4.0
) -> DataFrame:
    """The op-150 panel from the op-143 state — same argument as the
    anomaly report; report(state) ≡ cusum_alarms(union) row-for-row."""
    from dwca_parquet_spark.operators.events import cusum_from_buckets

    obs = state.select(
        "key", "bucket", F.col("sum_value").cast("decimal(18,2)").alias("_x")
    )
    return cusum_from_buckets(obs, slack, tau)


# ---------------------------------------------------------------------------
# Streaming value-distribution state → exact quantile panel (op 160)
# ---------------------------------------------------------------------------
# The op-159 exact per-group quantiles, served continuously: the state is
# the per-(key, value) COUNT table — counts are additive, so the fold law
# is exact (fold ≡ one-shot group_quantiles over the union, row-for-row,
# via the SHARED rank-selection stage quantiles_from_counts). State size
# is the distinct (key, value) domain — for telemetry-style values
# (bounded decimals) this is the honest bounded summary; an unbounded
# continuous domain wants an upstream quantization, the same
# distinct-count discipline as ops 124/156/159. Keys and values are cast
# to stable state types (string / double) — the sketches-state precedent.

VDIST_SCHEMA = "key string, v double, c long"


def read_vdist_state(
    spark: SparkSession, state_path: str
) -> tuple[int, DataFrame]:
    """(watermark, state) — an empty correctly-typed table when none."""
    wm = latest_version(spark, state_path)
    if wm < 0:
        return wm, spark.createDataFrame([], VDIST_SCHEMA)
    base = f"{str(state_path).rstrip('/')}/v{wm}"
    return wm, spark.read.schema(VDIST_SCHEMA).parquet(
        f"{base}/vdist.parquet"
    )


def apply_vdist_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    key_col: str = "event_type",
    value_col: str = "value",
) -> bool:
    """Fold one micro-batch's (key, value) counts into the stored
    distribution; False = replay skipped (transactional discipline)."""
    wm, state = read_vdist_state(spark, state_path)
    if batch_id <= wm:
        return False
    part = (
        batch.filter(F.col(value_col).isNotNull())
        .select(
            F.col(key_col).cast("string").alias("key"),
            F.col(value_col).cast("double").alias("v"),
        )
        .groupBy("key", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    merged = (
        state.unionByName(part)
        .groupBy("key", "v")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    commit_version(
        spark, state_path, batch_id,
        lambda tmp: merged.write.parquet(f"{tmp}/vdist.parquet"),
        keep=2,
    )
    return True


def vdist_quantile_report(
    state: DataFrame, permilles: tuple[int, ...] = (500, 900, 990)
) -> DataFrame:
    """The op-159 result from state via the IDENTICAL selection stage —
    report(state) ≡ group_quantiles(union) row-for-row by count
    additivity (pinned)."""
    from dwca_parquet_spark.operators.relational import (
        quantiles_from_counts,
    )

    cnt = state.select(
        F.col("key").alias("_k"),
        F.col("v").alias("_v"),
        F.col("c").alias("_c"),
    )
    return quantiles_from_counts(cnt, permilles).withColumnRenamed(
        "_k", "key"
    )


def stream_vdist_maintain(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    key_col: str = "event_type",
    value_col: str = "value",
):
    """Start a streaming query maintaining the value-distribution state;
    read the exact quantile panel any time via read_vdist_state +
    vdist_quantile_report."""
    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        apply_vdist_batch(
            spark, state_path, batch, batch_id,
            key_col=key_col, value_col=value_col,
        )

    return run_stream(stream, checkpoint, body)
