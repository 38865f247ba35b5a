"""Streaming funnel state (SURVEY §2.G op 155 — VERDICT r9 ask #7).

A continuously-ingested event stream needs a continuously-current
conversion funnel (op 139) without rescanning history. The state here is
the EXACT sufficient statistic: the DISTINCT (user, stage-type, event-µs)
set over funnel-stage events — set union is a lattice, so the fold is
order-free and exactly mergeable, and report(state) ≡ funnel(union)
UNCONDITIONALLY, including adversarially late data.

Why not the smaller per-(user, stage) first-qualifying-time vector (min
is a lattice too): first-qualifying times are NOT a sufficient statistic
under unordered merges. Counter-example — batch 1 carries s2@5, s1@10
for one user: the qualifying-time state records t1=10, t2=∅ (no s2 after
10) and discards s2@5; batch 2 then delivers a LATE s1@1; the true union
funnel has t1=1, t2=5, but 5 is gone — report(state) ≠ funnel(union).
Any per-stage scalar summary fails the same way (every retained-or-not
decision depends on thresholds a later batch can lower), so exactness
requires the distinct time set; this is pinned as a test
(tests/test_streaming_funnel.py::test_min_state_counterexample_is_handled).
Under a time-ordered watermark contract the scalar vector IS safe — that
compaction is the documented trade, not the default, because the repo's
fold laws are exact-or-absent.

State size: O(distinct funnel-stage events) — the stage-filtered, deduped
projection of the log, NOT the raw stream (non-funnel types never enter;
replays collapse in the distinct). Per-batch cost: one filter + one
distinct-merge against state keyed (user, tp, us). Replay safety: the
versioned-state format of ``dwca_parquet_spark.fs`` (staged
v<batch_id>.tmp → atomic rename; batch_id <= watermark is a no-op
before any read or merge).

The report multiplies the stored µs by 1000 and hands funnel() an
epoch-nanos BIGINT column — ts_micros' integer-div branch recovers the
IDENTICAL µs (µs·1000 < 2⁶³ until year ~2261), so the report runs the
exact op-139 plan, not a reimplementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwca_parquet_spark.fs import commit_version, latest_version
from dwca_parquet_spark.operators.events import funnel, ts_micros
from dwca_parquet_spark.streaming import run_stream

FUNNEL_SCHEMA = "user string, tp string, us long"


def read_funnel_state(
    spark: SparkSession, state_path: str
) -> tuple[int, DataFrame]:
    """(watermark, state) — an empty correctly-typed table when none."""
    wm = latest_version(spark, state_path)
    if wm < 0:
        return wm, spark.createDataFrame([], FUNNEL_SCHEMA)
    base = f"{str(state_path).rstrip('/')}/v{wm}"
    return wm, spark.read.schema(FUNNEL_SCHEMA).parquet(
        f"{base}/funnel.parquet"
    )


def apply_funnel_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    stages: tuple[str, ...],
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> bool:
    """Fold one micro-batch's funnel-stage events into the stored state;
    False = replay skipped (the transactional versioned-state
    discipline)."""
    wm, state = read_funnel_state(spark, state_path)
    if batch_id <= wm:
        return False
    part = (
        batch.filter(F.col(type_col).isin(list(stages)))
        .select(
            F.col(user_col).cast("string").alias("user"),
            F.col(type_col).cast("string").alias("tp"),
            ts_micros(batch, ts_col).alias("us"),
        )
        .filter(F.col("user").isNotNull() & F.col("us").isNotNull())
    )
    merged = state.unionByName(part).distinct()
    commit_version(
        spark, state_path, batch_id,
        lambda tmp: merged.write.parquet(f"{tmp}/funnel.parquet"),
        keep=2,
    )
    return True


def funnel_report(
    state: DataFrame,
    stages: tuple[str, ...],
    horizon_us: int | None = None,
) -> DataFrame:
    """The op-139 funnel from state: expand the distinct event set back
    into an (user_id, event_type, ts-nanos) frame and run the IDENTICAL
    chained-join stage — report(state) ≡ funnel(union) row-for-row."""
    ev = state.select(
        F.col("user").alias("user_id"),
        F.col("tp").alias("event_type"),
        (F.col("us") * 1000).alias("ts"),
    )
    return funnel(ev, stages, horizon_us=horizon_us)


def stream_funnel_maintain(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    stages: tuple[str, ...],
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
):
    """Start a streaming query maintaining the funnel state; read the
    conversion panel any time via read_funnel_state + funnel_report."""
    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        apply_funnel_batch(
            spark, state_path, batch, batch_id, stages,
            ts_col=ts_col, user_col=user_col, type_col=type_col,
        )

    return run_stream(stream, checkpoint, body)


def stream_triangle_maintain(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    u_col: str = "u",
    v_col: str = "v",
):
    """Streaming wiring for the op-154 incremental triangle census: fold
    each micro-batch of edges into the stored census via
    triangle_state_append (batch_id as the transactional watermark —
    replay no-op), read the live panel any time via
    triangle_state_report. Placed here with the other foreachBatch
    lifts; the counting itself lives in operators/graph.py."""
    from dwca_parquet_spark.operators.graph import triangle_state_append

    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        edges = batch.select(
            F.col(u_col).alias("u"), F.col(v_col).alias("v")
        )
        # batch_id 0 folds into the (required) pre-built state; an
        # empty state is a build-first contract error, same as op 134
        triangle_state_append(spark, state_path, edges, batch_id + 1)

    return run_stream(stream, checkpoint, body)
