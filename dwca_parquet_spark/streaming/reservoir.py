"""Streaming weighted-reservoir state (SURVEY §2.G op 163) — op 162
served continuously: a continuously-ingested corpus keeps an
exactly-n, weight-proportional sample current without rescanning
history.

The fold law is EXACT, not approximate, because the op-162 race key is
a deterministic function of (key, salt, weight) — no RNG state to
carry: each row's exponential race key E = -ln(u)/w (u from the seeded
portable hash, locked to DECIMAL(28,12)) is the same on every engine
and every delivery, so "the n smallest keys" is a MERGEABLE statistic:
top-n(top-n(A) ∪ B) = top-n(A ∪ B). The classical weighted reservoir
(Efraimidis-Spirakis A-Res) keeps exactly this state — the n best keys
seen so far — and the determinism protocol makes replays idempotent
for free (a re-delivered row carries the identical key and collapses
in the distinct).

report(state) ≡ weighted_sample_k(distinct union of all batches),
row-for-row including the audit es_key column (pinned in
tests/test_streaming_reservoir.py). Contract: ``key_col`` is the row's
identity — rows re-delivered across batches must be identical
(the op-89 replay discipline); rows with NULL keys or non-positive
weights are outside the race (the op-162 domain).

State size: exactly ≤ n rows + the decimal race key — O(n), not
O(stream). Per-batch cost: one scan-stage key projection over the
batch, a union with ≤ n state rows, one TakeOrderedAndProject. Replay
safety: the versioned-state format of ``dwca_parquet_spark.fs`` (staged
v<batch_id>.tmp → atomic rename; batch_id <= watermark is a no-op
before any read or merge — the same ``latest_version`` /
``commit_version`` the other streaming states use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwca_parquet_spark.fs import commit_version, latest_version
from dwca_parquet_spark.operators.sampling import _es_key
from dwca_parquet_spark.streaming import run_stream


def read_reservoir_state(
    spark: SparkSession, state_path: str
) -> tuple[int, DataFrame | None]:
    """(watermark, state) — state is None when no version exists (the
    schema is the caller's row schema + `_ek`, so there is no fixed
    empty frame to synthesize)."""
    wm = latest_version(spark, state_path)
    if wm < 0:
        return wm, None
    base = f"{str(state_path).rstrip('/')}/v{wm}"
    return wm, spark.read.parquet(f"{base}/sample.parquet")


def apply_reservoir_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    key_col: str,
    weight_col: str,
    n: int,
    salt: str = "",
) -> bool:
    """Fold one micro-batch into the stored reservoir; False = replay
    skipped. The merged candidate set is (≤ n state rows) ∪ (the
    batch's qualified rows); the new state is its n smallest race keys
    under the identical (key ASC) tie-break as op 162."""
    wm, state = read_reservoir_state(spark, state_path)
    if batch_id <= wm:
        return False
    part = (
        batch.filter(
            (F.col(weight_col).cast("double") > 0)
            & ~F.isnan(F.col(weight_col).cast("double"))
            & F.col(key_col).isNotNull()
        )
        .withColumn("_ek", _es_key(key_col, weight_col, salt))
        # overflowed (NULL) race keys are outside the race — the same
        # exclusion the one-shot operator applies, keeping the fold law
        .filter(F.col("_ek").isNotNull())
    )
    merged = part if state is None else state.unionByName(part)
    top = (
        # distinct collapses re-delivered rows (identical key → the
        # identical deterministic race key and payload, by contract)
        merged.distinct()
        .orderBy(F.col("_ek").asc(), F.col(key_col).asc())
        .limit(n)
    )
    commit_version(
        spark, state_path, batch_id,
        lambda tmp: top.write.parquet(f"{tmp}/sample.parquet"),
        keep=2,
    )
    return True


def reservoir_report(state: DataFrame | None) -> DataFrame | None:
    """The op-162 output shape from state: the sampled rows + es_key
    (double) — report(state) ≡ weighted_sample_k(distinct union),
    column-for-column. None in → None out (no state yet)."""
    if state is None:
        return None
    return state.withColumn(
        "es_key", F.col("_ek").cast("double")
    ).drop("_ek")


def apply_group_reservoir_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "",
) -> bool:
    """Per-group variant (SURVEY §2.G op 164): the state holds each
    group's k smallest race keys — ≤ k rows per OBSERVED group, the
    same mergeable min-k statistic per group, so
    report(state) ≡ group_weighted_sample_k(distinct union) for every
    group including groups first seen mid-stream. One row_number window
    per fold, partitioned on the group key (the op-137 streaming
    per-group bottom-k shape); state size O(k · observed groups)."""
    from pyspark.sql import Window

    wm, state = read_reservoir_state(spark, state_path)
    if batch_id <= wm:
        return False
    part = (
        batch.filter(
            (F.col(weight_col).cast("double") > 0)
            & ~F.isnan(F.col(weight_col).cast("double"))
            & F.col(key_col).isNotNull()
        )
        .withColumn("_ek", _es_key(key_col, weight_col, salt))
        .filter(F.col("_ek").isNotNull())
    )
    merged = part if state is None else state.unionByName(part)
    w = Window.partitionBy(group_col).orderBy(
        F.col("_ek").asc(), F.col(key_col).asc()
    )
    top = (
        merged.distinct()
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
    commit_version(
        spark, state_path, batch_id,
        lambda tmp: top.write.parquet(f"{tmp}/sample.parquet"),
        keep=2,
    )
    return True


def stream_reservoir_maintain(
    stream: DataFrame,
    state_path: str,
    checkpoint: str,
    key_col: str,
    weight_col: str,
    n: int,
    salt: str = "",
):
    """Start a streaming query maintaining the reservoir; read the
    current sample any time via read_reservoir_state +
    reservoir_report."""
    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        apply_reservoir_batch(
            spark, state_path, batch, batch_id,
            key_col, weight_col, n, salt=salt,
        )

    return run_stream(stream, checkpoint, body)
