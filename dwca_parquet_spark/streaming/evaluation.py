"""Streaming evaluation-state maintenance (SURVEY §2 op 132): a
continuously-current ROC-AUC over a scored, labeled stream.

A production quality classifier (ops 64/81/112) scores documents as
they arrive; the health question — "is the scorer still separating the
labeled canaries?" — needs metrics over EVERYTHING SEEN SO FAR without
rescanning it. op 124's rank statistic is computed from the per-
distinct-score (p, n) counts, and counts are the canonical mergeable
summary: fold each micro-batch's bounded per-score partial into stored
state, and the AUC from state equals the batch AUC over the union of
all batches EXACTLY (integer sums commute — the same reason op 130's
PCA state gets a bit-exact law). ``round_to`` quantizes scores to a
fixed grid so the state stays bounded (≤ grid size rows) no matter how
much history it summarizes; the law holds exactly AT the grid — i.e.
fold ≡ one-shot auc_roc(round_to=same) — which is the honest statement
(a continuous-score stream cannot keep unbounded per-score state).

Replay safety is the versioned-state format of ``dwca_parquet_spark.fs``
(``latest_version`` / ``commit_version``; its docstring carries the
argument): state versions are ``v<batch_id>/`` directories written
staged + renamed, the watermark IS the newest complete version, and a
replayed batch_id ≤ watermark is a no-op before any read or merge —
re-merging counts would double-count, exactly like sketch partials.

Per-batch cost: one combinable groupBy over the batch + a merge against
the bounded state table. Reading metrics any time:
:func:`eval_state_metrics` — op 124's integer rank arithmetic over the
stored counts (the table is grid-bounded, so the single global window
is the right plan; `operators/evaluation.py auc_from_score_counts`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwca_parquet_spark.fs import commit_version, latest_version
from dwca_parquet_spark.operators.evaluation import (
    _by_score,
    _labeled,
    auc_from_score_counts,
)
from dwca_parquet_spark.streaming import run_stream

EVAL_SCHEMA = "score double, p long, n long"
EVAL_ROUND_TO = 6


def read_eval_state(
    spark: SparkSession, state_path: str
) -> tuple[int, DataFrame]:
    """(watermark, per-score counts) — an empty bounded table when no
    state exists yet."""
    wm = latest_version(spark, state_path)
    if wm < 0:
        return wm, spark.createDataFrame([], EVAL_SCHEMA)
    base = f"{str(state_path).rstrip('/')}/v{wm}"
    return wm, spark.read.schema(EVAL_SCHEMA).parquet(f"{base}/counts.parquet")


def apply_eval_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    label_col: str,
    score_col: str,
    round_to: int = EVAL_ROUND_TO,
) -> bool:
    """Fold one micro-batch's labeled scores into the stored counts;
    False = replay skipped. Exposed separately from the stream wiring
    so the replay semantics are directly testable (the sketches-module
    precedent)."""
    wm, state = read_eval_state(spark, state_path)
    if batch_id <= wm:
        return False  # replayed batch: state already includes it
    part = _by_score(_labeled(batch, label_col, score_col, round_to))
    merged = (
        state.unionByName(part)
        .groupBy("score")
        .agg(F.sum("p").alias("p"), F.sum("n").alias("n"))
    )
    commit_version(
        spark, state_path, batch_id,
        lambda tmp: merged.coalesce(1).write.parquet(f"{tmp}/counts.parquet"),
        keep=2,
    )
    return True


def eval_state_metrics(spark: SparkSession, state_path: str) -> DataFrame:
    """One row (auc, n_pos, n_neg) from the stored counts — op 124's
    arithmetic, so after any fold sequence this equals
    auc_roc(union of batches, round_to=the state grid) EXACTLY."""
    _, state = read_eval_state(spark, state_path)
    return auc_from_score_counts(state)


def stream_eval_maintain(
    stream: DataFrame,
    state_path: str,
    label_col: str,
    score_col: str,
    checkpoint: str,
    round_to: int = EVAL_ROUND_TO,
):
    """Start a streaming query maintaining the evaluation state.
    Returns the StreamingQuery; read current metrics any time with
    :func:`eval_state_metrics`."""
    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        apply_eval_batch(
            spark, state_path, batch, batch_id, label_col, score_col,
            round_to=round_to,
        )

    return run_stream(stream, checkpoint, body)
