"""Streaming evaluation state (SURVEY §2 op 132): the per-batch fold of
per-score counts yields EXACTLY the one-shot auc_roc over everything at
the same grid, replayed batches are no-ops, crashed staged writes never
corrupt state, and the real stream wiring converges to the same state."""

from __future__ import annotations

from pyspark.sql import functions as F

from dwca_parquet_spark.fs import latest_version as applied_watermark
from dwca_parquet_spark.operators.evaluation import auc_roc
from dwca_parquet_spark.streaming.evaluation import (
    apply_eval_batch,
    eval_state_metrics,
    read_eval_state,
    stream_eval_maintain,
)
from tests.conftest import SF_T2

GRID = 4


def _scored(spark):
    """Labeled scores off the fixture documents — a quality-scorer
    monitoring shape (score correlated but not determined)."""
    return spark.read.parquet(f"{SF_T2}/documents.parquet").select(
        F.expr("(n_chars + doc_id % 13) % 3 < 1").alias("label"),
        (F.col("n_chars") / 977.0).alias("score"),
    )


def _one_row(df):
    r = df.collect()[0]
    return (r["auc"], r["n_pos"], r["n_neg"])


def test_fold_equals_one_shot_exactly(spark, tmp_path):
    d = _scored(spark)
    state = str(tmp_path / "st")
    for i, b in enumerate(d.randomSplit([1.0, 1.0, 1.0], seed=7)):
        assert apply_eval_batch(
            spark, state, b, i, "label", "score", round_to=GRID
        )
    got = _one_row(eval_state_metrics(spark, state))
    want = _one_row(auc_roc(d, "label", "score", round_to=GRID))
    assert got == want  # EXACT — integer count sums commute
    assert 0.0 < got[0] < 1.0 and got[1] + got[2] == d.count()


def test_replay_is_noop_and_crash_residue_ignored(spark, tmp_path):
    d = _scored(spark).limit(200)
    state = str(tmp_path / "st2")
    assert apply_eval_batch(spark, state, d, 0, "label", "score", GRID)
    before = sorted(
        tuple(r) for r in read_eval_state(spark, state)[1].collect()
    )
    # replay: must change nothing
    assert not apply_eval_batch(spark, state, d, 0, "label", "score", GRID)
    after = sorted(
        tuple(r) for r in read_eval_state(spark, state)[1].collect()
    )
    assert before == after and applied_watermark(spark, state) == 0
    # a crashed .tmp residue is ignored by reads and replaced by the
    # next successful attempt for that id
    import pathlib

    residue = pathlib.Path(state) / "v1.tmp"
    residue.mkdir(parents=True)
    (residue / "junk").write_text("partial")
    assert applied_watermark(spark, state) == 0
    assert apply_eval_batch(
        spark, state, d.limit(50), 1, "label", "score", GRID
    )
    assert applied_watermark(spark, state) == 1


def test_stream_wiring_converges(spark, tmp_path):
    d = _scored(spark)
    src = str(tmp_path / "src")
    d.repartition(3).write.parquet(src)
    state = str(tmp_path / "state")
    q = stream_eval_maintain(
        spark.readStream.schema(d.schema).format("parquet").load(src),
        state,
        "label",
        "score",
        str(tmp_path / "ckpt"),
        round_to=GRID,
    )
    q.awaitTermination(120)
    got = _one_row(eval_state_metrics(spark, state))
    want = _one_row(auc_roc(d, "label", "score", round_to=GRID))
    assert got == want
