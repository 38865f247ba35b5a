"""Streaming drift-state maintenance (SURVEY §2 op 135): a
continuously-current corpus drift panel over a document stream.

op 133 (``corpus_drift``) compares two STATIC snapshots with two
datasheet-class corpus passes. A continuously-ingesting corpus should
not rescan history to answer "what changed?": every panel the drift
report reads is a mergeable summary — per-source doc/token counts
(additive), the op-77 log2 length histogram (additive), per-content-
hash multiplicities (additive, the op-16 ``text_key`` domain), and the
op-114 bottom-k fingerprint sketch (a KMV lattice element, whose merge
is EXACT). So the state folds per micro-batch at batch-proportional
cost, and a report is state-vs-state driver work over bounded tables.

The law (pinned in test_streaming_drift.py, the op-132 bit-exact-law
pattern): after folding any batch sequence, ``drift_state_report`` over
two states equals ``corpus_drift`` over the corresponding batch UNIONS
— EXACTLY, every metric, because every component's fold is exact (the
first three are integer sums; the bottom-k merge law is pinned in
test_bottomk.py). No quantization knob is needed, unlike op 132's
score grid: three panels are naturally bounded (sources, ≤ 41 buckets,
k sketch rows) and the dup panel's state is distinct-content-
proportional — the op-104 incremental-dedup state class, the honest
cost of an exact duplication rate over unbounded history (probed and
merged per batch, never rescanned).

Replay safety is the versioned-state format of ``dwca_parquet_spark.fs``
(``latest_version`` / ``commit_version``; its docstring carries the
argument): state versions are ``v<batch_id>/`` directories written
staged + renamed, the watermark IS the newest complete version, and a
replayed batch_id ≤ watermark is a no-op before any read or merge.

No reference analogue (the reference ships no streaming surface —
SURVEY §2.F); composition of this repo's own gated ops 16/77/114/133.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwca_parquet_spark.fs import commit_version, latest_version
from dwca_parquet_spark.operators.drift import (
    DRIFT_K,
    collect_side,
    compose_drift_report,
    side_frames,
)
from dwca_parquet_spark.operators.rollup import log_hist_merge
from dwca_parquet_spark.operators.sketch import bottomk_merge
from dwca_parquet_spark.streaming import run_stream

__all__ = [
    "apply_drift_batch",
    "drift_state_report",
    "drift_state_side",
    "read_drift_state",
    "stream_drift_maintain",
]

_PANELS = ("mix", "hist", "dups", "sketch")


def read_drift_state(
    spark: SparkSession, state_path: str
) -> tuple[int, dict[str, DataFrame] | None]:
    """(watermark, {panel: DataFrame}) — None tables when no state
    exists yet (the first fold seeds every panel from the batch)."""
    wm = latest_version(spark, state_path)
    if wm < 0:
        return wm, None
    base = f"{str(state_path).rstrip('/')}/v{wm}"
    return wm, {
        p: spark.read.parquet(f"{base}/{p}.parquet") for p in _PANELS
    }


def apply_drift_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    id_col: str,
    text_col: str,
    source_col: str | None = None,
) -> bool:
    """Fold one micro-batch into the four stored panels; False =
    replay skipped. Exposed separately from the stream wiring so the
    replay semantics are directly testable (the sketches-module
    precedent)."""
    wm, state = read_drift_state(spark, state_path)
    if batch_id <= wm:
        return False  # replayed batch: state already includes it
    mix_p, hist_p, dups_p, sketch_p = side_frames(
        batch, id_col, text_col, source_col
    )
    if state is not None:
        mix_p = (
            state["mix"].unionByName(mix_p)
            .groupBy("_src")
            .agg(F.sum("docs").alias("docs"), F.sum("toks").alias("toks"))
        )
        hist_p = log_hist_merge(state["hist"], hist_p)
        dups_p = (
            state["dups"].unionByName(dups_p)
            .groupBy("text_hash")
            .agg(F.sum("n").alias("n"))
        )
        sketch_p = bottomk_merge(state["sketch"], sketch_p, DRIFT_K)

    def write(tmp: str) -> None:
        for name, df in zip(_PANELS, (mix_p, hist_p, dups_p, sketch_p)):
            # mix/hist/sketch are bounded; dups is distinct-content-sized
            # — keep it multi-file-capable, coalesce only the bounded three
            out = df if name == "dups" else df.coalesce(1)
            out.write.parquet(f"{tmp}/{name}.parquet")

    commit_version(spark, state_path, batch_id, write, keep=2)
    return True


def drift_state_side(spark: SparkSession, state_path: str):
    """A stored state reduced to the compose_drift_report side tuple —
    identical reduction to the one-shot path (collect_side), so the
    two report paths share every number's derivation."""
    wm, state = read_drift_state(spark, state_path)
    if state is None:
        raise ValueError(f"no drift state at {state_path!r}")
    return collect_side(
        state["mix"], state["hist"], state["dups"], state["sketch"]
    )


def drift_state_report(
    spark: SparkSession,
    old_state_path: str,
    new_state_path: str,
    name: str = "corpus",
) -> tuple[str, dict]:
    """(markdown report, metrics dict) comparing two stored drift
    states — op 133's exact composition over state instead of corpora.
    ≡ corpus_drift(old union, new union) EXACTLY (module docstring)."""
    return compose_drift_report(
        drift_state_side(spark, old_state_path),
        drift_state_side(spark, new_state_path),
        name,
    )


def stream_drift_maintain(
    stream: DataFrame,
    state_path: str,
    id_col: str,
    text_col: str,
    checkpoint: str,
    source_col: str | None = None,
):
    """Start a streaming query maintaining the drift state. Returns the
    StreamingQuery; compare any two maintained states any time with
    :func:`drift_state_report`."""
    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        apply_drift_batch(
            spark, state_path, batch, batch_id, id_col, text_col,
            source_col=source_col,
        )

    return run_stream(stream, checkpoint, body)
