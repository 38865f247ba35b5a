"""Streaming sketch maintenance: keep mergeable summaries (CMS + HLL
+ bottom-k) of a streaming column as stored state, folded per micro-batch
(SURVEY §2 round-5 extension; composes operators/sketch.py's mergeable
summaries with the streaming/ingest.py foreachBatch discipline).

A continuously-ingested corpus needs continuously-current statistics —
token frequencies for heavy-hitter monitoring (CMS), distinct counts for
dedup-rate dashboards (HLL), and a live uniform sample of the distinct
items (bottom-k, op 114 — whose lattice merge law makes the streaming
fold EXACTLY equal to the one-shot sketch, not approximately) — without
ever rescanning the corpus. The
mergeable-summaries contract (Agarwal et al. 2012; PAPERS.md) makes the
streaming lift trivially correct ON THE HAPPY PATH: fold each
micro-batch's bounded partial into the stored state. The part that is
NOT free is replay: foreachBatch may re-deliver a batch after a crash,
and unlike streaming/ingest.py's content-keyed dedup (where a replay
finds its rows already stored and appends nothing), RE-MERGING a sketch
partial double-counts. Sketch state therefore uses the transactional
versioned-state format of ``dwca_parquet_spark.fs`` (``latest_version`` /
``commit_version``): state versions are ``v<batch_id>/`` directories
written staged and renamed, the applied-batch watermark IS the newest
complete version (no side meta file that could desync from the data it
describes), and a replayed batch_id <= watermark is a no-op BEFORE any
read or merge.

Scale: per batch the work is cms_build/hll_build over the batch (one
combinable groupBy each) plus a merge against state tables bounded by
depth*width and 2^b rows — per-batch cost is O(batch) regardless of how
much history the sketches summarize. The two newest versions are kept;
state on disk is a few bounded parquet files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwca_parquet_spark.fs import FS, commit_version, latest_version

from dwca_parquet_spark.operators.sketch import (
    HLL_B,
    bottomk_build,
    bottomk_by_group,
    bottomk_group_merge,
    bottomk_merge,
    group_overlap_estimates,
    cms_build,
    cms_merge,
    hll_build,
    hll_merge,
)
from dwca_parquet_spark.streaming import run_stream

CMS_SCHEMA = "row int, col long, cnt long"
HLL_SCHEMA = "bucket long, register int"
# items are cast to string before sketching so the stored state schema
# is stable whatever the stream's item type (the hash casts anyway)
BK_SCHEMA = "key string, _bh long"
BK_K = 256


def read_sketch_state(
    spark: SparkSession, state_path: str
) -> tuple[int, DataFrame, DataFrame, DataFrame]:
    """(watermark, cms, hll, bottomk) — empty bounded tables when no
    state yet."""
    wm = latest_version(spark, state_path)
    if wm < 0:
        return (
            wm,
            spark.createDataFrame([], CMS_SCHEMA),
            spark.createDataFrame([], HLL_SCHEMA),
            spark.createDataFrame([], BK_SCHEMA),
        )
    base = f"{str(state_path).rstrip('/')}/v{wm}"
    # round-6 added the bottom-k leg to the state layout; a pre-r6
    # directory has cms/hll but no bk.parquet. Crashing is correct (an
    # empty-bk fallback would claim key coverage the sketch never saw),
    # but the failure must be self-explanatory, not a raw path error.
    if not FS(spark, base).exists(f"{base}/bk.parquet"):
        raise ValueError(
            f"sketch state at {base} predates the bottom-k state format "
            "(no bk.parquet); the stored state cannot claim bottom-k "
            "coverage it never computed — delete the state directory "
            "and rebuild from the source stream"
        )
    return (
        wm,
        spark.read.schema(CMS_SCHEMA).parquet(f"{base}/cms.parquet"),
        spark.read.schema(HLL_SCHEMA).parquet(f"{base}/hll.parquet"),
        spark.read.schema(BK_SCHEMA).parquet(f"{base}/bk.parquet"),
    )


def apply_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    item_col: str,
    width: int = 8192,
    depth: int = 4,
    b: int = HLL_B,
    k: int = BK_K,
) -> bool:
    """Fold one micro-batch into the stored sketches; False = replay
    skipped. Exposed separately from the stream wiring so the replay
    semantics are directly testable (and so a non-streaming incremental
    pipeline can call it per ingestion batch)."""
    wm, cms, hll, bk = read_sketch_state(spark, state_path)
    if batch_id <= wm:
        return False  # replayed batch: state already includes it
    new_cms = cms_merge(cms, cms_build(batch, item_col, width, depth))
    new_hll = hll_merge(hll, hll_build(batch, item_col, b))
    batch_bk = bottomk_build(
        batch.select(F.col(item_col).cast("string").alias(item_col)),
        item_col, k,
    )
    new_bk = bottomk_merge(bk, batch_bk, k)

    def write(tmp: str) -> None:
        new_cms.coalesce(1).write.parquet(f"{tmp}/cms.parquet")
        new_hll.coalesce(1).write.parquet(f"{tmp}/hll.parquet")
        new_bk.coalesce(1).write.parquet(f"{tmp}/bk.parquet")

    commit_version(spark, state_path, batch_id, write, keep=2)
    return True


def stream_sketch_maintain(
    stream: DataFrame,
    state_path: str,
    item_col: str,
    checkpoint: str,
    width: int = 8192,
    depth: int = 4,
    b: int = HLL_B,
    k: int = BK_K,
):
    """Start a streaming query maintaining CMS + HLL + bottom-k state
    for ``item_col`` at ``state_path``. Returns the StreamingQuery; read
    the current summaries any time with :func:`read_sketch_state`."""
    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        apply_batch(
            spark, state_path, batch, batch_id, item_col,
            width=width, depth=depth, b=b, k=k,
        )

    return run_stream(stream, checkpoint, body)


# ---------------------------------------------------------------------------
# Streaming PER-GROUP bottom-k (SURVEY §2 op 137): op 117's state
# maintained per micro-batch, so the per-group distinct dashboards
# (op 117 estimates) and the cross-group overlap panel (op 131) are
# continuously current without a corpus rescan. The fold is the op-117
# lattice merge — per-group union-distinct → re-rank — which equals
# building over the unioned inputs EXACTLY (the same KMV law op 114
# pins), so fold ≡ one-shot bottomk_by_group row-for-row. Same
# versioned-state replay rules as the global sketches above.
# ---------------------------------------------------------------------------

GBK_SCHEMA = "grp string, key string, _bh long"


def read_group_bottomk_state(
    spark: SparkSession, state_path: str
) -> tuple[int, DataFrame]:
    """(watermark, per-group state) — empty bounded table when no state
    exists yet. The state is ≤ |groups|·k rows, never corpus-sized."""
    wm = latest_version(spark, state_path)
    if wm < 0:
        return wm, spark.createDataFrame([], GBK_SCHEMA)
    base = f"{str(state_path).rstrip('/')}/v{wm}"
    return wm, spark.read.schema(GBK_SCHEMA).parquet(f"{base}/gbk.parquet")


def apply_group_bottomk_batch(
    spark: SparkSession,
    state_path: str,
    batch: DataFrame,
    batch_id: int,
    group_col: str,
    key_col: str,
    k: int = BK_K,
) -> bool:
    """Fold one micro-batch's (group, key) pairs into the stored
    per-group bottom-k; False = replay skipped. Group and key are cast
    to string at the head (the BK_SCHEMA stability contract above —
    and the string domain group_overlap_estimates already reports)."""
    wm, state = read_group_bottomk_state(spark, state_path)
    if batch_id <= wm:
        return False  # replayed batch: state already includes it
    part = bottomk_by_group(
        batch.select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(key_col).cast("string").alias("key"),
        ),
        "grp",
        "key",
        k,
    )
    merged = bottomk_group_merge(state, part, k)
    commit_version(
        spark, state_path, batch_id,
        lambda tmp: merged.coalesce(1).write.parquet(f"{tmp}/gbk.parquet"),
        keep=2,
    )
    return True


def group_overlap_from_state(
    spark: SparkSession, state_path: str, k: int = BK_K
) -> DataFrame:
    """op 131's pairwise overlap estimates over the STORED state — the
    continuously-current provenance panel ("how much of source A is
    also in B right now"), driver combinatorics over ≤ |groups|·k rows."""
    _, state = read_group_bottomk_state(spark, state_path)
    return group_overlap_estimates(state, k)


def stream_group_bottomk_maintain(
    stream: DataFrame,
    state_path: str,
    group_col: str,
    key_col: str,
    checkpoint: str,
    k: int = BK_K,
):
    """Start a streaming query maintaining the per-group bottom-k state.
    Returns the StreamingQuery; read estimates/overlaps any time with
    :func:`read_group_bottomk_state` / :func:`group_overlap_from_state`."""
    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        apply_group_bottomk_batch(
            spark, state_path, batch, batch_id, group_col, key_col, k=k
        )

    return run_stream(stream, checkpoint, body)
