"""Streaming incremental ingestion: the round-4 batch family
(Bloom dedup → CDC-style append) lifted onto Structured Streaming via
``foreachBatch`` (SURVEY §2 round-4 extension).

Continuous corpus ingestion is a stream of document batches, but the
per-batch work is RELATIONAL (dedup against stored history, merge into
the store) — exactly what foreachBatch exists for: the streaming engine
handles source progress tracking, batch ids, and restart/exactly-once
bookkeeping; each micro-batch body reuses the SAME operators the batch
pipeline runs, so streaming-vs-batch parity is by construction, not by a
re-implementation (the repo-wide streaming discipline — see
streaming/events.py).

Idempotency on restart: foreachBatch may REPLAY a batch after a crash.
The body is a content-keyed dedup against the store — a replayed batch
finds all its rows already in history and appends nothing — so the sink
stays exactly-once without transactional writes (the same
dedup-as-idempotency argument as service.py's job idempotency).

Scale: identical to the batch path (that is the point): Bloom probe is
zero-shuffle over the micro-batch, the verify streams history only under
a broadcast candidate set, and the append writes only fresh rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dwca_parquet_spark.cache import release_caches
from dwca_parquet_spark.operators.bloom import dedup_incremental
from dwca_parquet_spark.sinks.parquet import COMPRESSION, write_partitioned_dynamic
from dwca_parquet_spark.streaming import run_stream


def stream_ingest_dedup(
    stream: DataFrame,
    store_path: str,
    id_col: str,
    text_col: str,
    checkpoint: str,
    fpp: float = 0.01,
):
    """Start a streaming query appending only content-new rows to the
    parquet store at ``store_path`` (which must exist — seed it with an
    empty or initial corpus write). Returns the StreamingQuery."""
    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        history = spark.read.parquet(store_path)
        fresh = dedup_incremental(batch, history, id_col, text_col, fpp=fpp)
        # also dedup WITHIN the micro-batch (first id wins) — a stream
        # can carry the same document twice in one trigger interval
        from pyspark.sql import Window

        w = Window.partitionBy("_chash_b").orderBy(F.col(id_col).asc())
        from dwca_parquet_spark.functions import hashing as H

        fresh = (
            fresh.withColumn(
                "_chash_b",
                H.poly_hash(H.normalize_text(F.col(text_col))),
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_chash_b", "_rn")
        )
        fresh.write.mode("append").option("compression", COMPRESSION).parquet(
            store_path
        )
        release_caches()  # the probe's tracked persist, per batch

    return run_stream(stream, checkpoint, body)


def stream_ingest_paragraph_dedup(
    stream: DataFrame,
    doc_store: str,
    state_store: str,
    id_col: str,
    text_col: str,
    checkpoint: str,
    unit: str = "paragraph",
):
    """Streaming lift of incremental paragraph dedup (SURVEY §2 op 104):
    each micro-batch is cleaned against the stored paragraph-hash state
    (``state_store``, seeded with the initial corpus's
    ``paragraph_state`` — or an empty ``_k bigint, _k2 bigint`` table),
    surviving
    documents land in ``doc_store`` partitioned by batch id, and the
    batch's fresh hashes are appended to the state. Returns the
    StreamingQuery.

    Idempotency is BY WRITE ORDER, proof by cases (test_streaming_ingest):
    docs first via dynamic-partition overwrite keyed on ``_batch`` (a
    replayed batch overwrites its own partition with identical rows; an
    all-duplicate replay produces zero rows, and dynamic overwrite with
    zero partitions touches nothing), THEN the hash append (a replay's
    fresh set is empty once the hashes landed; duplicate hashes from a
    crash between the two writes are harmless — the probe is an
    anti-join, for which state multiplicity is irrelevant).
    """
    from dwca_parquet_spark.cache import persist_tracked
    from dwca_parquet_spark.operators.dedup import (
        dedup_paragraphs_incremental,
        paragraph_state,
    )

    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        state = spark.read.parquet(state_store)
        batch = persist_tracked(batch)
        cleaned = dedup_paragraphs_incremental(
            batch, state, id_col, text_col, unit
        ).filter(F.col("n_paras_kept") > 0)
        write_partitioned_dynamic(
            cleaned.withColumn("_batch", F.lit(batch_id)),
            doc_store,
            ["_batch"],
        )
        # localCheckpoint (not persist: eviction would recompute against
        # the already-extended dir) BEFORE the append — fresh_k reads the
        # same files the append extends
        fresh_k = paragraph_state(batch, id_col, text_col, unit).join(
            state.select("_k", "_k2"), ["_k", "_k2"], "left_anti"
        ).localCheckpoint(eager=True)
        fresh_k.write.mode("append").option("compression", COMPRESSION).parquet(
            state_store
        )
        release_caches()

    return run_stream(stream, checkpoint, body)


def stream_ingest_semantic_dedup(
    stream: DataFrame,
    vec_store: str,
    cents_path: str,
    assigned_path: str,
    id_col: str,
    vec_col: str,
    checkpoint: str,
    threshold: float = 0.95,
):
    """Streaming lift of incremental semantic dedup (SURVEY §2 op 118 —
    the op-107 pattern for embeddings): each micro-batch of vectors is
    probed against the stored cell state; batch vectors semantically
    novel land in ``vec_store`` partitioned by batch id, and ONLY their
    assigned rows append to the state — the state IS the deduplicated
    corpus, like the Bloom path's store.

    Keep policy (transitive, matching the batch operator's CC
    discipline): connected components over ALL probe pairs (history×
    batch + batch×batch); a batch vector is kept iff its component
    contains no history vector AND it is the component's minimum id
    (unpaired vectors are their own component — kept). Seed the state
    with :func:`~dwca_parquet_spark.operators.semdedup.semdedup_state`
    over the initial corpus.

    Idempotency on replay: ids already present in the state are dropped
    BEFORE the probe (a replayed batch row carries an id the state
    ingested — and the probe's pair orientation requires disjoint id
    spaces, which a replay would otherwise violate with self-loop
    pairs). A full replay therefore keeps nothing: the doc write
    (dynamic partition overwrite on ``_batch``, FIRST) overwrites its
    own partition identically or touches nothing, and the state append
    (SECOND) appends zero rows. Proof by write order, the op-107 cases.
    """
    from dwca_parquet_spark.cache import persist_tracked
    from dwca_parquet_spark.operators.dedup import connected_components
    from dwca_parquet_spark.operators.semdedup import (
        semantic_dedup_incremental,
    )

    spark = stream.sparkSession

    def body(batch: DataFrame, batch_id: int) -> None:
        cents = spark.read.parquet(cents_path)
        assigned = spark.read.parquet(assigned_path)
        # replay guard + disjoint-id contract: state-resident ids never
        # re-enter the probe (self-loop pairs would masquerade as clean
        # components and re-append on replay)
        batch = persist_tracked(
            batch.join(assigned.select(F.col(id_col)), id_col, "left_anti")
        )
        pairs, batch_assigned = semantic_dedup_incremental(
            batch, cents, assigned, id_col, vec_col, threshold
        )
        pairs = persist_tracked(pairs, eager=True)
        bids = batch.select(F.col(id_col).alias("node"))
        comp = persist_tracked(connected_components(pairs), eager=True)
        # components touching history: any node that is not a batch id
        contaminated = (
            comp.join(bids, "node", "left_anti").select("label").distinct()
        )
        # kept = batch nodes in clean components at the component minimum
        # (labels are component-minimum ids by construction), plus batch
        # vectors that appear in no pair at all
        paired_batch = comp.join(bids, "node", "left_semi")
        kept_paired = (
            paired_batch.join(contaminated, "label", "left_anti")
            .filter(F.col("node") == F.col("label"))
            .select(F.col("node").alias(id_col))
        )
        unpaired = bids.select(F.col("node").alias(id_col)).join(
            comp.select(F.col("node").alias(id_col)), id_col, "left_anti"
        )
        kept_ids = kept_paired.unionByName(unpaired)
        kept = batch.join(kept_ids, id_col, "left_semi")
        write_partitioned_dynamic(
            kept.withColumn("_batch", F.lit(batch_id)), vec_store, ["_batch"]
        )
        # state append AFTER the doc write (the op-107 write order);
        # localCheckpoint so the append's read plan cannot observe the
        # directory it is extending
        fresh = batch_assigned.join(
            kept_ids, id_col, "left_semi"
        ).localCheckpoint(eager=True)
        # same cell-partitioned layout the op-118 state contract
        # prescribes (and the seed write used) — a flat append into a
        # partitioned directory is invisible to partition discovery
        fresh.write.mode("append").partitionBy("cell").option(
            "compression", COMPRESSION
        ).parquet(assigned_path)
        release_caches()

    return run_stream(stream, checkpoint, body)
