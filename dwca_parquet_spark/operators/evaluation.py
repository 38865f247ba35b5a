"""Classifier evaluation — exact ROC-AUC, PR curve, threshold metrics
(SURVEY §2 op 124).

The quality-classifier ops (64 NB, 81 bigram LM, 112 DSIR) score
documents; a training-data pipeline then has to VALIDATE those scorers
against labeled holdouts before trusting them to gate a 100 TB corpus.
That needs classifier metrics computed distributed — this module is
that leg: exact tie-aware ROC-AUC (the rank-statistic form), the
precision/recall curve, and one-aggregate threshold metrics.

No reference analogue (the reference ships no ML surface — SURVEY §2.F);
public semantics: AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻),
identically the normalized Mann-Whitney U statistic.

Shape (the part that matters at scale):

* ``confusion_at`` is ONE map-side-combinable aggregate — no window, no
  sort, no second scan. Plan-pinned window/sort-free.
* ``auc_roc``/``pr_curve`` first reduce the corpus to per-DISTINCT-score
  (positives, negatives) counts — a combinable groupBy — and only then
  run the cumulative window over that aggregated table. The global sort
  the rank statistic fundamentally requires therefore touches
  |distinct scores| rows, never |corpus| rows. For continuous scores
  (distinct ≈ corpus) pass ``round_to``: scores quantize to a fixed
  decimal grid FIRST, bounding the windowed table (e.g. round_to=6 on
  probabilities → ≤ 2·10⁶ + 1 rows) at a documented, deterministic
  resolution cost. This is the same exact-by-default / bounded-by-knob
  contract as quantile_bins vs quantile_bins_approx (op 101).
* All rank arithmetic is INTEGER (the ½ terms are cleared by doubling)
  accumulated in DecimalType(38,0), so the statistic is exact and
  engine-deterministic regardless of partitioning; only the final
  division is floating point, performed on identical integers in both
  engines. The same discipline as PageRank's Decimal mirror (op 82).

NULL contract: rows with a NULL label or NULL score are excluded from
the evaluation universe by every function here (an unlabeled or
unscored row is not evidence for or against the classifier); labels are
"truthy" — any non-zero numeric / true boolean is a positive. A corpus
with no positives or no negatives has an undefined AUC → NULL (never a
crash, never a silent 0) — same for precision/recall/f1 denominators.

DuckDB twins: :func:`sql_auc_roc`, :func:`sql_pr_curve`,
:func:`sql_confusion_at` — identical filtering, tie grouping, integer
rank arithmetic and final division, so results match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dwca_parquet_spark.operators.relational import plan_size_bytes

__all__ = [
    "auc_roc",
    "auc_from_score_counts",
    "pr_curve",
    "confusion_at",
    "sql_auc_roc",
    "sql_pr_curve",
    "sql_confusion_at",
]


def _labeled(
    df: DataFrame, label_col: str, score_col: str, round_to: int | None
) -> DataFrame:
    """(score, pos) over the evaluation universe (non-null label+score),
    pos ∈ {0, 1} as LONG, score optionally quantized to the grid."""
    score = F.col(score_col).cast("double")
    if round_to is not None:
        score = F.round(score, round_to)
    return df.filter(
        F.col(label_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        score.alias("score"),
        (F.col(label_col).cast("boolean").cast("long")).alias("pos"),
    )


# Below this many distinct scores the single-window plan wins: the
# bucketed two-level machinery pays an extra exchange + broadcast join
# that only amortizes when the windowed relation is genuinely large
# (measured at sf0.1 / 583k distinct: 1.3 s global vs 2.4 s bucketed).
# A 4M-row single-partition window is comfortably in-memory; beyond it
# the bucket-partitioned path takes over. The count is EXACT (from the
# same bounded stats job that fetches the edges), so the choice is
# measured, never estimated — the op-114 prune discipline.
_AUC_GLOBAL_WINDOW_MAX = 4_000_000

# Inputs under this size estimate skip even the careful path's persist
# and exact count: their distinct-score table is bounded by the input
# itself (the op-114 _BK_PRUNE_MIN_BYTES discipline — at sf0.1 the
# persist+count machinery alone measured +0.6 s on a 1.3 s query).
_AUC_INPUT_SMALL_BYTES = 256 << 20

# Inputs under THIS estimate take the driver tier (round 9): one
# single-stage Arrow collect of (score, pos) plus an exact NumPy rank
# reduction on the driver — no aggregation exchange, no window sort.
# Measured at sf0.1 (600k rows, 583k distinct): 1.5 s for the
# groupBy+window plan vs 0.59 s here, identical integers. The
# optimizer estimate is file-size-derived (compressed); 32 MiB
# estimated bounds the Arrow transfer to a few hundred MB worst case —
# the bounded-state-to-driver contract every sketch op already uses.
_AUC_DRIVER_MAX_BYTES = 32 << 20


def _auc_driver(labeled: DataFrame) -> DataFrame:
    """Driver tier: exact rank reduction over a SMALL evaluation set
    (plan-chosen by the optimizer's input-size estimate). ONE
    single-stage job — Arrow-collect (score, pos), then the identical
    integer arithmetic in NumPy: per-distinct (p, n) via sort +
    reduceat, numer2 = Σ p·(2·cum_n + n) in int64 (safe while the
    evaluation set is < ~3·10⁹ rows — numer2 ≤ 2·P·N < 2⁶³; the size
    trigger keeps actual inputs orders of magnitude below that), final
    division in the exact expression shape of the SQL twin. Bit-equal
    to the window paths (pinned in test_evaluation.py).

    Tie semantics match the JVM paths exactly, including the two float
    traps: consecutive NaNs group together (np's NaN != NaN would split
    them; Spark's groupBy and DuckDB's GROUP BY both pool NaNs), and
    -0.0 groups with 0.0 (numpy == agrees)."""
    import numpy as np

    spark = labeled.sparkSession

    def row(auc, p, n) -> DataFrame:
        # range(1).select(lit…) folds to a LocalRelation — measured 2.3×
        # cheaper to materialize than createDataFrame's RDD round-trip
        return spark.range(1).select(
            F.lit(auc).cast("double").alias("auc"),
            F.lit(p).cast("long").alias("n_pos"),
            F.lit(n).cast("long").alias("n_neg"),
        )

    tbl = labeled.toArrow()  # one single-stage job, no pandas detour
    if tbl.num_rows == 0:
        # empty universe: the aggregate paths return NULL sums (SQL
        # sum-over-nothing), so the driver tier must too
        return row(None, None, None)
    s = tbl.column("score").to_numpy(zero_copy_only=False)
    pos = tbl.column("pos").to_numpy(zero_copy_only=False)
    order = np.argsort(s, kind="stable")  # NaNs sort last, like both engines
    s = s[order]
    pos = pos[order]
    first = np.r_[
        True, (s[1:] != s[:-1]) & ~(np.isnan(s[1:]) & np.isnan(s[:-1]))
    ]
    idx = np.flatnonzero(first)
    cnt = np.diff(np.r_[idx, s.size])
    p = np.add.reduceat(pos, idx)
    n = cnt - p
    cumn = np.concatenate(([0], np.cumsum(n)[:-1]))
    numer2 = int((p * (2 * cumn + n)).sum())
    p_tot, n_tot = int(p.sum()), int(n.sum())
    auc = (
        float(numer2) / (2.0 * p_tot * n_tot) if p_tot and n_tot else None
    )  # same association as the twins: (2.0 * P) * N, then one divide
    return row(auc, p_tot, n_tot)


def _by_score(labeled: DataFrame) -> DataFrame:
    """Per-distinct-score counts (score, p, n) — the combinable reduce
    that bounds everything downstream to |distinct scores| rows."""
    return labeled.groupBy("score").agg(
        F.sum("pos").alias("p"),
        F.sum(F.lit(1) - F.col("pos")).alias("n"),
    )


def auc_roc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    round_to: int | None = None,
) -> DataFrame:
    """One row (auc, n_pos, n_neg): exact tie-aware ROC-AUC.

    Rank-statistic form over per-distinct-score counts: with cum_n(s) =
    negatives strictly below s,

        AUC = Σ_s p(s)·(cum_n(s) + n(s)/2) / (P·N)

    computed as integers with the half cleared — numer2 = Σ p·(2·cum_n
    + n), AUC = numer2 / (2·P·N) — in Decimal(38,0) so no scale
    overflows it and every engine agrees exactly. NULL when P·N = 0.

    The cumulative negatives-below sum picks its plan from the EXACT
    distinct-score count (one bounded stats job, which also returns the
    bucket edges): at or below ``_AUC_GLOBAL_WINDOW_MAX`` distinct
    scores, one window over the bounded per-score table; above it, the
    op-105 two-level prefix sum — percentile_approx edges bucket the
    table (equal scores always share a bucket, so strictly-below
    semantics survive bucketing), the in-bucket window is PARTITIONED
    by bucket across parallel reducers, and an O(buckets) offset table
    (the only other window — bounded by n_buckets, the token-budget
    precedent) is broadcast back. The two plans are value-identical
    (gated in test_evaluation.py by forcing the threshold), so a
    continuous scorer at 100 TB never hits a corpus-sized
    single-partition sort, and a bounded scorer never pays the bucket
    machinery.

    ``round_to``: quantize scores first (see module docstring — the
    windowed table is otherwise |distinct scores| rows, which for a
    continuous scorer is the corpus — bucketing spreads it, quantizing
    bounds it).
    """
    labeled = _labeled(df, label_col, score_col, round_to)
    # Plan choice, three tiers of evidence (the op-114 prune
    # discipline), each selected by a strictly cheaper signal than the
    # machinery it avoids: (1) a driver-tier-small INPUT estimate → one
    # single-stage Arrow collect + exact NumPy rank reduce (no shuffle,
    # no window — the r8 6.2×-vs-oracle tier cell was this machinery on
    # sub-megabyte inputs); (2) a small estimate → the single-window
    # plan as ONE job with zero extra machinery (no persist, no stats
    # job); (3) above the threshold, the per-score table is persisted,
    # the EXACT distinct count is measured, and only a genuinely large
    # count pays the bucket machinery (with the edges as a second tiny
    # job over the cache). All three tiers are bit-identical (pinned).
    est = plan_size_bytes(labeled)  # None → the scale-safe careful path
    if est is not None and est <= _AUC_DRIVER_MAX_BYTES:
        return _auc_driver(labeled)
    g = _by_score(labeled)
    n_buckets = 64
    big_input = est is None or est > _AUC_INPUT_SMALL_BYTES
    uniq: list = []
    if big_input:
        from dwca_parquet_spark.cache import persist_tracked

        # persisted: the stats job and the scoring plan both consume
        # this table — without the persist the corpus aggregation runs
        # twice (the op-123 lesson)
        g = persist_tracked(g)
        if g.count() > _AUC_GLOBAL_WINDOW_MAX:
            uniq = sorted(
                set(
                    g.agg(
                        F.percentile_approx(
                            "score",
                            [i / n_buckets for i in range(1, n_buckets)],
                            10_000,
                        ).alias("_e")
                    ).first()["_e"]
                    or []
                )
            )
    if not uniq:
        # bounded distinct scores (measured or implied by input size):
        # single-bucket short-circuit (round 9 — erases the r8 6.2×
        # tier cell). With no bucket edges, "_b" is the literal 0, the
        # offsets table is identically (0, 0), and yet the old plan
        # still ran the offsets aggregate, its window and a broadcast
        # join against the full per-score table on EVERY sub-4M-distinct
        # input. The bounded per-score table needs exactly one window —
        # the same integer arithmetic auc_from_score_counts already
        # implements (bit-compatible by construction).
        return auc_from_score_counts(g)
    asc = sum((F.col("score") > F.lit(e)).cast("int") for e in uniq)
    g = g.withColumn("_b", F.coalesce(asc, F.lit(0)))
    w_in = Window.partitionBy("_b").orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        g.groupBy("_b")
        .agg(F.sum("n").alias("_btot"))
        .withColumn(
            "_noff",
            F.coalesce(
                F.sum("_btot").over(
                    Window.orderBy("_b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_b", "_noff")
    )
    cum_n = F.col("_noff") + F.coalesce(F.sum("n").over(w_in), F.lit(0))
    terms = g.join(F.broadcast(offsets), "_b").select(
        F.col("p"),
        F.col("n"),
        # promote BEFORE the multiply: p and cum_n are both corpus-sized,
        # so the product can pass 2^63 long before the Decimal sum would
        (
            F.col("p").cast("decimal(38,0)")
            * (F.lit(2) * cum_n + F.col("n")).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("numer2"),
    )
    return terms.agg(
        F.sum("numer2").alias("_numer2"),
        F.sum("p").alias("_P"),
        F.sum("n").alias("_N"),
    ).select(
        (
            F.col("_numer2").cast("double")
            / F.nullif(
                F.lit(2.0) * F.col("_P") * F.col("_N"), F.lit(0.0)
            )
        ).alias("auc"),
        F.col("_P").cast("long").alias("n_pos"),
        F.col("_N").cast("long").alias("n_neg"),
    )


def auc_from_score_counts(g: DataFrame) -> DataFrame:
    """AUC (same output row as :func:`auc_roc`) from an ALREADY-REDUCED
    per-distinct-score (score, p, n) table — the entry point for stored
    evaluation state (streaming/evaluation.py), whose table is bounded
    by the quantization grid, so the single global window is the right
    plan here (the auc_roc plan ladder exists for corpus-derived
    tables). Same integer rank arithmetic, bit-compatible with
    auc_roc over the equivalent rows."""
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum_n = F.coalesce(F.sum("n").over(w), F.lit(0))
    terms = g.select(
        F.col("p"),
        F.col("n"),
        (
            F.col("p").cast("decimal(38,0)")
            * (F.lit(2) * cum_n + F.col("n")).cast("decimal(38,0)")
        )
        .cast("decimal(38,0)")
        .alias("numer2"),
    )
    return terms.agg(
        F.sum("numer2").alias("_numer2"),
        F.sum("p").alias("_P"),
        F.sum("n").alias("_N"),
    ).select(
        (
            F.col("_numer2").cast("double")
            / F.nullif(
                F.lit(2.0) * F.col("_P") * F.col("_N"), F.lit(0.0)
            )
        ).alias("auc"),
        F.col("_P").cast("long").alias("n_pos"),
        F.col("_N").cast("long").alias("n_neg"),
    )


def pr_curve(
    df: DataFrame,
    label_col: str,
    score_col: str,
    round_to: int | None = None,
) -> DataFrame:
    """(threshold, tp, fp, fn, precision, recall) for every distinct
    score, where the operating point is predict-positive ⟺ score ≥
    threshold (the sweep every PR plot draws). Exact integer counts via
    ONE cumulative window over the per-distinct-score table; ratios are
    the only floats. Ordered by threshold ascending.

    Scale note: unlike auc_roc (a scalar, where the rank window got the
    bucketed two-level plan), the CURVE's output is inherently
    |distinct scores| rows — a 20M-point curve is not a useful
    artifact, so ``round_to`` IS the scale contract here: quantize to
    the grid you intend to plot, which bounds both the window and the
    output (the op-101 exact-by-default / bounded-by-knob shape).

    That contract is ENFORCED, not assumed (round 9, the op-110
    refuse-past-limit discipline): an un-quantized call over a large
    input measures the exact distinct-score count first (persist +
    count, the auc_roc careful-path machinery) and REFUSES above
    ``_AUC_GLOBAL_WINDOW_MAX`` with guidance, instead of silently
    launching a corpus-sized single-partition window sort. Bounded
    inputs (small size estimate) and quantized calls skip the check
    entirely — they cannot produce a problematic window."""
    labeled = _labeled(df, label_col, score_col, round_to)
    g = _by_score(labeled)
    if round_to is None:
        est = plan_size_bytes(labeled)  # None → measure (scale-safe)
        if est is None or est > _AUC_INPUT_SMALL_BYTES:
            from dwca_parquet_spark.cache import persist_tracked

            g = persist_tracked(g)
            n_distinct = g.count()
            if n_distinct > _AUC_GLOBAL_WINDOW_MAX:
                raise ValueError(
                    f"pr_curve over {n_distinct:,} distinct scores "
                    "would sort a corpus-sized table in one partition "
                    "and emit an equally large curve; pass round_to= "
                    "to quantize scores to the grid you intend to plot "
                    f"(bounds the curve to ≤ 2·10^round_to + 1 points)"
                )
    # tp(t) = positives with score ≥ t: cumulative from this row UP.
    w_ge = Window.orderBy("score").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    tp = F.sum("p").over(w_ge).alias("tp")
    fp = F.sum("n").over(w_ge).alias("fp")
    total_p = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    fn = (F.sum("p").over(total_p) - F.sum("p").over(w_ge)).alias("fn")
    out = g.select(F.col("score").alias("threshold"), tp, fp, fn)
    return out.select(
        "threshold",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        (
            F.col("tp").cast("double")
            / F.nullif((F.col("tp") + F.col("fp")).cast("double"), F.lit(0.0))
        ).alias("precision"),
        (
            F.col("tp").cast("double")
            / F.nullif((F.col("tp") + F.col("fn")).cast("double"), F.lit(0.0))
        ).alias("recall"),
    ).orderBy("threshold")


def confusion_at(
    df: DataFrame, label_col: str, score_col: str, threshold: float
) -> DataFrame:
    """One row (tp, fp, tn, fn, precision, recall, f1, accuracy) at
    predict-positive ⟺ score ≥ threshold. ONE combinable aggregate —
    no window, no sort (plan-pinned in test_evaluation.py); undefined
    ratios are NULL."""
    base = _labeled(df, label_col, score_col, None).select(
        "pos", (F.col("score") >= F.lit(float(threshold))).alias("pred")
    )
    agg = base.agg(
        F.sum(F.when(F.col("pred") & (F.col("pos") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & (F.col("pos") == 0), 1).otherwise(0)).alias("fp"),
        F.sum(
            F.when(~F.col("pred") & (F.col("pos") == 0), 1).otherwise(0)
        ).alias("tn"),
        F.sum(
            F.when(~F.col("pred") & (F.col("pos") == 1), 1).otherwise(0)
        ).alias("fn"),
    )
    tp, fp, tn, fn = (F.col(c).cast("double") for c in ("tp", "fp", "tn", "fn"))
    precision = tp / F.nullif(tp + fp, F.lit(0.0))
    recall = tp / F.nullif(tp + fn, F.lit(0.0))
    return agg.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("tn").cast("long").alias("tn"),
        F.col("fn").cast("long").alias("fn"),
        precision.alias("precision"),
        recall.alias("recall"),
        (
            F.lit(2.0) * tp / F.nullif(F.lit(2.0) * tp + fp + fn, F.lit(0.0))
        ).alias("f1"),
        ((tp + tn) / F.nullif(tp + fp + tn + fn, F.lit(0.0))).alias(
            "accuracy"
        ),
    )


# ---------------------------------------------------------------------------
# DuckDB twins — identical universe filter, tie grouping, integer rank
# arithmetic (HUGEINT mirrors Decimal(38,0)) and final double division.
# ---------------------------------------------------------------------------


def _sql_labeled(
    source: str, label_expr: str, score_expr: str, round_to: int | None
) -> str:
    score = f"CAST({score_expr} AS DOUBLE)"
    if round_to is not None:
        score = f"round({score}, {round_to})"
    return (
        f"(SELECT {score} AS score, "
        f"CASE WHEN CAST({label_expr} AS BOOLEAN) THEN 1 ELSE 0 END AS pos "
        f"FROM {source} WHERE {label_expr} IS NOT NULL "
        f"AND {score_expr} IS NOT NULL)"
    )


def sql_auc_roc(
    source: str,
    label_expr: str,
    score_expr: str,
    round_to: int | None = None,
) -> str:
    lab = _sql_labeled(source, label_expr, score_expr, round_to)
    return f"""
    WITH g AS (SELECT score, sum(pos) AS p, sum(1 - pos) AS n
               FROM {lab} GROUP BY score),
    c AS (SELECT p, n, coalesce(sum(n) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_n FROM g)
    SELECT CAST(sum(CAST(p AS HUGEINT) * CAST(2 * cum_n + n AS HUGEINT))
                   AS DOUBLE)
               / nullif(2.0 * sum(p) * sum(n), 0.0) AS auc,
           CAST(sum(p) AS BIGINT) AS n_pos,
           CAST(sum(n) AS BIGINT) AS n_neg
    FROM c
    """


def sql_pr_curve(
    source: str,
    label_expr: str,
    score_expr: str,
    round_to: int | None = None,
) -> str:
    lab = _sql_labeled(source, label_expr, score_expr, round_to)
    return f"""
    WITH g AS (SELECT score, sum(pos) AS p, sum(1 - pos) AS n
               FROM {lab} GROUP BY score),
    c AS (SELECT score AS threshold,
                 sum(p) OVER (ORDER BY score ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS tp,
                 sum(n) OVER (ORDER BY score ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS fp,
                 sum(p) OVER () - sum(p) OVER (ORDER BY score
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS fn
          FROM g)
    SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)
               AS precision,
           CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)
               AS recall
    FROM c ORDER BY threshold
    """


def sql_confusion_at(
    source: str, label_expr: str, score_expr: str, threshold: float
) -> str:
    lab = _sql_labeled(source, label_expr, score_expr, None)
    t = float(threshold)
    return f"""
    WITH b AS (SELECT pos, score >= {t!r} AS pred FROM {lab}),
    a AS (SELECT
        sum(CASE WHEN pred AND pos = 1 THEN 1 ELSE 0 END) AS tp,
        sum(CASE WHEN pred AND pos = 0 THEN 1 ELSE 0 END) AS fp,
        sum(CASE WHEN NOT pred AND pos = 0 THEN 1 ELSE 0 END) AS tn,
        sum(CASE WHEN NOT pred AND pos = 1 THEN 1 ELSE 0 END) AS fn
    FROM b)
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
           CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0.0)
               AS precision,
           CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0.0)
               AS recall,
           2.0 * tp / nullif(2.0 * tp + fp + fn, 0.0) AS f1,
           CAST(tp + tn AS DOUBLE)
               / nullif(CAST(tp + fp + tn + fn AS DOUBLE), 0.0) AS accuracy
    FROM a
    """


def retrieval_metrics(
    preds: DataFrame,
    truth: DataFrame,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 5,
) -> DataFrame:
    """Per-query ranked-retrieval quality — recall@k, MRR@k, nDCG@k
    (SURVEY §2.G op 145): the evaluation leg for the search ops (BM25
    123/127, kNN/ANN 17/27/36, hybrid 141). A retrieval stack is tuned
    against exactly these three numbers; without them the engine can
    build indexes but not tell whether probe quality survived a replan,
    a quantization (ops 65/98/108), or an index append.

    ``preds``: (query, doc, rank) with rank 1-based within query —
    produced by any top-k op via the repo's rank-determinism protocol
    (rounded score DESC, id ASC). ``truth``: (query, doc) binary
    relevance pairs (deduplicated here). One output row per DISTINCT
    query in ``preds``.

    Float determinism: DCG and IDCG are sequential folds over
    RANK-ORDERED bounded arrays (``aggregate(sort_array(...))`` /
    the oracle's ``list_reduce(list_sort(...))``) — the repo-wide
    "folded in identical order then rounded" protocol — so both
    engines sum 1/log2(rank+1) in the same order and the metrics match
    bit-for-bit. All folds are ≤ k elements; every aggregate is
    map-side combinable; the joins are equi-joins on (query, doc) —
    nothing here scales past O(|preds| + |truth|) with bounded-width
    rows.

    Output: (query, n_rel, n_hits, recall_k, mrr, ndcg) — recall/nDCG
    NULL when the query has no relevant docs (0/0 is not a score);
    MRR 0.0 when no hit lands in the top k.
    """
    q = F.col(query_col)
    p = preds.select(
        q, F.col(doc_col), F.col(rank_col).cast("int").alias("_r")
    ).filter(F.col("_r") <= k)
    t = truth.select(q, F.col(doc_col)).distinct()
    hits = (
        p.join(t, [query_col, doc_col])
        .groupBy(query_col)
        .agg(
            F.sort_array(F.collect_list("_r")).alias("_hr"),
            F.min("_r").alias("_fr"),
            F.count(F.lit(1)).alias("n_hits"),
        )
    )
    rel = t.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_rel"))
    base = preds.select(q).distinct()
    j = base.join(rel, query_col, "left").join(hits, query_col, "left")

    def _fold(arr):
        return F.aggregate(
            arr,
            F.lit(0.0),
            lambda acc, r: acc
            + F.lit(1.0) / F.log2(r.cast("double") + F.lit(1.0)),
        )

    n_rel = F.coalesce(F.col("n_rel"), F.lit(0)).cast("long")
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0)).cast("long")
    dcg = _fold(F.coalesce(F.col("_hr"), F.array().cast("array<int>")))
    ideal_n = F.least(F.lit(k), n_rel).cast("int")
    idcg = _fold(F.sequence(F.lit(1), ideal_n))
    return j.select(
        query_col,
        n_rel.alias("n_rel"),
        n_hits.alias("n_hits"),
        F.when(n_rel > 0, F.round(n_hits / n_rel.cast("double"), 6)).alias(
            "recall_k"
        ),
        F.coalesce(
            F.round(F.lit(1.0) / F.col("_fr").cast("double"), 6), F.lit(0.0)
        ).alias("mrr"),
        F.when(n_rel > 0, F.round(dcg / idcg, 6)).alias("ndcg"),
    )


def sql_retrieval_metrics(
    preds_source: str,
    truth_source: str,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 5,
) -> str:
    """DuckDB twin of :func:`retrieval_metrics` — identical joins,
    rank-ordered list_reduce folds, rounding, and NULL contracts.
    ``preds_source``/``truth_source`` are table names or parenthesized
    subqueries."""
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {arr}), "
        "(acc, r) -> acc + 1.0 / log2(CAST(r AS DOUBLE) + 1.0))"
    )
    # coalesce BEFORE the fold: a relevant-but-unhit query must score
    # ndcg 0.0 (empty-list fold), matching the Spark side — a NULL list
    # would propagate NULL through list_reduce instead
    dcg = fold.format(arr="list_sort(coalesce(hr, CAST([] AS INT[])))")
    idcg = fold.format(arr="generate_series(1, least({k}, n_rel))".format(k=k))
    return f"""
    WITH p AS (
        SELECT {query_col}, {doc_col}, CAST({rank_col} AS INT) AS r
        FROM {preds_source} WHERE {rank_col} <= {k}
    ),
    t AS (SELECT DISTINCT {query_col}, {doc_col} FROM {truth_source}),
    hits AS (
        SELECT p.{query_col}, list(p.r) AS hr, min(p.r) AS fr,
               count(*) AS n_hits
        FROM p JOIN t USING ({query_col}, {doc_col})
        GROUP BY p.{query_col}
    ),
    rel AS (
        SELECT {query_col}, count(*) AS n_rel FROM t GROUP BY {query_col}
    ),
    base AS (SELECT DISTINCT {query_col} FROM {preds_source})
    SELECT base.{query_col},
           coalesce(rel.n_rel, 0) AS n_rel,
           coalesce(hits.n_hits, 0) AS n_hits,
           CASE WHEN coalesce(rel.n_rel, 0) > 0
                THEN round(coalesce(hits.n_hits, 0)
                           / CAST(rel.n_rel AS DOUBLE), 6)
           END AS recall_k,
           coalesce(round(1.0 / CAST(hits.fr AS DOUBLE), 6), 0.0) AS mrr,
           CASE WHEN coalesce(rel.n_rel, 0) > 0
                THEN round({dcg} / {idcg}, 6)
           END AS ndcg
    FROM base LEFT JOIN rel USING ({query_col})
              LEFT JOIN hits USING ({query_col})
    """
