"""Relational core operators (SURVEY.md §2.G ops 1-13).

The reference exercises only a star inner-join + projection
(``/root/reference/src/dwca_parquet/templates/query.sql:1-5``); this module
generalizes to the full relational closure. Everything here is a declarative
DataFrame composition — Catalyst owns pushdown, pruning, join strategy and
AQE re-planning; nothing collects to the driver.

Determinism conventions (shared with the DuckDB oracle, see queries.py):
- Money/quantity aggregates run over ``decimal(18,2)`` casts so partial-sum
  order cannot perturb results, then surface as DOUBLE.
- Averages are ``exact_decimal_sum / count`` in DOUBLE (never engine avg()).
- Window orderings always carry a unique tie-break key.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def dec_sum(col: Column | str) -> Column:
    """Order-insensitive exact sum of a 2-decimal money/qty column → DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def dec_avg(col: Column | str) -> Column:
    """Deterministic average: exact decimal sum ÷ count, divided in DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c)


def disc_price(price: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """price × (1 − discount) in exact decimal arithmetic."""
    return F.col(price).cast(DEC) * (F.lit(1).cast(DEC) - F.col(disc).cast(DEC))


def charge(
    price: str = "l_extendedprice", disc: str = "l_discount", tax: str = "l_tax"
) -> Column:
    """price × (1 − discount) × (1 + tax) in exact decimal arithmetic.

    The intermediate down-cast to decimal(18,4) keeps the triple product
    inside precision 38 on BOTH engines (values < 1e6, scale-4 exact), so
    neither engine hits its own precision-loss rounding rules.
    """
    return disc_price(price, disc).cast("decimal(18,4)") * (
        F.lit(1).cast(DEC) + F.col(tax).cast(DEC)
    )


def topk(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """Global top-k. Spark plans sort+limit as TakeOrderedAndProject — a
    per-partition partial top-k followed by a k-row merge on one reducer, so
    no full sort materializes at scale."""
    return df.orderBy(*order).limit(k)


def per_group_topk(
    df: DataFrame, partition: list[str], order: list[Column], k: int, rank_col: str = "rn"
) -> DataFrame:
    """Per-group top-k via row_number window. One shuffle on the partition
    keys; the ordering must include a unique tie-break for determinism."""
    w = Window.partitionBy(*partition).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def dedup_latest(
    df: DataFrame, keys: list[str], order: list[Column], keep_rank_col: bool = False
) -> DataFrame:
    """Deterministic dropDuplicates: keep the first row per key under an
    explicit total order (generalizes reference ``libs/csw.py:91,98`` set()
    dedup to row-level semantics). Unlike ``dropDuplicates(subset)`` the
    survivor is well-defined, which differential testing requires."""
    out = per_group_topk(df, keys, order, 1)
    return out if keep_rank_col else out.drop("rn")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: identical results to ``left.join(right,
    key)``, with hot keys spread across ``num_salts`` shuffle partitions.

    The big/skewed side gets a deterministic per-row salt (hash of all its
    columns — no RNG, so plans replay identically); the other side
    replicates num_salts×, and the join keys on (key, salt). A key whose
    rows all landed in one reducer now lands in num_salts of them, at the
    cost of replicating the small side's shuffle volume num_salts×.

    Use when AQE's skew-join splitting isn't available or the skew is in
    an aggregation-feeding join it can't split. 'inner' and 'left' only —
    the salted right side would multiply unmatched-row semantics for
    right/full joins.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left joins")
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(num_salts)
    )
    l_salted = left.withColumn("_salt", salt)
    r_salted = right.withColumn(
        "_salt",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(num_salts - 1).cast("long"))
        ),
    )
    return l_salted.join(r_salted, [key, "_salt"], how).drop("_salt")


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def _bucket_fdiv(name: str, w: int, integral: bool) -> Column:
    """floor(x / w) for bucket assignment (w > 0), shared by
    interval_join and interval_overlap_join (VERDICT r10 #5).

    Integral columns take the EXACT int64 path: ``div`` truncates
    toward zero, so shift down one bucket when the remainder is
    negative — ``F.floor(col / w)`` goes through a double and degrades
    past 2^53 (ADVICE r9; the resample_ffill precision rule), which is
    exactly where int64 µs timestamps live. Real-valued columns keep
    the double floor (monotone, exact over the float domain — there is
    no 2^53 hazard a double column didn't already have)."""
    if integral:
        return F.expr(
            f"(`{name}` div {w}) + "
            f"(CASE WHEN `{name}` % {w} < 0 THEN -1 ELSE 0 END)"
        )
    # floor() yields LONG for double input but DECIMAL(p,0) for decimal
    # input, and sequence() requires integral operands — the cast makes
    # decimal-typed money columns (the common warehouse shape) work and
    # is a no-op on the double path (code-review r12)
    return F.floor(F.col(name) / w).cast("long")


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate (bytes) for a DataFrame's optimized plan —
    the same statistic the planner compares against
    ``autoBroadcastJoinThreshold`` when it decides broadcast joins — or
    None when the plan has no stats (callers pick their scale-safe path)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        return int(str(stats.sizeInBytes()))
    except (AttributeError, Py4JError):  # no JVM plan, or no stats for it
        return None


def _broadcast_threshold_bytes(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes (-1 = disabled),
    read resolved from the JVM session state, which parses every
    byte-string Spark accepts (k/m/g/t/p suffixes included)."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


def _all_integral(dtypes: dict[str, str], *cols: str) -> bool:
    return all(dtypes[c] in _INTEGRAL_TYPES for c in cols)


def _interval_strategy(
    points: DataFrame,
    intervals: DataFrame,
    lo_col: str,
    hi_col: str,
    bucket_width: int,
    strategy: str,
    op: str,
) -> str:
    """Shared auto-dispatch for interval_join / interval_agg
    (code-review r12: one implementation, and it sizes the EXPLODED
    bucket table, not the raw interval table — the broadcast hint
    bypasses the planner's safety, so the statistic must account for
    the sequence() blow-up of span/w + 2 rows per interval).

    Cost of deciding: zero Spark jobs when the raw estimate already
    exceeds the threshold (big-big → bucket immediately); otherwise ONE
    O(|intervals|) scan-only aggregate measuring the actual mean
    blow-up — cheap relative to the join it gates, and exact where any
    static bound would be either unsafe or pessimistic."""
    if strategy not in ("auto", "bucket", "broadcast"):
        raise ValueError(f"unknown {op} strategy {strategy!r}")
    if strategy != "auto":
        return strategy
    thr = _broadcast_threshold_bytes(points.sparkSession)
    if thr <= 0:
        return "bucket"
    raw = plan_size_bytes(intervals)
    if raw is None or raw > thr:
        return "bucket"
    stats = intervals.agg(
        F.coalesce(
            F.avg(
                (F.col(hi_col) - F.col(lo_col))
                / F.lit(float(bucket_width))
            ),
            F.lit(0.0),
        ).alias("blowup")
    ).first()
    exploded = raw * (float(stats["blowup"]) + 2.0)
    return "broadcast" if exploded <= thr else "bucket"


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: int,
    strategy: str = "auto",
) -> DataFrame:
    """Point-in-interval join, size-dispatched (VERDICT r11 #3).

    ONE logical rewrite, two physical strategies, identical result set.
    The rewrite (both paths):

      1. each interval explodes into the fixed-width buckets it overlaps
         (``sequence(floor(lo/w), floor(hi/w))``) — blow-up is
         ``len/w + 2`` rows per interval, tunable via ``bucket_width``;
      2. each point maps to exactly one bucket — no duplication on the big
         probe side, so no dedup pass is needed afterwards;
      3. equi-join on bucket, then the exact ``lo <= p < hi`` residual
         filters in the join stage.

    The dispatch decides WHERE the equi-join runs:

    - **broadcast** (interval side small): the exploded interval-bucket
      table broadcasts and the join plans as a BroadcastHashJoin — one
      streaming pass over the points, ZERO shuffle, and per-point work
      bounded by bucket occupancy. NOT a broadcast theta join: a
      BroadcastNestedLoopJoin evaluates the range predicate against
      every interval per point (|points|·|intervals| — measured 24.5 s
      on 150k×20k at sf0.1 where this path runs in ~1 s; an in-process
      engine survives the raw theta only because it plans a real
      IEJoin, which Spark lacks).
    - **bucket** (big-big): the same equi-join hash-partitioned on the
      bucket key (shuffle both sides, AQE-skew-splittable) — the 100 TB
      plan when the interval side exceeds an executor.

    ``strategy="auto"`` (default) picks broadcast when the EXPLODED
    bucket table's estimated size — Catalyst's estimate for the raw
    interval side × the measured mean blow-up (span/w + 2) — fits
    ``spark.sql.autoBroadcastJoinThreshold``. Sizing the raw table
    alone would be unsafe: the broadcast hint bypasses the planner's
    own threshold check, and a 9 MB interval table with span/w = 100
    explodes to ~GB (code-review r12). Deciding costs zero jobs in the
    big-big case and one O(|intervals|) scan aggregate otherwise.
    ``"bucket"`` / ``"broadcast"`` force a path (tests pin both plans).

    Pick ``bucket_width`` near the median interval length: wider buckets cut
    the interval blow-up, narrower buckets cut residual-filter waste.
    Outputs all columns of both inputs, one row per matching (point row,
    interval row) pair — exactly the theta-join result set.
    """
    strategy = _interval_strategy(
        points, intervals, lo_col, hi_col, bucket_width, strategy,
        "interval_join",
    )
    idt, pdt = dict(intervals.dtypes), dict(points.dtypes)
    # ONE path for every bucket computation: the exact int64 path only
    # when ALL THREE columns are integral, else the float path on both
    # sides. Mixing (e.g. integral points, float intervals) would let
    # the point's exact bucket differ past 2^53 from every bucket the
    # float enumeration produced — a silently dropped pair (ADVICE r11,
    # the interval_overlap_join finding; same hazard here).
    integral = _all_integral(idt, lo_col, hi_col) and _all_integral(
        pdt, point_col
    )
    iv = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                _bucket_fdiv(lo_col, bucket_width, integral),
                # floor(hi/w) may add one empty boundary bucket for the
                # half-open [lo, hi); the residual filter discards it.
                _bucket_fdiv(hi_col, bucket_width, integral),
            )
        ),
    )
    pt = points.withColumn(
        "_bucket",
        _bucket_fdiv(point_col, bucket_width, integral),
    )
    if strategy == "broadcast":
        iv = F.broadcast(iv)
    return (
        pt.join(iv, "_bucket")
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) < F.col(hi_col))
        )
        .drop("_bucket")
    )


def interval_agg(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    key_col: str,
    bucket_width: int,
    sum_cols: dict[str, str] | None = None,
    count_alias: str = "n_points",
    strategy: str = "auto",
) -> DataFrame:
    """Banded range AGGREGATION (SURVEY §2.G op 165): per interval, the
    count and exact integer sums of the points inside ``[lo, hi)`` —
    WITHOUT ever materializing the point×interval pair stream.

    ``interval_join`` + groupBy is the right shape when the caller needs
    the pairs; when the caller only needs per-interval aggregates
    (q59's shape), the pair stream is pure overhead — 150k points ×
    20k intervals at sf0.1 join to 12M pairs that immediately collapse
    back to 20k rows. This operator decomposes each interval exactly:

      * **full buckets** ``[floor(lo/w)+1 .. floor(hi/w)-1]`` lie
        entirely inside ``[lo, hi)`` → served from a per-bucket partial
        table (ONE map-side-combinable pass over points, O(|points|),
        reusable across all intervals);
      * **edge buckets** ``floor(lo/w)`` and ``floor(hi/w)`` (the only
        buckets the bounds cut through) → joined against raw points
        with the exact residual — per interval only ~2·w worth of
        points instead of the whole span.

    Both contributions union into ONE groupBy(key) — map-side combined,
    so shuffle volume is O(|keys|·partitions), never O(pairs). Work is
    O(|points| + |intervals|·(span/w) + edge pairs); edge pairs shrink
    linearly with ``bucket_width``, so pick w SMALLER than for
    interval_join (span/8 or less — the full-bucket lookups are nearly
    free, the edges are the cost).

    Exactness: the count and sums decompose over the disjoint bucket
    partition of ``[lo, hi)``; sums must be integer-typed columns (longs
    — e.g. money in cents; float addition would not be
    order-insensitive). Intervals with ZERO matching points are absent
    from the output (inner-join semantics, matching
    ``interval_join → groupBy``). ``key_col`` must uniquely identify an
    interval row.

    Dispatch (same statistic as interval_join): the interval-derived
    tables (edge list, full-bucket list — O(|intervals|·span/w) rows)
    broadcast when the interval side fits the threshold → both joins
    plan BroadcastHashJoin and the ONLY Exchange is the final combine;
    at big-big scale they hash-partition on the bucket key instead.
    """
    sum_cols = sum_cols or {}
    w = bucket_width
    idt, pdt = dict(intervals.dtypes), dict(points.dtypes)
    for out, src in sum_cols.items():
        if pdt.get(src) not in _INTEGRAL_TYPES:
            raise ValueError(
                f"interval_agg sum column {src!r} must be integer-typed "
                f"(got {pdt.get(src)}): float sums do not decompose "
                "order-safely over the bucket partition — pre-scale to "
                "integer units (e.g. money in cents) first"
            )
    integral = _all_integral(idt, lo_col, hi_col) and _all_integral(
        pdt, point_col
    )
    strategy = _interval_strategy(
        points, intervals, lo_col, hi_col, bucket_width, strategy,
        "interval_agg",
    )
    bc = F.broadcast if strategy == "broadcast" else (lambda df: df)

    iv = intervals.select(
        key_col,
        F.col(lo_col).alias("_lo"),
        F.col(hi_col).alias("_hi"),
        _bucket_fdiv(lo_col, w, integral).alias("_blo"),
        _bucket_fdiv(hi_col, w, integral).alias("_bhi"),
    )
    ptb = points.select(
        F.col(point_col).alias("_p"),
        *[F.col(c) for c in dict.fromkeys(sum_cols.values())],
    ).withColumn("_bucket", _bucket_fdiv("_p", w, integral))

    cnt_exprs = [F.count(F.lit(1)).alias("_c")] + [
        F.sum(F.col(src).cast("long")).alias(f"_s_{out}")
        for out, src in sum_cols.items()
    ]
    per_bucket = ptb.groupBy("_bucket").agg(*cnt_exprs)

    # full-bucket contribution: every bucket strictly inside the bounds
    full_ids = iv.filter(F.col("_bhi") >= F.col("_blo") + 2).select(
        key_col,
        F.explode(
            F.sequence(F.col("_blo") + 1, F.col("_bhi") - 1)
        ).alias("_bucket"),
    )
    contrib_full = bc(full_ids).join(per_bucket, "_bucket").select(
        key_col, "_c", *[f"_s_{out}" for out in sum_cols]
    )
    # edge-bucket contribution: raw points, exact residual
    edges = iv.select(
        key_col, "_lo", "_hi",
        F.explode(
            F.array_distinct(F.array(F.col("_blo"), F.col("_bhi")))
        ).alias("_bucket"),
    )
    contrib_edge = (
        bc(edges)
        .join(ptb, "_bucket")
        .filter((F.col("_p") >= F.col("_lo")) & (F.col("_p") < F.col("_hi")))
        .select(
            key_col,
            F.lit(1).cast("long").alias("_c"),
            *[
                F.col(src).cast("long").alias(f"_s_{out}")
                for out, src in sum_cols.items()
            ],
        )
    )
    return (
        contrib_full.unionByName(contrib_edge)
        .groupBy(key_col)
        .agg(
            F.sum("_c").cast("long").alias(count_alias),
            *[
                F.sum(f"_s_{out}").cast("long").alias(out)
                for out in sum_cols
            ],
        )
    )


def approx_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: dict[str, float],
    accuracy: int = 10_000,
) -> DataFrame:
    """Approximate per-group percentiles — the 100 TB leg beside the exact
    one (queries.py q50_percentiles).

    Exact ``percentile`` buffers and sorts every group's values on one
    reducer; at 100 TB a single hot group OOMs it. ``percentile_approx``
    aggregates a bounded quantile sketch instead (KLL-style; memory is
    O(accuracy·log n), independent of group size), combines partials
    map-side, and guarantees rank error ≤ 1/accuracy — the right trade for
    distribution profiling over petabyte facts. Returned values are drawn
    from the data (no interpolation), so they differ from the continuous-
    interpolated exact values within a tolerance the differential test
    measures and documents (tests/test_text_ops.py).

    ``quantiles`` maps output column name → q in [0, 1].
    """
    vals = F.col(value_col).cast("double")
    return df.groupBy(group_col).agg(
        *[
            F.round(F.percentile_approx(vals, q, accuracy), 6).alias(name)
            for name, q in quantiles.items()
        ]
    )


def key_skew_profile(df: DataFrame, key_col: str, top_n: int = 10) -> DataFrame:
    """Top-N hottest keys with their share of all rows — the pre-flight
    check before any big join/agg on ``key_col`` (decides whether to salt,
    AQE-split, or broadcast). One map-side-combinable count shuffle plus a
    broadcast 1-row total; output is O(top_n)."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_rows"))
    total = df.select(F.count(F.lit(1)).alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            key_col,
            "n_rows",
            F.round(F.col("n_rows") / F.col("_total"), 6).alias("row_share"),
        )
        .orderBy(F.col("n_rows").desc(), F.col(key_col).asc())
        .limit(top_n)
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    lo_col: str,
    hi_col: str,
    bucket_width: int,
    right_prefix: str = "r_",
) -> DataFrame:
    """Big-big interval×interval OVERLAP join as an equi-join (SURVEY
    §2.G op 148) — the companion to :func:`interval_join`'s
    point-in-interval case. Emits one row per pair with
    ``a.lo < b.hi AND b.lo < a.hi`` (half-open overlap).

    A raw overlap theta-join has no equi key → nested loop. Rewrite:

      1. BOTH sides explode into the fixed-width buckets they touch
         (``sequence(floor(lo/w), floor(hi/w))`` — blow-up len/w + 2
         per interval, tunable);
      2. equi-join on the bucket, exact overlap residual in the join
         stage;
      3. dedup WITHOUT a distinct: a pair overlapping across several
         shared buckets is emitted only in its RESPONSIBILITY bucket —
         ``floor(max(a.lo, b.lo) / w)``, a bucket both sides provably
         touch (max(lo) lies inside both intervals), so each
         qualifying pair survives exactly once and no post-join
         shuffle exists.

    Pick ``bucket_width`` near the median interval length (same
    tuning rule as interval_join). Right columns come back prefixed
    with ``right_prefix``. Both (lo, hi) pairs must be numeric (epoch
    micros recommended — ts_micros). Bucket assignment is pure int64
    floor-division (``div`` + a negative-remainder correction), never
    float — ``F.floor(col / w)`` goes through a double and degrades
    past 2^53 (ADVICE r9; the resample_ffill precision rule).
    """
    w = bucket_width
    ldt, rdt = dict(left.dtypes), dict(right.dtypes)
    # ONE path for every bucket computation on BOTH sides: exact int64
    # only when all four bound columns are integral, else float on both
    # sides. Per-side paths + a joint responsibility check were lossy
    # with mixed types past 2^53: the integral side enumerated exact
    # buckets while _glo's float responsibility bucket could match none
    # of them, silently dropping the pair (ADVICE r11).
    both_int = (
        ldt[lo_col] in _INTEGRAL_TYPES
        and ldt[hi_col] in _INTEGRAL_TYPES
        and rdt[lo_col] in _INTEGRAL_TYPES
        and rdt[hi_col] in _INTEGRAL_TYPES
    )
    lb = left.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                _bucket_fdiv(lo_col, w, both_int),
                _bucket_fdiv(hi_col, w, both_int),
            )
        ),
    )
    rb = right.select(
        *[F.col(c).alias(f"{right_prefix}{c}") for c in right.columns]
    ).withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                _bucket_fdiv(f"{right_prefix}{lo_col}", w, both_int),
                _bucket_fdiv(f"{right_prefix}{hi_col}", w, both_int),
            )
        ),
    )
    r_lo, r_hi = f"{right_prefix}{lo_col}", f"{right_prefix}{hi_col}"
    return (
        lb.join(rb, "_bucket")
        .filter(
            (F.col(lo_col) < F.col(r_hi)) & (F.col(r_lo) < F.col(hi_col))
        )
        # greatest() promotes to the common type, so _glo is integral
        # exactly when both_int — the responsibility check runs the SAME
        # path as both sides' bucket enumeration, so the responsible
        # bucket is always one the pair actually joined in
        .withColumn("_glo", F.greatest(F.col(lo_col), F.col(r_lo)))
        .filter(_bucket_fdiv("_glo", w, both_int) == F.col("_bucket"))
        .drop("_bucket", "_glo")
    )


def group_quantiles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    permilles: tuple[int, ...] = (500, 900, 990),
) -> DataFrame:
    """EXACT nearest-rank quantiles per group (SURVEY §2.G op 159) — the
    per-series p50/p90/p99 panel every telemetry pipeline reads, next to
    op 29's sketch-based approx_percentiles: that one trades exactness
    for one pass; this one is exact and engine-deterministic.

    Determinism protocol (shared with op 156): the selected rank is
    ceil(p·n) computed IN INTEGERS — (n·pm + 999) div 1000 for permille
    pm — and the selected value is an EXISTING input value (no
    interpolation, no float arithmetic), so the result is bit-identical
    across engines whatever the value type. NULL values are outside the
    universe (both engines drop them before counting).

    Scale shape: values compress to (key, value) COUNTS in one
    combinable groupBy before the per-key cumulative window — the
    window input is |distinct values per key|, not |rows|; a key whose
    values are all-distinct at data scale wants a coarser upstream
    quantization (the op-124 pr_curve distinct-count discipline).

    Output: (key, n, p{pm} ...) — one row per group. NaN contract:
    both engines order NaN after every number and group NaNs as equal,
    so results agree — but a NaN-carrying domain usually wants an
    upstream filter (a NaN landing at a selected rank IS the answer).
    """
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key_col).alias("_k"), F.col(value_col).alias("_v")
    )
    cnt = vals.groupBy("_k", "_v").agg(F.count(F.lit(1)).alias("_c"))
    return quantiles_from_counts(cnt, permilles).withColumnRenamed(
        "_k", key_col
    )


def quantiles_from_counts(
    cnt: DataFrame, permilles: tuple[int, ...] = (500, 900, 990)
) -> DataFrame:
    """The rank-selection stage of :func:`group_quantiles`, split out so
    the streaming value-distribution state (streaming/activity.py,
    op 160) reports through the IDENTICAL plan — counts are additive,
    so fold ≡ one-shot reduces to count additivity. ``cnt`` columns:
    (_k, _v, _c)."""
    w = (
        Window.partitionBy("_k")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cnt.withColumn("_hi", F.sum("_c").over(w))
    n_df = cnt.groupBy("_k").agg(F.sum("_c").alias("_n"))
    joined = cum.join(n_df, "_k")
    picks = [F.max("_n").cast("long").alias("n")]
    for pm in permilles:
        rank = F.expr(f"(_n * {pm} + 999) div 1000")
        picks.append(
            F.min(
                F.when(
                    (F.col("_hi") >= rank)
                    & (F.col("_hi") - F.col("_c") < rank),
                    F.col("_v"),
                )
            ).alias(f"p{pm}")
        )
    return joined.groupBy("_k").agg(*picks).select(
        "_k", "n", *[f"p{pm}" for pm in permilles]
    )


def sql_group_quantiles(
    source: str,
    key_col: str,
    value_col: str,
    permilles: tuple[int, ...] = (500, 900, 990),
) -> str:
    """DuckDB twin of :func:`group_quantiles` — identical integer rank
    formula and cumulative-count selection."""
    picks = ["CAST(max(n.n) AS BIGINT) AS n"]
    for pm in permilles:
        rank = f"(n.n * {pm} + 999) // 1000"
        picks.append(
            f"min(CASE WHEN cum.hi >= {rank} AND cum.hi - cum.c < {rank}"
            f" THEN cum.v END) AS p{pm}"
        )
    return f"""
    WITH vals AS (SELECT {key_col} AS k, {value_col} AS v FROM {source}
                  WHERE {value_col} IS NOT NULL),
    cnt AS (SELECT k, v, count(*) AS c FROM vals GROUP BY 1, 2),
    cum AS (SELECT *, sum(c) OVER (PARTITION BY k ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
            FROM cnt),
    n AS (SELECT k, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1)
    SELECT cum.k AS {key_col}, {', '.join(picks)}
    FROM cum JOIN n ON n.k = cum.k
    GROUP BY cum.k
    """
