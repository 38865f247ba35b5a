"""Count-min sketch: mergeable frequency summaries (SURVEY §2 round-4).

At 100 TB "how often does each token/n-gram/URL occur" cannot afford an
exact groupBy when the answer feeds a filter threshold — and per-shard
results must MERGE (across partitions, days, corpora) without re-scanning
anything. The count-min sketch (Cormode & Muthukrishnan 2005; PAPERS.md)
is the standard answer: a depth×width integer table; point estimates are
one-sided (never under-count, over-count ≤ ε·N with probability 1-δ);
two sketches merge by element-wise addition.

Same engine-portable discipline as the Bloom/MinHash stack: positions
come from the repo's own universal-hash family (constants distinct from
both), so a DuckDB oracle reproduces the sketch cell-for-cell, and the
sketch is a DATAFRAME (row, col, cnt — only non-zero cells), never a
driver-side array.

Scale/shuffle shape:
- build: one projection (depth positions per item, exploded in the scan
  stage) + ONE map-side-combinable groupBy to ≤ depth·width cells —
  bounded output whatever the corpus size. Compare the exact groupBy it
  replaces: a shuffle with cardinality = |vocabulary|, unbounded.
- merge: union + the same bounded groupBy. Associative and commutative —
  shard-parallel, day-over-day, corpus-over-corpus.
- estimate: the query items (bounded list by contract) join the sketch
  on (row, col) — broadcast of whichever side is smaller; min over
  depth rows per item.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dwca_parquet_spark.functions import hashing as H
from dwca_parquet_spark.operators.relational import plan_size_bytes

CMS_P = 2_147_483_647


def _cms_ab(j: int) -> tuple[int, int]:
    """Per-row multipliers, distinct from the MinHash and Bloom families."""
    a = (j * 3_266_489_917 + 374_761_393) % CMS_P
    b = (j * 668_265_263 + 1_013_904_223) % CMS_P
    if a == 0:
        a = 1
    return a, b


def _positions(h: Column, width: int, depth: int) -> list[Column]:
    out = []
    for j in range(depth):
        a, b = _cms_ab(j)
        out.append(((h * a + b) % CMS_P) % width)
    return out


def cms_build(
    df: DataFrame, item_col: str, width: int = 8192, depth: int = 4
) -> DataFrame:
    """Sketch a string column's frequencies: returns (row, col, cnt) with
    ≤ depth·width non-zero cells. Items hash through poly_hash so the
    oracle can replay them."""
    h = H.poly_hash(F.col("_item"))
    cells = F.array(
        *[
            F.struct(F.lit(j).alias("row"), pos.alias("col"))
            for j, pos in enumerate(_positions(F.col("_h"), width, depth))
        ]
    )
    return (
        df.select(F.col(item_col).alias("_item"))
        .select(h.alias("_h"))
        .select(F.explode(cells).alias("_c"))
        .groupBy(F.col("_c.row").alias("row"), F.col("_c.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Element-wise sum of two sketches built with the same (width, depth).
    Bounded output; associative — fold any number of shard sketches."""
    return (
        a.unionByName(b)
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    spark,
    sketch: DataFrame,
    items: list[str],
    width: int = 8192,
    depth: int = 4,
) -> DataFrame:
    """Point estimates for a bounded item list: (item, est). est ≥ true
    count always; missing cells are zero (an item hashing only to absent
    cells has estimate 0 — i.e. it never occurred)."""
    rows = []
    for it in items:
        hv = 0
        for ch in it:
            hv = (hv * H.HASH_BASE + ord(ch)) % H.HASH_MOD
        for j in range(depth):
            a, b = _cms_ab(j)
            rows.append((it, j, ((hv * a + b) % CMS_P) % width))
    probe = spark.createDataFrame(rows, "item string, row int, col long")
    return (
        F.broadcast(probe)
        .join(sketch, ["row", "col"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def sql_cms_build(
    item_expr: str, source: str, width: int = 8192, depth: int = 4
) -> str:
    """DuckDB oracle producing the identical (row, col, cnt) sketch."""
    ph = H.sql_poly_hash(item_expr)
    unions = []
    for j in range(depth):
        a, b = _cms_ab(j)
        unions.append(
            f"SELECT {j} AS row, ((h * {a} + {b}) % {CMS_P}) % {width} AS col "
            f"FROM (SELECT {ph} AS h FROM {source})"
        )
    return (
        "SELECT row, col, CAST(count(*) AS BIGINT) AS cnt FROM ("
        + " UNION ALL ".join(unions)
        + ") GROUP BY row, col"
    )


# ---------------------------------------------------------------------------
# HyperLogLog registers as a mergeable table (distinct-count state)
# ---------------------------------------------------------------------------
# rollup.py carries exact mergeable count/sum/min/max; the distinct count
# has no exact mergeable form smaller than the key set itself, so the
# incremental answer is HLL registers AS DATA (Flajolet et al. 2007;
# PAPERS.md): bucket = h mod 2^b, register[bucket] = max over items of
# (leading zeros of the hash tail + 1). Max is associative — registers
# merge by element-wise max, the same contract as cms_merge — and the
# register table is ≤ 2^b rows whatever the corpus.
#
# Portable-arithmetic note: poly_hash yields < 2^30 ~ uniform bits; with
# b bucket bits the geometric tail has 30-b bits, so the register caps at
# 30-b+1 and estimates stay calibrated up to ~2^(30-b) distinct items per
# bucket (b=12 → ~10^9 total — the fixture-to-cluster range; swap the
# hash for a 64-bit family to extend, the table shape is unchanged). The
# rho computation is a chain of integer comparisons — identical in Spark
# and DuckDB, so registers match cell-for-cell; the ESTIMATE is computed
# driver-side in Python from the bounded register table, outside both
# engines, so there is no float-parity surface at all.

HLL_B = 12  # 4096 registers; rsd ≈ 1.04/√4096 ≈ 1.6%


def _rho_expr(tail: Column, tail_bits: int) -> Column:
    expr = F.lit(1)
    for t in range(tail_bits):
        expr = expr + F.when(tail < F.lit(2**t), 1).otherwise(0)
    return expr


def hll_build(df: DataFrame, item_col: str, b: int = HLL_B) -> DataFrame:
    """(bucket, register) over a string column — ≤ 2^b rows; one
    combinable groupBy."""
    tail_bits = 30 - b
    return (
        df.select(F.col(item_col).alias("_item"))
        .select(H.poly_hash(F.col("_item")).alias("_h"))
        .select(
            (F.col("_h") % (2**b)).alias("bucket"),
            F.expr(f"_h div {2**b}").alias("_tail"),
        )
        .groupBy("bucket")
        .agg(F.max(_rho_expr(F.col("_tail"), tail_bits)).alias("register"))
    )


def hll_merge(a: DataFrame, b_df: DataFrame) -> DataFrame:
    """Element-wise register max — associative, shard-parallel."""
    return (
        a.unionByName(b_df)
        .groupBy("bucket")
        .agg(F.max("register").alias("register"))
    )


def hll_estimate(registers: DataFrame, b: int = HLL_B) -> float:
    """Distinct-count estimate from the register table (bounded collect;
    standard HLL bias-corrected harmonic mean with the small-range
    linear-counting correction)."""
    import math

    m = 2**b
    regs = {r["bucket"]: r["register"] for r in registers.collect()}
    zeros = m - len(regs)
    s = zeros * 1.0 + sum(2.0 ** (-v) for v in regs.values())
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / s
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return est


def sql_hll_build(item_expr: str, source: str, b: int = HLL_B) -> str:
    """DuckDB oracle producing the identical (bucket, register) table."""
    ph = H.sql_poly_hash(item_expr)
    tail_bits = 30 - b
    rho = "1" + "".join(
        f" + (CASE WHEN tail < {2**t} THEN 1 ELSE 0 END)"
        for t in range(tail_bits)
    )
    return (
        f"SELECT bucket, max({rho}) AS register FROM ("
        f"SELECT h % {2**b} AS bucket, h // {2**b} AS tail "
        f"FROM (SELECT {ph} AS h FROM {source})) GROUP BY bucket"
    )


# ---------------------------------------------------------------------------
# Heavy hitters: distributed Misra-Gries with exact verification
# ---------------------------------------------------------------------------
# CMS estimates a GIVEN item's frequency but cannot enumerate the frequent
# items. Misra-Gries (the classic k-counter summary) can, and its partials
# MERGE: each partition keeps ≤ k counters (decrementing all when full —
# each decrement also "charges" k-1 other stream items, so any item with
# true count > n/k survives SOMEWHERE); summing per-item counters across
# partition summaries preserves the guarantee for the whole corpus
# (Agarwal et al. 2012, "Mergeable Summaries"; PAPERS.md). The candidate
# set is then ≤ partitions·k items — bounded — and ONE exact filtered
# count restores exact frequencies for just those items.
#
# Guarantee surfaced by the operator (and pinned in tests): every item
# with true count > n_total/k appears in the output with its EXACT count.


def heavy_hitters(
    df: DataFrame, item_col: str, k: int = 64
) -> DataFrame:
    """(item, cnt) for every candidate the merged Misra-Gries summaries
    surface, with cnt EXACT (verified). Superset of all items with true
    count > n/k; ordered consumers should sort by cnt desc themselves.
    NULL items are outside the universe (``value_counts`` drops them in
    the summary pass, and the exact verify's equality semi-join could
    never match them anyway — the same exclusion in both passes).

    Shape: one mapInPandas pass building per-partition ≤ k-counter
    summaries (Arrow-batched; the only stateful loop, and it never holds
    more than k counters), a ≤ partitions·k-row candidate aggregation,
    and one broadcast-semi-filtered exact groupBy over the corpus.
    """
    from collections.abc import Iterator

    import pandas as pd

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized Misra-Gries: a batch's exact value_counts() IS a
        # zero-error mergeable summary, so TRIM IT TO k FIRST (it comes
        # back sorted desc, so the trim is an O(k) slice: subtract the
        # (k+1)-th largest count from the top k, drop non-positive —
        # the Agarwal et al. 2012 §3.2 MG merge-trim) and only then
        # align-add into the bounded state (≤ 2k-entry index align) and
        # re-trim. Trim order matters for THROUGHPUT, not correctness:
        # merging the untrimmed count table first pays a full
        # distinct-sized index align + nlargest per batch, measured
        # SLOWER than the per-item loop on distinct-rich streams
        # (0.86 vs 1.85 M items/s/core; trim-first: 3.3 — SCALE.md).
        # Each subtraction charges ≥ k+1 counters equally, so the
        # underestimate bound stays ≤ n_partition/(k+1) summed across
        # batch-trims and state-trims alike.
        acc: pd.Series | None = None
        for pdf in batches:
            vc = pdf["_item"].value_counts()
            if len(vc) > k:
                t = vc.iat[k]
                vc = vc.iloc[:k] - t
                vc = vc[vc > 0]
            acc = vc if acc is None else acc.add(vc, fill_value=0)
            if len(acc) > k:
                thresh = acc.nlargest(k + 1).iloc[-1]
                acc = acc[acc > thresh] - thresh
        if acc is None:
            yield pd.DataFrame(
                {
                    "item": pd.Series(dtype=object),
                    "cnt": pd.Series(dtype="int64"),
                }
            )
        else:
            yield pd.DataFrame(
                {"item": acc.index, "cnt": acc.astype("int64").values}
            )

    items = df.select(F.col(item_col).alias("_item"))
    partials = items.mapInPandas(mg, "item string, cnt long")
    candidates = partials.groupBy("item").agg(F.sum("cnt")).select("item")
    exact = (
        items.join(
            F.broadcast(candidates),
            items["_item"] == candidates["item"],
            "left_semi",
        )
        .groupBy("_item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("_item").alias("item"), "cnt")
    )
    return exact


# ---------------------------------------------------------------------------
# Bottom-k (KMV) sketch — mergeable distinct-sample state (SURVEY §2 op 114)
# ---------------------------------------------------------------------------

BOTTOMK_A = 2_654_435_761  # the sampling family's quadratic-mix constants —
BOTTOMK_B = 104_729        # same values as global_shuffle, so the sketch's
# order is the seeded-permutation order the export stack already proves


def _bk_mix_of(h: Column) -> Column:
    """Quadratic mix of an already-staged portable hash — see
    global_shuffle's docstring for why affine is not enough (poly_hash
    of sequential keys is nearly monotonic; a quadratic makes the
    stride position-dependent)."""
    return F.pmod(
        h * h + F.lit(BOTTOMK_A) * h + F.lit(BOTTOMK_B), F.lit(H.HASH_MOD)
    )


def _with_bh(keyed: DataFrame, salt: str) -> DataFrame:
    """Add ``_bh`` to a (…, key) relation via TWO projections: the
    poly_hash staged as its own column so the quadratic mix references
    it without re-running the per-char fold (CollapseProject keeps a
    multiply-referenced non-cheap alias staged — the
    shingle_hash_table discipline). Inlining the hash into the mix
    instead re-runs the per-char fold for every occurrence of ``h``
    (3×/row — measured 3.3 s vs 1.9 s on 600k keys)."""
    return (
        keyed.withColumn(
            "_gh",
            H.poly_hash(F.concat(F.col("key").cast("string"), F.lit(salt))),
        )
        .withColumn("_bh", _bk_mix_of(F.col("_gh")))
        .drop("_gh")
    )


# Below this input size the per-partition Arrow prune's fixed cost
# (JVM→Arrow crossing of every (key, hash) row) exceeds what it saves:
# the whole distinct fits one small shuffle. Measured at sf0.1 lineitem
# (~600k rows): naive 0.6 s vs pruned 4.4 s; at 200 M rows the prune
# wins 18 s vs 78 s (SCALE.md bake-off). 256 MB of scan bytes sits
# comfortably between those regimes.
_BK_PRUNE_MIN_BYTES = 256 << 20


def bottomk_build(
    df: DataFrame, key_col: str, k: int, salt: str = "", prune: bool | None = None
) -> DataFrame:
    """The k DISTINCT keys with the smallest mixed portable hash —
    simultaneously (Bar-Yossef et al. 2002, "KMV"; PAPERS.md):

    * a MERGEABLE sketch: ``bottomk_merge`` of two states equals the
      build over the unioned inputs EXACTLY (union → bottom-k is
      associative, commutative, idempotent — the law test_bottomk.py
      pins), so shards/days/corpora combine without re-scanning;
    * a distinct-count estimator: ``bottomk_distinct_estimate``;
    * a deterministic uniform sample WITHOUT replacement of the
      distinct keys (the hash order is a seeded permutation — same
      construction global_shuffle proves) — a fresh ``salt`` draws an
      independent sample, and the same salt always returns the same
      keys on any engine/partitioning.

    State columns: (key, _bh), exactly k rows (fewer iff the input has
    fewer distinct keys). NULL keys are DROPPED at the head (contract:
    the sketch covers the distinct non-null keys) — a NULL hashes to a
    NULL _bh, which the engines order differently (Spark ASC puts
    NULLs first, DuckDB last) and the Arrow prune schema cannot carry.

    Scale shape — measured, not assumed: the naive plan (global
    distinct → top-k) shuffles EVERY distinct key, the same cost class
    as exact count_distinct (measured 78 s vs 18 s exact at 200 M rows
    / 150 M distinct — SCALE.md). So the build prunes per partition
    first: one Arrow pass keeps each partition's bottom-k distinct
    (bounded memory, LOSSLESS — every global bottom-k member is in its
    partition's bottom-k; boundary hash ties are kept wholesale so the
    prune never depends on tie-break order), then the global
    distinct + top-k runs over ≤ ~(k+ties)·partitions rows. Zero
    corpus-sized shuffle; the only full-data work is the scan-stage
    hash projection and the in-partition fold.

    ``prune=None`` (default) picks the plan from the optimizer's size
    estimate: inputs under ~256 MB skip the Arrow prune — their full
    distinct is one small shuffle, and the prune's fixed crossing cost
    dominates (measured both ways, see _BK_PRUNE_MIN_BYTES). The prune
    is LOSSLESS, so the two plans are row-identical (gated,
    test_bottomk.py); pass True/False to force either.
    """
    key_type = df.schema[key_col].dataType.simpleString()
    keyed = df.select(F.col(key_col).alias("key")).filter(
        F.col("key").isNotNull()
    )
    if prune is None:
        est = plan_size_bytes(df)  # None → keep the scale-safe plan
        prune = est is None or est > _BK_PRUNE_MIN_BYTES
    if prune:
        hashed = _with_bh(keyed, salt).mapInPandas(
            _bk_prune_factory(k), f"key {key_type}, _bh long"
        )
        return hashed.distinct().orderBy("_bh", "key").limit(k)
    # small-input plan: DISTINCT the raw keys FIRST, then hash — the
    # per-char poly_hash fold is the dominant cost here, and running it
    # over the distinct keys instead of every row cuts it by the
    # duplication factor (lineitem sf0.1: 600k rows → 150k distinct,
    # measured 2.2 s → 1.0 s). Row-identical to the prune plan (the
    # hash is a pure function of the key, so distinct-then-hash ≡
    # hash-then-distinct — the existing cross-plan gate covers it).
    # NOT for the scale path: a corpus-wide raw-key distinct is the
    # exact count_distinct-class shuffle the Arrow prune exists to
    # avoid; here the input is already below _BK_PRUNE_MIN_BYTES.
    return _with_bh(keyed.distinct(), salt).orderBy("_bh", "key").limit(k)


def _bk_prune_factory(k: int):
    """Per-partition lossless bottom-k-distinct prune (Arrow batches;
    vectorized pandas — no per-row Python). Keeps every row whose hash
    ≤ the partition's k-th smallest distinct hash (boundary ties kept
    wholesale, so correctness never depends on tie-break order)."""
    import pandas as pd

    def prune(batches):
        acc = None
        for pdf in batches:
            pdf = pdf.drop_duplicates("key")
            acc = (
                pdf
                if acc is None
                else pd.concat([acc, pdf]).drop_duplicates("key")
            )
            if len(acc) > 8 * k:
                boundary = acc["_bh"].nsmallest(k).iloc[-1]
                acc = acc[acc["_bh"] <= boundary]
        if acc is None:
            yield pd.DataFrame(
                {"key": pd.Series(dtype=object),
                 "_bh": pd.Series(dtype="int64")}
            )
            return
        if len(acc) > k:
            boundary = acc["_bh"].nsmallest(k).iloc[-1]
            acc = acc[acc["_bh"] <= boundary]
        yield acc

    return prune


def bottomk_merge(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """union-distinct → bottom-k again. ≡ building over the unioned
    inputs (exact, not approximate — the bottom-k of a union depends
    only on the union of bottom-ks)."""
    return (
        a.unionByName(b).distinct().orderBy("_bh", "key").limit(k)
    )


def bottomk_distinct_estimate(state: DataFrame, k: int) -> float:
    """KMV estimator: with the k-th smallest of n uniform hashes at
    h_k, n ≈ (k-1)·M/h_k (M = the mix's modulus). A state with fewer
    than k rows IS the distinct set — return its exact size. Standard
    error ~ n/√(k-2); the ~2^30 hash space adds a downward bias only
    as n approaches √-collision range (~37k per birthday, but KMV only
    needs the k-th ORDER STATISTIC, so the bias stays negligible while
    n·k ≪ M — document-count scales, not token scales)."""
    rows = state.orderBy("_bh").select("_bh").collect()
    if len(rows) < k:
        return float(len(rows))
    return (k - 1) * H.HASH_MOD / float(rows[-1]["_bh"])


def sql_bottomk_build(
    source: str, key_expr: str, k: int, salt: str = ""
) -> str:
    """DuckDB twin of :func:`bottomk_build` — identical hash, mix,
    order, and tie-break, so the state matches row-for-row."""
    esc = salt.replace("'", "''")
    keyed = (
        f"(CAST({key_expr} AS VARCHAR) || '{esc}')"
        if salt
        else f"CAST({key_expr} AS VARCHAR)"
    )
    h = H.sql_poly_hash(keyed)
    mixed = f"((_gh * _gh + {BOTTOMK_A} * _gh + {BOTTOMK_B}) % {H.HASH_MOD})"
    return (
        f"SELECT key, {mixed} AS _bh FROM "
        f"(SELECT DISTINCT {key_expr} AS key, {h} AS _gh FROM {source} "
        f"WHERE {key_expr} IS NOT NULL) "
        f"ORDER BY _bh, key LIMIT {k}"
    )


def bottomk_by_group(
    df: DataFrame, group_col: str, key_col: str, k: int, salt: str = ""
) -> DataFrame:
    """Per-group bottom-k (SURVEY §2 op 117) — op 114 partitioned by a
    group column: for every group, the k distinct keys with the
    smallest mixed hash. The per-domain dashboard primitive ("distinct
    URLs per domain", "distinct users per day") where one global sketch
    cannot answer per-group questions and an exact per-group distinct
    is an unbounded shuffle.

    State: (group, key, _bh), ≤ k rows per group. Same lattice merge
    law as op 114, now per group (union-distinct → re-rank; exact).
    NULL keys dropped at the head, same contract as op 114.
    Estimates come from :func:`bottomk_group_estimates` — a pure
    aggregate over the state, no driver collect.

    Scale shape: one map-side-combinable distinct on (group, key), one
    group-PARTITIONED window (rank by hash — never an unpartitioned
    window; skewed groups are one partition's k-row problem, and the
    rank short-circuits at k). Output bounded by |groups|·k.
    """
    base = _with_bh(
        df.select(
            F.col(group_col).alias("grp"), F.col(key_col).alias("key")
        )
        .filter(F.col("key").isNotNull())  # op-114 NULL-key contract
        .distinct(),
        salt,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("_bh", "key")
    return (
        base.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def bottomk_group_merge(a: DataFrame, b: DataFrame, k: int) -> DataFrame:
    """Per-group union-distinct → re-rank. ≡ building over the union."""
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy("_bh", "key")
    return (
        a.unionByName(b)
        .distinct()
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def bottomk_group_estimates(state: DataFrame, k: int) -> DataFrame:
    """(grp, n_sampled, distinct_est) from the op-117 state — one
    bounded aggregate, entirely in expressions (under-full groups are
    exact; full groups use the KMV estimator)."""
    return state.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(
            F.when(
                F.count(F.lit(1)) < k,
                F.count(F.lit(1)).cast("double"),
            ).otherwise(
                F.lit(float(k - 1))
                * F.lit(float(H.HASH_MOD))
                / F.max("_bh").cast("double")
            ),
            3,
        ).alias("distinct_est"),
    )


def sql_bottomk_by_group(
    source: str, group_expr: str, key_expr: str, k: int, salt: str = ""
) -> str:
    """DuckDB twin of :func:`bottomk_by_group` — identical hash, mix,
    partition, order, tie-break."""
    esc = salt.replace("'", "''")
    keyed = (
        f"(CAST({key_expr} AS VARCHAR) || '{esc}')"
        if salt
        else f"CAST({key_expr} AS VARCHAR)"
    )
    h = H.sql_poly_hash(keyed)
    mixed = f"((_gh * _gh + {BOTTOMK_A} * _gh + {BOTTOMK_B}) % {H.HASH_MOD})"
    return (
        f"SELECT grp, key, _bh FROM ("
        f"SELECT grp, key, _bh, row_number() OVER "
        f"(PARTITION BY grp ORDER BY _bh, key) AS _rk FROM ("
        f"SELECT grp, key, {mixed} AS _bh FROM "
        f"(SELECT DISTINCT {group_expr} AS grp, {key_expr} AS key, "
        f"{h} AS _gh FROM {source} WHERE {key_expr} IS NOT NULL)))"
        f" WHERE _rk <= {k}"
    )


# ---------------------------------------------------------------------------
# Per-group heavy hitters — Misra-Gries partitioned by a group column
# (SURVEY §2 op 126)
# ---------------------------------------------------------------------------


def heavy_hitters_by_group(
    df: DataFrame, group_col: str, item_col: str, k: int = 64
) -> DataFrame:
    """(group, item, cnt): for EVERY group, a verified-exact-count
    superset of the items with per-group count > n_group/(k+1) — op 87
    partitioned by a group column (the per-domain "what dominates this
    source?" primitive the datasheet's diversity panel pairs with
    op 117's per-domain distinct counts).

    Guarantee (pinned in test_group_hh.py): within each group, every
    item whose true per-group count exceeds n_group/(k+1) appears, with
    its EXACT count. Per-partition Misra-Gries undercounts a group's
    items by at most n_{group,partition}/(k+1); summing partials across
    partitions sums those bounds to n_group/(k+1) (Agarwal et al. 2012
    — the same mergeability op 87 relies on), so a qualifying item
    survives in at least one partial.

    Shape: the MG pass crosses to Python as (xxhash64(group),
    xxhash64(item)) INT64 pairs — item/group strings never leave the
    JVM, which cut the Arrow crossing of a 40M-row distinct-rich sweep
    from 41.5 s to the measured round-8 number (SCALE.md; the
    hash-projection is a scan-stage expression). Python-side work is
    pure vectorized NumPy (round 9): batch pairs count via a packed
    (dense-group-id << 32 | dense-item-id) int64 ``np.unique``, state
    merges via one lexsort + ``reduceat``, and the MG trim is a single
    grouped subtract — no pandas groupby, no per-group Python loop
    (the r8 profiled hot spot, SCALE.md round 9). MG holds ≤ k counters
    PER GROUP-HASH SEEN IN THE PARTITION (bounded by k ·
    groups-per-partition, never by rows); candidates aggregate to ≤
    partitions·groups·k hash pairs; ONE exact corpus groupBy runs
    semi-filtered on the hash pair (a collision only WIDENS the
    candidate superset — counts stay exact because the final groupBy
    keys on the real values). The candidate join is a plain left-semi —
    bounded by groups·k rows, left to AQE to broadcast when small
    (groups·k can exceed broadcast size; a forced broadcast would be
    the 100 TB failure mode).

    NULL contract: NULL items and NULL groups are outside the universe
    (both passes exclude them identically — the op-87 discipline
    extended to the group key).

    Hash-collision analysis (the op-103 discipline — state the failure
    mode, don't hide it): an ITEM collision within a group merges two
    counters in the sketch phase, which only inflates a candidate —
    the superset survives and the exact pass keys real values, so
    output counts are unconditionally exact. A GROUP collision pools
    two groups' streams under one k-counter state, softening the
    colliding pair's guarantee from n_g/(k+1) to (n_g1+n_g2)/(k+1) —
    never silent data loss, and at 64-bit hashes the pair probability
    is ~G²/2⁶⁵ (≈ 2⁻²⁵ even at a billion groups).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def trim(
        g: "np.ndarray", i: "np.ndarray", c: "np.ndarray"
    ) -> tuple["np.ndarray", "np.ndarray", "np.ndarray"]:
        # MG trim, fully vectorized (round 9 — the r8 pandas
        # groupby/nlargest loop here was the profiled dominant cost):
        # for every group holding > k counters, subtract that group's
        # (k+1)-th largest count from ALL its counters and drop the
        # non-positives. Each trim of amount t removes ≥ (k+1)·t mass
        # from the group's stream, so the per-group undercount bound
        # accumulates to n_group/(k+1) exactly as in the global op 87.
        order = np.lexsort((-c, g))  # group asc, count desc within
        g, i, c = g[order], i[order], c[order]
        starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
        sizes = np.diff(np.r_[starts, g.size])
        big = sizes > k
        if not big.any():
            return g, i, c
        thr = np.where(
            big, c[np.minimum(starts + k, g.size - 1)], 0
        )  # the min() guard only touches small groups, whose thr is 0
        c = c - np.repeat(thr, sizes)
        keep = c > 0
        return g[keep], i[keep], c[keep]

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # state: parallel arrays (grp, item, count), exact per-batch
        # counts merged in with ONE lexsort + reduceat per batch. The
        # batch count itself runs on a REDUCED domain: unique-inverse
        # remaps the 64-bit hashes to dense ids < 2^32, so one int64
        # sort of (gid << 32 | iid) counts the pairs — no pandas
        # groupby, no Python loop (VERDICT r8 What's-wrong #3).
        sg = np.empty(0, np.int64)
        si = np.empty(0, np.int64)
        sc = np.empty(0, np.int64)
        for pdf in batches:
            pdf = pdf.dropna(subset=["_grp", "_item"])
            if not len(pdf):
                continue
            bg = pdf["_grp"].to_numpy(np.int64)
            bi = pdf["_item"].to_numpy(np.int64)
            ug, gidx = np.unique(bg, return_inverse=True)
            ui, iidx = np.unique(bi, return_inverse=True)
            packed = (gidx.astype(np.int64) << 32) | iidx.astype(np.int64)
            upk, cnt = np.unique(packed, return_counts=True)
            ag = np.concatenate([sg, ug[upk >> 32]])
            ai = np.concatenate([si, ui[upk & 0xFFFFFFFF]])
            ac = np.concatenate([sc, cnt.astype(np.int64)])
            order = np.lexsort((ai, ag))
            ag, ai, ac = ag[order], ai[order], ac[order]
            first = np.r_[
                True, (ag[1:] != ag[:-1]) | (ai[1:] != ai[:-1])
            ]
            idx = np.flatnonzero(first)
            sg, si, sc = ag[idx], ai[idx], np.add.reduceat(ac, idx)
            # lazy state trim (the op-87 len(acc) > k gate, lifted to
            # the multi-group state): defer the per-group sweep until
            # the state passes a fixed bound — memory stays bounded
            # (≤ bound + one batch's distinct pairs), and FEWER trims
            # only LOWER the undercount, so the guarantee is untouched.
            if sg.size > 65_536:
                sg, si, sc = trim(sg, si, sc)
        if sg.size:
            sg, si, sc = trim(sg, si, sc)
        yield pd.DataFrame({"grp": sg, "item": si, "cnt": sc})

    base = df.select(
        F.col(group_col).cast("string").alias("_grp"),
        F.col(item_col).cast("string").alias("_item"),
    ).filter(F.col("_grp").isNotNull() & F.col("_item").isNotNull())
    hashed = base.select(
        F.xxhash64("_grp").alias("_grp"), F.xxhash64("_item").alias("_item")
    )
    partials = hashed.mapInPandas(mg, "grp long, item long, cnt long")
    candidates = (
        partials.groupBy("grp", "item").agg(F.sum("cnt")).select("grp", "item")
    )
    exact = (
        base.join(
            candidates,
            (F.xxhash64(base["_grp"]) == candidates["grp"])
            & (F.xxhash64(base["_item"]) == candidates["item"]),
            "left_semi",
        )
        .groupBy("_grp", "_item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("_grp").alias("group"),
            F.col("_item").alias("item"),
            "cnt",
        )
    )
    return exact


def group_overlap_estimates(state: DataFrame, k: int) -> "DataFrame":
    """Pairwise overlap between groups from the op-117 bottom-k state
    (SURVEY §2 op 131): for every group pair (a < b), the KMV
    set-operation estimates (Bar-Yossef et al. 2002; Beyer et al. 2007
    "On synopses for distinct value estimation" — the standard
    synopsis-join estimator; PAPERS.md):

        X   = the k smallest hashes of A ∪ B  (a valid KMV of the union)
        J   = |X ∩ A ∩ B| / |X|               (Jaccard estimate)
        U   = KMV distinct estimate from X    (union size)
        I   = J · U                           (intersection size)

    answering the corpus-provenance question op 126's dominance panel
    cannot: "how much of source A is also in source B" — mirror sites,
    cross-source contamination, re-crawled feeds.

    EXACT when both groups are under-full (distinct < k) AND the union
    fits in k: the states are then the complete key sets, X is the
    whole union, and J is the true Jaccard — the under-full-is-exact
    contract of bottomk_group_estimates tightened by the union-size
    condition (two complete-but-large sets still force X to truncate).
    Self-pairs are 1 and hash-disjoint pairs 0 by construction at any
    size.

    Shape: driver-side combinatorics over the BOUNDED state (≤
    |groups|·k rows — the sketch, never the corpus; the op-128 sidecar
    precedent). Returns a DataFrame (grp_a, grp_b, union_est,
    jaccard_est, intersect_est, exact) with grp_a < grp_b, ordered.
    Deterministic: same state → same numbers on any engine.
    """
    rows = state.select("grp", "key", "_bh").collect()
    by_grp: dict = {}
    for r in rows:
        by_grp.setdefault(r["grp"], {})[r["key"]] = int(r["_bh"])
    grps = sorted(by_grp)
    out = []
    for i, a in enumerate(grps):
        for b in grps[i + 1 :]:
            ka, kb = by_grp[a], by_grp[b]
            union = {**ka, **kb}
            x = sorted(union.items(), key=lambda kv: (kv[1], str(kv[0])))[:k]
            shared = sum(1 for key, _ in x if key in ka and key in kb)
            j = shared / len(x) if x else 0.0
            # exact ⟺ both states are complete key sets (under-full) AND
            # their union fits in k, so x above is the WHOLE union and j
            # the true Jaccard. Two under-full states alone are not
            # enough: 200+200 disjoint keys at k=256 give a 400-key
            # union that x truncates — an estimate, not exact (ADVICE
            # round 8). len(union) < k alone implies under-full, so the
            # conjunction is the precise condition.
            full = len(ka) < k and len(kb) < k
            exact = full and len(union) <= k
            if exact:
                u = float(len(union))  # complete union — no estimator
            else:
                u = (k - 1) * H.HASH_MOD / float(x[-1][1])
            out.append(
                (a, b, round(u, 3), round(j, 6), round(j * u, 3), exact)
            )
    spark = state.sparkSession
    return spark.createDataFrame(
        out,
        "grp_a string, grp_b string, union_est double, "
        "jaccard_est double, intersect_est double, exact boolean",
    )
