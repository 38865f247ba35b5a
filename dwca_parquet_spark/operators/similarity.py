"""Similarity search over embedding columns (north-star op; SURVEY §2.G 17).

Two tiers, as a large-scale pipeline needs both:

- ``knn_bruteforce``: exact cosine top-k for a bounded query set. The query
  side broadcasts; the candidate scan streams — no shuffle of the big side.
- ``rp_lsh_buckets`` / ``ann_topk_lsh``: random-hyperplane (sign) LSH — the
  scale path. Bucket assignment is a per-row projection (no shuffle); the
  candidate join is an equi-join on the bucket id, so cost is Σ bucket²
  instead of n². Hyperplane coefficients are ±1 derived from fixed integer
  arithmetic, so Spark and the DuckDB oracle build identical planes.

Determinism protocol (exact-integer, order-free): every vector is scaled
once to BIGINT components (round(x·1e6)). All dot products are integer
sums — associative and exact — so ANY execution order (NumPy vectorized
here, sequential list_reduce in the oracle) yields the same integers, and
cosine = dot / (√self_a · √self_b) derives from identical integers in
DOUBLE. This removes the float-reduction-order hazard entirely AND unlocks
the fast path: per-pair scoring runs as an Arrow-batched pandas UDF over
int64 NumPy arrays (vectorized C loops) instead of interpreted per-element
expression folds — the q34 95 s → seconds fix.

At 100 TB the pandas-UDF scoring stays the right shape: Arrow batches on
executors, no driver involvement, composes with the LSH bucket join that
bounds the candidate set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

# Component scale: float32 embeddings keep ~6 significant decimals.
VEC_SCALE = 1_000_000

# Random-hyperplane LSH: NUM_PLANES sign bits → bucket in [0, 2**NUM_PLANES).
NUM_PLANES = 8
COEF_A = 1_000_003
COEF_B = 7_919
COEF_C = 13
COEF_MOD = 1_000_000_007


def scaled_vec(vec: Column) -> Column:
    """array<float> → array<bigint>: round(x·1e6). One pass per vector."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * VEC_SCALE, 0).cast("long")
    )


def self_dot(svec: Column) -> Column:
    """Σ v_i² over the scaled ints (exact; ≤ 64·(2²⁰)² ≪ 2⁶³)."""
    return F.aggregate(
        svec, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )


@pandas_udf(DoubleType())
def _cosine_scaled(
    va: pd.Series, vb: pd.Series, na: pd.Series, nb: pd.Series
) -> pd.Series:
    """cosine from pre-scaled int vectors + precomputed self-dots.

    int64 einsum is exact (no BLAS float reordering), so the result is
    bit-deterministic and equal to the oracle's sequential integer fold.
    """
    a = np.stack(va.to_numpy())
    b = np.stack(vb.to_numpy())
    dots = np.einsum("ij,ij->i", a, b)
    denom = np.sqrt(na.to_numpy().astype(np.float64)) * np.sqrt(
        nb.to_numpy().astype(np.float64)
    )
    return pd.Series(dots.astype(np.float64) / denom)


def _prepped(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, scaled vector, self-dot): computed once per vector, staged so
    the scaling never re-runs per pair."""
    return df.select(
        F.col(id_col), scaled_vec(F.col(vec_col)).alias("svec")
    ).select(F.col(id_col), F.col("svec"), self_dot(F.col("svec")).alias("sdot"))


def _score_pairs(pairs: DataFrame) -> DataFrame:
    """Attach rounded cosine to (…, svec_q, sdot_q, svec_c, sdot_c) rows."""
    return pairs.withColumn(
        "cosine",
        F.round(
            _cosine_scaled(
                F.col("svec_q"), F.col("svec_c"), F.col("sdot_q"), F.col("sdot_c")
            ),
            4,
        ),
    )


def sql_scaled_vec(vec: str, dim: int) -> str:
    return (
        f"[CAST(round(CAST({vec}[i] AS DOUBLE) * {VEC_SCALE}, 0) AS BIGINT) "
        f"for i in range(1, {dim + 1})]"
    )


def sql_cosine_scaled(sa: str, sb: str, dim: int) -> str:
    """Oracle mirror: sequential integer folds over the same scaled ints."""
    dot = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[{sa}[i] * {sb}[i] for i in range(1, {dim + 1})]), (x, y) -> x + y)"
    )
    na = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[{sa}[i] * {sa}[i] for i in range(1, {dim + 1})]), (x, y) -> x + y)"
    )
    nb = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[{sb}[i] * {sb}[i] for i in range(1, {dim + 1})]), (x, y) -> x + y)"
    )
    return (
        f"(CAST({dot} AS DOUBLE) / (sqrt(CAST({na} AS DOUBLE)) * "
        f"sqrt(CAST({nb} AS DOUBLE))))"
    )


def sql_plane_dot(svec: str, j: int, dim: int) -> str:
    """DuckDB ⟨scaled vec, plane_j⟩ with plane_j[i] = ±1 from the
    coefficient hash — the oracle twin of :func:`_bucket_udf`'s plane
    dots (same coefs, integer sum: exact and order-free)."""
    coef = (
        f"(CASE WHEN (({j} * {COEF_A} + i * {COEF_B} + {COEF_C}) % {COEF_MOD}) % 2 = 0 "
        f"THEN 1 ELSE -1 END)"
    )
    prods = f"[{svec}[i] * {coef} for i in range(1, {dim + 1})]"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {prods}), (x, y) -> x + y)"
    )


def _bucket_udf(num_planes: int):
    """Arrow-batched bucket assignment: one int64 matmul against the ±1
    plane matrix computes all plane dots at once — identical integers to
    the oracle's per-plane fold (:func:`sql_plane_dot`), ~an order of
    magnitude faster than 8 interpreted aggregate-expressions per row."""

    @pandas_udf(LongType())
    def bucket_of(svec: pd.Series) -> pd.Series:
        m = np.stack(svec.to_numpy()).astype(np.int64)
        dim = m.shape[1]
        i = np.arange(1, dim + 1, dtype=np.int64)
        planes = np.empty((dim, num_planes), dtype=np.int64)
        for j in range(num_planes):
            planes[:, j] = np.where(
                ((j * COEF_A + i * COEF_B + COEF_C) % COEF_MOD) % 2 == 0, 1, -1
            )
        dots = m @ planes  # exact int64
        weights = (np.int64(1) << np.arange(num_planes, dtype=np.int64))
        return pd.Series((dots > 0).astype(np.int64) @ weights)

    return bucket_of


def rp_lsh_buckets(
    df: DataFrame, id_col: str, vec_col: str, num_planes: int = NUM_PLANES
) -> DataFrame:
    """(id, bucket): sign-LSH bucket id. Pure projection — scales linearly,
    no shuffle; the plane dots run as one Arrow-batched integer matmul per
    batch (see :func:`_bucket_udf`)."""
    prepped = df.select(F.col(id_col), scaled_vec(F.col(vec_col)).alias("svec"))
    return prepped.select(
        F.col(id_col), _bucket_udf(num_planes)(F.col("svec")).alias("bucket")
    )


def knn_bruteforce(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids_below: int,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the bounded query set against the full
    candidate scan; rank with a deterministic tie-break on candidate id."""
    prepped = _prepped(df, id_col, vec_col)
    q = prepped.filter(F.col(id_col) < query_ids_below).select(
        F.col(id_col).alias("query_id"),
        F.col("svec").alias("svec_q"),
        F.col("sdot").alias("sdot_q"),
    )
    c = prepped.select(
        F.col(id_col).alias("cand_id"),
        F.col("svec").alias("svec_c"),
        F.col("sdot").alias("sdot_c"),
    )
    pairs = F.broadcast(q).join(c, F.col("query_id") != F.col("cand_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        _score_pairs(pairs)
        .select("query_id", "cand_id", "cosine")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


_GROUP_PAIRS_SCHEMA = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("cosine", DoubleType()),
    ]
)


_SCRATCH: dict[str, "np.ndarray"] = {}


def _scratch(name: str, dtype, shape) -> "np.ndarray":
    """Worker-lifetime reusable buffer (grown, never shrunk), viewed at
    the requested shape. The round-11 q34 attribution traced a bimodal
    10-30× stall to the OS page-fault cost of the fresh multi-MB
    temporaries this module allocated per call (the allocator returns
    them to the OS between calls; the next call faults every page back
    in — ~25× the arithmetic cost on this box). Python workers are
    single-threaded and reused across queries, so a module-level buffer
    makes the steady state allocation-free; capacity is bounded by the
    block cap below (a few tens of MB per worker)."""
    import numpy as _np

    need = 1
    for d in shape:
        need *= int(d)
    buf = _SCRATCH.get(name)
    if buf is None or buf.dtype != _np.dtype(dtype) or buf.size < need:
        buf = _np.empty(max(need, 1), dtype=dtype)
        _SCRATCH[name] = buf
    return buf[:need].reshape(shape)


def _group_cosine_pairs(
    pdf: pd.DataFrame,
    ordered: bool,
    min_cosine: float | None = None,
    topk: int | None = None,
) -> pd.DataFrame:
    """All within-group cosine pairs by one int64 matmul.

    The scale fix over per-pair scoring: each vector crosses Arrow ONCE per
    group (not once per pair), the |A|×|B| dot-product matrix runs as a C
    loop, and only (id, id, cosine) scalars return to the JVM. int64
    matmul is exact, and the per-pair expression dot/(√na·√nb) is evaluated
    in the same operation order as the pairwise UDF, so results are
    bit-identical to the oracle's sequential integer fold.

    ``ordered=False`` emits only id_a < id_b; True emits both directions
    (for per-query top-k ranking downstream). ``min_cosine`` (near-dup
    callers) folds the slacked threshold INTO the pair mask so the
    materialized index/value arrays are O(matches), not O(n²/2) — the
    identical elements survive as the old post-filter kept (same slack,
    same float64 comparison), but the n²-sized ia/ib/cos-gather
    temporaries never exist. That matters beyond peak memory: the q34
    round-11 attribution traced a bimodal 10-30× stall to page-fault
    churn on exactly these fresh multi-MB allocations (allocator
    returns them to the OS between calls; the next call faults them
    back in — SCALE.md round 11).

    ``topk`` (the ANN ranking callers): per query row, only candidates
    whose exact cosine is within 1.1e-4 of the row's k-th largest
    candidate cosine are emitted. The downstream JVM ranking operates
    on the 4-decimal HALF_UP rounded cosine, which moves any value by
    at most 5e-5 (+ float eps), so a dropped pair (exact < kth −
    1.1e-4) rounds strictly below at least k kept pairs and can never
    enter the final top-k — the pruned stream provably contains the
    global top-k (per-bucket top-k is a superset of the global one:
    any candidate in a query's global top-k is beaten by < k
    candidates overall, hence by < k within its own bucket). This
    turns the Σ|bucket|² Arrow return stream into O(n·k) — at sf0.1
    the embedding fixture degenerates into 2 LSH buckets, so this is
    2,000,242 pairs → ~6k (and at 100 TB it is the difference between
    shuffling the candidate-pair set and shuffling the answer).
    """
    ids = pdf["_gid"].to_numpy()
    m = np.stack(pdf["svec"].to_numpy()).astype(np.int64)
    n = len(ids)
    sd = np.einsum("ij,ij->i", m, m)  # exact int64 self-dots
    denom = np.sqrt(sd.astype(np.float64))
    # BLOCKED matmul: a degenerate bucket of n vectors needs three n×n
    # float64 temporaries at once (dots, cos, mask) — at sf1 that was a
    # >1 GiB single allocation per task and the logged GCLocker stalls.
    # Slicing rows caps peak memory at ~3·block·n cells with the exact
    # same elementwise operations (bit-identical cosines — slicing does
    # not change operation order), trading nothing but a Python loop of
    # ceil(n/block) iterations around the same C matmul. The cap is
    # 2M cells (~16 MB of float64 per temporary at most): small enough
    # that iteration 2+ recycle iteration 1's freed chunks inside the
    # allocator instead of round-tripping pages through the OS (the
    # round-11 page-fault stall), big enough that the per-iteration
    # Python overhead stays noise.
    block = max(1, (1 << 21) // max(1, n))
    parts = []
    for s in range(0, n, block):
        e = min(n, s + block)
        shape = (e - s, n)
        # every multi-MB temporary goes through the worker-lifetime
        # scratch pool (no fresh pages in the steady state); kernels
        # run with out= in the EXACT op order of the original
        # expression — dots.astype(f64) / (denom⊗denom) — so cosines
        # stay bit-identical to the oracle protocol
        dots = np.matmul(m[s:e], m.T, out=_scratch("dots", np.int64, shape))
        cos = _scratch("cos", np.float64, shape)
        np.copyto(cos, dots)  # the astype(float64) cast
        den = np.multiply(
            denom[s:e, None],
            denom[None, :],
            out=_scratch("den", np.float64, shape),
        )
        np.divide(cos, den, out=cos)
        mask = _scratch("mask", np.bool_, shape)
        if ordered:
            np.not_equal(ids[s:e, None], ids[None, :], out=mask)
        else:
            np.less(ids[s:e, None], ids[None, :], out=mask)
        if min_cosine is not None:
            # slack > half of the 4-decimal rounding ulp (5e-5): a raw
            # cosine of threshold−4.9e-5 still rounds UP to the
            # threshold and must survive; the exact cut is JVM-side.
            # NaN cosines (zero-norm vectors → 0/0) fail this mask —
            # deliberately identical to the unmasked stream's fate:
            # NaN crosses Arrow as NULL (pandas' null sentinel), and
            # the JVM `round(cosine,4) >= threshold` filter drops NULL
            # (verified empirically, round 13).
            thr = _scratch("thr", np.bool_, shape)
            np.greater_equal(cos, min_cosine - 6e-5, out=thr)
            mask &= thr
        if topk is not None and n > topk:
            # per-row k-th largest with THREE value classes, ordered
            # exactly as the JVM ranks the unpruned stream (round-13
            # ADVICE, corrected empirically): real cosines first
            # (desc), then NaN candidates — which cross Arrow as NULL
            # and sort LAST under Spark's `desc` (nulls-last) — mapped
            # to -3.0, then invalid slots (self-pairs) mapped to -4.0
            # so they never displace an emittable candidate from the
            # top-k. A row with fewer than k real candidates thus gets
            # kth = -3 (keep every real AND every NaN — the JVM window
            # fills trailing ranks with NULLs by cand_id) or -4 (fewer
            # than k candidates at all: keep everything). Without the
            # NaN remap, np.partition sorts NaN as LARGEST: one
            # zero-norm vector in a bucket would poison kth (all
            # comparisons False ⇒ the row drops every candidate).
            c2 = _scratch("c2", np.float64, shape)
            np.copyto(c2, cos)
            nan = _scratch("nanm", np.bool_, shape)
            np.isnan(c2, out=nan)
            np.copyto(c2, -3.0, where=nan)
            inv = _scratch("inv", np.bool_, shape)
            np.logical_not(mask, out=inv)
            np.copyto(c2, -4.0, where=inv)
            kth = np.partition(c2, n - topk, axis=1)[:, n - topk]
            np.greater_equal(c2, (kth - 1.1e-4)[:, None], out=inv)
            mask &= inv
        ia, ib = np.nonzero(mask)
        parts.append(
            pd.DataFrame(
                {"id_a": ids[s + ia], "id_b": ids[ib], "cosine": cos[ia, ib]}
            )
        )
    if not parts:
        return pd.DataFrame(
            {"id_a": ids[:0], "id_b": ids[:0], "cosine": np.zeros(0)}
        )
    return pd.concat(parts, ignore_index=True)


def _bucket_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int,
    ordered: bool,
    min_cosine: float | None = None,
    topk: int | None = None,
) -> DataFrame:
    """(id_a, id_b, exact unrounded cosine) for same-LSH-bucket pairs via
    per-bucket matmul (see _group_cosine_pairs). Bucket assignment happens
    inline on the scaled vectors — one projection, no join — so the only
    shuffle is the groupBy(bucket) that co-locates each bucket.
    ``min_cosine``/``topk`` forward to :func:`_group_cosine_pairs` so the
    Arrow return stream carries only near-threshold / per-query-top-k
    pairs instead of the full Σ|bucket|² candidate set."""
    grouped = df.select(
        F.col(id_col).alias("_gid"), scaled_vec(F.col(vec_col)).alias("svec")
    ).withColumn("bucket", _bucket_udf(num_planes)(F.col("svec")))
    return grouped.groupBy("bucket").applyInPandas(
        lambda pdf: _group_cosine_pairs(
            pdf, ordered, min_cosine=min_cosine, topk=topk
        ),
        _GROUP_PAIRS_SCHEMA,
    )


def ann_topk_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    num_planes: int = NUM_PLANES,
) -> DataFrame:
    """Approximate top-k per vector: candidates = same LSH bucket only.

    Candidate generation keys on the bucket id, so the pair count is
    Σ|bucket|² rather than n² — the 100 TB path. Recall tunes via
    num_planes. Scoring is one matmul per bucket (each vector ships to
    Python once per bucket, not once per pair); ranking happens JVM-side
    over the scalar pair stream, after the same round-half-up the
    pairwise path used, so top-k ties break identically.
    """
    pairs = _bucket_pairs(
        df, id_col, vec_col, num_planes, ordered=True, topk=k
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        pairs.select(
            F.col("id_a").alias("query_id"),
            F.col("id_b").alias("cand_id"),
            F.round(F.col("cosine"), 4).alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _sided_group_pairs(
    pdf: pd.DataFrame, min_cosine: float | None
) -> pd.DataFrame:
    """Cross-side cosine pairs for one block-pair group by int64 matmul.

    Diagonal groups (every row side='both') reduce to the triangular
    within-group case; off-diagonal groups compute the full A×B matrix and
    normalize each pair to (min id, max id) — blocks are disjoint so no
    pair repeats. ``min_cosine`` pre-filters with a small slack so the
    Arrow return stream carries only near-threshold pairs; the precise
    (rounded) threshold is applied JVM-side for oracle parity.
    """
    if (pdf["side"] == "both").all():
        return _group_cosine_pairs(pdf, ordered=False, min_cosine=min_cosine)
    a = pdf[pdf["side"] == "a"]
    b = pdf[pdf["side"] == "b"]
    if a.empty or b.empty:
        return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
        )
    ida = a["_gid"].to_numpy()
    idb = b["_gid"].to_numpy()
    ma = np.stack(a["svec"].to_numpy()).astype(np.int64)
    mb = np.stack(b["svec"].to_numpy()).astype(np.int64)
    da = np.sqrt(np.einsum("ij,ij->i", ma, ma).astype(np.float64))
    db = np.sqrt(np.einsum("ij,ij->i", mb, mb).astype(np.float64))
    # same scratch-pool discipline as _group_cosine_pairs (the round-11
    # page-fault fix), same op order: dots.astype(f64) / (da⊗db)
    shape = (len(ida), len(idb))
    dots = np.matmul(ma, mb.T, out=_scratch("xdots", np.int64, shape))
    cos = _scratch("xcos", np.float64, shape)
    np.copyto(cos, dots)
    den = np.multiply(
        da[:, None], db[None, :], out=_scratch("xden", np.float64, shape)
    )
    np.divide(cos, den, out=cos)
    if min_cosine is not None:
        # same slacked pre-filter as _group_cosine_pairs, applied as a
        # mask BEFORE pair materialization so the index arrays are
        # O(matches), not O(|A|·|B|) (the round-11 page-fault fix).
        # NaN fails the mask, exactly as the JVM filter drops the NULL
        # it would otherwise become through Arrow (round-13 note there).
        ia, ib = np.nonzero(cos >= min_cosine - 6e-5)
        xa, xb = ida[ia], idb[ib]
        return pd.DataFrame(
            {
                "id_a": np.minimum(xa, xb),
                "id_b": np.maximum(xa, xb),
                "cosine": cos[ia, ib],
            }
        )
    xa = np.repeat(ida, len(idb))
    xb = np.tile(idb, len(ida))
    return pd.DataFrame(
        {
            "id_a": np.minimum(xa, xb),
            "id_b": np.maximum(xa, xb),
            # .copy(): cos is a VIEW of the scratch buffer — the next
            # group's call reuses it, so the returned frame must own
            # its values (fancy-indexed cos[ia, ib] elsewhere already
            # copies by construction)
            "cosine": cos.ravel().copy(),
        }
    )


_BLOCK_TARGET_ROWS = 65_536  # ~32 MB of dim-64 int64 vectors per block


def _block_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_blocks: int | None,
    min_cosine: float,
) -> DataFrame:
    """Exact all-pairs cosine via block matmul — the distributed shape for
    exact O(n²) similarity.

    Rows hash into ``num_blocks`` disjoint blocks; each unordered block
    pair (i ≤ j) becomes one group holding block i as side a and block j
    as side b (diagonal groups hold one copy). Replication factor is
    ~num_blocks (each vector joins its row and column of block pairs) —
    versus the per-pair join's factor of n. Work per group is one
    (n/b)×(n/b) integer matmul; size num_blocks so that fits executor
    memory (at 100 TB: n/b ≈ 10⁴–10⁵ rows ⇒ GB-scale blocks, thousands of
    independent groups).

    ``num_blocks=None`` (the default since round 7) auto-sizes from the
    table: ceil(n / 65_536), so a table that fits one block pays ZERO
    replication (the r6 bench showed the fixed 8-way fan-out is pure
    overhead at small n), while big tables grow blocks linearly. The
    count() this costs is one column-pruned scan — noise next to the
    O(n²) matmul it sizes. The PAIR SET is invariant to num_blocks
    (every unordered pair lands in exactly one group under any
    blocking), pinned by test_embedding_clusters.py.
    """
    if num_blocks is None:
        n = df.count()
        num_blocks = max(1, -(-n // _BLOCK_TARGET_ROWS))
    prepped = df.select(
        F.col(id_col), scaled_vec(F.col(vec_col)).alias("svec")
    ).withColumn("_blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_blocks)))
    cols = [F.col(id_col).alias("_gid"), F.col("svec")]
    # side a of groups (blk, j) for j > blk   (sequence(start>stop) would
    # count DOWN in Spark, so guard with when/otherwise(empty))
    up = F.when(
        F.col("_blk") < num_blocks - 1,
        F.sequence(F.col("_blk") + 1, F.lit(num_blocks - 1).cast("bigint")),
    ).otherwise(F.array().cast("array<bigint>"))
    down = F.when(
        F.col("_blk") > 0, F.sequence(F.lit(0).cast("bigint"), F.col("_blk") - 1)
    ).otherwise(F.array().cast("array<bigint>"))
    a_rows = prepped.select(
        F.col("_blk").alias("gi"),
        F.explode(up).alias("gj"),
        F.lit("a").alias("side"),
        *cols,
    )
    b_rows = prepped.select(
        F.explode(down).alias("gi"),
        F.col("_blk").alias("gj"),
        F.lit("b").alias("side"),
        *cols,
    )
    diag = prepped.select(
        F.col("_blk").alias("gi"),
        F.col("_blk").alias("gj"),
        F.lit("both").alias("side"),
        *cols,
    )
    groups = a_rows.unionByName(b_rows).unionByName(diag)
    return groups.groupBy("gi", "gj").applyInPandas(
        lambda pdf: _sided_group_pairs(pdf, min_cosine), _GROUP_PAIRS_SCHEMA
    )


def _cells_udf(cent_ids: np.ndarray, cent_mat: np.ndarray, nprobe: int):
    """Arrow-batched IVF cell lookup: nearest ``nprobe`` centroid ids per
    vector by exact integer L2² (|v|² + |c|² − 2·v·c, all int64), ties
    broken toward the lowest centroid id (stable argsort over centroids
    pre-sorted by id)."""
    from pyspark.sql.types import ArrayType

    c2 = np.einsum("ij,ij->i", cent_mat, cent_mat)

    @pandas_udf(ArrayType(LongType()))
    def cells_of(svec: pd.Series) -> pd.Series:
        m = np.stack(svec.to_numpy()).astype(np.int64)
        v2 = np.einsum("ij,ij->i", m, m)
        d2 = v2[:, None] + c2[None, :] - 2 * (m @ cent_mat.T)
        order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(cent_ids[order]))

    return cells_of


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids_below: int,
    k: int = 5,
    k_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize into ``k_cells`` inverted
    lists, probe the ``nprobe`` nearest cells per query, exact-rank inside.

    The IVF structure is real — cell assignment is a linear projection
    pass, the candidate join is an equi-join on the cell id (cost
    Σ_probed |cell|, never n²), ranking is exact cosine over the probed
    candidates. The coarse quantizer is deliberately deterministic (the
    ``k_cells`` lowest-id vectors serve as centroids) so a SQL oracle can
    re-derive identical cells; swapping in sampled k-means centroids
    changes ONLY the centroid table — collection of k_cells×dim floats is
    how IVF works at any scale, the index shape is unchanged.

    Recall tunes via nprobe (more probed cells → more candidates); a
    centroid's own vector sorts into its cell with distance 0.
    """
    prepped = _prepped(df, id_col, vec_col)
    cents = (
        prepped.orderBy(F.col(id_col)).limit(k_cells).select(id_col, "svec").collect()
    )
    cent_ids = np.array([r[0] for r in cents], dtype=np.int64)
    cent_mat = np.stack([np.asarray(r[1], dtype=np.int64) for r in cents])

    assign = _cells_udf(cent_ids, cent_mat, 1)
    probe = _cells_udf(cent_ids, cent_mat, nprobe)

    inv = prepped.select(
        F.col(id_col).alias("cand_id"),
        assign(F.col("svec")).getItem(0).alias("cell"),
        F.col("svec").alias("svec_c"),
        F.col("sdot").alias("sdot_c"),
    )
    q = (
        prepped.filter(F.col(id_col) < query_ids_below)
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(probe(F.col("svec"))).alias("cell"),
            F.col("svec").alias("svec_q"),
            F.col("sdot").alias("sdot_q"),
        )
    )
    pairs = F.broadcast(q).join(inv, "cell").filter(
        F.col("query_id") != F.col("cand_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        _score_pairs(pairs)
        .select("query_id", "cand_id", "cosine")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_state(
    df: DataFrame, id_col: str, vec_col: str, k_cells: int = 16
) -> tuple[DataFrame, DataFrame]:
    """The stored IVF index (SURVEY §2 op 120): (centroid table,
    inverted-list table) — ops 27/47's index as REUSABLE STATE instead
    of a per-query rebuild, completing the incremental column for the
    ANN ladder (the dedup side already has ops 59/78/104/118).

    * centroids — (cell, csvec): k_cells rows, the frozen coarse
      quantizer (deterministic: the k_cells lowest-id vectors, exactly
      ivf_topk's protocol, so a SQL oracle can re-derive cells).
    * inv — (cand_id, cell, svec, sdot): one row per indexed vector.
      Write partitioned/bucketed on ``cell``: a probe then prunes to
      its nprobe cells at the scan.

    Advancing the state after a batch is appending
    :func:`ivf_append`'s rows — new vectors join the index WITHOUT
    touching indexed ones (the op-78 contract). Re-fitting centroids is
    a periodic policy decision, as with any ANN index.
    """
    prepped = _prepped(df, id_col, vec_col)
    cents_rows = (
        prepped.orderBy(F.col(id_col))
        .limit(k_cells)
        .select(id_col, "svec")
        .collect()
    )
    if len(cents_rows) < k_cells:
        raise ValueError(f"need at least {k_cells} vectors")
    cents = df.sparkSession.createDataFrame(
        [(int(r[0]), [int(x) for x in r[1]]) for r in cents_rows],
        "cell long, csvec array<long>",
    )
    inv = _ivf_assign(prepped, cents, id_col)
    return cents, inv


def _cent_arrays(state_cents: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    rows = state_cents.orderBy("cell").collect()  # bounded: k_cells
    return (
        np.array([r["cell"] for r in rows], dtype=np.int64),
        np.stack([np.asarray(r["csvec"], dtype=np.int64) for r in rows]),
    )


def _ivf_assign(
    prepped: DataFrame, state_cents: DataFrame, id_col: str
) -> DataFrame:
    cent_ids, cent_mat = _cent_arrays(state_cents)
    assign = _cells_udf(cent_ids, cent_mat, 1)
    return prepped.select(
        F.col(id_col).alias("cand_id"),
        assign(F.col("svec")).getItem(0).alias("cell"),
        F.col("svec"),
        F.col("sdot"),
    )


def ivf_append(
    batch: DataFrame, state_cents: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """The batch's inverted-list rows under the STORED coarse quantizer
    — append them to the state's inv table to advance the index. One
    bounded centroid collect + one Arrow projection over the batch;
    indexed vectors are never read, never re-assigned (plan-pinned in
    test_ivf_state.py)."""
    return _ivf_assign(_prepped(batch, id_col, vec_col), state_cents, id_col)


def ivf_topk_stored(
    queries: DataFrame,
    state_cents: DataFrame,
    state_inv: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """ivf_topk against the STORED index: probe the nprobe nearest
    stored cells per query vector, exact-rank inside — identical
    ranking math to op 27 (same rounding, same tie-break), but the
    inverted lists come from the state table instead of a rebuild.
    Candidate cost Σ_probed |cell|; with inv partitioned on cell the
    untouched lists never leave the scan. Queries broadcast (the
    bounded-query-set contract ops 17/27 already state).
    """
    cent_ids, cent_mat = _cent_arrays(state_cents)
    probe = _cells_udf(cent_ids, cent_mat, nprobe)
    q = _prepped(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.explode(probe(F.col("svec"))).alias("cell"),
        F.col("svec").alias("svec_q"),
        F.col("sdot").alias("sdot_q"),
    )
    inv = state_inv.select(
        "cand_id",
        "cell",
        F.col("svec").alias("svec_c"),
        F.col("sdot").alias("sdot_c"),
    )
    pairs = F.broadcast(q).join(inv, "cell").filter(
        F.col("query_id") != F.col("cand_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        _score_pairs(pairs)
        .select("query_id", "cand_id", "cosine")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def decontaminate_semantic(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    vec_col: str,
    eval_id_col: str,
    eval_vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-level eval-set decontamination (SURVEY §2 op 121):
    (id, eval_id, eval_cosine, contaminated) — for every corpus vector,
    its nearest EVAL vector by exact integer cosine, flagged when the
    4-dp-rounded cosine reaches ``threshold``. Ops 50/51 fence exact
    and n-gram overlap; this closes the paraphrase hole — an eval item
    rewritten enough to share no 8-gram still sits next to its source
    in embedding space (the SemDeDup observation applied to the
    train/eval fence).

    The 100 TB shape: the eval set is BOUNDED (one driver collect of
    |eval|×dim ints), so scoring is ONE Arrow projection per corpus
    batch — an int64 matmul against the broadcast eval matrix, max +
    argmax per row (ties toward the lowest eval id). No join, no
    shuffle, no explode: the plan is scan → pandas UDF → projection
    (plan-pinned Exchange-free, test_decontaminate_semantic.py), so it
    composes with whatever filter chain precedes it at corpus scale.

    Exactness: the shared integer protocol — scaled int64 vectors, an
    exact integer matmul, cosine derived in double from identical
    integers — so the DuckDB twin (:func:`sql_decontaminate_semantic`,
    a |corpus|×|eval| cross join the oracle can afford at test scale)
    reproduces every value bit-for-bit; argmax ties break identically
    (numpy argmax takes the first maximum over eval-id-sorted columns;
    the twin orders cosine DESC, eval_id ASC).
    """
    rows = (
        _prepped(eval_df, eval_id_col, eval_vec_col)
        .orderBy(F.col(eval_id_col))
        .collect()
    )  # bounded: the eval set
    if not rows:
        raise ValueError("eval set is empty — nothing to decontaminate against")
    eids = np.array([r[0] for r in rows], dtype=np.int64)
    emat = np.stack([np.asarray(r[1], dtype=np.int64) for r in rows])
    esd = np.sqrt(
        np.einsum("ij,ij->i", emat, emat).astype(np.float64)
    )

    out_schema = StructType(
        [
            StructField("eval_id", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    @pandas_udf(out_schema)
    def best_eval(svec: pd.Series, sdot: pd.Series) -> pd.DataFrame:
        m = np.stack(svec.to_numpy()).astype(np.int64)
        d = np.sqrt(sdot.to_numpy().astype(np.float64))
        cos = (m @ emat.T).astype(np.float64) / (d[:, None] * esd[None, :])
        idx = np.argmax(cos, axis=1)  # first max → lowest eval id
        return pd.DataFrame(
            {
                "eval_id": eids[idx],
                "cosine": cos[np.arange(len(idx)), idx],
            }
        )

    scored = _prepped(df, id_col, vec_col).select(
        F.col(id_col),
        best_eval(F.col("svec"), F.col("sdot")).alias("_b"),
    )
    return scored.select(
        F.col(id_col),
        F.col("_b.eval_id").alias("eval_id"),
        F.round(F.col("_b.cosine"), 4).alias("eval_cosine"),
        (F.round(F.col("_b.cosine"), 4) >= F.lit(threshold)).alias(
            "contaminated"
        ),
    )


def sql_decontaminate_semantic(
    corpus: str,
    eval_src: str,
    id_col: str,
    vec_col: str,
    eval_id_col: str,
    eval_vec_col: str,
    dim: int,
    threshold: float = 0.95,
) -> str:
    """DuckDB twin of :func:`decontaminate_semantic` — the same scaled
    integers, the same cosine arithmetic, max via ORDER BY cosine DESC,
    eval_id ASC (≡ numpy first-max over id-sorted columns)."""
    cs = sql_scaled_vec(vec_col, dim)
    es = sql_scaled_vec(eval_vec_col, dim)
    cos = sql_cosine_scaled("cv", "ev", dim)
    return f"""
    WITH c AS (SELECT {id_col} AS cid, {cs} AS cv FROM {corpus}),
    e AS (SELECT {eval_id_col} AS eid, {es} AS ev FROM {eval_src}),
    x AS (SELECT cid, eid, {cos} AS cos,
                 row_number() OVER (PARTITION BY cid
                                    ORDER BY {cos} DESC, eid ASC) AS rk
          FROM c CROSS JOIN e)
    SELECT cid AS {id_col}, eid AS eval_id,
           round(cos, 4) AS eval_cosine,
           (round(cos, 4) >= {threshold}) AS contaminated
    FROM x WHERE rk = 1
    """


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    bucketed: bool = False,
    num_planes: int = NUM_PLANES,
    num_blocks: int | None = None,
) -> DataFrame:
    """Pairs (a < b) with cosine ≥ threshold — embedding near-dup dedup.

    ``bucketed=False``: exact all-pairs via block matmul
    (:func:`_block_pairs`): every pair is scored, but as grouped integer
    matrix products rather than a nested-loop join shipping two arrays per
    pair. Still O(n²) compute — that is what "exact all-pairs" means — but
    distributed with bounded memory and ~num_blocks data replication.

    ``bucketed=True`` — the sub-quadratic 100 TB path: compose
    :func:`rp_lsh_buckets` so only same-bucket pairs are scored (cost
    Σ|bucket|², same shape as :func:`ann_topk_lsh`). Approximate: a
    near-dup pair split across sign-LSH buckets is missed; recall tunes
    via ``num_planes``. Each vector has exactly one bucket, so no pair
    dedup is needed afterwards.

    Thresholding happens JVM-side on the 4-decimal rounded cosine (oracle
    protocol); the matmul stage pre-filters with slack only to bound the
    returned pair stream.
    """
    if bucketed:
        pairs = _bucket_pairs(
            df, id_col, vec_col, num_planes, ordered=False,
            min_cosine=threshold,
        )
    else:
        pairs = _block_pairs(df, id_col, vec_col, num_blocks, threshold)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("cosine"), 4).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def _buckets_udf_multi(num_planes: int, n_tables: int):
    """Arrow-batched multi-table bucket assignment: table t's bucket comes
    from planes j ∈ [t·P, (t+1)·P) of the same deterministic ±1 family —
    one int64 matmul against the (dim × P·L) plane matrix yields all L
    buckets per vector at once."""

    @pandas_udf(ArrayType(LongType()))
    def buckets_of(svec: pd.Series) -> pd.Series:
        m = np.stack(svec.to_numpy()).astype(np.int64)
        dim = m.shape[1]
        i = np.arange(1, dim + 1, dtype=np.int64)
        total = num_planes * n_tables
        planes = np.empty((dim, total), dtype=np.int64)
        for j in range(total):
            planes[:, j] = np.where(
                ((j * COEF_A + i * COEF_B + COEF_C) % COEF_MOD) % 2 == 0, 1, -1
            )
        bits = (m @ planes) > 0  # (n, P·L)
        weights = np.int64(1) << np.arange(num_planes, dtype=np.int64)
        out = [
            (bits[:, t * num_planes : (t + 1) * num_planes].astype(np.int64) @ weights)
            for t in range(n_tables)
        ]
        return pd.Series(np.stack(out, axis=1).tolist())

    return buckets_of


def ann_topk_multitable(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    num_planes: int = NUM_PLANES,
    n_tables: int = 2,
) -> DataFrame:
    """Multi-table sign-LSH ANN top-k: candidates = same bucket in ANY of
    ``n_tables`` independent hash tables.

    The recall repair for single-table LSH (two near vectors split by one
    hyperplane are unioned back in by the other tables) and the skew hedge
    (a degenerate bucket in one table doesn't capture a vector's entire
    candidate set). Shape: one Arrow matmul assigns all L buckets;
    posexplode → groupBy (table, bucket) → per-group matmul scoring, so the
    pair bound is Σ_t Σ_b |bucket_tb|². Duplicate candidates that co-bucket
    in several tables are collapsed by a distinct on the scored rows —
    exact int64 scoring makes the duplicate cosines bit-identical, which is
    cheaper at scale than re-joining vectors onto a deduped pair list.
    """
    exploded = (
        df.select(
            F.col(id_col).alias("_gid"), scaled_vec(F.col(vec_col)).alias("svec")
        )
        .withColumn(
            "_bkts", _buckets_udf_multi(num_planes, n_tables)(F.col("svec"))
        )
        .select(
            "_gid", "svec", F.posexplode("_bkts").alias("_table", "bucket")
        )
    )
    pairs = (
        exploded.groupBy("_table", "bucket")
        .applyInPandas(
            # per-bucket top-k (tie-safe margin, see _group_cosine_pairs)
            # is a superset of the global top-k: a candidate beaten by
            # < k others globally is beaten by < k in its own bucket
            lambda pdf: _group_cosine_pairs(pdf, ordered=True, topk=k),
            _GROUP_PAIRS_SCHEMA,
        )
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    return (
        pairs.select(
            F.col("id_a").alias("query_id"),
            F.col("id_b").alias("cand_id"),
            F.round(F.col("cosine"), 4).alias("cosine"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def embedding_dedup_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    bucketed: bool = True,
    num_planes: int = NUM_PLANES,
    num_blocks: int | None = None,
) -> DataFrame:
    """Near-dup cluster id per vector: (id, cluster_id) — the embedding
    twin of dedup.dedup_clusters.

    Pairs come from :func:`embedding_neardup_pairs` (bucketed sign-LSH by
    default — the sub-quadratic path; exact block-matmul with
    ``bucketed=False``), then connected components collapse the pair graph
    to one label per vector; vectors with no near-dup keep their own id.
    Same 100 TB contract as the text side: consumers get O(#clusters)
    rows, never a quadratic duplicate-pair set.
    """
    from dwca_parquet_spark.operators.dedup import connected_components

    pairs = embedding_neardup_pairs(
        df, id_col, vec_col, threshold, bucketed, num_planes, num_blocks
    )
    comp = connected_components(
        pairs, assume_distinct=True  # one bucket/block-pair per unordered pair
    ).withColumnRenamed("node", id_col)
    return (
        df.select(F.col(id_col))
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id"),
        )
    )


def hybrid_search_rrf(
    docs: DataFrame,
    emb: DataFrame,
    text_query: str,
    query_vec_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_each: int = 20,
    k: int = 10,
    rrf_c: int = 60,
    bm25_index=None,
) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion
    (SURVEY §2.G op 141; Cormack/Clarke/Büttcher RRF — the fusion every
    production RAG/retrieval stack runs over its BM25 and ANN legs,
    because rank-space fusion needs no score calibration between
    incomparable scales).

    rrf(d) = Σ_legs 1/(c + rank_leg(d)) over the legs that returned d in
    their top ``k_each``; c = 60 (the published default). Ranks come
    from each leg's ROUNDED score with id ASC tie-break (the repo-wide
    rank-determinism protocol), so a last-ulp score difference can
    never flip a rank, and the fused score is a deterministic function
    of two small integers.

    Scale shape: each leg is already bounded — BM25 is op 123's
    stats-as-literals projection + TakeOrderedAndProject, the vector
    leg broadcasts ONE prepped query row against the embedding scan
    (exact top-k; swap in ivf_topk/op-120's stored probe for the ANN
    path at corpus scale) — and the fusion itself joins two ≤ k_each-row
    frames: window sorts and the full-outer join all run on bounded
    inputs, never on the corpus.

    Output: (id, text_rank, vec_rank, rrf_score) — ranks NULL for a
    doc the leg did not return; top ``k`` by (rrf_score DESC, id ASC).

    ``bm25_index``: a loaded ``invindex.Bm25Index`` — the scale path.
    The op-127 law (indexed top-k byte-identical to the direct scan)
    lifts to the fusion: identical leg rows → identical ranks →
    identical rrf, pinned in test_hybrid.py. At 320k docs the direct
    leg goes linear (~12 s, SCALE.md round 8) while the index probe
    stays flat (~1 s) — pass the index whenever the corpus outgrows a
    rescan-per-query.
    """
    from dwca_parquet_spark.operators.text import bm25_topk

    if bm25_index is not None:
        t = bm25_index.topk(text_query, k_each)
        if id_col != "doc_id":
            t = t.withColumnRenamed("doc_id", id_col)
    else:
        t = bm25_topk(docs, id_col, text_col, text_query, k_each)
    # ≤ k_each rows: the single-partition rank window is bounded
    wt = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    t_rank = t.select(
        F.col(id_col).alias("_id"),
        F.row_number().over(wt).cast("long").alias("text_rank"),
    )

    prepped = _prepped(emb, vec_id_col, vec_col)
    q = prepped.filter(F.col(vec_id_col) == query_vec_id).select(
        F.col("svec").alias("svec_q"), F.col("sdot").alias("sdot_q")
    )
    c = prepped.filter(F.col(vec_id_col) != query_vec_id).select(
        F.col(vec_id_col).alias("_cid"),
        F.col("svec").alias("svec_c"),
        F.col("sdot").alias("sdot_c"),
    )
    # bound the frame FIRST: orderBy+limit over the scored corpus
    # compiles to TakeOrderedAndProject (per-partition heaps, no global
    # sort — ADVICE r9); row_number then ranks the ≤ k_each-row result.
    # (cosine, _cid) is a total order, so the limit picks exactly the
    # rank-≤-k_each set the old corpus-wide window produced.
    wv = Window.orderBy(F.col("cosine").desc(), F.col("_cid").asc())
    v_rank = (
        _score_pairs(c.crossJoin(F.broadcast(q)))
        .select("_cid", "cosine")
        .orderBy(F.col("cosine").desc(), F.col("_cid").asc())
        .limit(k_each)
        .withColumn("vec_rank", F.row_number().over(wv).cast("long"))
        .select(F.col("_cid").alias("_id"), "vec_rank")
    )

    one = F.lit(1.0)
    fused = t_rank.join(v_rank, "_id", "full").select(
        F.col("_id").alias(id_col),
        "text_rank",
        "vec_rank",
        F.round(
            F.coalesce(one / (F.lit(rrf_c) + F.col("text_rank")), F.lit(0.0))
            + F.coalesce(one / (F.lit(rrf_c) + F.col("vec_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc()
    ).limit(k)


def sql_hybrid_search_rrf(
    docs_source: str,
    emb_source: str,
    text_query: str,
    query_vec_id: int,
    dim: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_each: int = 20,
    k: int = 10,
    rrf_c: int = 60,
) -> str:
    """DuckDB twin of :func:`hybrid_search_rrf`: op 123's full-SQL BM25
    leg + the scaled-int cosine leg, ranked and fused with the identical
    1/(c+rank) arithmetic, rounding, and tie-breaks."""
    from dwca_parquet_spark.operators.text import sql_bm25_topk

    bm25 = sql_bm25_topk(docs_source, id_col, text_col, text_query, k_each)
    # (query, candidate) argument order — the q33-pinned pairing, so the
    # float fold is evaluated in the same operand order as _score_pairs
    cos = sql_cosine_scaled("q.s", "c.s", dim)
    return f"""
    WITH t AS (
        SELECT {id_col} AS _id,
               row_number() OVER (ORDER BY score DESC, {id_col} ASC)
                   AS text_rank
        FROM ({bm25})
    ),
    sv AS (
        SELECT {vec_id_col}, {sql_scaled_vec(vec_col, dim)} AS s
        FROM {emb_source}
    ),
    qv AS (SELECT s FROM sv WHERE {vec_id_col} = {query_vec_id}),
    scored AS (
        SELECT c.{vec_id_col} AS _id, round({cos}, 4) AS cosine
        FROM sv c CROSS JOIN qv q
        WHERE c.{vec_id_col} != {query_vec_id}
    ),
    v AS (
        SELECT _id,
               row_number() OVER (ORDER BY cosine DESC, _id ASC) AS vec_rank
        FROM scored
        QUALIFY vec_rank <= {k_each}
    )
    SELECT coalesce(t._id, v._id) AS {id_col},
           t.text_rank, v.vec_rank,
           round(coalesce(1.0 / ({rrf_c} + t.text_rank), 0.0)
                 + coalesce(1.0 / ({rrf_c} + v.vec_rank), 0.0), 6)
               AS rrf_score
    FROM t FULL JOIN v ON t._id = v._id
    ORDER BY rrf_score DESC, {id_col} ASC LIMIT {k}
    """
