"""Product quantization (PQ) for embedding columns — the ANN memory lever
(SURVEY §2 round-4 extension).

At 100 TB the embedding table itself is the bottleneck: 64-dim float32 is
256 bytes/vector; IVF/LSH bound WHICH vectors are scored but not what a
candidate costs to hold. PQ (Jégou et al. 2011, "Product Quantization for
Nearest Neighbor Search"; PAPERS.md) compresses each vector to m one-byte
codes (m=8 → 32× smaller) by k-means-quantizing each of m subspaces
independently; queries score candidates WITHOUT decompression via an
asymmetric-distance lookup table (LUT): dist(q, x) ≈ Σ_s LUT[s][code_s].

Engine-deterministic k-means: everything runs on the exact-integer scaled
vectors (similarity.py's VEC_SCALE protocol). Integer component sums are
associative — exact under ANY execution order — counts are integers, and
centroids round(sum/count) back to ints each Lloyd step, so the fitted
codebook is bit-identical across runs and partitionings; assignment ties
break to the smallest code. No RNG: initial centroids are the subspace
slices of the first k vectors in id order.

Shape: the codebook is DATA (an m·k-row broadcast table), not an unrolled
expression — a k×m-unrolled argmin expression compiles to megabytes of
generated code and OOMs codegen, while the relational form is three small
higher-order functions. Per Lloyd iteration:
  slices (n·m rows, scan-stage explode)
  ⋈ broadcast codebook (m·k rows)       → zip_with integer dist² per pair
  groupBy (id, s) min(struct(dist, code, sub))  — map-side-combinable
  groupBy (s, code) per-dim integer sums        — m·k groups
Two combinable shuffles per iteration, one bounded collect (the codebook).
Encode is the same assignment + one groupBy(id) to re-assemble code
arrays. ADC top-k collects only the BOUNDED query set (the
knn_bruteforce broadcast-query contract), builds each query's integer LUT
driver-side, broadcast-crossJoins it onto the code table, and folds m
array lookups per candidate — the stored vectors are never read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dwca_parquet_spark.operators.similarity import scaled_vec


def _sub_slices(df: DataFrame, id_col: str, vec_col: str, m: int, d_sub: int) -> DataFrame:
    """(id, s, sub): one row per (vector, subspace), built in the scan
    stage. The staged _svec projection keeps scaling to one pass/row."""
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice(F.col("_svec"), s * d_sub + 1, d_sub).alias("sub"),
            )
            for s in range(m)
        ]
    )
    return (
        df.select(F.col(id_col).alias("_pid"), scaled_vec(F.col(vec_col)).alias("_svec"))
        .select("_pid", F.explode(subs).alias("_e"))
        .select("_pid", F.col("_e.s").alias("s"), F.col("_e.sub").alias("sub"))
    )


def _codebook_df(spark, codebook: list[list[list[int]]]) -> DataFrame:
    rows = [
        (s, j, [int(x) for x in cent])
        for s, cents in enumerate(codebook)
        for j, cent in enumerate(cents)
    ]
    return spark.createDataFrame(rows, "s int, code int, cent array<bigint>")


def _dist() -> Column:
    """Exact integer dist²(sub, cent) via zip_with — a compact HOF, not a
    k×d-unrolled expression (which OOMs codegen)."""
    return F.aggregate(
        F.zip_with(F.col("sub"), F.col("cent"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _assignments(slices: DataFrame, cb_df: DataFrame) -> DataFrame:
    """(id, s, code, sub): nearest centroid per (vector, subspace).
    min(struct(dist, code, sub)) is well-defined — (dist, code) is unique
    per candidate row — and combines map-side."""
    return (
        slices.join(F.broadcast(cb_df), "s")
        .select(
            "_pid",
            "s",
            F.struct(_dist().alias("d"), F.col("code").alias("code"), F.col("sub").alias("sub")).alias("_cand"),
        )
        .groupBy("_pid", "s")
        .agg(F.min("_cand").alias("_m"))
        .select(
            "_pid", "s", F.col("_m.code").alias("code"), F.col("_m.sub").alias("sub")
        )
    )


def pq_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    iters: int = 4,
) -> list[list[list[int]]]:
    """Fit the PQ codebook: ``m`` subspaces × ``k`` integer centroids of
    dim/m components. Returns codebook[s][j] = list of ints."""
    if dim % m:
        raise ValueError("dim must divide into m subspaces")
    d_sub = dim // m
    spark = df.sparkSession
    # persisted: every Lloyd iteration re-reads the slice table; without the
    # persist each iteration rescans + re-slices the full vector table
    # (iters extra source scans at 100 TB for a table built once)
    slices = _sub_slices(df, id_col, vec_col, m, d_sub).persist()
    seed_rows = (
        df.select(F.col(id_col).alias("_pid"), scaled_vec(F.col(vec_col)).alias("_svec"))
        .orderBy("_pid")
        .limit(k)
        .collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"need at least {k} vectors to fit k={k}")
    codebook = [
        [list(r["_svec"][s * d_sub : (s + 1) * d_sub]) for r in seed_rows]
        for s in range(m)
    ]
    for _ in range(iters):
        assigned = _assignments(slices, _codebook_df(spark, codebook))
        sums = assigned.groupBy("s", "code").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at(F.col("sub"), i + 1)).alias(f"c{i}")
                for i in range(d_sub)
            ],
        )
        new_cb = [[list(c) for c in codebook[s]] for s in range(m)]
        for r in sums.collect():  # bounded: ≤ m·k rows
            new_cb[r["s"]][r["code"]] = [
                int(round(r[f"c{i}"] / r["n"])) for i in range(d_sub)
            ]
        codebook = new_cb  # empty clusters keep their previous centroid
    slices.unpersist()  # fit is fully materialized driver-side by here
    return codebook


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebook: list[list[list[int]]],
) -> DataFrame:
    """(id, codes array<int> of length m) — the 32×-compressed table."""
    m = len(codebook)
    d_sub = len(codebook[0][0])
    slices = _sub_slices(df, id_col, vec_col, m, d_sub)
    assigned = _assignments(slices, _codebook_df(df.sparkSession, codebook))
    return (
        assigned.groupBy("_pid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "code"))),
                lambda x: x["code"],
            ).alias("codes")
        )
        .withColumnRenamed("_pid", id_col)
    )


def pq_topk_adc(
    queries: DataFrame,
    codes: DataFrame,
    q_id: str,
    q_vec: str,
    c_id: str,
    codebook: list[list[list[int]]],
    topk: int = 10,
) -> DataFrame:
    """Approximate top-k by asymmetric distance. The query set is BOUNDED
    by contract (knn_bruteforce's broadcast-query category): it is
    collected once, each query's LUT[s][j] = exact int dist²(q_s, c_sj)
    is computed driver-side in exact integer arithmetic, and the LUT rows
    broadcast-crossJoin the code table — candidates cost m array lookups,
    zero shuffle before the top-k window. Output: (query_id, cand_id,
    adc_dist2, rk); ties → smallest cand_id."""
    m = len(codebook)
    d_sub = len(codebook[0][0])
    q_rows = queries.select(
        F.col(q_id).alias("query_id"), scaled_vec(F.col(q_vec)).alias("_sq")
    ).collect()
    lut_rows = []
    for r in q_rows:
        sq = r["_sq"]
        lut = [
            [
                sum(
                    (int(sq[s * d_sub + i]) - int(c[i])) ** 2
                    for i in range(d_sub)
                )
                for c in codebook[s]
            ]
            for s in range(m)
        ]
        lut_rows.append((r["query_id"], lut))
    lut_df = codes.sparkSession.createDataFrame(
        lut_rows, "query_id long, lut array<array<bigint>>"
    )
    joined = F.broadcast(lut_df).crossJoin(
        codes.select(F.col(c_id).alias("cand_id"), "codes")
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("codes"), s + 1) + 1,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist2"), F.asc("cand_id")
    )
    return (
        joined.withColumn("adc_dist2", adc)
        .select("query_id", "cand_id", "adc_dist2")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
    )


def ivf_pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids_below: int,
    codebook: list[list[list[int]]],
    k: int = 10,
    k_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-PQ: the standard composition for billion-scale ANN — a coarse
    inverted index bounds WHICH candidates are scored (Σ_probed |cell|,
    never n), PQ codes bound what scoring COSTS (m byte-lookups per
    candidate, the stored vectors are never read).

    Index side (built once): cell id from the deterministic coarse
    quantizer (similarity.ivf_topk's — the k_cells lowest-id vectors, so
    the whole index is re-derivable), joined 1:1 with the PQ code table.
    Query side (bounded by contract): probed cells and integer LUTs are
    computed driver-side per query, exploded to (query, cell) rows, and
    broadcast onto the inverted lists — an equi-join on cell, an m-term
    fold, a top-k window. Recall tunes via nprobe and the codebook size
    without changing the plan. Output: (query_id, cand_id, adc_dist2, rk).
    """
    import numpy as np

    m = len(codebook)
    d_sub = len(codebook[0][0])
    prepped = df.select(
        F.col(id_col).alias("_pid"), scaled_vec(F.col(vec_col)).alias("_svec")
    )
    cents = (
        prepped.orderBy("_pid").limit(k_cells).select("_pid", "_svec").collect()
    )
    cent_ids = np.array([r["_pid"] for r in cents], dtype=np.int64)
    cent_mat = np.stack([np.asarray(r["_svec"], dtype=np.int64) for r in cents])

    from dwca_parquet_spark.operators.similarity import _cells_udf

    assign = _cells_udf(cent_ids, cent_mat, 1)
    inv = prepped.select(
        F.col("_pid").alias("cand_id"),
        assign(F.col("_svec")).getItem(0).alias("cell"),
    ).join(
        pq_encode(df, id_col, vec_col, codebook).withColumnRenamed(
            id_col, "cand_id"
        ),
        "cand_id",
    )

    q_rows = (
        prepped.filter(F.col("_pid") < query_ids_below)
        .select("_pid", "_svec")
        .collect()
    )
    c2 = np.einsum("ij,ij->i", cent_mat, cent_mat)
    lut_rows = []
    for r in q_rows:
        v = np.asarray(r["_svec"], dtype=np.int64)
        d2 = (v @ v) + c2 - 2 * (cent_mat @ v)
        probed = cent_ids[np.argsort(d2, kind="stable")[:nprobe]]
        lut = [
            [
                int(((v[s * d_sub : (s + 1) * d_sub] - np.asarray(c)) ** 2).sum())
                for c in codebook[s]
            ]
            for s in range(m)
        ]
        for cell in probed:
            lut_rows.append((int(r["_pid"]), int(cell), lut))
    lut_df = df.sparkSession.createDataFrame(
        lut_rows, "query_id long, cell long, lut array<array<bigint>>"
    )
    pairs = F.broadcast(lut_df).join(inv, "cell").filter(
        F.col("query_id") != F.col("cand_id")
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("codes"), s + 1) + 1,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist2"), F.asc("cand_id")
    )
    return (
        pairs.withColumn("adc_dist2", adc)
        .select("query_id", "cand_id", "adc_dist2")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def ivf_pq_topk_rerank(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids_below: int,
    codebook: list[list[list[int]]],
    k: int = 10,
    k_cells: int = 16,
    nprobe: int = 4,
    rerank: int = 100,
) -> DataFrame:
    """Two-stage retrieval — the standard production composition: ADC over
    PQ codes produces a cheap shortlist of ``rerank`` candidates per
    query; only THOSE rows' original vectors are read and exact-scored.
    PQ quantization error stops binding recall (measured in SCALE.md's
    ANN recall sweep on the structureless sf0.1 fixture: ~0.19 → ~0.57
    at rerank=100, nprobe=8 — the remaining gap is shortlist quality,
    tuned via rerank size and codebook (m, k)) while the expensive exact
    distance runs on rerank·|queries| rows instead of the corpus.

    Shape: stage 1 is ivf_pq_topk (codes only); stage 2 joins the
    shortlist back to the vector table by id — an equi-join whose left
    side is bounded by rerank·|queries| — and computes exact integer L2
    via one zip_with fold, then re-ranks. Output: (query_id, cand_id,
    dist2, rk)."""
    shortlist = ivf_pq_topk(
        df, id_col, vec_col, query_ids_below, codebook,
        k=rerank, k_cells=k_cells, nprobe=nprobe,
    ).select("query_id", "cand_id")
    vecs = df.select(
        F.col(id_col).alias("cand_id"), scaled_vec(F.col(vec_col)).alias("_sv")
    )
    qvecs = df.filter(F.col(id_col) < query_ids_below).select(
        F.col(id_col).alias("query_id"),
        scaled_vec(F.col(vec_col)).alias("_sq"),
    )
    exact = (
        shortlist.join(vecs, "cand_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn(
            "dist2",
            F.aggregate(
                F.zip_with(
                    F.col("_sq"), F.col("_sv"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("cand_id"))
    return (
        exact.select("query_id", "cand_id", "dist2")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )
