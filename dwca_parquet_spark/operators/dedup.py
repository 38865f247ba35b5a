"""Deduplication operators (north-star; generalizes reference set() dedup,
``/root/reference/src/dwca_parquet/libs/csw.py:91,98``).

Four families, all shuffle-conscious:

- exact: hash-groupBy on a normalized-text fingerprint. One shuffle on the
  hash; at 100 TB this is the canonical map-side-combinable aggregation.
- MinHash + LSH banding: shingle → portable hash → explode → ONE groupBy
  computing all k min-aggregates (map-side combine ⇒ the shuffle carries at
  most k values per doc, not the shingle stream) → band buckets → bucket
  self-join for candidates → exact Jaccard verify. Candidate generation is
  O(pairs-sharing-a-bucket), never O(n²).
- SimHash: same exploded shape, 32 conditional-sum aggregates → 32-bit
  fingerprint; near-dups collide on fingerprint (or low Hamming distance).
- n-gram Jaccard: exact set similarity on shingle-hash arrays — used both
  standalone (bounded candidate sets) and as the LSH verify stage.

Embedding-based near-dup lives in operators/similarity.py.

The hash arithmetic is engine-portable (functions/hashing.py) so every
operator here is verified against a DuckDB oracle computing the identical
signatures.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dwca_parquet_spark.cache import persist_tracked
from dwca_parquet_spark.functions import hashing as H

# Worker-lifetime scratch pool for the Arrow verify kernel (the
# similarity._scratch discipline, round 11/13): Python workers are
# single-threaded and reused across tasks, so multi-MB temporaries are
# grown once and recycled instead of round-tripping pages through the
# OS on every group (measured ~60 ns/element for fresh allocations in
# the host's alloc-contention regime vs memory-bandwidth for reuse).
_SCRATCH: dict[str, "np.ndarray"] = {}


def _dscratch(name: str, dtype, size: int) -> "np.ndarray":
    buf = _SCRATCH.get(name)
    if buf is None or buf.dtype != np.dtype(dtype) or buf.size < size:
        buf = np.empty(max(size, 1), dtype=dtype)
        _SCRATCH[name] = buf
    return buf[:size]


def _diota(size: int) -> "np.ndarray":
    """Pooled ``arange`` prefix (read-only by convention)."""
    buf = _SCRATCH.get("_iota")
    if buf is None or buf.size < size:
        buf = np.arange(max(size, 1), dtype=np.int64)
        _SCRATCH["_iota"] = buf
    return buf[:size]


def text_key(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """id + normalized-text rolling hash (the exact-dedup key).

    Staged projections (normalize → hash) so the regex normalization runs
    once per row — inlining it under the fold lambda re-evaluates it per
    character (the q29 13.5s→sub-second lesson; see functions/hashing.py).
    """
    return df.select(
        F.col(id_col), H.normalize_text(F.col(text_col)).alias("_norm")
    ).select(F.col(id_col), H.poly_hash(F.col("_norm")).alias("text_hash"))


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: canonical (min) id + multiplicity per text hash."""
    return (
        text_key(df, id_col, text_col)
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_hash_table(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """(id, array<distinct shingle hashes>) — the input relation for MinHash,
    SimHash and Jaccard. Computed once and reused by composition.

    Three staged projections (normalize → codepoints → shingle hashes):
    each stage's result is referenced multiple times by the next, which
    stops CollapseProject from inlining and re-running the regexes/split
    per shingle.
    """
    return (
        df.select(F.col(id_col), H.normalize_text(F.col(text_col)).alias("_norm"))
        .select(F.col(id_col), H.char_codes(F.col("_norm")).alias("_codes"))
        .select(
            F.col(id_col),
            H.shingle_hashes_from_codes(F.col("_codes"), k).alias("hashes"),
        )
    )


def minhash_signatures(sh: DataFrame, id_col: str) -> DataFrame:
    """MinHash signature columns mh0..mh{k-1} via explode + one aggregation.

    Exploding then aggregating beats per-row array lambdas twice over: the
    16 ``min`` aggregates map-side-combine (tiny shuffle), and codegen stays
    small instead of inlining the shingle pipeline 16×.
    """
    exploded = sh.select(F.col(id_col), F.explode("hashes").alias("h"))
    aggs = []
    for j in range(H.MINHASH_K):
        a, b = H._minhash_ab(j)
        aggs.append(F.min((F.col("h") * a + b) % H.MINHASH_P).alias(f"mh{j}"))
    return exploded.groupBy(id_col).agg(*aggs)


def band_bucket_table(sigs: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bucket): one row per LSH band, bucket = folded band hash."""
    bands = []
    for band in range(H.MINHASH_BANDS):
        lo = band * H.MINHASH_ROWS_PER_BAND
        expr = F.lit(0).cast("long")
        for r in range(lo, lo + H.MINHASH_ROWS_PER_BAND):
            expr = (expr * H.HASH_BASE + F.col(f"mh{r}")) % H.HASH_MOD
        bands.append(F.struct(F.lit(band).alias("band"), expr.alias("bucket")))
    return sigs.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def jaccard(a: str, b: str) -> F.Column:
    """|A∩B| / |A∪B| over distinct-element arrays, via the union-free form
    |I|/(|A|+|B|−|I|) so the oracle computes the identical float."""
    inter = F.size(F.array_intersect(F.col(a), F.col(b))).cast("double")
    return inter / (
        F.size(F.col(a)).cast("double") + F.size(F.col(b)).cast("double") - inter
    )


def _ids_packable(sh: DataFrame, id_col: str) -> bool:
    """True iff ids are integral, non-negative, and < 2^33 — the domain
    where ``(id << 30) | hash`` is an injective single-long key. One
    column-pruned min/max aggregate over the doc-count-sized shingle
    table (cheap, and usually served from the caller's persist)."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if not isinstance(
        sh.schema[id_col].dataType,
        (ByteType, ShortType, IntegerType, LongType),
    ):
        return False
    row = sh.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).collect()[0]
    return (
        row["lo"] is not None and row["lo"] >= 0 and row["hi"] < (1 << 33)
    )


def pair_jaccard(
    cand: DataFrame,
    sh: DataFrame,
    id_col: str,
    a: str = "id_a",
    b: str = "id_b",
    threshold: float | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate pairs WITHOUT shipping arrays per pair.

    Profiling the q30 verify at sf0.1 (472 k pairs × ~143-hash arrays) showed
    the cost is not the set intersection itself (NumPy: ~9 s; Catalyst
    ``array_intersect``: ~170 s) but *moving two full arrays per pair* —
    the JVM→Arrow serialization of ~135 M array elements alone took ~80 s.
    So: never attach arrays to pairs. Explode the shingle table once into
    (id, h) rows, restrict the stream to candidate pairs with two equi-joins,
    and count matches with one map-side-combinable groupBy:

        cand(a,b) ⋈ ex(a,h) ⋈ ex(b,h)  →  groupBy(a,b).count() = |A∩B|

    All JVM codegen, shuffles keyed on (id) then (id,h) — well distributed,
    no skew amplification beyond the candidate set itself, and the shape
    holds at 100 TB (it is the canonical sparse-vector intersection join).
    The returned pair set is threshold-dependent: with ``threshold`` None
    or ≤ 0 EVERY candidate comes back (zero-intersection pairs restored
    via a left join, jaccard 0); with a positive ``threshold`` only pairs
    that can still reach it are returned (the length filter prunes
    size-mismatched candidates and the restoration join is inner — a
    zero-intersection pair has jaccard exactly 0 and can never pass).

    Returns ``cand``'s columns plus a ``jaccard`` double (unrounded —
    callers round to keep oracle parity at a single place).

    ``threshold``: when the caller will discard pairs below a Jaccard
    threshold anyway, pass it here to apply the classic set-similarity
    LENGTH FILTER (Arasu et al. 2006 / PPJoin family; PAPERS.md):
    J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|), so pairs whose
    size ratio is below the threshold are EXACTLY below it and are
    pruned BEFORE the intersection join — the two sizes joins are
    doc-count-sized and run first, cutting the pair-×-shingle stream
    (the verify's dominant cost; the sf1 sweep measured it at ~10⁹
    rows) by the fraction of size-mismatched candidates. A 1e-6 margin
    keeps pairs whose 6-dp-rounded jaccard could still reach the
    threshold, so output parity with the unpruned plan (and the DuckDB
    oracle) is exact, not approximate.

    PACKED KEYS (round 6): when the id column is a non-negative
    integer below 2^33 (checked by one column-pruned aggregate over
    the doc-count-sized ``sh``), the second join's compound key (b, h)
    is packed into ONE long — h < HASH_MOD < 2^30, so
    ``(b << 30) | h`` is injective. The big (a, b, h) stream becomes
    (a, packed): one fewer 8-byte slot per row through the verify's
    dominant exchange, a single-long hash/compare on the hot key, and
    a probe side narrow enough that AQE's runtime size measurement can
    elect a broadcast it refuses for the two-column equivalent.
    Measured on the sf0.3 generated fixture (SCALE.md, q30
    verify-stream experiment): 84.7 → 12.6 s with bit-identical output
    checksums; the int32-hash lever measured FLAT (87 s) because
    UnsafeRow gives fixed-width fields 8-byte slots regardless.
    Ids outside the packable domain (strings, negatives, > 2^33) fall
    back to the wide-key plan — same semantics, covered by the
    string-id tests (test_leakage_split.py). ``cand`` ids need no
    separate range check: before either plan runs, cand is INNER-joined
    to the per-id size table derived from ``sh``, so any cand id
    outside sh's (validated) id domain is dropped before packing —
    a cand id that could overflow the shift can never reach it
    (regression-tested: test_properties.py, out-of-domain cand ids).
    """
    ex = sh.select(F.col(id_col).alias("_jid"), F.explode("hashes").alias("_jh"))
    sizes = sh.select(F.col(id_col).alias("_jid"), F.size("hashes").alias("_jn"))
    na = sizes.select(F.col("_jid").alias(a), F.col("_jn").alias("_jna"))
    nb = sizes.select(F.col("_jid").alias(b), F.col("_jn").alias("_jnb"))
    cand = cand.join(na, a).join(nb, b)
    if threshold is not None:
        cand = cand.filter(
            F.least(F.col("_jna"), F.col("_jnb")).cast("double")
            / F.greatest(F.col("_jna"), F.col("_jnb")).cast("double")
            >= F.lit(float(threshold) - 1e-6)
        )
    ex_a = ex.select(F.col("_jid").alias(a), F.col("_jh"))
    if _ids_packable(sh, id_col):
        ex_pb = ex.select(
            (
                F.shiftleft(F.col("_jid").cast("long"), 30) + F.col("_jh")
            ).alias("_pbh")
        )
        inter = (
            cand.select(a, b)
            .join(ex_a, a)
            .select(
                F.col(a),
                (
                    F.shiftleft(F.col(b).cast("long"), 30) + F.col("_jh")
                ).alias("_pbh"),
            )
            .join(ex_pb, "_pbh")
            .groupBy(F.col(a), F.shiftright(F.col("_pbh"), 30).alias(b))
            .agg(F.count(F.lit(1)).alias("_ji"))
        )
    else:
        ex_b = ex.select(F.col("_jid").alias(b), F.col("_jh"))
        inter = (
            cand.select(a, b)
            .join(ex_a, a)
            .join(ex_b, [b, "_jh"])
            .groupBy(a, b)
            .agg(F.count(F.lit(1)).alias("_ji"))
        )
    # Zero-intersection restoration is only owed when the caller wants
    # jaccard for EVERY candidate (threshold=None). With a positive
    # threshold the contract is already "pairs that can reach it" (the
    # length filter above drops candidates wholesale), and a pair with
    # |A∩B| = 0 has jaccard exactly 0 < threshold — so the left join +
    # coalesce shrink to a plain inner join, deleting one full exchange
    # + sort of the candidate table (round-12; guide §2.4).
    restore = "left" if (threshold is None or threshold <= 0) else "inner"
    out = cand.join(inter, [a, b], restore)
    if restore == "left":
        out = out.withColumn("_ji", F.coalesce(F.col("_ji"), F.lit(0)))
    return (
        out.withColumn(
            "jaccard",
            F.col("_ji").cast("double")
            / (
                F.col("_jna").cast("double")
                + F.col("_jnb").cast("double")
                - F.col("_ji").cast("double")
            ),
        )
        .drop("_ji", "_jna", "_jnb")
    )


def minhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    eager: bool = True,
) -> DataFrame:
    """LSH candidate pairs verified by exact shingle Jaccard ≥ threshold.

    Returns (id_a, id_b, jaccard) with id_a < id_b.

    Shuffle/scale shape: the shingle table and bucket table are persisted —
    the plan references ``sh`` three times (signature build + both verify
    sides) and ``buckets`` twice, so without a persist the shingle regexes
    re-run 3×. The bucket self-join is an equi-join on (band, bucket);
    candidate count is Σ|bucket|² per band, never n². The Jaccard verify is
    the explode/equi-join/groupBy form (see ``pair_jaccard``).

    ``max_bucket_size``: optional skew guard for the 100 TB path — band
    buckets larger than this are dropped *before* pair generation (a
    degenerate bucket of m docs contributes m² candidates; a near-dup pair
    lost this way is usually recovered by another of the BANDS−1 bands).
    Default None = exact LSH semantics (what the DuckDB oracle computes).

    ``eager``: materialize the persisted shingle/candidate tables with a
    count() at build time, so the verify joins plan against known (cached)
    sizes instead of estimates and the candidate distinct-aggregate is never
    fused into the verify stage. At 100 TB you would checkpoint the
    candidate set before an expensive verify anyway.

    Round-12 (guide §4.2; the lid/simhash precedent): for k ≤ 5 the
    shingle set, the 16 MinHash permutation minima AND the band buckets
    all compute in ONE Arrow pass per document (exact integer NumPy —
    the no-mod rolling hash is valid below HASH_MOD for printable ASCII
    and k ≤ 5; permutation products < 2⁶¹; the band fold applies the
    stepwise mod exactly like the JVM expression). One persisted table
    serves the bucket join AND both verify sides, replacing the JVM
    shingle projection + the 7.5M-row explode → 16-min groupBy + the
    band fold. Values are bit-identical (pinned by the q30/q44 oracle
    gates and test_properties' signature laws); the `hashes` arrays are
    sorted (np.unique) rather than first-occurrence-ordered
    (array_distinct) — set-equal, and every consumer (explode joins,
    size counts, min aggregates) is order-free.
    """
    if k <= 5:
        if threshold is not None and threshold > 0:
            # Round-13 (guide §2.4/§4.2; VERDICT r12 top-next): the whole
            # candidate-generation + verify tail collapses into ONE
            # per-(band,bucket) Arrow kernel. The old plan materialized
            # Σ|bucket|² candidate pairs (472k at sf0.1), distinct-ed
            # them, joined sizes twice, then streamed ~66M
            # (pair × shingle) join rows into a count aggregate. The
            # kernel computes every within-bucket pair's exact
            # intersection by run-length pair counting over ONE sort of
            # the bucket's hash multiset, and only NEAR-THRESHOLD pairs
            # (j ≥ threshold − 1e-6 — wider than the 6-dp rounding
            # half-ulp of 5e-7) ever leave Python. Cross-band duplicates
            # carry bit-identical jaccard doubles (same exact integer
            # inputs, same op order), so a distinct() collapses them;
            # the exact round + cut stays JVM-side for oracle parity.
            shb = _shingle_minhash_buckets_arrow(df, id_col, text_col, k)
            pairs = _bucket_jaccard_pairs_arrow(
                shb, id_col, threshold, max_bucket_size
            )
            return (
                pairs.distinct()
                .withColumn("jaccard", F.round(F.col("jaccard"), 6))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "jaccard")
            )
        shb = persist_tracked(
            _shingle_minhash_buckets_arrow(df, id_col, text_col, k)
        )
        sh = shb.select(id_col, "hashes")
        buckets = shb.select(
            F.col(id_col), F.posexplode("_bkts").alias("band", "bucket")
        )
        return dup_pairs_from_hash_sets(
            sh, id_col, threshold=threshold,
            max_bucket_size=max_bucket_size, eager=eager, buckets=buckets,
        )
    sh = persist_tracked(shingle_hash_table(df, id_col, text_col, k))
    return dup_pairs_from_hash_sets(
        sh, id_col, threshold=threshold, max_bucket_size=max_bucket_size,
        eager=eager,
    )


def _shingle_minhash_buckets_arrow(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, hashes array<long>, _bkts array<long>): distinct k-shingle
    hashes + the MINHASH_BANDS band buckets, one Arrow pass per document
    (see minhash_dup_pairs' round-12 note). Docs whose normalized text is
    NULL or shorter than k produce no row — identical to the explode
    semantics of the JVM pipeline."""
    staged = df.select(
        F.col(id_col).alias("_id"),
        H.normalize_text(F.col(text_col)).alias("_nt"),
    ).filter(F.col("_nt").isNotNull() & (F.length("_nt") >= k))
    pows = [H.HASH_BASE ** (k - 1 - j) for j in range(k)]
    ab = np.array(
        [H._minhash_ab(j) for j in range(H.MINHASH_K)], dtype=np.int64
    )
    A, B = ab[:, 0], ab[:, 1]
    bands = H.MINHASH_BANDS
    rpb = H.MINHASH_ROWS_PER_BAND

    def gen(batches):
        for pdf in batches:
            ids, hs, bks = [], [], []
            for rid, nt in zip(pdf["_id"], pdf["_nt"]):
                codes = np.frombuffer(
                    nt.encode("ascii"), dtype=np.uint8
                ).astype(np.int64)
                n = len(codes)
                h = np.zeros(n - k + 1, dtype=np.int64)
                for j, p in enumerate(pows):
                    h += codes[j : n - k + 1 + j] * p
                hu = np.unique(h)
                # 16 permutation minima: (h·a_j + b_j) % P, exact int64
                sigs = ((hu[:, None] * A[None, :]) + B[None, :]) % H.MINHASH_P
                mh = sigs.min(axis=0)
                # band fold with the stepwise mod, exactly the JVM expr
                bk = np.empty(bands, dtype=np.int64)
                for band in range(bands):
                    acc = np.int64(0)
                    for r in range(band * rpb, (band + 1) * rpb):
                        acc = (acc * H.HASH_BASE + mh[r]) % H.HASH_MOD
                    bk[band] = acc
                ids.append(rid)
                hs.append(hu)
                bks.append(bk)
            if ids:
                yield pd.DataFrame({"_id": ids, "hashes": hs, "_bkts": bks})
            else:
                yield pd.DataFrame(
                    {
                        "_id": pdf["_id"].iloc[:0],
                        "hashes": pd.Series([], dtype="object"),
                        "_bkts": pd.Series([], dtype="object"),
                    }
                )

    schema = (
        f"_id {dict(staged.dtypes)['_id']}, "
        "hashes array<bigint>, _bkts array<bigint>"
    )
    return staged.mapInPandas(gen, schema).withColumnRenamed("_id", id_col)


def _bucket_jaccard_pairs_arrow(
    shb: DataFrame,
    id_col: str,
    threshold: float,
    max_bucket_size: int | None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for every within-bucket pair near the
    threshold — the fused candidate+verify stage of the k ≤ 5 LSH path.

    Input is :func:`_shingle_minhash_buckets_arrow`'s
    (id, hashes, _bkts); each (band, bucket) group runs ONE NumPy
    kernel (round-13; guide §4.2):

    - the group's hash arrays concatenate into a single multiset, one
      argsort groups equal hashes into runs, and every ordered pair of
      docs inside a run contributes +1 to that pair's intersection
      (CSR-style run-length pair counting — the per-doc arrays are
      distinct, so ``ds`` is strictly increasing within a run and every
      (first, second) pair has id_a-ordinal < id_b-ordinal);
    - pair increments accumulate by a packed ``i·m + j`` int64 key —
      ``np.bincount`` into an m² array when m ≤ 4096 (pure adds, no
      sort), chunk-merged ``np.unique`` above (giant buckets; the
      documented skew guard stays ``max_bucket_size`` — a degenerate
      bucket is single-task quadratic work in EITHER verify plan);
    - every pair-stream temporary lives in a worker-lifetime scratch
      pool and is written with ``out=``/``np.take`` (the round-11
      ``_scratch`` page-fault lesson from similarity.py: fresh multi-MB
      allocations per group round-trip pages through the OS — measured
      here at ~60 ns/element, 10-20× the warmed cost — while reused
      buffers run at memory bandwidth), chunked to ~1M increments so
      the pool stays a few tens of MB per worker;
    - jaccard = I/(|A|+|B|−I) in the exact op order of
      :func:`pair_jaccard`'s JVM projection (all operands are exact
      small integers in float64, so the division is bit-identical);
      only pairs with j ≥ threshold − 1e-6 are emitted (the 6-dp
      round-half-up moves a value by ≤ 5e-7, so every pair whose
      ROUNDED jaccard can reach the threshold survives the margin).

    The docs are sorted by id inside the kernel, so emitted pairs have
    id_a < id_b — the same orientation the bucket self-join produced.
    Work per group is O(Σ|A| log Σ|A| + Σ_pairs |A∩B|): the intersection
    increments the old plan materialized as join-output ROWS are now
    in-register adds, and the pair stream that crosses back to the JVM
    is O(near-threshold pairs), not O(candidates)."""
    ex = shb.select(
        F.col(id_col).alias("_id"),
        "hashes",
        F.posexplode("_bkts").alias("_band", "_bucket"),
    )
    thr = float(threshold)
    mbs = max_bucket_size
    id_dtype = dict(ex.dtypes)["_id"]

    def group_kern(ids: "np.ndarray", arrs: list) -> tuple:
        m = len(ids)
        if m < 2 or (mbs is not None and m > mbs):
            return None
        order = np.argsort(ids, kind="stable")  # ids unique per bucket
        ids = ids[order]
        arrs = [np.asarray(arrs[i], dtype=np.int64) for i in order]
        sizes = np.fromiter((a.size for a in arrs), np.int64, m)
        allh = np.concatenate(arrs)
        didx = np.repeat(np.arange(m, dtype=np.int64), sizes)
        o = np.argsort(allh, kind="stable")
        hs = allh[o]
        ds = didx[o]  # nondecreasing within runs (stable sort, docs concat in order)
        n = hs.size
        change = np.empty(n, np.bool_)
        change[0] = True
        np.not_equal(hs[1:], hs[:-1], out=change[1:])
        starts = np.flatnonzero(change)
        runlen = np.diff(np.append(starts, n))
        # offset of each element within its run = how many earlier
        # elements of the SAME run it pairs with (as the 'second' side)
        offs = np.arange(n, dtype=np.int64) - np.repeat(starts, runlen)
        # compact to pair-contributing elements (offs > 0): segment
        # starts become strictly increasing, so the chunk expansion
        # below can mark+cumsum instead of scattering duplicates
        el = np.flatnonzero(offs)
        if el.size == 0:
            return None
        eoffs = offs[el]
        ecs = np.empty(el.size + 1, np.int64)
        ecs[0] = 0
        np.cumsum(eoffs, out=ecs[1:])
        total = int(ecs[-1])
        # first_pos(pair g of element j) = run_start(el[j]) + (g − ecs[j])
        #                                = el[j] − eoffs[j] − ecs[j] + g
        adj = el - eoffs - ecs[:-1]
        use_bincount = m <= 4096
        if use_bincount:
            counts = _dscratch("jv_counts", np.int64, m * m)
            counts.fill(0)
            uniq_keys = uniq_cnts = None
        else:
            counts = None
            uniq_keys = np.empty(0, np.int64)
            uniq_cnts = np.empty(0, np.int64)
        # chunk on element boundaries (~1M pair increments per chunk):
        # every pair-stream temporary below is a pooled buffer of ~CH
        # elements, so the worker's steady state is allocation-free
        CH = 1 << 20
        bounds = np.minimum(
            np.searchsorted(ecs, np.arange(CH, total + CH, CH), "left"),
            el.size,
        )
        e0 = 0
        for e1 in np.append(bounds, el.size):
            e1 = int(e1)
            if e1 <= e0:
                continue
            np_c = int(ecs[e1] - ecs[e0])
            # compacted-element ordinal per pair: 1 at each segment
            # start (strictly increasing, all < np_c), cumsum
            w = _dscratch("jv_idx", np.int64, np_c)
            w.fill(0)
            w[ecs[e0 + 1 : e1] - ecs[e0]] = 1
            np.cumsum(w, out=w)
            w += e0  # global compacted index j per pair
            pos2 = np.take(el, w, out=_dscratch("jv_pos2", np.int64, np_c))
            second = np.take(ds, pos2, out=_dscratch("jv_snd", np.int64, np_c))
            fp = np.take(adj, w, out=_dscratch("jv_fp", np.int64, np_c))
            fp += _diota(np_c)
            fp += int(ecs[e0])
            first = np.take(ds, fp, out=_dscratch("jv_fst", np.int64, np_c))
            key = np.multiply(first, m, out=first)
            key += second
            if use_bincount:
                counts += np.bincount(key, minlength=m * m)
            else:
                ak = np.concatenate([uniq_keys, key])
                ac = np.concatenate(
                    [uniq_cnts, np.ones(np_c, np.int64)]
                )
                uk, inv = np.unique(ak, return_inverse=True)
                uc = np.zeros(uk.size, np.int64)
                np.add.at(uc, inv, ac)
                uniq_keys, uniq_cnts = uk, uc
            e0 = e1
        if use_bincount:
            nz = np.flatnonzero(counts)
            inter = counts[nz]
        else:
            nz = uniq_keys
            inter = uniq_cnts
        ia = nz // m
        ib = nz % m
        num = inter.astype(np.float64)
        den = sizes[ia].astype(np.float64) + sizes[ib].astype(np.float64)
        den -= num
        jac = num / den
        keep = jac >= thr - 1e-6
        if not keep.any():
            return None
        return ids[ia[keep]], ids[ib[keep]], jac[keep]

    def part_kern(batches) -> "pd.DataFrame":
        # ONE Python call per shuffle partition (round 13): the
        # per-group applyInPandas machinery measured ~1-3 ms of Arrow/
        # pandas overhead PER GROUP — 5084 buckets at sf0.1 made that
        # the dominant cost of the whole verify (a trivial per-group
        # function alone timed 4.4-15 s). Hash partitioning on
        # (_band, _bucket) still co-locates every bucket; the grouping
        # itself is one packed-key argsort + slicing per partition.
        pdfs = [pdf for pdf in batches]
        pdf = (
            pd.concat(pdfs, ignore_index=True)
            if len(pdfs) > 1
            else (pdfs[0] if pdfs else None)
        )
        if pdf is None or not len(pdf):
            ids0 = pdf["_id"].iloc[:0] if pdf is not None else pd.Series([], dtype="object")
            yield pd.DataFrame(
                {
                    "id_a": ids0,
                    "id_b": ids0,
                    "jaccard": pd.Series([], dtype="float64"),
                }
            )
            return
        empty = pd.DataFrame(
            {
                "id_a": pdf["_id"].iloc[:0],
                "id_b": pdf["_id"].iloc[:0],
                "jaccard": pd.Series([], dtype="float64"),
            }
        )
        # band < MINHASH_BANDS (tiny), bucket < HASH_MOD < 2^30: one
        # injective packed int64 key per (band, bucket)
        gkey = (
            pdf["_band"].to_numpy(np.int64) << 30
        ) | pdf["_bucket"].to_numpy(np.int64)
        order = np.argsort(gkey, kind="stable")
        gkey = gkey[order]
        ids_all = pdf["_id"].to_numpy()[order]
        arrs_all = pdf["hashes"].to_numpy()[order]
        bnd = np.flatnonzero(np.r_[True, gkey[1:] != gkey[:-1]])
        bnd = np.append(bnd, gkey.size)
        out_a, out_b, out_j = [], [], []
        for s, e in zip(bnd[:-1], bnd[1:]):
            res = group_kern(ids_all[s:e], arrs_all[s:e])
            if res is not None:
                out_a.append(res[0])
                out_b.append(res[1])
                out_j.append(res[2])
        if not out_a:
            yield empty
            return
        yield pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "jaccard": np.concatenate(out_j),
            }
        )

    return ex.repartition("_band", "_bucket").mapInPandas(
        part_kern, f"id_a {id_dtype}, id_b {id_dtype}, jaccard double"
    )


def dup_pairs_from_hash_sets(
    sh: DataFrame,
    id_col: str,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    eager: bool = True,
    buckets: DataFrame | None = None,
) -> DataFrame:
    """The modality-independent LSH pipeline: (id, hashes array<long>) →
    verified Jaccard pairs. Text shingles (minhash_dup_pairs) and frame
    hashes (multimodal.payload_neardup_pairs) both feed this; the input
    ``sh`` must already be persisted (it is referenced by the signature
    build and both verify sides). ``buckets``: pre-computed (id, band,
    bucket) rows (minhash_dup_pairs' fused Arrow path); None builds them
    from MinHash signatures over ``sh``."""
    if buckets is None:
        buckets = band_bucket_table(minhash_signatures(sh, id_col), id_col)
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        buckets = (
            buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    buckets = persist_tracked(buckets)
    left = buckets.alias("l")
    right = buckets.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )
    cand = persist_tracked(cand, eager=eager)
    return (
        pair_jaccard(cand, sh, id_col, threshold=threshold)
        .withColumn("jaccard", F.round(F.col("jaccard"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# connected_components executor-budget bounds: 8M edges ≈ 128 MB through
# the local kernel's one task; 2M nodes ≈ 32 MB of broadcast (node, label)
_CC_LOCAL_MAX_EDGES = 8_000_000
_CC_BROADCAST_MAX_NODES = 2_000_000


def connected_components(
    pairs: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    max_iter: int = 30,
    assume_distinct: bool = False,
) -> DataFrame:
    """(node, label) for every node in ``pairs``; label = min id reachable.

    Min-label propagation: each round, every node takes the smallest label
    among itself and its neighbors, iterated to fixpoint. Per round that is
    one equi-join (edges ⋈ labels on dst) plus one map-side-combinable
    groupBy(min) — both shuffles keyed on node id, no skew beyond the
    graph's own degree distribution. ``localCheckpoint`` truncates lineage
    each round (an iterative plan otherwise grows a plan tree per round and
    re-executes everything at every action). Convergence: labels only ever
    decrease (each node takes a min), so the label sum (exact decimal —
    never a float reduction) is strictly decreasing until the fixpoint;
    comparing it across rounds costs one single-column aggregate over the
    already-checkpointed table instead of a join-based changed-row probe.

    Each round also propagates label(label(v)) — pointer jumping, one
    extra small equi-join of the label table with itself — so the distance
    a component-minimum travels per round roughly doubles: O(log diameter)
    rounds instead of O(diameter), with the same per-round shuffle shape
    (equi-joins + one map-side-combinable min-aggregate). The alternating
    large-star/small-star variant (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14) is the further refinement for
    degree-skewed graphs at 100 TB.
    """
    # Both edge orientations from ONE pass over pairs (a union of two
    # selects would evaluate the upstream pair pipeline twice inside the
    # materializing job — the pair verify stage is the expensive part).
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # Duplicate edges are harmless for min-label propagation (min is
    # idempotent) — the distinct is a volume optimization, one exchange
    # now vs duplicate rows in every round's propagation join. When the
    # producer guarantees a distinct (a < b) pair set (every LSH/CC
    # caller in this repo does — verified pairs come out of a groupBy or
    # a one-bucket-per-vector kernel), both orientations are distinct by
    # construction and the exchange is pure waste (round-12; the
    # triangle_count assume_canonical precedent).
    if not assume_distinct:
        edges = edges.distinct()
    edges = edges.persist()
    # Size dispatch (round 13; the CC-broadcast/interval_join precedent):
    # at or below _CC_LOCAL_MAX_EDGES the whole component computation
    # runs as ONE vectorized min-label kernel in a single task — zero
    # iteration rounds, zero per-round checkpoint+checksum driver
    # actions (the q44 decomposition measured the 6-round loop at
    # ~3.4 s against ~0.1 s of actual arithmetic). The count() below
    # doubles as the action that materializes the persisted edges (the
    # init aggregate used to). Graphs above the bound keep the
    # distributed loop — the 100 TB path is unchanged.
    n_edges = edges.count()
    if n_edges <= _CC_LOCAL_MAX_EDGES:
        labels = _cc_local_arrow(edges).localCheckpoint(eager=True)
        edges.unpersist()
        return labels
    # Fused round 0 (round-12 optimization): the identity-label init plus
    # the first propagation round both reduce to label(v) = min(v, min
    # neighbor), which is ONE map-side-combinable groupBy over the edge
    # table — the same shuffle the old distinct-node init already paid.
    # This deletes a whole checkpoint+action cycle from every CC call.
    labels = edges.groupBy(F.col("src").alias("node")).agg(
        F.least(F.col("node"), F.min("dst")).alias("label")
    ).localCheckpoint(eager=False)
    # Convergence checksum: for NUMERIC node ids the exact decimal label
    # sum is strictly decreasing until the fixpoint (labels only take
    # mins), so consecutive equality IS convergence, exactly. For
    # non-numeric ids (string doc ids — the leakage_safe_split path) the
    # sum doesn't exist; use the order-free sum of xxhash64(label)
    # instead: the label multiset changes every non-converged round
    # (some node's label strictly decreased), so equal checksums mean
    # converged except with per-round collision probability ~2⁻⁶⁴ —
    # and max_iter still bounds the loop regardless. xxhash64 is fine
    # here because the checksum is internal control flow, never output.
    from pyspark.sql.types import NumericType

    if isinstance(labels.schema["label"].dataType, NumericType):
        checksum = F.sum(F.col("label").cast("decimal(38,0)"))
    else:
        checksum = F.sum(F.xxhash64(F.col("label")).cast("decimal(38,0)"))
    # The checksum aggregate is the action that materializes each lazily-
    # marked localCheckpoint (round-12: eager=False halves the per-round
    # action count — the old eager checkpoint ran one job to materialize
    # and a second for the checksum over the cached table). The same
    # action returns the node count for the broadcast dispatch below.
    row0 = labels.agg(
        checksum.alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    prev_sum = row0["s"]
    # Size dispatch (round-12; the interval_join precedent): a
    # checkpointed label table has no catalyst stats, so every round's
    # propagation join planned as a sort-merge join — re-exchanging and
    # re-sorting the persisted edge table each round. When the label
    # table (= node set, fixed across rounds) fits a broadcast, hint it:
    # the per-round plan becomes one streaming pass over the cached
    # edges + the groupBy exchange. Big graphs keep the shuffle join.
    bcast_labels = row0["n"] <= _CC_BROADCAST_MAX_NODES
    for _ in range(max_iter):
        lbl_dst = labels.select(F.col("node").alias("dst"), "label")
        lbl_jmp = labels.select(
            F.col("node").alias("label"), F.col("label").alias("_l2")
        )
        if bcast_labels:
            lbl_dst, lbl_jmp = F.broadcast(lbl_dst), F.broadcast(lbl_jmp)
        prop = edges.join(lbl_dst, "dst").select(
            F.col("src").alias("node"), "label"
        )
        # pointer jumping — label(label(v)) — is live from the first loop
        # round because the fused init already left identity-label land
        jump = labels.alias("x").join(lbl_jmp, "label").select(
            F.col("node"), F.col("_l2").alias("label")
        )
        new_labels = (
            labels.union(prop).union(jump)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        label_sum = new_labels.agg(checksum.alias("s")).collect()[0]["s"]
        labels = new_labels
        if label_sum == prev_sum:
            break
        prev_sum = label_sum
    edges.unpersist()
    return labels


def _cc_local_arrow(edges: DataFrame) -> DataFrame:
    """(node, label) for a BOUNDED edge set, one task, no rounds.

    The same min-label fixpoint the distributed loop computes, run
    in-memory: dense-remap ids (np.unique — sorted, so the dense min is
    the id min; NumPy's string order is code-point order, which matches
    Spark's UTF8-binary order because UTF-8 is order-preserving), then
    iterate { per-node min over incoming neighbor labels (one
    presorted ``minimum.reduceat`` — no scattered ``.at``), pointer
    jump lab[lab] } until unchanged. Labels only decrease and the edge
    table carries both orientations, so the fixpoint is the component
    minimum — identical to the loop's output by the same argument.
    O(log diameter) vectorized passes; the caller bounds |E|."""
    src_t = dict(edges.dtypes)["src"]

    def uf(batches):
        pdfs = [p for p in batches]
        if not pdfs:
            yield pd.DataFrame(
                {
                    "node": pd.Series([], dtype="object"),
                    "label": pd.Series([], dtype="object"),
                }
            )
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        src = pdf["src"].to_numpy()
        dst = pdf["dst"].to_numpy()
        uniq, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        e1 = inv[: src.size]
        e2 = inv[src.size :]
        order = np.argsort(e2, kind="stable")
        e1s = e1[order]
        e2s = e2[order]
        starts = np.flatnonzero(np.r_[True, e2s[1:] != e2s[:-1]])
        keys = e2s[starts]
        lab = np.arange(uniq.size, dtype=np.int64)
        while True:
            old = lab
            lab = lab.copy()
            lab[keys] = np.minimum(
                lab[keys], np.minimum.reduceat(old[e1s], starts)
            )
            lab = np.minimum(lab, lab[lab])
            if np.array_equal(lab, old):
                break
        yield pd.DataFrame({"node": uniq, "label": uniq[lab]})

    return edges.repartition(1).mapInPandas(
        uf, f"node {src_t}, label {src_t}"
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup cluster id per document: (id, cluster_id).

    The 100 TB shape for fuzzy dedup: ``minhash_dup_pairs`` emits the
    near-dup edge list (bounded by LSH bucketing), connected components
    collapse it to one cluster id per doc, and docs with no near-dup become
    their own singleton cluster. Downstream "keep one per cluster" is then
    a trivial groupBy — materializing all pairs of a big duplicate cluster
    (quadratic in cluster size) is never required by consumers.
    """
    pairs = minhash_dup_pairs(
        df, id_col, text_col, k, threshold, max_bucket_size
    )
    comp = connected_components(
        pairs, assume_distinct=True  # verified pairs come out of the verify groupBy
    ).withColumnRenamed("node", id_col)
    return (
        df.select(F.col(id_col))
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id"),
        )
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """32-bit SimHash per document.

    Round-12 shape for k ≤ 5 (guide §4.2; the _lid_bucket_counts
    precedent): normalization stays a JVM regex projection; ONE
    Arrow-batched mapInPandas then computes, per document, the distinct
    k-shingle rolling hashes (for printable-ASCII codes and k ≤ 5 the
    stepwise mod never fires — max intermediate 126·(31⁵−1)/30 < 10⁹+7
    — so h = Σ c_j·31^(k−1−j) is VALUE-identical to the JVM fold; the
    distinct set via np.unique, order-free for the vote sums), the 32
    exact-integer bit votes s_b = 2·popcount_b − n, and the fingerprint
    Σ 2^b [s_b > 0]. The old plan materialized the shingle table
    (tracked persist — required: unpersisted, the staged projections
    collapse into the consumer and re-evaluate the char-code transform
    per shingle position, the measured round-2 552 s pathology), then
    exploded 7.5M rows (sf0.1) into a groupBy with 32 interpreted
    conditional sums. This path has zero shuffle, no persist, and no
    exploded stream; outputs are bit-identical (exact integer
    arithmetic over the same shingle set — pinned in test_text_ops).
    Documents whose normalized text is NULL or shorter than k produce
    no shingles and are dropped, exactly as the explode dropped them.

    k > 5 keeps the persisted explode + 32-conditional-sum aggregation
    (the stepwise mod matters there and stays in JVM expressions).
    """
    if k <= 5:
        staged = df.select(
            F.col(id_col).alias("_id"),
            H.normalize_text(F.col(text_col)).alias("_nt"),
        ).filter(F.col("_nt").isNotNull() & (F.length("_nt") >= k))
        pows = [H.HASH_BASE ** (k - 1 - j) for j in range(k)]
        shifts = np.arange(32, dtype=np.int64)

        def gen(batches):
            for pdf in batches:
                ids, fps = [], []
                for rid, nt in zip(pdf["_id"], pdf["_nt"]):
                    codes = np.frombuffer(
                        nt.encode("ascii"), dtype=np.uint8
                    ).astype(np.int64)
                    n = len(codes)
                    h = np.zeros(n - k + 1, dtype=np.int64)
                    for j, p in enumerate(pows):
                        h += codes[j : n - k + 1 + j] * p
                    hu = np.unique(h)  # the array_distinct
                    bits = (hu[:, None] >> shifts) & 1
                    votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(hu)
                    ids.append(rid)
                    fps.append(
                        int(((votes > 0).astype(np.int64) << shifts).sum())
                    )
                if ids:
                    yield pd.DataFrame({"_id": ids, "simhash": fps})
                else:  # typed-empty frame: Arrow needs real dtypes
                    yield pd.DataFrame(
                        {
                            "_id": pdf["_id"].iloc[:0],
                            "simhash": pd.Series([], dtype="int64"),
                        }
                    )

        schema = f"_id {dict(staged.dtypes)['_id']}, simhash long"
        return staged.mapInPandas(gen, schema).withColumnRenamed(
            "_id", id_col
        )
    sh = persist_tracked(shingle_hash_table(df, id_col, text_col, k))
    exploded = sh.select(F.col(id_col), F.explode("hashes").alias("h"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s{i}")
        for i in range(32)
    ]
    votes = exploded.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for i in range(32):
        fp = fp + F.when(F.col(f"s{i}") > 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0)
        )
    return votes.select(F.col(id_col), fp.alias("simhash"))


def ngram_jaccard_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_ids_below: int,
    topk: int = 1,
    k: int = 3,
) -> DataFrame:
    """For each query doc (id < query_ids_below): top-k most-similar other
    docs by exact shingle Jaccard. Brute-force over a bounded query set —
    the scale path is minhash_dup_pairs / LSH; this is the exact baseline."""
    sh = persist_tracked(shingle_hash_table(df, id_col, text_col, k))
    q = sh.filter(F.col(id_col) < query_ids_below).select(
        F.col(id_col).alias("query_id")
    )
    c = sh.select(F.col(id_col).alias("cand_id"))
    cand = F.broadcast(q).join(c, F.col("query_id") != F.col("cand_id"))
    pairs = (
        pair_jaccard(cand, sh, id_col, a="query_id", b="cand_id")
        .withColumn("jaccard", F.round(F.col("jaccard"), 6))
        .select("query_id", "cand_id", "jaccard")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("jaccard").desc(), F.col("cand_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Duplicated-span detection (substring dedup at token-window granularity)
# ---------------------------------------------------------------------------
# Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
# Language Models Better"; PAPERS.md) removes repeated ≥N-token spans, which
# whole-document dedup misses (boilerplate headers, licence blocks, quoted
# passages). The suffix-array construction is single-node; the distributed
# shape is rolling-hash token windows: every w-token window hashes to 8
# bytes, a window repeated ANYWHERE in the corpus has a repeated hash, and
# the question "which spans repeat" becomes one groupBy on the window hash.


def token_hash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, array<token poly-hash>) in document order (NOT distinct — spans
    need positions). Staged projections: normalize → tokens → hashes, so
    the regexes run once per row and each token is hashed once."""
    norm = H.normalize_text(F.col(text_col))
    toks = F.when(F.length(F.col("_norm")) == 0, F.array().cast("array<string>")
                  ).otherwise(F.split(F.col("_norm"), r"\s+"))
    thash = F.transform(
        F.col("_toks"),
        lambda t: F.aggregate(
            H.char_codes(t),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * H.HASH_BASE + x) % H.HASH_MOD,
        ),
    )
    return (
        df.select(F.col(id_col), norm.alias("_norm"))
        .select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), thash.alias("token_hashes"))
    )


def span_hash_table(
    df: DataFrame, id_col: str, text_col: str, w: int = 8
) -> DataFrame:
    """One row per w-token window: (id, span_idx, span_hash). span_hash is
    the rolling fold of the window's token hashes — identical value for
    identical (normalized) token runs, wherever they occur. Documents with
    fewer than w tokens emit nothing. Pure projection + explode: runs in
    the scan stage, shuffles nothing."""

    def span_at(th: Column, i: Column) -> Column:
        expr = F.lit(0).cast("long")
        for j in range(w):
            expr = (expr * H.HASH_BASE + F.element_at(th, i + j)) % H.HASH_MOD
        return expr

    th = F.col("token_hashes")
    n = F.size(th)
    spans = F.when(n < w, F.array().cast("array<long>")).otherwise(
        F.transform(F.sequence(F.lit(1), n - (w - 1)), lambda i: span_at(th, i))
    )
    return (
        token_hash_table(df, id_col, text_col)
        .select(F.col(id_col), F.posexplode(spans).alias("span_idx", "span_hash"))
    )


def duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, w: int = 8
) -> DataFrame:
    """Per-document duplicated-span profile: of the document's w-token
    windows, how many also occur elsewhere in the corpus (same hash at any
    OTHER position, same or different document)?

    Output: (id, n_spans, n_dup_spans, dup_span_fraction) for every input
    document (short docs → 0 / 0 / 0.0). Downstream policy decides the
    cut (drop doc, trim span, weight down) — this operator is the measure.

    Shuffle shape at 100 TB: explode is scan-stage; ONE shuffle keyed on
    span_hash (the global repeat count — map-side combinable groupBy,
    NOT a window over the raw span stream), the count joined back to the
    span stream on the same key (AQE reuses the partitioning), then one
    map-side-combinable groupBy on id. Hot spans (empty-ish boilerplate)
    are data skew on span_hash; the groupBy pre-aggregates them map-side,
    and the join-back fans a single counted row out, never pairs.
    """
    spans = span_hash_table(df, id_col, text_col, w)
    counts = spans.groupBy("span_hash").agg(
        F.count(F.lit(1)).alias("_global_n")
    )
    per_doc = (
        spans.join(counts, "span_hash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("_global_n") > 1, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup_spans"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0))
            .cast("long")
            .alias("n_dup_spans"),
            F.round(
                F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("double")
                / F.greatest(F.coalesce(F.col("n_spans"), F.lit(0)), F.lit(1)).cast(
                    "double"
                ),
                6,
            ).alias("dup_span_fraction"),
        )
    )


def sql_duplicated_spans(
    source: str, id_expr: str, text_expr: str, w: int = 8
) -> str:
    """DuckDB oracle for :func:`duplicated_spans` — same constants, same
    rolling-fold arithmetic, same rounding."""
    ph_t = H.sql_poly_hash("t")
    fold = "0"
    for j in range(w):
        fold = f"(({fold}) * {H.HASH_BASE} + th[i + {j}]) % {H.HASH_MOD}"
    norm = H.sql_normalize_text(text_expr)
    return f"""
WITH _n AS (SELECT {id_expr} AS id, {norm} AS norm FROM {source}),
_t AS (SELECT id, CASE WHEN length(norm) = 0 THEN CAST([] AS BIGINT[])
         ELSE [{ph_t} for t in regexp_split_to_array(norm, '\\s+')] END AS th
       FROM _n),
_s AS (SELECT id, unnest(CASE WHEN len(th) < {w} THEN CAST([] AS BIGINT[])
         ELSE [{fold} for i in range(1, len(th) - {w} + 2)] END) AS span_hash
       FROM _t),
_c AS (SELECT _s.id, count(*) OVER (PARTITION BY span_hash) AS gn FROM _s),
_a AS (SELECT id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN gn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
       FROM _c GROUP BY id)
SELECT _n.id AS {id_expr},
       coalesce(n_spans, 0) AS n_spans,
       coalesce(n_dup_spans, 0) AS n_dup_spans,
       round(CAST(coalesce(n_dup_spans, 0) AS DOUBLE)
             / greatest(coalesce(n_spans, 0), 1), 6) AS dup_span_fraction
FROM _n LEFT JOIN _a USING (id)
"""


# ---------------------------------------------------------------------------
# Incremental fuzzy dedup: probe a STORED LSH state (round 4)
# ---------------------------------------------------------------------------


def lsh_state(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> tuple[DataFrame, DataFrame]:
    """The stored near-dup state for a corpus: (band-bucket table, shingle
    table). Write both as parquet (bucketed on (band, bucket) and id
    respectively for the co-located probe); advancing the state after an
    accepted batch is appending the batch's own rows to each — the same
    tables this function computes for the batch."""
    sh = shingle_hash_table(df, id_col, text_col, k)
    buckets = band_bucket_table(minhash_signatures(sh, id_col), id_col)
    return buckets, sh


def minhash_dup_pairs_incremental(
    batch: DataFrame,
    state_buckets: DataFrame,
    state_shingles: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs BETWEEN a new batch and a stored corpus — the fuzzy
    analog of bloom.dedup_incremental: history's signatures are never
    recomputed, only its stored bucket/shingle tables are probed.

    Output (id_a, id_b, jaccard): id_a from the stored corpus, id_b from
    the batch (id spaces must be disjoint — they are different tables).
    Proved equal to running minhash_dup_pairs over history ∪ batch and
    keeping the cross pairs (test_bloom.py).

    Scale shape: batch-side shingles/signatures are batch-sized work; the
    candidate join is an equi-join on (band, bucket) costing
    Σ_bucket |batch∩bucket|·|corpus∩bucket| — batch-proportional, never
    |corpus|²; the verify joins touch only candidate ids. With the state
    tables bucketed on their join keys the probe shuffles only the batch
    (the write_bucketed lever, same as CDC).
    """
    b_sh = persist_tracked(shingle_hash_table(batch, id_col, text_col, k))
    b_buckets = band_bucket_table(minhash_signatures(b_sh, id_col), id_col)
    h = state_buckets.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a")
    )
    b = b_buckets.select(
        F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b")
    )
    cand = persist_tracked(
        h.join(b, ["band", "bucket"]).select("id_a", "id_b").distinct(),
        eager=True,
    )
    sh_all = state_shingles.select(id_col, "hashes").unionByName(
        b_sh.select(id_col, "hashes")
    )
    return (
        pair_jaccard(cand, sh_all, id_col, threshold=threshold)
        .withColumn("jaccard", F.round(F.col("jaccard"), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_clusters_incremental(
    batch: DataFrame,
    state_clusters: DataFrame,
    state_buckets: DataFrame,
    state_shingles: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Cluster assignments for history ∪ batch WITHOUT re-clustering
    history (SURVEY §2 op 136 — the cluster-level leg of the
    incremental column: op 78 advances the pair state, but its consumer
    op 21/dedup_clusters still re-ran CC over the whole corpus; this
    closes that gap). Returns (id, cluster_id) for every history AND
    batch id — the new clusters table (replace the stored one with it;
    advance the LSH state by appending the batch's own lsh_state rows,
    the op-78 contract; id spaces must be disjoint).

    Exactly ≡ ``dedup_clusters`` over history ∪ batch (pinned in
    test_incremental_clusters.py, including the transitive case where
    one batch doc MERGES two previously-separate history clusters):
    the stored assignment is a star forest (cluster_id ↔ member) that
    preserves history connectivity, the op-78 probe emits every
    history×batch pair and ``minhash_dup_pairs`` every batch-internal
    pair, and CC over forest ∪ new pairs therefore has from-scratch
    components. Labels agree too: cluster_id is the component's min
    member id (a real node), so min-label CC over the forest returns
    the same minimum the from-scratch run finds.

    Batch-proportional by construction: history components with no
    batch contact never enter the CC — their rows pass through
    UNTOUCHED (byte-identical, the frozen-state discipline); the CC
    runs over (edges of touched components) ∪ (new pairs), both
    bounded by the batch's contact surface, never corpus-sized. The
    probe itself is op 78's (batch-side shingling only; candidate join
    bounded by shared buckets).
    """
    cross = minhash_dup_pairs_incremental(
        batch, state_buckets, state_shingles, id_col, text_col, k, threshold
    ).select("id_a", "id_b")
    internal = minhash_dup_pairs(
        batch, id_col, text_col, k, threshold
    ).select("id_a", "id_b")
    # consumed twice (touched-root probe + CC edges) and expensive to
    # recompute (the verify stage) — materialize once
    new_pairs = persist_tracked(cross.unionByName(internal), eager=True)
    touched = (
        state_clusters.join(
            new_pairs.select(F.col("id_a").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        .select("cluster_id")
        .distinct()
    )
    forest = (
        state_clusters.join(touched, "cluster_id", "left_semi")
        .filter(F.col(id_col) != F.col("cluster_id"))
        .select(
            F.col("cluster_id").alias("id_a"), F.col(id_col).alias("id_b")
        )
    )
    comp = connected_components(
        new_pairs.unionByName(forest)
    ).withColumnRenamed("node", id_col)
    untouched = state_clusters.join(touched, "cluster_id", "left_anti")
    to_label = (
        state_clusters.join(touched, "cluster_id", "left_semi")
        .select(id_col)
        .unionByName(batch.select(F.col(id_col)))
    )
    relabeled = to_label.join(comp, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id"),
    )
    return untouched.select(id_col, "cluster_id").unionByName(relabeled)


def trim_duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, w: int = 8
) -> DataFrame:
    """The ACTION to duplicated_spans' measure: remove every w-token
    window that duplicates an EARLIER occurrence (document order =
    (id, span_idx) ascending — the first occurrence in the corpus keeps
    its text, later copies lose theirs), rebuilding each document from
    its surviving tokens. A repeated run of L > w tokens is covered by
    L − w + 1 duplicated windows whose union is the whole run, so entire
    boilerplate blocks disappear, not just one window (the Lee et al.
    2022 removal policy at token-window granularity).

    Output: (id, text_trimmed, n_tokens, n_tokens_removed). NOT
    idempotent by design: removing a block makes previously-separated
    tokens adjacent, which can form NEW duplicate windows — iterate to a
    fixed point if the policy demands it (each pass is this operator).

    Shuffle shape: the span stream's ONE groupBy on span_hash (min
    occurrence — map-side combinable), a join-back on the same key, one
    groupBy on id collecting the bounded removal-offset set, and a join
    to the docs. Token filtering is a scan-stage lambda over the token
    array with the removal set as a per-row array — O(n_tokens ·
    |removals|) per doc, bounded by the dup mass itself.
    """
    spans = span_hash_table(df, id_col, text_col, w)
    keeper = spans.groupBy("span_hash").agg(
        F.min(F.struct(F.col(id_col), F.col("span_idx"))).alias("_keep"),
        F.count(F.lit(1)).alias("_n"),
    )
    removals = (
        spans.join(keeper, "span_hash")
        .filter(
            (F.col("_n") > 1)
            & ~(
                (F.col(id_col) == F.col(f"_keep.{id_col}"))
                & (F.col("span_idx") == F.col("_keep.span_idx"))
            )
        )
        .groupBy(id_col)
        .agg(F.collect_set("span_idx").alias("_drops"))
    )
    staged = (
        df.select(F.col(id_col), H.normalize_text(F.col(text_col)).alias("_norm"))
        .select(
            F.col(id_col),
            F.when(
                F.length(F.col("_norm")) == 0, F.array().cast("array<string>")
            )
            .otherwise(F.split(F.col("_norm"), r"\s+"))
            .alias("_toks"),
        )
        .join(removals, id_col, "left")
        .withColumn("_drops", F.coalesce(F.col("_drops"), F.array().cast("array<long>")))
    )
    # token at 0-based position i is removed iff some dropped window
    # start s satisfies s ≤ i < s + w  (F.filter's two-arg lambda gives
    # the element index)
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.exists(
            F.col("_drops"), lambda s: (s <= i.cast("long")) & (i.cast("long") < s + w)
        ),
    )
    return staged.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("text_trimmed"),
        F.size(F.col("_toks")).cast("long").alias("n_tokens"),
        (F.size(F.col("_toks")) - F.size(kept)).cast("long").alias(
            "n_tokens_removed"
        ),
    )


_DEDUP_UNITS = {"paragraph": ("\n{2,}", "\n\n"), "line": ("\n", "\n")}


def dedup_paragraphs(
    df: DataFrame, id_col: str, text_col: str, unit: str = "paragraph"
) -> DataFrame:
    """Corpus-level exact paragraph dedup (SURVEY §2 op 103) — the
    RefinedWeb/MassiveText "repeated boilerplate paragraph" remover that
    operates BETWEEN documents where :func:`duplicated_spans` operates
    within them. Paragraphs are ``\\n{2,}`` blocks (trimmed, non-empty);
    every occurrence after the corpus-wide first (ordered by
    ``(id, paragraph_index)``) is dropped, and survivors are re-joined
    in document order. Emits one row per input document:
    ``(id, text, n_paras_kept, n_paras)`` — docs whose every paragraph
    was seen earlier come back with ``text = ''``, so callers can audit
    before filtering.

    Scale shape: posexplode → ONE map-side-combinable min-aggregate on
    the portable paragraph hash (``functions/hashing.py:75`` — the same
    engine-verified poly_hash the exact-dedup family uses, so the DuckDB
    oracle computes identical keys) → semi-join winners back →
    per-document fold. Keys are paragraph-hash-fine (no skew beyond
    genuine duplicate mass, which the min-agg combines map-side); the
    only per-document state is its own paragraph list. Never pairs, no
    Python in the plan (pinned, test_plans_r5.py).

    ``unit="line"`` switches the block boundary to single newlines (the
    RefinedWeb line-level variant) with identical machinery.
    """
    split_pat, sep = _DEDUP_UNITS[unit]
    t = F.regexp_replace(F.col(text_col), "\r", "")
    paras = F.filter(
        F.transform(F.split(t, split_pat), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    ex = df.select(
        F.col(id_col).alias("_id"), F.posexplode(paras).alias("_idx", "_p")
    ).select(
        "_id", "_idx", "_p",
        H.poly_hash(F.col("_p")).alias("_k"),
        H.poly_hash2(F.col("_p")).alias("_k2"),
    )
    ex = persist_tracked(ex)
    first = ex.groupBy("_k", "_k2").agg(
        F.min(F.struct("_id", "_idx")).alias("_f")
    ).select(
        "_k", "_k2",
        F.col("_f._id").alias("_id"), F.col("_f._idx").alias("_idx"),
    )
    kept = ex.join(first, ["_k", "_k2", "_id", "_idx"], "left_semi")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_p"))),
                lambda s: s["_p"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_paras_kept"),
    )
    orig = df.select(
        F.col(id_col).alias("_id"), F.size(paras).cast("long").alias("n_paras")
    )
    return (
        orig.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_paras_kept", F.lit(0)).cast("long").alias(
                "n_paras_kept"
            ),
            F.col("n_paras"),
        )
    )


def sql_dedup_paragraphs(
    source: str, id_col: str, text_col: str, unit: str = "paragraph"
) -> str:
    """DuckDB twin of :func:`dedup_paragraphs` — identical paragraph
    split, identical portable hash keys, identical first-occurrence
    order ``(id, idx)``."""
    split_pat, sep = _DEDUP_UNITS[unit]
    sql_sep = " || ".join("chr(10)" for _ in sep.split("\n")[1:]) or "chr(10)"
    t = f"replace({text_col}, chr(13), '')"
    paras = (
        f"list_filter(list_transform(string_split_regex({t}, '{split_pat}'),"
        " x -> trim(x)), x -> len(x) > 0)"
    )
    return f"""
    WITH src AS (SELECT {id_col} AS _id, {paras} AS ps FROM {source}),
    ex AS (
      SELECT _id,
             unnest(generate_series(1, len(ps))) - 1 AS _idx,
             unnest(ps) AS _p
      FROM src
    ), keyed AS (
      SELECT _id, _idx, _p,
             {H.sql_poly_hash('_p')} AS _k,
             {H.sql_poly_hash2('_p')} AS _k2
      FROM ex
    ), ranked AS (
      SELECT _id, _idx, _p,
             row_number() OVER (PARTITION BY _k, _k2 ORDER BY _id, _idx) AS rn
      FROM keyed
    ), rebuilt AS (
      SELECT _id,
             string_agg(_p, {sql_sep} ORDER BY _idx) AS text,
             count(*) AS n_paras_kept
      FROM ranked WHERE rn = 1 GROUP BY _id
    )
    SELECT s._id AS {id_col},
           coalesce(r.text, '') AS text,
           CAST(coalesce(r.n_paras_kept, 0) AS BIGINT) AS n_paras_kept,
           CAST(len(s.ps) AS BIGINT) AS n_paras
    FROM src s LEFT JOIN rebuilt r USING (_id)
    """


def paragraph_state(
    df: DataFrame, id_col: str, text_col: str, unit: str = "paragraph"
) -> DataFrame:
    """The stored state for incremental paragraph dedup: the DISTINCT
    portable hash PAIRS of every block the corpus has ever contained,
    one row per pair (columns ``_k``, ``_k2`` — two independent-modulus
    poly hashes, ~2^87 effective key width; a single ~2^30 hash would
    silently merge distinct paragraphs past ~37k of them, and state
    makes the loss permanent). Write as parquet (bucketed on ``_k`` for
    the co-located probe); advancing the state after an accepted batch
    is appending the batch's own distinct pairs — the same table this
    function computes for the batch."""
    split_pat, _ = _DEDUP_UNITS[unit]
    t = F.regexp_replace(F.col(text_col), "\r", "")
    paras = F.filter(
        F.transform(F.split(t, split_pat), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    return (
        df.select(F.explode(paras).alias("_p"))
        .select(
            H.poly_hash(F.col("_p")).alias("_k"),
            H.poly_hash2(F.col("_p")).alias("_k2"),
        )
        .distinct()
    )


def dedup_paragraphs_incremental(
    batch: DataFrame,
    state: DataFrame,
    id_col: str,
    text_col: str,
    unit: str = "paragraph",
) -> DataFrame:
    """Incremental corpus paragraph dedup — the recrawl/boilerplate
    suppressor for a continuously-fed corpus: drop every batch block
    whose hash is in the stored history (:func:`paragraph_state`), then
    first-occurrence-dedup the survivors WITHIN the batch, exactly as
    :func:`dedup_paragraphs` would. Output schema is identical to
    :func:`dedup_paragraphs`. Proved ≡ running the from-scratch operator
    over history ∪ batch and keeping the batch rows, whenever history
    ids order before batch ids (test_gopher.py).

    Scale shape: history text is NEVER re-split or re-hashed — only its
    bounded hash table is probed; the anti-join is an equi-join on the
    16-byte hash costing batch-proportional work, and with the state
    bucketed on ``_k`` it shuffles only the batch (the write_bucketed
    lever, same as CDC/LSH-state). Everything after the probe is the
    op-103 machinery on batch-sized data.
    """
    split_pat, sep = _DEDUP_UNITS[unit]
    t = F.regexp_replace(F.col(text_col), "\r", "")
    paras = F.filter(
        F.transform(F.split(t, split_pat), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )
    ex = batch.select(
        F.col(id_col).alias("_id"), F.posexplode(paras).alias("_idx", "_p")
    ).select(
        "_id", "_idx", "_p",
        H.poly_hash(F.col("_p")).alias("_k"),
        H.poly_hash2(F.col("_p")).alias("_k2"),
    )
    fresh = persist_tracked(
        ex.join(state.select("_k", "_k2"), ["_k", "_k2"], "left_anti")
    )
    first = fresh.groupBy("_k", "_k2").agg(
        F.min(F.struct("_id", "_idx")).alias("_f")
    ).select(
        "_k", "_k2",
        F.col("_f._id").alias("_id"), F.col("_f._idx").alias("_idx"),
    )
    kept = fresh.join(first, ["_k", "_k2", "_id", "_idx"], "left_semi")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_p"))),
                lambda s: s["_p"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_paras_kept"),
    )
    orig = batch.select(
        F.col(id_col).alias("_id"), F.size(paras).cast("long").alias("n_paras")
    )
    return (
        orig.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_paras_kept", F.lit(0)).cast("long").alias(
                "n_paras_kept"
            ),
            F.col("n_paras"),
        )
    )
