"""Bloom-filter incremental deduplication (SURVEY §2 round-4 extension).

THE 100 TB ingestion pattern: a historical corpus of N documents sits in
parquet and new batches arrive continuously. Deduplicating every batch with
an anti-join rescans all of history per batch — O(N) work for an O(batch)
question. Instead: build a Bloom filter over history ONCE (bounded size,
fully distributed build — nothing is ever collected), keep it as a tiny
(word_idx, word_val) bitmap table, and probe each new batch with k broadcast
hash joins — zero shuffle on the batch side. Bloom misses are GUARANTEED new
(no false negatives) and skip the verify entirely; only the
fp-rate-bounded candidate set takes the exact anti-join against history.

Reference parity: the reference engine has no incremental surface (its only
query is /root/reference/src/dwca_parquet/templates/query.sql:1-5, run
from-scratch per version with an exists() skip at libs/parquet.py:33); this
operator family is a north-star extension (BASELINE.md dedup family), built
on the same engine-portable hash arithmetic as the MinHash/SimHash stack
(functions/hashing.py) so a DuckDB oracle can reproduce the bitmap
byte-for-byte.

Hash family: position_j(h) = ((A_j·h + B_j) mod P) mod m with P = 2^31 - 1
and h < HASH_MOD < 2^30, so every intermediate is < 2^61 — safe under
Spark 4's default ANSI overflow checking. Constants are seeded by j with
multipliers DISTINCT from the MinHash family's so the two hash streams are
independent when both run over the same corpus.

Scale/shuffle shape:
- build: one projection (k positions per key, exploded in the scan stage) +
  one map-side-combinable groupBy on word_idx → at most m/32 rows, whatever
  the corpus size. Words are 32-bit (in a BIGINT): the widest shift either
  engine performs is 31, inside both Spark's and DuckDB's defined range,
  and the bitmap broadcast is 4× smaller than a byte table. The bitmap is
  a DataFrame; persist it or write it as a tiny parquet — the filter for a
  billion-key history at fpp=1% is ~1.2 GB = ~300M word rows, still a
  trivial table next to the corpus.
- probe: k broadcast hash joins (bitmap side broadcast) — the batch streams
  through unshuffled; misses exit immediately. Regime limit: the bitmap
  broadcast is ~1.2 bytes/history key, so beyond ~10^9 keys per filter the
  broadcast stops being free — at that point shard the filter (one bloom
  per corpus partition, probed against the batch partition that would own
  the key — the bitmap table is already keyed data, so sharding is a
  WHERE clause) rather than growing one monolith. SCALE.md records the
  tradeoff curve.
- verify: anti-join on the candidate subset only (|batch| · fpp + true-dup
  rows), keyed on the 8-byte hash — the full-history join the filter
  avoided now touches only candidates.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dwca_parquet_spark.cache import persist_tracked
from dwca_parquet_spark.functions import hashing as H

BLOOM_P = 2_147_483_647  # 2**31 - 1, same Mersenne prime as MinHash


def _bloom_ab(j: int) -> tuple[int, int]:
    """Fixed per-hash multipliers, distinct from _minhash_ab's constants."""
    a = (j * 1_779_033_703 + 104_729) % BLOOM_P
    b = (j * 2_246_822_519 + 13) % BLOOM_P
    if a == 0:
        a = 1
    return a, b


def bloom_params(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard sizing: m = -n·ln(p)/ln(2)^2 bits, k = (m/n)·ln(2) hashes.

    m is rounded up to a multiple of 32 (whole words); k clamped to [1, 16].
    """
    n = max(1, expected_items)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = ((m + 31) // 32) * 32
    k = max(1, min(16, round((m / n) * math.log(2))))
    return m, k


def _positions(h: Column, m: int, k: int) -> list[Column]:
    out = []
    for j in range(k):
        a, b = _bloom_ab(j)
        out.append(((h * a + b) % BLOOM_P) % m)
    return out


def bloom_build(df: DataFrame, hash_col: str, m: int, k: int) -> DataFrame:
    """Distributed Bloom bitmap over a BIGINT hash column.

    Returns (word_idx BIGINT, word_val BIGINT): 32 filter bits per word,
    only non-zero words present — at most m/32 rows regardless of |df|.
    Nothing is collected; the build is one explode (scan stage) + one
    map-side-combinable bit_or groupBy.
    """
    h = F.col(hash_col)
    pos = F.explode(F.array(*_positions(h, m, k))).alias("_pos")
    return (
        df.select(pos)
        .select(
            F.expr("_pos div 32").alias("word_idx"),
            # SQL shiftleft (expr form) accepts a column shift amount;
            # the Python F.shiftleft only takes an int literal. Shift ≤ 31
            # on a BIGINT: defined in Spark AND DuckDB (63 would raise in
            # the oracle).
            F.expr("shiftleft(cast(1 as bigint), cast(_pos % 32 as int))").alias(
                "_bit"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_bit").alias("word_val"))
    )


def bloom_to_bytes(bitmap: DataFrame, m: int) -> bytes:
    """Serialize a bitmap table to m/8 bytes, little-endian within each
    32-bit word (driver-side; bounded by m, never by the corpus — use only
    when exporting the filter, the probe path joins the table directly)."""
    buf = bytearray(m // 8)
    for row in bitmap.collect():
        w = row["word_idx"]
        buf[w * 4 : (w + 1) * 4] = int(row["word_val"]).to_bytes(4, "little")
    return bytes(buf)


def bloom_probe(
    df: DataFrame,
    hash_col: str,
    bitmap: DataFrame,
    m: int,
    k: int,
    out_col: str = "might_contain",
) -> DataFrame:
    """Membership test: append ``out_col`` (true ⇒ possibly in the built
    set, false ⇒ DEFINITELY not). k broadcast hash joins against the
    bitmap table; the probe side streams through with zero shuffle, and
    the k broadcasts canonicalize to ONE exchange of the same bitmap
    (ReuseExchange). A word_idx absent from the bitmap is an all-zero
    word → miss.
    """
    h = F.col(hash_col)
    out = df
    hits = []
    for j, pos in enumerate(_positions(h, m, k)):
        bidx, bbit = f"_bidx{j}", f"_bbit{j}"
        side = bitmap.select(
            F.col("word_idx").alias(bidx), F.col("word_val").alias(f"_bval{j}")
        )
        out = (
            out.withColumn("_pos", pos)
            .withColumn(bidx, F.expr("_pos div 32"))
            .withColumn(bbit, F.expr("cast(_pos % 32 as int)"))
            .drop("_pos")
            .join(F.broadcast(side), bidx, "left")
        )
        hits.append(
            F.expr(
                f"coalesce(_bval{j}, 0) & "
                f"shiftleft(cast(1 as bigint), {bbit})"
            )
            != 0
        )
    flag = hits[0]
    for hcol in hits[1:]:
        flag = flag & hcol
    drop = [c for j in range(k) for c in (f"_bidx{j}", f"_bbit{j}", f"_bval{j}")]
    return out.withColumn(out_col, flag).drop(*drop)


def dedup_incremental(
    new_df: DataFrame,
    history_df: DataFrame,
    id_col: str,
    text_col: str,
    expected_items: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """Rows of ``new_df`` whose normalized text does NOT appear in
    ``history_df`` — exactly ``new anti-join history`` on the content hash,
    computed the incremental way:

    1. hash both sides with the portable content hash (dedup.text_key's
       normalize → poly_hash),
    2. Bloom-build over history (one bounded groupBy, never collected),
    3. Bloom-probe the batch (broadcast joins, zero shuffle) — misses are
       provably new and BYPASS history entirely,
    4. exact anti-join for the candidate sliver only.

    Output: the new-batch rows (original columns) that are genuinely new.
    Exactness is join-free for the (1 - dup_rate - fpp) majority; the
    pytest gate proves output equality with the plain anti-join.

    ``expected_items`` sizes the filter; when None a count() of history
    runs first (one cheap scan — at 100 TB pass the known corpus size or a
    table-stats estimate instead).
    """
    if expected_items is None:
        expected_items = history_df.count()
    m, k = bloom_params(expected_items, fpp)

    hist_keys = _content_hash(history_df, text_col).select("_chash")
    bitmap = bloom_build(hist_keys, "_chash", m, k)

    batch = _content_hash(new_df, text_col)
    # the probed batch feeds THREE consumers (definite-new, candidates,
    # and the candidate hash set) — persist it or the content hashing and
    # the k bitmap joins re-run per consumer (tracked: the session owner
    # releases via cache.release_caches, same lifecycle as the LSH
    # shingle tables)
    probed = persist_tracked(bloom_probe(batch, "_chash", bitmap, m, k))

    definite_new = probed.filter(~F.col("might_contain"))
    candidates = probed.filter(F.col("might_contain"))
    # Verify WITHOUT ever shuffling history. A direct candidates-anti-
    # history join would shuffle the corpus (left-anti can only broadcast
    # its right side, and history never fits). Instead: (1) semi-join
    # history against the BROADCAST candidate hash set — history streams,
    # emitting only the hashes that really exist (≤ |candidates|); (2)
    # anti-join candidates against that small hit set, also broadcast.
    # Candidate volume is bounded by dup_rate·|batch| + fpp·|batch|.
    cand_hashes = candidates.select("_chash").distinct()
    hits = hist_keys.join(
        F.broadcast(cand_hashes), "_chash", "left_semi"
    ).distinct()
    verified_new = candidates.join(F.broadcast(hits), "_chash", "left_anti")
    keep = [c for c in new_df.columns]
    return definite_new.select(*keep).unionByName(verified_new.select(*keep))


def _content_hash(df: DataFrame, text_col: str) -> DataFrame:
    """All original columns + ``_chash``: poly_hash(normalize(text)) —
    staged projections so the regex normalization runs once per row (the
    q29 lesson, dedup.text_key)."""
    cols = [F.col(c) for c in df.columns]
    return df.select(
        *cols, H.normalize_text(F.col(text_col)).alias("_norm")
    ).select(*cols, H.poly_hash(F.col("_norm")).alias("_chash"))


# ---------------------------------------------------------------------------
# DuckDB oracle builders (same constants, same arithmetic)
# ---------------------------------------------------------------------------


def sql_bloom_bitmap(hash_expr: str, source: str, m: int, k: int) -> str:
    """DuckDB SQL producing the identical (word_idx, word_val) bitmap."""
    pos_exprs = []
    for j in range(k):
        a, b = _bloom_ab(j)
        pos_exprs.append(f"((({hash_expr}) * {a} + {b}) % {BLOOM_P}) % {m}")
    arr = "[" + ", ".join(pos_exprs) + "]"
    return (
        f"SELECT pos // 32 AS word_idx, "
        f"bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS word_val "
        f"FROM (SELECT unnest({arr}) AS pos FROM {source}) GROUP BY 1"
    )
