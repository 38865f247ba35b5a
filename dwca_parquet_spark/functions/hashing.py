"""Deterministic, engine-portable hashing primitives.

Why not ``xxhash64``/``hash()``: every engine ships a different hash family,
so a differential oracle can never reproduce them. Instead we define the hash
arithmetic ourselves — a polynomial rolling hash over unicode codepoints with
all intermediate values < 2**63 (safe under Spark 4's default ANSI overflow
checking) — and emit it both as a PySpark ``Column`` (pure built-ins → JVM
codegen, no UDF) and as DuckDB SQL text built from the SAME constants.

Scale note: these are per-row scalar expressions; they codegen into the scan
stage, shuffle nothing, and parallelize embarrassingly. MinHash signatures of
k=16 over character shingles cost O(len·k) integer ops per row — cheap
relative to the string I/O that precedes them, and at 100 TB they run where
the data is instead of collecting anything.

MinHash/LSH design follows the standard construction (Broder '97; see
PAPERS.md): shingle → hash → k permutations via (a_j·h + b_j) mod P →
band-bucket join for candidate pairs → exact Jaccard verification.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Polynomial rolling hash parameters. BASE*MOD + 0x10FFFF < 2**63 → ANSI-safe.
HASH_BASE = 31
HASH_MOD = 1_000_000_007

# Second, independent polynomial hash for WIDE keys. A single poly_hash
# has only ~2^30 values — birthday collisions reach 50% at ~37k distinct
# inputs, so any operator that treats hash equality as TEXT equality
# (the paragraph-dedup family) would silently merge distinct content at
# corpus scale. Pairing it with this independent (base, modulus) makes
# the effective key ~2^87: 50% collision at ~10^13 distinct inputs —
# past any 100 TB corpus. 61·(2^57−13) + 0x10FFFF < 2^63 keeps every
# intermediate ANSI-safe in Spark AND inside DuckDB's signed BIGINT.
HASH_BASE2 = 61
HASH_MOD2 = 144_115_188_075_855_859  # prime, 2^57 - 13

# MinHash universal-hash family parameters: h_j(x) = (A_j * x + B_j) mod MINHASH_P.
# A_j < P and x < HASH_MOD → product < 2**61 → ANSI-safe. Constants are fixed
# (seeded by j) so signatures are reproducible across engines and runs.
MINHASH_P = 2_147_483_647  # 2**31 - 1 (Mersenne prime)
MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_ROWS_PER_BAND = MINHASH_K // MINHASH_BANDS


def _minhash_ab(j: int) -> tuple[int, int]:
    """Fixed per-permutation multipliers; identical in Spark and oracle SQL."""
    a = (j * 2_654_435_761 + 1) % MINHASH_P
    b = (j * 40_503 + 7) % MINHASH_P
    if a == 0:
        a = 1
    return a, b


# ---------------------------------------------------------------------------
# PySpark Column builders (built-ins only — stays inside whole-stage codegen)
# ---------------------------------------------------------------------------


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse whitespace + strip non-printable-ASCII.

    Applied before hashing in BOTH engines so codepoint arithmetic never sees
    multibyte surprises and near-dup detection is case/whitespace-insensitive.
    """
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\x20-\x7e]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def char_codes(col: Column) -> Column:
    """Codepoint array of a string in ONE pass (split-by-empty, not per-index
    substring — substring(col, i, 1) per position is an O(n) seek each,
    O(n²)/row overall, and worse, re-evaluates the input expression per
    element when it isn't a plain column reference)."""
    return F.transform(
        F.filter(F.split(col, ""), lambda c: c != ""), lambda c: F.ascii(c).cast("long")
    )


def poly_hash(col: Column) -> Column:
    """Rolling hash of a string: fold (acc*31 + codepoint) % MOD. Empty → 0.

    NOTE: when the input is a computed expression (e.g. normalize_text),
    stage it through a .select alias first — a non-trivial expression
    referenced from inside a lambda defeats common-subexpression
    elimination and re-runs per element. See dedup.shingle_hash_table.
    """
    return F.when(F.length(col) == 0, F.lit(0).cast("long")).otherwise(
        F.aggregate(
            char_codes(col),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * HASH_BASE + x) % HASH_MOD,
        )
    )


def poly_hash2(col: Column) -> Column:
    """Second independent rolling hash (HASH_BASE2/HASH_MOD2) — pair
    with :func:`poly_hash` as a struct/composite key wherever hash
    equality stands in for content equality. Empty → 0."""
    return F.when(F.length(col) == 0, F.lit(0).cast("long")).otherwise(
        F.aggregate(
            char_codes(col),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * HASH_BASE2 + x) % HASH_MOD2,
        )
    )


def shingle_hashes_from_codes(codes: Column, k: int = 3) -> Column:
    """Distinct k-shingle rolling hashes from a codepoint array.

    Direct indexed formula — for each start i, fold the k codes with
    stepwise mod (identical value to hashing the substring, since
    ((a % M)·31 + c) % M == (a·31 + c) % M) — O(n·k) with O(1) array
    indexing instead of O(n²) substring seeks.
    """

    def shingle_at(i: Column) -> Column:
        expr = F.lit(0).cast("long")
        for j in range(k):
            expr = (expr * HASH_BASE + F.element_at(codes, i + j)) % HASH_MOD
        return expr

    n = F.size(codes)
    return F.when(n < k, F.array().cast("array<long>")).otherwise(
        F.array_distinct(F.transform(F.sequence(F.lit(1), n - (k - 1)), shingle_at))
    )


def shingle_hashes(col: Column, k: int = 3) -> Column:
    """Distinct rolling-hashes of the k-shingles (the MinHash input set).

    Prefer the staged form (char_codes in its own projection +
    shingle_hashes_from_codes) in hot paths — see dedup.shingle_hash_table.
    """
    return shingle_hashes_from_codes(char_codes(col), k)


# ---------------------------------------------------------------------------
# DuckDB SQL-text builders (the oracle side; same constants, same arithmetic)
# ---------------------------------------------------------------------------


def normalize_text_py(s: str) -> str:
    """Driver-side Python mirror of :func:`normalize_text` /
    :func:`sql_normalize_text` — the THIRD definition of the same
    normalization, kept here so all three live side-by-side and cannot
    drift. Used only on bounded driver-side inputs (probe lists)."""
    import re

    s = re.sub(r"[^\x20-\x7e]", "", s.lower())
    return re.sub(r"\s+", " ", s).strip()


def sql_normalize_text(expr: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({expr}), '[^\\x20-\\x7e]', '', 'g'),"
        f" '\\s+', ' ', 'g'))"
    )


def sql_poly_hash(expr: str) -> str:
    return (
        f"(CASE WHEN length({expr}) = 0 THEN 0 ELSE "
        f"list_reduce([CAST(ord(substr({expr}, i, 1)) AS BIGINT)"
        f" for i in range(1, length({expr}) + 1)],"
        f" (acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD}) END)"
    )


def sql_poly_hash2(expr: str) -> str:
    """DuckDB twin of :func:`poly_hash2` — same constants, same fold."""
    return (
        f"(CASE WHEN length({expr}) = 0 THEN 0 ELSE "
        f"list_reduce([CAST(ord(substr({expr}, i, 1)) AS BIGINT)"
        f" for i in range(1, length({expr}) + 1)],"
        f" (acc, x) -> (acc * {HASH_BASE2} + x) % {HASH_MOD2}) END)"
    )


def sql_byte_sum(expr: str) -> str:
    """Σ codepoints mod HASH_MOD — the explicit oracle twin of the
    multimodal byte_sum feature (operators/multimodal.py), replacing the
    fragile string-surgery on sql_poly_hash's output."""
    return (
        f"(CASE WHEN length({expr}) = 0 THEN 0 ELSE "
        f"list_reduce([CAST(ord(substr({expr}, i, 1)) AS BIGINT)"
        f" for i in range(1, length({expr}) + 1)],"
        f" (acc, x) -> (acc + x) % {HASH_MOD}) END)"
    )


def sql_shingle_hashes(expr: str, k: int = 3) -> str:
    ph = sql_poly_hash("s")
    return (
        f"(CASE WHEN length({expr}) < {k} THEN CAST([] AS BIGINT[]) ELSE list_distinct("
        f"[{ph} for s in "
        f"[substr({expr}, i, {k}) for i in range(1, length({expr}) - {k - 1} + 1)]]) END)"
    )
