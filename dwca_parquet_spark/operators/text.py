"""Text-analysis operators (north-star; SURVEY §2.G 18).

Language-ID (stopword-vote heuristic), quality scoring, token statistics and
document fingerprinting — all as pure column projections (JVM built-ins, no
UDF, no shuffle), so at 100 TB they run inside the scan stage.

Determinism: token statistics avoid engine avg()/float-reduction order by
folding integer token lengths left-to-right; ratios divide in DOUBLE and
round; no transcendental functions (libm differences across engines would
break last-ulp parity), so the quality score is a piecewise-linear composite.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dwca_parquet_spark.functions import hashing as H

# Stopword vote tables for the language-ID heuristic. Fixed and mirrored
# verbatim into the oracle SQL — priority order breaks ties.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("de", "shi", "le", "zai", "he"),
}
LANG_PRIORITY = ("en", "es", "fr", "de", "zh")


def tokens(col: Column) -> Column:
    """Whitespace tokenization of normalized text (empty text → empty array)."""
    norm = H.normalize_text(col)
    return F.when(F.length(norm) == 0, F.array().cast("array<string>")).otherwise(
        F.split(norm, r"\s+")
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# GPT-2-style pre-tokenizer pattern, restricted to printable ASCII (which is
# all that survives normalize_text): contractions, space-prefixed letter
# runs, digit runs, punctuation runs, residual whitespace. Plain greedy
# alternation — identical leftmost-first semantics in Java regex (Spark) and
# RE2 (DuckDB), so match COUNTS are engine-portable.
BPE_TOKEN_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+"


def token_count_bpe(col: Column) -> Column:
    """#tokens under a BPE-ish pre-tokenizer regex (the pretraining-cost
    estimator: subword tokenizers split roughly at these boundaries)."""
    return F.regexp_count(H.normalize_text(col), F.lit(BPE_TOKEN_PATTERN)).cast(
        "long"
    )


def char_class_count(col: Column, keep_regex: str) -> Column:
    """#chars matching a class, via strip-everything-else (portable)."""
    return F.length(F.regexp_replace(col, keep_regex, ""))


def stopword_count(toks: Column, words: tuple[str, ...]) -> Column:
    wl = F.array(*[F.lit(w) for w in words])
    # long, matching DuckDB len() → BIGINT for schema parity in oracles
    return F.size(F.filter(toks, lambda t: F.array_contains(wl, t))).cast("long")


def text_stats(
    df: DataFrame, id_col: str, text_col: str, include_bpe: bool = False
) -> DataFrame:
    """Per-document token/char statistics (the BPE-ish pre-tokenizer view).

    ``include_bpe`` appends the BPE-ish-regex token count (the pretraining
    token-cost estimator) as ``n_bpe_tokens`` — still one projection, zero
    shuffle."""
    norm = H.normalize_text(F.col(text_col))
    toks = tokens(F.col(text_col))
    total_tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_tok = F.size(toks).cast("long")
    cols = [
        F.col(id_col),
        F.length(norm).cast("long").alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.round(
            F.when(n_tok == 0, F.lit(0.0)).otherwise(
                total_tok_chars.cast("double") / n_tok.cast("double")
            ),
            6,
        ).alias("avg_token_len"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
    ]
    if include_bpe:
        cols.append(token_count_bpe(F.col(text_col)).alias("n_bpe_tokens"))
    return df.select(*cols)


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-vote language ID. Scores tie-break by LANG_PRIORITY order;
    zero votes everywhere → 'und' (undetermined)."""
    toks = tokens(F.col(text_col))
    scores = {
        lang: stopword_count(toks, words).alias(f"score_{lang}")
        for lang, words in LANG_STOPWORDS.items()
    }
    scored = df.select(F.col(id_col), *scores.values())
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_PRIORITY])
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_PRIORITY:
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return scored.select(
        F.col(id_col),
        *[F.col(f"score_{lang}") for lang in LANG_PRIORITY],
        pred.alias("lang_pred"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Piecewise-linear quality composite + bucket.

    score = 0.5·min(n_tokens,100)/100 + 0.3·(1 − punct_ratio) + 0.2·stop_ratio
    (length signal, noise signal, naturalness signal — the classic pretraining
    quality trio, kept linear for cross-engine determinism).
    """
    norm = H.normalize_text(F.col(text_col))
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(norm).cast("double")
    punct = char_class_count(norm, r"[^.,!?;:]").cast("double")
    punct_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(punct / n_chars)
    stops = stopword_count(toks, LANG_STOPWORDS["en"]).cast("double")
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        stops / n_tok.cast("double")
    )
    score = F.round(
        0.5 * (F.least(n_tok, F.lit(100)).cast("double") / 100.0)
        + 0.3 * (1.0 - punct_ratio)
        + 0.2 * stop_ratio,
        6,
    )
    bucket = (
        F.when(score >= 0.8, "high").when(score >= 0.5, "medium").otherwise("low")
    )
    return df.select(
        F.col(id_col),
        score.alias("quality_score"),
        bucket.alias("quality_bucket"),
    )


# PII patterns kept deliberately simple and engine-portable (same leftmost
# match semantics in Java regex and RE2): emails, international-ish phone
# numbers (7+ digits with separators, optional +CC), dotted-quad IPv4.
# Real deployments layer locale-specific validators on top; this is the
# scrubbing-pass plumbing (projection shape, replacement tokens).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?\d[\d\- ]{5,}\d"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
)


def redact_pii(
    df: DataFrame, id_col: str, text_col: str, token: str = "[PII:{kind}]"
) -> DataFrame:
    """Replace PII spans with typed placeholder tokens + per-kind counts.

    The pretraining scrubbing pass: (id, redacted text, n_email, n_phone,
    n_ipv4). Pure regexp projections — zero shuffle, runs in the scan
    stage, scales with input splits. Patterns apply in the declared order
    (email first, so user@host never half-matches as a phone run).
    """
    redacted = F.col(text_col)
    counts = []
    for kind, pat in PII_PATTERNS:
        counts.append(
            F.regexp_count(redacted, F.lit(pat)).cast("long").alias(f"n_{kind}")
        )
        redacted = F.regexp_replace(redacted, pat, token.format(kind=kind))
    return df.select(
        F.col(id_col), redacted.alias("redacted_text"), *counts
    )


def repetition_ratio(
    df: DataFrame, id_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Share of the document occupied by its most frequent n-gram (token
    n-grams) — the classic repetition/boilerplate quality filter: generated
    or templated text scores high, natural prose low.

    ratio = max_g count(g) · n / max(n_tokens, 1), with the modal n-gram
    surfaced for inspection (ties break lexicographically). Occurrences
    overlap, so a run of one repeated token scores up to ~n (not 1) —
    values above 1 mean extreme repetition; thresholding, not the absolute
    value, is the intended use. All array
    built-ins: one transform to build n-grams, one aggregate to find the
    mode — zero shuffle, the same projection shape as the other quality
    signals. Output: (id, n_tokens, top_ngram, top_count, rep_ratio).
    """
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks).cast("long")
    grams = F.when(n_tok < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_tok.cast("int") - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
        )
    )
    staged = df.select(F.col(id_col), n_tok.alias("n_tokens"), grams.alias("_g"))
    # mode of the gram array without a shuffle: sort the grams, then one
    # fold counting runs — O(d log d)/row (a per-distinct-gram count scan
    # would be O(d²)/row and die on long documents). Sorted order makes the
    # tie-break free: a later equal-length run has a larger gram, so
    # keeping the first strictly-longer run keeps the lexicographically
    # smallest mode.
    sorted_g = F.array_sort(F.col("_g"))
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("bc"),
        F.lit("").alias("bg"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(run > acc["bc"], run).otherwise(acc["bc"]).alias("bc"),
            F.when(run > acc["bc"], x).otherwise(acc["bg"]).alias("bg"),
        )

    best_struct = F.aggregate(sorted_g, acc0, step)
    best = F.struct(best_struct["bc"].alias("c"), best_struct["bg"].alias("g"))
    return staged.select(
        F.col(id_col),
        F.col("n_tokens"),
        best["g"].alias("top_ngram"),
        best["c"].alias("top_count"),
        F.round(
            best["c"].cast("double") * n
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
            6,
        ).alias("rep_ratio"),
    )


# URL pattern, engine-portable (no lookarounds): scheme://host[:port]/path.
# The host must END alphanumeric so sentence punctuation ("...example.com.")
# never rides along; an optional :port sits between host and path; the path
# stops at whitespace or closing punctuation that commonly trails prose URLs.
URL_PATTERN = (
    r"https?://[A-Za-z0-9](?:[A-Za-z0-9.-]*[A-Za-z0-9])?"
    r"(?::\d+)?"
    r"(?:/[^\s)\]}>,\"']*)?"
)
_DOMAIN_FROM_URL = r"https?://([A-Za-z0-9.-]+)"


def extract_urls(
    df: DataFrame, id_col: str, text_col: str, collapse_suffix: bool = False
) -> DataFrame:
    """One row per URL occurrence: (id, url, domain
    [, registrable_domain]).

    The crawl-style provenance pass: explode every http(s) URL out of the
    text with its hostname. ``collapse_suffix=True`` appends the PSL
    registrable domain (:func:`registrable_domain`), so per-domain
    source-mix aggregation groups publishers, not subdomains. Zero
    shuffle either way — regexp_extract_all + explode run in the scan
    stage and the suffix lookup is a broadcast hash join; the usual
    downstream (per-domain counts for source mix, blocklist anti-joins)
    adds one combinable shuffle each.
    """
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
    out = (
        df.select(F.col(id_col), F.explode(urls).alias("url"))
        .withColumn(
            "domain",
            F.lower(F.regexp_extract(F.col("url"), _DOMAIN_FROM_URL, 1)),
        )
    )
    if collapse_suffix:
        out = registrable_domain(out, "domain")
    return out


# Curated snapshot of the public-suffix list (publicsuffix.org — the
# browser-maintained registry of suffixes under which names are registered).
# A real deployment swaps in the full ~9k-entry list file verbatim; the
# operator below is list-driven (broadcast join), so ONLY this tuple changes
# — never the plan. Longest-match-wins, per the PSL algorithm.
PUBLIC_SUFFIX_SNAPSHOT: tuple[str, ...] = (
    # generic
    "com", "org", "net", "edu", "gov", "mil", "int", "info", "biz",
    "io", "co", "ai", "app", "dev", "me", "tv", "cc", "xyz", "site",
    # country-code
    "us", "uk", "de", "fr", "es", "it", "nl", "no", "se", "dk", "fi",
    "jp", "cn", "in", "br", "mx", "ar", "tr", "kr", "au", "nz", "za",
    "ru", "pl", "ch", "at", "be", "ca",
    # second-level registries
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "com.br", "net.br", "org.br", "gov.br",
    "co.in", "net.in", "org.in", "gen.in", "firm.in",
    "co.nz", "net.nz", "org.nz", "govt.nz",
    "com.mx", "org.mx", "gob.mx",
    "com.ar", "com.tr", "co.kr", "or.kr", "co.za", "org.za", "web.za",
    "com.sg", "com.hk", "com.tw", "co.th", "co.id", "com.my",
    # third-level registries
    "pvt.k12.ma.us", "act.edu.au", "nsw.edu.au", "vic.edu.au",
)


def registrable_domain(
    df: DataFrame,
    domain_col: str,
    out_col: str = "registrable_domain",
    suffixes: tuple[str, ...] = PUBLIC_SUFFIX_SNAPSHOT,
) -> DataFrame:
    """Collapse hostnames to their registrable domain (PSL "eTLD+1"):
    one label left of the longest matching public suffix. sub.example.co.uk
    → example.co.uk; a.b.example.com → example.com; unknown TLDs default to
    last-two-labels (the PSL's implicit ``*`` rule); single-label hosts
    (localhost) pass through.

    Per-domain source-mix aggregation must group by THIS, not the raw
    hostname — otherwise every subdomain of one publisher counts as a
    distinct source.

    Shape: the suffix list is data, not expression — three guarded
    broadcast LEFT joins (suffix length k = 3, 2, 1 labels; longest match
    wins by coalesce order). The probe side streams 1:1 through broadcast
    hash joins: zero shuffle, no explode, no row multiplication (suffix
    values are unique per k). Swapping in the full 9k-entry PSL changes
    only broadcast size (~200 KB)."""
    spark = df.sparkSession
    by_k: dict[int, list[str]] = {}
    for s in suffixes:
        by_k.setdefault(s.count(".") + 1, []).append(s)
    tmp = df.withColumn("_lbl", F.split(F.col(domain_col), r"\."))
    nl = F.size("_lbl")
    matched = []
    for k in sorted(by_k, reverse=True):
        sdf = spark.createDataFrame(
            [(s,) for s in by_k[k]], f"_m{k} string"
        )
        # a suffix only matches if at least one extra label remains to
        # form the registrable domain (nl > k)
        key = F.when(
            nl > k, F.array_join(F.slice(F.col("_lbl"), nl - k + 1, k), ".")
        )
        tmp = tmp.withColumn(f"_sfx{k}", key).join(
            F.broadcast(sdf), F.col(f"_sfx{k}") == F.col(f"_m{k}"), "left"
        )
        matched.append((k, f"_m{k}"))
    # longest matching suffix's k, else the implicit * rule (k = 1)
    k_eff = F.lit(1)
    for k, m in sorted(matched):  # ascending so the longest WHEN wins last
        k_eff = F.when(F.col(m).isNotNull(), F.lit(k)).otherwise(k_eff)
    reg = F.when(
        nl > k_eff,
        F.array_join(F.slice(F.col("_lbl"), nl - k_eff, k_eff + 1), "."),
    ).otherwise(F.col(domain_col))
    drop = ["_lbl"] + [c for _, c in matched] + [f"_sfx{k}" for k, _ in matched]
    return tmp.withColumn(out_col, reg).drop(*drop)


def c4_clean(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020 §2.2; PAPERS.md) —
    the line/page filter every web-corpus pipeline descends from:

    line level (applied first, each line independently):
      - keep only lines ending in terminal punctuation (. ! ? ")
      - keep only lines with ≥ 5 whitespace words
      - drop lines containing "javascript" (cookie/JS-warning boilerplate)
    page level (on the SURVIVING lines):
      - drop pages with < 3 kept lines
      - drop pages whose ORIGINAL text contains "lorem ipsum" or "{"
        (placeholder text / leaked code)

    Output: (id, text = kept lines re-joined, n_lines_kept, keep) — one
    row per input page, so callers can audit drops before filtering.
    Zero shuffle: pure array higher-order functions in the scan stage;
    the same list ops exist in DuckDB (:func:`sql_c4_clean`), so the
    operator is differentially gated like the driver queries.

    Deliberately NOT included from the paper: the 3-sentence-span corpus
    dedup (that is :func:`~dwca_parquet_spark.operators.dedup.
    duplicated_spans`' job) and the langdetect gate
    (:func:`language_id`'s) — C4 composes from the engine's existing
    operators; this function is the line/page rule set itself.
    """
    # \r is stripped explicitly: trim() removes spaces only (both
    # engines), and a surviving \r diverges the $ anchor (Java's $
    # matches before a trailing line terminator; RE2's does not)
    lines = F.split(F.regexp_replace(F.col(text_col), "\r", ""), r"\n")

    def line_ok(x: Column) -> Column:
        t = F.trim(x)
        return (
            t.rlike('[.!?"]$')
            & (F.size(F.split(t, r"\s+")) >= 5)
            & ~F.lower(t).contains("javascript")
        )

    kept = F.filter(lines, line_ok)
    kept = F.transform(kept, lambda x: F.trim(x))
    low = F.lower(F.col(text_col))
    page_ok = (
        (F.size(kept) >= 3)
        & ~low.contains("lorem ipsum")
        & ~low.contains("{")
    )
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        page_ok.alias("keep"),
    )


def sql_c4_clean(source: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`c4_clean` — identical line and page rules.

    DuckDB's array_to_string([]) is NULL (Spark: '') — coalesced; its
    regexp_matches anchors like RE2, and string_split_regex mirrors
    Spark's split semantics on the patterns used here.
    """
    lines = f"string_split(replace({text_col}, chr(13), ''), chr(10))"
    ok = (
        "regexp_matches(trim(x), '[.!?\"]$') "
        "AND len(string_split_regex(trim(x), '\\s+')) >= 5 "
        "AND NOT contains(lower(trim(x)), 'javascript')"
    )
    kept = f"list_transform(list_filter({lines}, x -> {ok}), x -> trim(x))"
    page_ok = (
        f"len({kept}) >= 3 "
        f"AND NOT contains(lower({text_col}), 'lorem ipsum') "
        f"AND NOT contains(lower({text_col}), '{{')"
    )
    return (
        f"SELECT {id_col}, "
        f"coalesce(array_to_string({kept}, chr(10)), '') AS text, "
        f"CAST(len({kept}) AS BIGINT) AS n_lines_kept, "
        f"({page_ok}) AS keep FROM {source}"
    )


# query-param prefixes that never affect content identity (tracking)
TRACKING_PARAM_PREFIXES: tuple[str, ...] = (
    "utm_", "fbclid=", "gclid=", "msclkid=", "ref=", "mc_cid=", "mc_eid=",
)


def canonical_url(url: Column) -> Column:
    """Canonical form of an http(s) URL — the crawl-dedup key.

    Deterministic, engine-portable normalization (each step is a regex or
    array op with identical semantics in Java regex and RE2):

    1. lowercase scheme + host (ONLY that span — paths are case-sensitive)
    2. strip default ports (http :80, https :443)
    3. drop the fragment
    4. drop tracking query params (``TRACKING_PARAM_PREFIXES``), sort the
       survivors (param order is not content identity), drop an
       empty ``?``
    5. empty path → ``/``

    ``www.`` is deliberately KEPT: www and apex are distinct origins
    often serving different content; collapse at the registrable-domain
    level (:func:`registrable_domain`) when grouping publishers.
    """
    prefix = F.regexp_extract(url, r"(?i)^(https?://[^/?#]*)", 1)
    rest = url.substr(F.length(prefix) + 1, F.lit(2**31 - 1))
    p = F.lower(prefix)
    p = F.regexp_replace(p, r"^(http://[^/?#]*):80$", "$1")
    p = F.regexp_replace(p, r"^(https://[^/?#]*):443$", "$1")
    r = F.regexp_replace(rest, r"#.*$", "")
    path = F.regexp_replace(r, r"\?.*$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.regexp_extract(r, r"\?(.*)$", 1)
    def _keep(x: Column) -> Column:
        tracked = x.startswith(TRACKING_PARAM_PREFIXES[0])
        for pfx in TRACKING_PARAM_PREFIXES[1:]:
            tracked = tracked | x.startswith(pfx)
        return (F.length(x) > 0) & ~tracked

    keep = F.filter(F.split(q, "&"), _keep)
    qnorm = F.array_join(F.array_sort(keep), "&")
    return F.concat(
        p, path, F.when(qnorm == "", F.lit("")).otherwise(F.concat(F.lit("?"), qnorm))
    )


def sql_canonical_url(expr: str) -> str:
    """DuckDB twin of :func:`canonical_url` (RE2 replacements use \\1;
    DuckDB regexp_extract yields NULL on no-match where Spark yields ''
    — coalesce, or the final || cascade nulls the whole URL)."""
    prefix = (
        f"coalesce(regexp_extract({expr}, '(?i)^(https?://[^/?#]*)', 1), '')"
    )
    rest = f"{expr}[length({prefix}) + 1:]"
    p = f"lower({prefix})"
    p = f"regexp_replace({p}, '^(http://[^/?#]*):80$', '\\1')"
    p = f"regexp_replace({p}, '^(https://[^/?#]*):443$', '\\1')"
    r = f"regexp_replace({rest}, '#.*$', '')"
    path = f"regexp_replace({r}, '\\?.*$', '')"
    path = f"(CASE WHEN {path} = '' THEN '/' ELSE {path} END)"
    q = f"coalesce(regexp_extract({r}, '\\?(.*)$', 1), '')"
    drop = " OR ".join(
        f"starts_with(x, '{pfx}')" for pfx in TRACKING_PARAM_PREFIXES
    )
    keep = f"list_filter(string_split({q}, '&'), x -> len(x) > 0 AND NOT ({drop}))"
    # array_to_string([]) is NULL in DuckDB ('' in Spark's array_join)
    qn = f"coalesce(array_to_string(list_sort({keep}), '&'), '')"
    return (
        f"({p} || {path} || "
        f"(CASE WHEN {qn} = '' THEN '' ELSE '?' || {qn} END))"
    )


def canonicalize_urls(df: DataFrame, url_col: str) -> DataFrame:
    """Adds ``canonical_url`` — group/dedup crawl records by it (exact
    dedup then reuses the one combinable hash shuffle, q29-shaped).
    Zero-shuffle projection."""
    return df.withColumn("canonical_url", canonical_url(F.col(url_col)))


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(id, n_tokens, score) — the top-k documents for a keyword query
    by BM25 (SURVEY §2 op 123; Robertson & Zaragoza 2009 — the ranking
    function every corpus-inspection workflow reaches for: "show me the
    docs about X" over a filtered/deduped corpus). Lucene's
    non-negative idf variant: ln((N − df + 0.5)/(df + 0.5) + 1).

    Query terms normalize exactly like document tokens (the repo-wide
    protocol), deduplicate preserving order, and each term's tf is a
    bounded per-row array count — NO explode, NO inverted-index
    shuffle: corpus stats (N, Σdl, per-term df) reduce to ONE bounded
    aggregate row (≤ |query| values collected), idf becomes a literal,
    and scoring is a pure projection feeding TakeOrderedAndProject.
    ONE tokenization pass total: the staged (id, dl, tf…) frame — all
    ints, ~(2+|query|)·8 bytes/doc — is persisted (tracked; cache.py)
    before the stats job, so the scoring job reads the cached integers
    instead of re-running the normalize+split+count lineage over the
    full text column (measured at sf0.1: 1.36 s lazy vs ~0.75 s
    persisted — the second tokenize pass WAS half the query). Zero-
    score docs (no query term) are excluded. Ties: rounded score DESC,
    id ASC — both engines order the ROUNDED score so a last-ulp idf
    difference cannot flip ranks.

    DuckDB twin: :func:`sql_bm25_topk` — identical tokenization, stats,
    arithmetic and term order, computed fully in SQL.
    """
    terms: list[str] = []
    for t in H.normalize_text_py(query).split():
        if t and t not in terms:
            terms.append(t)
    if not terms:
        raise ValueError("query normalizes to no terms")
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_tk"))
    def _tf_of(term: str):
        # a one-arg lambda is required: PySpark reads a second lambda
        # parameter as the (element, index) variant
        return F.size(F.filter(F.col("_tk"), lambda x: x == F.lit(term)))

    from dwca_parquet_spark.cache import persist_tracked

    staged = persist_tracked(
        staged.select(
            F.col(id_col),
            F.size("_tk").alias("_dl"),
            *[_tf_of(t).alias(f"_tf{i}") for i, t in enumerate(terms)],
        )
    )
    stats = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_dl").alias("total"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    ).first()  # bounded: one row, |query| + 2 values
    n_docs = int(stats["n"])
    if n_docs == 0:
        raise ValueError("empty corpus")
    if stats["total"] is None:  # every row's text NULL → sum(_dl) NULL
        raise ValueError("corpus has no tokenizable text")
    avgdl = int(stats["total"]) / n_docs
    import math

    score = F.lit(0.0)
    dl_d = F.col("_dl").cast("double")
    for i in range(len(terms)):
        dfi = int(stats[f"_df{i}"])
        idf = math.log((n_docs - dfi + 0.5) / (dfi + 0.5) + 1.0)
        tf_d = F.col(f"_tf{i}").cast("double")
        score = score + F.lit(idf) * (tf_d * (k1 + 1.0)) / (
            tf_d + k1 * (1.0 - b + b * dl_d / F.lit(avgdl))
        )
    return (
        staged.select(
            F.col(id_col),
            F.col("_dl").cast("long").alias("n_tokens"),
            F.round(score, 6).alias("score"),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def sql_bm25_topk(
    source: str,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB twin of :func:`bm25_topk` — identical tokenization, stats
    derivation, idf/saturation arithmetic, term order, rounding, and
    tie-break, computed fully in SQL (stats via one CROSS JOIN of a
    one-row aggregate, affordable at oracle scale)."""
    terms: list[str] = []
    for t in H.normalize_text_py(query).split():
        if t and t not in terms:
            terms.append(t)
    norm = H.sql_normalize_text(text_col)
    tk = (
        f"(CASE WHEN length({norm}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex({norm}, '\\s+') END)"
    )
    tf_cols = ", ".join(
        "len(list_filter(_tk, x -> x = '"
        + t.replace("'", "''")
        + f"')) AS _tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN _tf{i} > 0 THEN 1 ELSE 0 END) AS _df{i}"
        for i in range(len(terms))
    )
    score_terms = " + ".join(
        f"(ln((s.n - s._df{i} + 0.5) / (s._df{i} + 0.5) + 1.0)"
        f" * (CAST(_tf{i} AS DOUBLE) * ({k1!r} + 1.0))"
        f" / (CAST(_tf{i} AS DOUBLE) + {k1!r} * (1.0 - {b!r} + {b!r}"
        f" * CAST(_dl AS DOUBLE) / s.avgdl)))"
        for i in range(len(terms))
    )
    return f"""
    WITH d AS (SELECT {id_col}, len(_tk) AS _dl, {tf_cols}
               FROM (SELECT {id_col}, {tk} AS _tk FROM {source})),
    s AS (SELECT count(*) AS n, CAST(sum(_dl) AS DOUBLE) / count(*) AS avgdl,
                 {df_cols} FROM d)
    SELECT {id_col}, CAST(_dl AS BIGINT) AS n_tokens,
           round(0.0 + {score_terms}, 6) AS score
    FROM d CROSS JOIN s
    WHERE round(0.0 + {score_terms}, 6) > 0
    ORDER BY score DESC, {id_col} ASC LIMIT {k}
    """


def filter_url_blocklist(
    df: DataFrame,
    url_col: str,
    blocked_domains: tuple[str, ...] = (),
    blocked_patterns: tuple[str, ...] = (),
) -> DataFrame:
    """Adds (url_host, domain_blocked, pattern_blocked, keep_url) — the
    crawl-pipeline URL policy filter (SURVEY §2 op 122; the C4/UT1-style
    blocklist pass every production crawl runs before content filters).

    * ``blocked_domains``: a host is blocked when it EQUALS an entry or
      is a SUBDOMAIN of one (ads.example.com blocks under example.com —
      domain blocklists are suffix policies, not exact-host sets).
    * ``blocked_patterns``: literal substrings matched anywhere in the
      URL (query-string spam markers, path fragments).

    Shape: policy lists are bounded (thousands), so domains match via
    guarded broadcast LEFT joins — one per distinct label-count k in
    the list, probing the host's last-k labels (the registrable_domain
    technique: 1:1 stream through broadcast hash joins, zero shuffle,
    no explode). Patterns compile into ONE alternation regex of
    re-escaped literals (engine-portable). NULL/extractable-host-less
    URLs are kept with url_host='' and both flags false — a policy
    filter must not silently drop what it cannot parse.

    DuckDB twin: :func:`sql_filter_url_blocklist` (correlated EXISTS
    over an inline VALUES list — affordable at oracle scale).
    """
    import re as _re

    spark = df.sparkSession
    # host extraction must strip userinfo (http://user@blocked.com) and
    # trailing dots (http://blocked.com./x is the same FQDN) — both are
    # classic blocklist bypasses the naive authority regex waves through
    host = F.regexp_replace(
        F.lower(
            F.regexp_extract(
                F.col(url_col), r"https?://(?:[^/\s@]*@)?([^/\s:?#]+)", 1
            )
        ),
        r"\.+$",
        "",
    )
    out = df.withColumn("url_host", host)
    dom_hit = F.lit(False)
    if blocked_domains:
        by_k: dict[int, list[str]] = {}
        for d in blocked_domains:
            d = d.lower().strip(".")
            by_k.setdefault(d.count(".") + 1, []).append(d)
        out = out.withColumn("_hlbl", F.split(F.col("url_host"), r"\."))
        nl = F.size("_hlbl")
        for k in sorted(by_k):
            bdf = spark.createDataFrame(
                [(d,) for d in sorted(set(by_k[k]))], f"_bd{k} string"
            )
            key = F.when(
                nl >= k, F.array_join(F.slice(F.col("_hlbl"), nl - k + 1, k), ".")
            )
            out = out.withColumn(f"_hk{k}", key).join(
                F.broadcast(bdf), F.col(f"_hk{k}") == F.col(f"_bd{k}"), "left"
            )
            dom_hit = dom_hit | F.col(f"_bd{k}").isNotNull()
        out = out.withColumn("domain_blocked", dom_hit).drop(
            "_hlbl", *[c for k in by_k for c in (f"_hk{k}", f"_bd{k}")]
        )
    else:
        out = out.withColumn("domain_blocked", F.lit(False))
    if blocked_patterns:
        rx = "|".join(_re.escape(p) for p in blocked_patterns)
        out = out.withColumn(
            "pattern_blocked",
            F.coalesce(F.col(url_col).rlike(rx), F.lit(False)),
        )
    else:
        out = out.withColumn("pattern_blocked", F.lit(False))
    return out.withColumn(
        "keep_url", ~(F.col("domain_blocked") | F.col("pattern_blocked"))
    )


def sql_filter_url_blocklist(
    source: str,
    url_col: str,
    blocked_domains: tuple[str, ...] = (),
    blocked_patterns: tuple[str, ...] = (),
) -> str:
    """DuckDB twin of :func:`filter_url_blocklist` — identical host
    extraction, suffix semantics, and pattern alternation."""
    import re as _re

    host = (
        f"regexp_replace(lower(regexp_extract({url_col}, "
        f"'https?://(?:[^/\\s@]*@)?([^/\\s:?#]+)', 1)), '\\.+$', '')"
    )
    if blocked_domains:
        vals = ", ".join(
            "('" + d.lower().strip(".").replace("'", "''") + "')"
            for d in sorted(set(blocked_domains))
        )
        dom = (
            f"EXISTS(SELECT 1 FROM (VALUES {vals}) _b(_bd) "
            f"WHERE url_host = _bd OR url_host LIKE '%.' || _bd)"
        )
    else:
        dom = "FALSE"
    if blocked_patterns:
        rx = "|".join(_re.escape(p) for p in blocked_patterns)
        rx = rx.replace("'", "''")
        pat = f"coalesce(regexp_matches({url_col}, '{rx}'), FALSE)"
    else:
        pat = "FALSE"
    return f"""
    SELECT *, ({dom}) AS domain_blocked, ({pat}) AS pattern_blocked,
           NOT (({dom}) OR ({pat})) AS keep_url
    FROM (SELECT *, {host} AS url_host FROM {source})
    """


def find_contaminated(
    df: DataFrame, id_col: str, text_col: str, probes: list[str]
) -> DataFrame:
    """Benchmark-decontamination scan: documents whose normalized text
    contains a probe string (a benchmark answer/question fragment),
    normalized the same way. Output: (id, probe_idx, probe).

    The probe set is bounded by construction (a benchmark is thousands of
    strings, not billions), so it broadcasts; the scan side streams — one
    broadcast nested-loop with a `contains` predicate, which IS the right
    plan for bounded-probe × corpus (the same justification as q41's band
    table). For huge probe sets, block first on a shared fingerprint
    (n-gram hash join) and verify with this operator.
    """
    spark = df.sparkSession
    probe_df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(probes)],
        "probe_idx long, probe string",
    ).withColumn("_pnorm", H.normalize_text(F.col("probe")))
    docs = df.select(
        F.col(id_col), H.normalize_text(F.col(text_col)).alias("_norm")
    )
    return (
        docs.join(
            F.broadcast(probe_df),
            F.col("_norm").contains(F.col("_pnorm")),
        )
        .select(F.col(id_col), "probe_idx", "probe")
    )


def find_contaminated_blocked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    probes: list[str],
    k: int = 8,
) -> DataFrame:
    """Scale path for :func:`find_contaminated`: shingle-hash blocking
    turns the probe scan into an equi-join, so the corpus side never meets
    a nested loop.

    Losslessness: if a probe (normalized) occurs inside a document
    (normalized), every k-char shingle of the probe — in particular its
    minimum shingle hash — appears among the document's shingle hashes.
    So joining docs' exploded shingle stream against each probe's min
    shingle hash produces a candidate superset, and the final `contains`
    verify (on the bounded candidate set only) restores exactness.
    Probes shorter than k characters have no shingles and fall back to
    the broadcast contains path; output equals find_contaminated's.

    Shuffle shape: one explode + equi-join keyed on the shingle hash
    (probe side is tiny → broadcast), one distinct on (id, probe_idx),
    then the verify join back to the normalized text by id. At 100 TB the
    doc shingle stream is the same one the dedup family already computes
    — share the persisted shingle table across both pipelines.
    """
    spark = df.sparkSession
    # Length gate on the NORMALIZED probe — shingling happens post-
    # normalization, so that is the length that decides whether a min
    # shingle exists. normalize_text_py is the shared driver-side mirror
    # of H.normalize_text (single source of truth; probes are bounded).
    long_pairs = [
        (i, p) for i, p in enumerate(probes) if len(H.normalize_text_py(p)) >= k
    ]
    short_pairs = [
        (i, p) for i, p in enumerate(probes) if len(H.normalize_text_py(p)) < k
    ]
    docs = df.select(
        F.col(id_col), H.normalize_text(F.col(text_col)).alias("_norm")
    )
    out = None
    if long_pairs:
        probe_block = spark.createDataFrame(
            long_pairs, "probe_idx long, probe string"
        ).select(
            "probe_idx",
            "probe",
            H.normalize_text(F.col("probe")).alias("_pnorm"),
        ).select(
            "probe_idx",
            "probe",
            "_pnorm",
            F.array_min(
                H.shingle_hashes_from_codes(H.char_codes(F.col("_pnorm")), k)
            ).alias("_h"),
        )
        # stage char_codes in its own projection (the element_at-on-
        # computed-expression trap; see contamination_overlap / dedup.
        # shingle_hash_table) — the probe side above is bounded rows, the
        # doc side is the corpus scan and pays O(len²·k) per row unstaged
        doc_shingles = docs.select(
            F.col(id_col),
            "_norm",
            H.char_codes(F.col("_norm")).alias("_codes"),
        ).select(
            F.col(id_col),
            F.explode(
                H.shingle_hashes_from_codes(F.col("_codes"), k)
            ).alias("_h"),
        )
        cand = (
            doc_shingles.join(F.broadcast(probe_block), "_h")
            .select(id_col, "probe_idx", "probe", "_pnorm")
            .distinct()
        )
        out = (
            cand.join(docs, id_col)
            .filter(F.col("_norm").contains(F.col("_pnorm")))
            .select(F.col(id_col), "probe_idx", "probe")
        )
    if short_pairs:
        sp = spark.createDataFrame(
            short_pairs, "probe_idx long, probe string"
        ).withColumn("_pnorm", H.normalize_text(F.col("probe")))
        fallback = (
            docs.join(F.broadcast(sp), F.col("_norm").contains(F.col("_pnorm")))
            .select(F.col(id_col), "probe_idx", "probe")
        )
        out = fallback if out is None else out.unionByName(fallback)
    if out is None:
        return spark.createDataFrame([], f"`{id_col}` long, probe_idx long, probe string")
    return out


def contamination_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    probes: list[str],
    n: int = 8,
    min_frac: float = 0.5,
) -> DataFrame:
    """N-gram-overlap decontamination: the fraction of each probe's distinct
    character n-shingles that appear among a document's shingles.

    Real benchmark-decontamination pipelines flag documents by SHARED-n-gram
    fraction, not only exact substring containment (a paraphrased or
    partially-quoted benchmark item still contaminates). This is the graded
    companion to :func:`find_contaminated` /
    :func:`find_contaminated_blocked`: overlap_frac == 1.0 for exact
    containment, values in (0, 1) for partial overlap. Output one row per
    (doc, probe) with overlap_frac >= min_frac:
    (id, probe_idx, probe, n_probe_shingles, n_shared, overlap_frac).

    Probes whose NORMALIZED text is shorter than n characters have no
    shingles (the fraction is undefined) and are skipped — screen those few
    with the exact operators.

    Shuffle shape (the same intermediate the blocked decontamination and the
    dedup family already compute): explode the documents' distinct shingle
    hashes, equi-join against the broadcast probe shingle table (both sides
    distinct, so matched rows COUNT the intersection), then one map-side-
    combinable groupBy on (id, probe_idx). Candidate volume is bounded by
    Σ_probe |shingles(probe)| × df(shingle) — never |docs| × |probes|. At
    100 TB, share the persisted doc-shingle table across dedup and
    decontamination passes.
    """
    spark = df.sparkSession
    pairs = [
        (i, p) for i, p in enumerate(probes) if len(H.normalize_text_py(p)) >= n
    ]
    out_schema = (
        f"`{id_col}` long, probe_idx long, probe string, "
        "n_probe_shingles long, n_shared long, overlap_frac double"
    )
    if not pairs:
        return spark.createDataFrame([], out_schema)
    probe_sh = (
        spark.createDataFrame(pairs, "probe_idx long, probe string")
        .select(
            "probe_idx",
            "probe",
            H.shingle_hashes(
                H.normalize_text(F.col("probe")), n
            ).alias("_ph"),
        )
        .select(
            "probe_idx",
            "probe",
            F.size("_ph").cast("long").alias("n_probe_shingles"),
            F.explode("_ph").alias("_h"),
        )
    )
    # char_codes MUST be staged through its own projection before the
    # shingle transform references it: element_at on a computed array
    # expression re-evaluates the whole split per element (O(len²·n) per
    # row — measured 75 s for 500 docs at n=8 before staging, sub-second
    # after; the same trap dedup.shingle_hash_table documents).
    doc_sh = (
        df.select(
            F.col(id_col), H.normalize_text(F.col(text_col)).alias("_norm")
        )
        .select(F.col(id_col), H.char_codes(F.col("_norm")).alias("_codes"))
        .select(
            F.col(id_col),
            F.explode(
                H.shingle_hashes_from_codes(F.col("_codes"), n)
            ).alias("_h"),
        )
    )
    shared = (
        doc_sh.join(F.broadcast(probe_sh), "_h")
        .groupBy(id_col, "probe_idx", "probe", "n_probe_shingles")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        shared.withColumn(
            "overlap_frac",
            F.round(
                F.col("n_shared").cast("double")
                / F.col("n_probe_shingles").cast("double"),
                6,
            ),
        )
        .filter(F.col("overlap_frac") >= min_frac)
        .select(
            F.col(id_col),
            "probe_idx",
            "probe",
            "n_probe_shingles",
            "n_shared",
            "overlap_frac",
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-token-count chunks with overlap — the
    context-window preparation step of a training pipeline.

    Chunk i covers tokens [i·stride, i·stride + chunk_tokens) with
    stride = chunk_tokens − overlap; the last chunk may be short; empty
    documents produce no chunks. Output: (id, chunk_idx, chunk_text,
    n_chunk_tokens).

    Shape: tokenize → build chunk index array → posexplode → slice+join —
    a per-row expansion (Spark Generate node), zero shuffle; output rows
    ≈ n_tokens/stride per doc. At 100 TB this runs in the scan stage and
    the chunk stream feeds straight into downstream shuffles (dedup,
    tokenizer costing) without ever materializing whole documents again.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_chunks = F.when(n_tok <= 0, F.lit(0)).otherwise(
        F.floor((n_tok - 1) / stride) + 1
    )
    staged = df.select(
        F.col(id_col), toks.alias("_t"), n_chunks.cast("int").alias("_nc")
    )
    # Guard the sequence: F.sequence(1, 0) defaults step to -1 and yields
    # the DESCENDING array [1, 0], which would fabricate two empty chunks
    # for empty documents. Empty docs must produce zero rows.
    idx = F.when(F.col("_nc") >= 1, F.sequence(F.lit(1), F.col("_nc"))).otherwise(
        F.array().cast("array<int>")
    )
    exploded = staged.select(
        F.col(id_col),
        F.col("_t"),
        F.posexplode(idx).alias("chunk_idx", "_one"),
    )
    piece = F.slice(F.col("_t"), F.col("chunk_idx") * stride + 1, chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
    )


def fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Rolling-hash fingerprints: full text + 64-char prefix + length.

    The (prefix_hash, length) pair is the cheap blocking key; full_hash is
    the exact-dup key. Pure projection — composes with dedup_exact.
    Normalization is staged so the regexes run once per row, not once per
    folded character (see functions/hashing.py note).
    """
    return df.select(
        F.col(id_col), H.normalize_text(F.col(text_col)).alias("_norm")
    ).select(
        F.col(id_col),
        H.poly_hash(F.col("_norm")).alias("full_hash"),
        H.poly_hash(F.substring(F.col("_norm"), 1, 64)).alias("prefix_hash"),
        F.length(F.col("_norm")).cast("long").alias("n_chars"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 5,
    min_term_len: int = 3,
) -> DataFrame:
    """Per-document top-k terms by term frequency, with tf-idf attached.

    Shape (the scalable formulation of HashingTF/IDF without MLlib's
    Vector types):
      1. tokenize → explode → (doc, term) counts: one map-side-combinable
         shuffle on (doc, term);
      2. document frequency per term: one shuffle on term (the vocabulary —
         orders of magnitude smaller than the corpus);
      3. corpus size N: single-row aggregate (broadcast scalar);
      4. tf-idf = tf · ln((N+1)/(df+1)) (smoothed); per-doc top-k via a
         row_number window partitioned by doc.

    Determinism: ranking uses the INTEGER pair (tf desc, term asc) — never
    the float tfidf — so the selected rows are engine-exact even though the
    tfidf value itself is an IEEE double (surfaced rounded).

    At 100 TB the only large shuffles are keyed by (doc, term) and term;
    both combine map-side. The df table joins back to term counts on term —
    an equi-join Spark can hash-partition; genuinely hot terms (stopwords)
    are bounded by min_term_len and by the top-k cut happening per-doc.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).filter(F.length("term") >= min_term_len)
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    # corpus size as a lazy broadcast 1-row join (no eager driver action)
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    w = Window.partitionBy("doc").orderBy(F.desc("tf"), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select(
            F.col("doc").alias(id_col),
            "term",
            "tf",
            "df_t",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df_t") + 1.0)),
                6,
            ).alias("tfidf"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality scoring (perplexity proxy)
# ---------------------------------------------------------------------------
# Production pipelines score documents with a language-model perplexity and
# drop the tails (CCNet-style; see PAPERS.md). The container has no LM, but
# the scalable shape is model-agnostic: fit token statistics in one pass,
# broadcast the (bounded) model, score every document as a pure projection.
# A unigram LM is the honest no-dependency instance of that shape.


def lm_fit_vocab(
    df: DataFrame, text_col: str, vocab_size: int = 1024
) -> tuple[list[tuple[str, int]], int]:
    """One-pass unigram fit: top-``vocab_size`` tokens by corpus frequency
    plus the total token count.

    Two map-side-combinable shuffles (token counts, then a top-k limit on
    the vocabulary table — orders of magnitude smaller than the corpus).
    Collects ``vocab_size`` rows + one scalar: bounded by construction,
    like the IVF centroid collect. Ties break (count desc, token asc) so
    the fitted vocabulary is engine- and run-deterministic.
    """
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("t"))
    # ONE corpus scan: the per-token count table (distinct-token-sized,
    # orders of magnitude below the corpus) is persisted and serves both
    # the top-k vocabulary and the exact total (Σ counts ≡ toks.count())
    counts = toks.groupBy("t").agg(F.count(F.lit(1)).alias("n")).persist()
    vocab = [
        (r["t"], r["n"])
        for r in counts.orderBy(F.desc("n"), F.asc("t"))
        .limit(vocab_size)
        .collect()
    ]
    total = counts.agg(F.sum("n")).first()[0]
    counts.unpersist()
    return vocab, int(total or 0)


def _lm_logps(
    vocab: list[tuple[str, int]], total: int
) -> tuple[dict[str, float], float]:
    """Rounded per-token log-probs. Rounding to 9 decimals makes the
    literals byte-identical in the Spark plan and any SQL mirror, so both
    engines merely SUM the same doubles left-to-right — the only float op
    either engine performs (no in-engine log; libm would break parity)."""
    logp = {t: round(math.log(n / total), 9) for t, n in vocab}
    return logp, round(math.log(1.0 / total), 9)


def lm_logprob_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: list[tuple[str, int]],
    total_tokens: int,
) -> DataFrame:
    """Mean per-token unigram log-probability (higher = more typical text).

    Out-of-vocabulary tokens get the 1/total floor. The fitted model
    compiles into a literal map, so scoring is a zero-shuffle projection
    that runs in the scan stage; the fold is explicitly left-to-right
    (``F.aggregate``) for cross-engine determinism, mirroring text_stats.
    Empty documents score NULL.
    """
    logp, oov = _lm_logps(vocab, total_tokens)
    pairs: list[Column] = []
    for t, lp in sorted(logp.items()):
        pairs.extend([F.lit(t), F.lit(lp)])
    lp_map = F.create_map(*pairs)
    toks = tokens(F.col(text_col))
    total = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + F.coalesce(lp_map[t], F.lit(oov)),
    )
    n = F.size(toks)
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.when(n > 0, F.round(total / n, 6)).alias("lm_logprob"),
    )


def sql_lm_logprob_score(
    id_expr: str,
    text_expr: str,
    vocab: list[tuple[str, int]],
    total_tokens: int,
    source: str = "documents",
) -> str:
    """DuckDB oracle for :func:`lm_logprob_score` — identical rounded
    literals, identical left-to-right fold, identical OOV floor."""
    logp, oov = _lm_logps(vocab, total_tokens)
    items = sorted(logp.items())
    words = ", ".join("'" + t.replace("'", "''") + "'" for t, _ in items)
    vals = ", ".join(f"CAST({lp!r} AS DOUBLE)" for _, lp in items)
    norm = H.sql_normalize_text(text_expr)
    toks = (
        f"CASE WHEN length({norm}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex({norm}, '\\s+') END"
    )
    per_tok = (
        f"coalesce([{vals}][list_position([{words}], t)], "
        f"CAST({oov!r} AS DOUBLE))"
    )
    return f"""
    WITH t AS (SELECT {id_expr} AS id, {toks} AS toks FROM {source})
    SELECT id AS {id_expr}, CAST(len(toks) AS BIGINT) AS n_tokens,
           CASE WHEN len(toks) > 0 THEN
               round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         [{per_tok} for t in toks]),
                     (a, b) -> a + b) / len(toks), 6)
           END AS lm_logprob
    FROM t
    """


# ---------------------------------------------------------------------------
# Supervised quality classifier (Naive Bayes over tokens)
# ---------------------------------------------------------------------------
# The production pattern behind "quality filtering with a fastText
# classifier" (GPT-3/CCNet-style: label a reference corpus positive, raw
# crawl negative, keep documents the classifier likes): a linear model over
# token features. Naive Bayes is the no-dependency, engine-deterministic
# instance — fitting is two integer aggregations, the model is per-token
# log-odds computed DRIVER-side (rounded, so engines only sum identical
# doubles), scoring is the same zero-shuffle literal-map fold as
# lm_logprob_score.


def nb_fit(
    df: DataFrame,
    text_col: str,
    label_col: str,
    vocab_size: int = 1024,
    alpha: float = 1.0,
) -> dict:
    """Fit per-token log-odds from binary labels (1 = keep-class).

    One explode + one map-side-combinable groupBy on token (conditional
    sums per class), top-``vocab_size`` by total count (ties: count desc,
    token asc — deterministic); plus one tiny per-class doc/token-total
    aggregate. Collects vocab_size rows + 4 scalars — bounded like
    lm_fit_vocab. Returns a plain-dict model: token → (c1, c0) counts,
    class token totals, class doc counts, alpha.
    """
    lab = F.col(label_col).cast("int")
    toks = df.select(
        F.explode(tokens(F.col(text_col))).alias("t"), lab.alias("y")
    )
    # ONE corpus scan: the per-token class-count table is persisted and
    # serves both the top-k vocabulary and the class token totals
    # (Σ c1 / Σ c0 over ALL tokens ≡ the per-class corpus token counts)
    counts = (
        toks.groupBy("t")
        .agg(
            F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("y") == 0, 1).otherwise(0)).alias("c0"),
        )
        .persist()
    )
    vocab_rows = (
        counts.withColumn("n", F.col("c1") + F.col("c0"))
        .orderBy(F.desc("n"), F.asc("t"))
        .limit(vocab_size)
        .collect()
    )
    totals = counts.agg(
        F.sum("c1").alias("t1"), F.sum("c0").alias("t0")
    ).first()
    counts.unpersist()
    docs = df.groupBy().agg(
        F.sum(F.when(lab == 1, 1).otherwise(0)).alias("d1"),
        F.sum(F.when(lab == 0, 1).otherwise(0)).alias("d0"),
    ).first()
    return {
        "counts": {r["t"]: (r["c1"], r["c0"]) for r in vocab_rows},
        "t1": totals["t1"],
        "t0": totals["t0"],
        "d1": docs["d1"],
        "d0": docs["d0"],
        "alpha": alpha,
        "vocab_size": vocab_size,
    }


def _nb_weights(model: dict) -> tuple[dict[str, float], float, float]:
    """Driver-side rounded log-odds (the only place log runs — engines
    just sum literals). V+1 smoothing buckets (vocab + OOV)."""
    a = model["alpha"]
    v = model["vocab_size"] + 1
    t1, t0 = model["t1"], model["t0"]
    w = {
        t: round(
            math.log((c1 + a) / (t1 + a * v)) - math.log((c0 + a) / (t0 + a * v)),
            9,
        )
        for t, (c1, c0) in model["counts"].items()
    }
    oov = round(
        math.log(a / (t1 + a * v)) - math.log(a / (t0 + a * v)), 9
    )
    prior = round(math.log(max(model["d1"], 1) / max(model["d0"], 1)), 9)
    return w, oov, prior


def nb_score(
    df: DataFrame, id_col: str, text_col: str, model: dict
) -> DataFrame:
    """Per-document Naive-Bayes log-odds: prior + Σ_token w(token), plus
    the length-normalized mean (the usual filtering threshold — raw sums
    scale with document length). Zero-shuffle literal-map projection;
    empty documents get the bare prior and a NULL mean."""
    w, oov, prior = _nb_weights(model)
    pairs: list[Column] = []
    for t, lw in sorted(w.items()):
        pairs.extend([F.lit(t), F.lit(lw)])
    w_map = F.create_map(*pairs)
    toks = tokens(F.col(text_col))
    total = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc + F.coalesce(w_map[t], F.lit(oov)),
    )
    n = F.size(toks)
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.round(F.lit(prior) + total, 6).alias("nb_logodds"),
        F.when(n > 0, F.round(total / n, 6)).alias("nb_logodds_per_token"),
    )


def sql_nb_score(
    id_expr: str, text_expr: str, model: dict, source: str = "documents"
) -> str:
    """DuckDB oracle for :func:`nb_score` — identical rounded literals,
    identical left-to-right fold, identical OOV weight and prior."""
    w, oov, prior = _nb_weights(model)
    items = sorted(w.items())
    words = ", ".join("'" + t.replace("'", "''") + "'" for t, _ in items)
    vals = ", ".join(f"CAST({lw!r} AS DOUBLE)" for _, lw in items)
    norm = H.sql_normalize_text(text_expr)
    toks = (
        f"CASE WHEN length({norm}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex({norm}, '\\s+') END"
    )
    per_tok = (
        f"coalesce([{vals}][list_position([{words}], t)], "
        f"CAST({oov!r} AS DOUBLE))"
    )
    return f"""
    WITH t AS (SELECT {id_expr} AS id, {toks} AS toks FROM {source})
    SELECT id AS {id_expr}, CAST(len(toks) AS BIGINT) AS n_tokens,
           round(CAST({prior!r} AS DOUBLE) + list_reduce(
               list_prepend(CAST(0 AS DOUBLE), [{per_tok} for t in toks]),
               (a, b) -> a + b), 6) AS nb_logodds,
           CASE WHEN len(toks) > 0 THEN
               round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         [{per_tok} for t in toks]),
                     (a, b) -> a + b) / len(toks), 6)
           END AS nb_logodds_per_token
    FROM t
    """


# ---------------------------------------------------------------------------
# Bigram LM with stupid backoff (conditional perplexity proxy)
# ---------------------------------------------------------------------------
# The unigram score (lm_logprob_score) ranks by vocabulary typicality;
# fluency lives in token TRANSITIONS. The no-dependency distributed form:
# bigram MLE over a bounded vocabulary with "stupid backoff" to the
# unigram (Brants et al. 2007, "Large Language Models in Machine
# Translation" — the backoff designed FOR map-reduce-scale counts;
# PAPERS.md). Same engine-parity discipline as the whole LM family: all
# log-probs computed and rounded driver-side, engines only sum literals.

LM2_SEP = "\x1f"  # unit separator — cannot appear in normalized text
LM2_BACKOFF = 0.4  # stupid-backoff multiplier


def lm2_fit(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 512,
    top_bigrams: int = 2048,
) -> dict:
    """Fit the bigram model: unigram vocab (lm_fit_vocab) + the
    ``top_bigrams`` most frequent in-vocab bigrams (ties: count desc,
    pair asc). Two combinable shuffles + bounded collects."""
    vocab, total = lm_fit_vocab(df, text_col, vocab_size)
    vset = {t for t, _ in vocab}
    toks = df.select(tokens(F.col(text_col)).alias("_t"))
    vmap = F.create_map(
        *[F.lit(x) for t in sorted(vset) for x in (t, t)]
    )
    vt = F.transform(F.col("_t"), lambda t: F.coalesce(vmap[t], F.lit("<unk>")))
    pairs = F.expr(
        "transform(sequence(1, greatest(size(_vt) - 1, 0)), "
        f"i -> concat(element_at(_vt, i), '{LM2_SEP}', element_at(_vt, i + 1)))"
    )
    pair_rows = (
        toks.select(vt.alias("_vt"))
        .select(F.explode(pairs).alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("p"))
        .limit(top_bigrams)
        .collect()
    )
    # context totals (count of bigrams starting at each prev token),
    # derived from the SAME bounded bigram table would undercount; use
    # unigram counts as the denominator (MLE over all transitions from
    # prev — identical in both engines, and the standard stupid-backoff
    # numerator/denominator)
    return {
        "vocab": vocab,
        "total": total,
        "bigrams": {r["p"]: r["n"] for r in pair_rows},
        "vocab_size": vocab_size,
    }


def _lm2_weights(model: dict) -> tuple[dict[str, float], dict[str, float], float]:
    unigram = dict(model["vocab"])
    total = model["total"]
    ulp = {t: math.log(n / total) for t, n in unigram.items()}
    oov_lp = math.log(1.0 / total)
    blp = {}
    for p, n in model["bigrams"].items():
        prev = p.split(LM2_SEP)[0]
        denom = unigram.get(prev)
        if denom:
            blp[p] = round(math.log(n / denom), 9)
    back = {
        t: round(lp + math.log(LM2_BACKOFF), 9) for t, lp in ulp.items()
    }
    oov_back = round(oov_lp + math.log(LM2_BACKOFF), 9)
    return blp, back, oov_back


def lm2_logprob_score(
    df: DataFrame, id_col: str, text_col: str, model: dict
) -> DataFrame:
    """Mean per-transition log-prob under bigram-with-stupid-backoff.
    Zero-shuffle literal-map projection; documents with < 2 tokens score
    NULL. Output: (id, n_transitions, lm2_logprob)."""
    blp, back, oov_back = _lm2_weights(model)
    bpairs: list[Column] = []
    for p, lp in sorted(blp.items()):
        bpairs.extend([F.lit(p), F.lit(lp)])
    bmap = F.create_map(*bpairs) if bpairs else None
    upairs: list[Column] = []
    for t, lp in sorted(back.items()):
        upairs.extend([F.lit(t), F.lit(lp)])
    umap = F.create_map(*upairs)
    vmap = F.create_map(
        *[F.lit(x) for t, _ in sorted(model["vocab"]) for x in (t, t)]
    )
    toks = tokens(F.col(text_col))
    staged = df.select(
        F.col(id_col),
        F.transform(toks, lambda t: F.coalesce(vmap[t], F.lit("<unk>"))).alias(
            "_vt"
        ),
    )
    steps = F.expr(
        "transform(sequence(1, greatest(size(_vt) - 1, 0)), i -> "
        f"struct(concat(element_at(_vt, i), '{LM2_SEP}', element_at(_vt, i + 1))"
        " AS pair, element_at(_vt, i + 1) AS cur))"
    )
    def term(x):
        ubac = F.coalesce(umap[x["cur"]], F.lit(oov_back))
        return F.coalesce(bmap[x["pair"]], ubac) if bmap is not None else ubac

    total = F.aggregate(
        steps, F.lit(0.0), lambda acc, x: acc + term(x)
    )
    n = F.size(F.col("_vt")) - 1
    return staged.select(
        F.col(id_col),
        F.greatest(n, F.lit(0)).cast("long").alias("n_transitions"),
        F.when(n > 0, F.round(total / n, 6)).alias("lm2_logprob"),
    )


def sql_lm2_logprob_score(
    id_expr: str, text_expr: str, model: dict, source: str = "documents"
) -> str:
    """DuckDB oracle — identical literals, fold, and backoff."""
    blp, back, oov_back = _lm2_weights(model)
    bitems = sorted(blp.items())
    uitems = sorted(back.items())
    vwords = sorted(t for t, _ in model["vocab"])

    def strlist(xs):
        return ", ".join("'" + x.replace("'", "''") + "'" for x in xs)

    bkeys = strlist([p.replace(LM2_SEP, "\x01SEP\x01") for p, _ in bitems])
    # DuckDB string literals take \x1f literally via chr(31) concat; avoid
    # embedding the control char by building pair keys with chr(31)
    bkeys = bkeys.replace("\x01SEP\x01", "' || chr(31) || '")
    bvals = ", ".join(f"CAST({lp!r} AS DOUBLE)" for _, lp in bitems)
    ukeys = strlist([t for t, _ in uitems])
    uvals = ", ".join(f"CAST({lp!r} AS DOUBLE)" for _, lp in uitems)
    vlist = strlist(vwords)
    norm = H.sql_normalize_text(text_expr)
    rawtoks = (
        f"CASE WHEN length({norm}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex({norm}, '\\s+') END"
    )
    vt = (
        f"[CASE WHEN list_position([{vlist}], t) IS NOT NULL THEN t "
        f"ELSE '<unk>' END for t in {rawtoks}]"
    )
    pair = "vt[i - 1] || chr(31) || vt[i]"
    backoff = (
        f"coalesce([{uvals}][list_position([{ukeys}], vt[i])], "
        f"CAST({oov_back!r} AS DOUBLE))"
    )
    term = (
        f"coalesce([{bvals}][list_position([{bkeys}], {pair})], {backoff})"
    )
    return f"""
    WITH t AS (SELECT {id_expr} AS id, {vt} AS vt FROM {source})
    SELECT id AS {id_expr},
           CAST(greatest(len(vt) - 1, 0) AS BIGINT) AS n_transitions,
           CASE WHEN len(vt) > 1 THEN
               round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         [{term} for i in range(2, len(vt) + 1)]),
                     (a, b) -> a + b) / (len(vt) - 1), 6)
           END AS lm2_logprob
    FROM t
    """


# ---------------------------------------------------------------------------
# Gopher / MassiveText quality rules (SURVEY §2 op 102)
# ---------------------------------------------------------------------------

# the eight required stop words of the Gopher rule set
GOPHER_STOP_WORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)
GOPHER_BULLETS: tuple[str, ...] = ("•", "‣", "▪", "-", "*")


def gopher_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The Gopher/MassiveText document-quality rule set (Rae et al. 2021,
    Appendix A; PAPERS.md) — the second canonical web-filter next to
    :func:`c4_clean`'s line rules. Generalizes the reference's single
    fixed query surface (``/root/reference/src/dwca_parquet/templates/
    query.sql:1-5``) the same way the rest of the text family does.

    Emits one row per document with every signal the paper thresholds,
    plus the combined ``keep`` verdict, so callers can audit any single
    rule before filtering:

    - ``n_words``, ``mean_word_len`` — words = ``\\s+`` split of the
      trimmed text ('' → 0 words)
    - ``hash_word_ratio`` / ``ellipsis_word_ratio`` — ``#`` count and
      non-overlapping ``...``/``…`` count per word
    - ``alpha_word_frac`` — words containing ≥1 ``[A-Za-z]``
    - ``n_stop_words`` — how many of the 8 required stop words appear
    - ``bullet_line_frac`` / ``ellipsis_line_frac`` — over trimmed
      non-empty lines (bullet set: ``GOPHER_BULLETS``)
    - repetition: ``dup_line_frac`` (lines that are repeats of an
      earlier line), ``dup_line_char_frac`` (chars in those repeats),
      and the paragraph twins (paragraphs = ``\\n{2,}`` blocks)

    ``keep`` = 50 ≤ n_words ≤ 100 000 ∧ 3 ≤ mean_word_len ≤ 10 ∧ both
    symbol ratios ≤ 0.1 ∧ alpha_word_frac ≥ 0.8 ∧ n_stop_words ≥ 2 ∧
    bullet_line_frac ≤ 0.9 ∧ ellipsis_line_frac ≤ 0.3 ∧ dup_line_frac,
    dup_para_frac ≤ 0.3 ∧ dup_line_char_frac, dup_para_char_frac ≤ 0.2.

    Zero shuffle: every signal is an array higher-order expression in
    the scan stage (plan-pinned, test_plans_r5.py); the word n-gram
    repetition signals — the one Gopher family that genuinely needs an
    aggregation — live in :func:`gopher_ngram_stats`. All divisions are
    int/int → double on identical integers in both engines, so the
    DuckDB twin (:func:`sql_gopher_quality`) matches exactly.
    """
    import functools
    import operator as _op

    t = F.regexp_replace(F.col(text_col), "\r", "")
    # Staged projections: every array is materialized ONCE per row as a
    # named attribute before the signals consume it — inlining them
    # re-evaluates the split/trim pipeline per consuming expression
    # (CollapseProject keeps the stages because the expressions are
    # non-cheap; the q29 staging lesson, functions/hashing.py). The
    # remaining cost is one interpreted HOF pass per signal — measured
    # per-signal in SCALE.md (Gopher rules); the stop-word intersect
    # below collapsed the worst one (8 passes -> 1).
    s0 = df.select(F.col(id_col), t.alias("_t"))
    tc = F.col("_t")
    s1 = s0.select(
        F.col(id_col),
        tc.alias("_t"),
        F.filter(
            F.split(F.trim(tc), r"\s+"), lambda x: x != ""
        ).alias("_w"),
        F.transform(
            F.filter(F.split(tc, "\n"), lambda x: F.length(F.trim(x)) > 0),
            lambda x: F.trim(x),
        ).alias("_ls"),
        F.transform(
            F.filter(
                F.split(tc, "\n{2,}"), lambda x: F.length(F.trim(x)) > 0
            ),
            lambda x: F.trim(x),
        ).alias("_ps"),
    )
    s1b = s1.select(
        F.col(id_col),
        "_t",
        "_w",
        "_ls",
        "_ps",
        F.transform(F.col("_w"), F.lower).alias("_lw"),
        F.array_distinct("_ls").alias("_dls"),
        F.array_distinct("_ps").alias("_dps"),
    )

    def _char_sum(c):
        return F.aggregate(
            F.col(c), F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        )

    # one intersect pass, not 8 array_contains scans (measured 5x)
    n_stop = F.size(
        F.array_intersect(
            F.array(*[F.lit(s) for s in GOPHER_STOP_WORDS]),
            F.col("_lw"),
        )
    ).cast("long")
    s2 = s1b.select(
        F.col(id_col),
        F.size("_w").alias("_nw"),
        _char_sum("_w").alias("_wc"),
        (
            F.length(tc) - F.length(F.regexp_replace(tc, "#", ""))
        ).alias("_nh"),
        (
            (
                F.length(tc)
                - F.length(F.replace(tc, F.lit("..."), F.lit("")))
            )
            / 3
            + (
                F.length(tc)
                - F.length(F.replace(tc, F.lit("\u2026"), F.lit("")))
            )
        )
        .cast("long")
        .alias("_ne"),
        F.size(
            F.filter(F.col("_w"), lambda x: x.rlike("[A-Za-z]"))
        ).alias("_na"),
        n_stop.alias("_ns"),
        F.size("_ls").alias("_nl"),
        F.size(
            F.filter(
                F.col("_ls"),
                lambda x: functools.reduce(
                    _op.or_, [x.startswith(b) for b in GOPHER_BULLETS]
                ),
            )
        ).alias("_nb"),
        F.size(
            F.filter(
                F.col("_ls"),
                lambda x: x.endswith("...") | x.endswith("\u2026"),
            )
        ).alias("_nel"),
        F.size("_dls").alias("_ndl"),
        _char_sum("_ls").alias("_lc"),
        _char_sum("_dls").alias("_dlc"),
        F.size("_ps").alias("_np"),
        F.size("_dps").alias("_ndp"),
        _char_sum("_ps").alias("_pc"),
        _char_sum("_dps").alias("_dpc"),
    )

    def _frac(num, den):
        return F.when(
            den > 0, num / den.cast("double")
        ).otherwise(F.lit(0.0))

    nw, nl, np_, lc, pc = (
        F.col("_nw"), F.col("_nl"), F.col("_np"), F.col("_lc"), F.col("_pc")
    )
    out = s2.select(
        F.col(id_col),
        nw.cast("long").alias("n_words"),
        _frac(F.col("_wc"), nw).alias("mean_word_len"),
        _frac(F.col("_nh"), nw).alias("hash_word_ratio"),
        _frac(F.col("_ne"), nw).alias("ellipsis_word_ratio"),
        _frac(F.col("_na"), nw).alias("alpha_word_frac"),
        F.col("_ns").alias("n_stop_words"),
        _frac(F.col("_nb"), nl).alias("bullet_line_frac"),
        _frac(F.col("_nel"), nl).alias("ellipsis_line_frac"),
        _frac(nl - F.col("_ndl"), nl).alias("dup_line_frac"),
        _frac(lc - F.col("_dlc"), lc).alias("dup_line_char_frac"),
        _frac(np_ - F.col("_ndp"), np_).alias("dup_para_frac"),
        _frac(pc - F.col("_dpc"), pc).alias("dup_para_char_frac"),
    )
    keep = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("hash_word_ratio") <= 0.1)
        & (F.col("ellipsis_word_ratio") <= 0.1)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_stop_words") >= 2)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("dup_line_frac") <= 0.3)
        & (F.col("dup_para_frac") <= 0.3)
        & (F.col("dup_line_char_frac") <= 0.2)
        & (F.col("dup_para_char_frac") <= 0.2)
    )
    return out.withColumn("keep", keep)


def sql_gopher_quality(source: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`gopher_quality` — identical signals and
    thresholds on identical integer numerators/denominators."""
    t = f"replace({text_col}, chr(13), '')"
    words = f"list_filter(string_split_regex(trim({t}), '\\s+'), x -> x <> '')"
    bullets = " OR ".join(
        f"starts_with(x, '{b}')" for b in GOPHER_BULLETS
    )
    stops_list = ", ".join(f"'{s}'" for s in GOPHER_STOP_WORDS)
    stops = f"len(list_intersect(lw, [{stops_list}]))"
    return f"""
    WITH base AS (
      SELECT {id_col},
             {t} AS t,
             {words} AS w,
             list_transform(
               list_filter(string_split({t}, chr(10)),
                           x -> len(trim(x)) > 0), x -> trim(x)) AS ls,
             list_transform(
               list_filter(string_split_regex({t}, '\\n{{2,}}'),
                           x -> len(trim(x)) > 0), x -> trim(x)) AS ps
      FROM {source}
    ), sig AS (
      SELECT {id_col},
        len(w) AS n_words,
        coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS wc,
        (len(t) - len(replace(t, '#', ''))) AS n_hash,
        CAST((len(t) - len(replace(t, '...', ''))) / 3
             + (len(t) - len(replace(t, chr(8230), ''))) AS BIGINT) AS n_ell,
        len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        list_transform(w, x -> lower(x)) AS lw,
        len(ls) AS n_lines,
        len(list_filter(ls, x -> {bullets})) AS n_bullet,
        len(list_filter(ls, x -> ends_with(x, '...')
                              OR ends_with(x, chr(8230)))) AS n_ell_line,
        len(list_distinct(ls)) AS n_dl,
        coalesce(list_sum(list_transform(ls, x -> len(x))), 0) AS lc,
        coalesce(list_sum(list_transform(list_distinct(ls),
                                         x -> len(x))), 0) AS dlc,
        len(ps) AS n_para,
        len(list_distinct(ps)) AS n_dp,
        coalesce(list_sum(list_transform(ps, x -> len(x))), 0) AS pc,
        coalesce(list_sum(list_transform(list_distinct(ps),
                                         x -> len(x))), 0) AS dpc
      FROM base
    ), frac AS (
      SELECT {id_col},
        CAST(n_words AS BIGINT) AS n_words,
        CASE WHEN n_words > 0 THEN wc / CAST(n_words AS DOUBLE)
             ELSE 0.0 END AS mean_word_len,
        CASE WHEN n_words > 0 THEN n_hash / CAST(n_words AS DOUBLE)
             ELSE 0.0 END AS hash_word_ratio,
        CASE WHEN n_words > 0 THEN n_ell / CAST(n_words AS DOUBLE)
             ELSE 0.0 END AS ellipsis_word_ratio,
        CASE WHEN n_words > 0 THEN n_alpha / CAST(n_words AS DOUBLE)
             ELSE 0.0 END AS alpha_word_frac,
        CAST(({stops}) AS BIGINT) AS n_stop_words,
        CASE WHEN n_lines > 0 THEN n_bullet / CAST(n_lines AS DOUBLE)
             ELSE 0.0 END AS bullet_line_frac,
        CASE WHEN n_lines > 0 THEN n_ell_line / CAST(n_lines AS DOUBLE)
             ELSE 0.0 END AS ellipsis_line_frac,
        CASE WHEN n_lines > 0 THEN (n_lines - n_dl) / CAST(n_lines AS DOUBLE)
             ELSE 0.0 END AS dup_line_frac,
        CASE WHEN lc > 0 THEN (lc - dlc) / CAST(lc AS DOUBLE)
             ELSE 0.0 END AS dup_line_char_frac,
        CASE WHEN n_para > 0 THEN (n_para - n_dp) / CAST(n_para AS DOUBLE)
             ELSE 0.0 END AS dup_para_frac,
        CASE WHEN pc > 0 THEN (pc - dpc) / CAST(pc AS DOUBLE)
             ELSE 0.0 END AS dup_para_char_frac
      FROM sig
    )
    SELECT *,
      (n_words BETWEEN 50 AND 100000
       AND mean_word_len BETWEEN 3.0 AND 10.0
       AND hash_word_ratio <= 0.1
       AND ellipsis_word_ratio <= 0.1
       AND alpha_word_frac >= 0.8
       AND n_stop_words >= 2
       AND bullet_line_frac <= 0.9
       AND ellipsis_line_frac <= 0.3
       AND dup_line_frac <= 0.3
       AND dup_para_frac <= 0.3
       AND dup_line_char_frac <= 0.2
       AND dup_para_char_frac <= 0.2) AS keep
    FROM frac
    """


def gopher_ngram_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ns: tuple[int, ...] = (2, 3, 4, 5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """Gopher word-n-gram repetition signals (Rae et al. 2021 App. A):
    per (document, n): ``top_ngram_char_frac`` — the largest
    count×len(gram) mass any single n-gram holds — and
    ``dup_ngram_char_frac`` — the mass held by n-grams occurring ≥ 2
    times — both over total n-gram character mass. The paper thresholds
    top at n∈{2,3,4} (0.20/0.18/0.16) and dup at n∈{5..10}
    (0.15…0.10); this emits the raw fractions for every requested n so
    callers pick their own cut.

    Char mass = Σ count(g)·len(g) (a mergeable exact statistic); this
    deliberately over-counts overlapping occurrences vs the
    position-coverage variant — documented contract, mirrored exactly
    by the DuckDB twin (:func:`sql_gopher_ngram_stats`).

    Scale shape: ONE scan builds every (n, gram) pair as an array
    higher-order expression (no per-n rescans), then exactly two
    map-side-combinable shuffles — groupBy(id, n, gram) count and
    groupBy(id, n) fold. Keys are (doc, gram)-fine so there is no skew;
    no Python in the plan (pinned, test_plans_r5.py). Docs with < n
    words produce no (doc, n) row.
    """
    t = F.regexp_replace(F.col(text_col), "\r", "")
    words = F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != "")

    def _pairs_for(n: int):
        sz = F.size(F.col("_ws"))
        idx = F.when(
            sz >= n, F.sequence(F.lit(1), sz - F.lit(n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.array_join(
                    F.slice(F.col("_ws"), i, n), " "
                ).alias("g"),
            ),
        )

    pairs = df.select(F.col(id_col), words.alias("_ws")).select(
        F.col(id_col),
        F.explode(
            F.flatten(F.array(*[_pairs_for(n) for n in ns]))
        ).alias("_p"),
    )
    cnt = (
        pairs.select(
            id_col, F.col("_p.n").alias("n"), F.col("_p.g").alias("g")
        )
        .groupBy(id_col, "n", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mass = (F.col("c") * F.length("g")).cast("long")
    return (
        cnt.groupBy(id_col, "n")
        .agg(
            F.max(mass).alias("_top"),
            F.sum(mass).alias("_tot"),
            F.coalesce(
                F.sum(F.when(F.col("c") >= 2, mass)), F.lit(0)
            ).alias("_dup"),
        )
        .select(
            id_col,
            F.col("n").cast("int").alias("n"),
            (F.col("_top") / F.col("_tot").cast("double")).alias(
                "top_ngram_char_frac"
            ),
            (F.col("_dup") / F.col("_tot").cast("double")).alias(
                "dup_ngram_char_frac"
            ),
        )
    )


def sql_gopher_ngram_stats(
    source: str,
    id_col: str,
    text_col: str,
    ns: tuple[int, ...] = (2, 3, 4, 5, 6, 7, 8, 9, 10),
) -> str:
    """DuckDB twin of :func:`gopher_ngram_stats` (identical n-gram
    construction, counts, and char-mass fractions)."""
    t = f"replace({text_col}, chr(13), '')"
    words = f"list_filter(string_split_regex(trim({t}), '\\s+'), x -> x <> '')"
    ns_list = ", ".join(str(n) for n in ns)
    return f"""
    WITH w AS (SELECT {id_col}, {words} AS ws FROM {source}),
    pairs AS (
      SELECT {id_col}, nn.n AS n,
             unnest(list_transform(
               generate_series(1, len(ws) - nn.n + 1),
               i -> array_to_string(ws[i:i + nn.n - 1], ' '))) AS g
      FROM w, (SELECT unnest([{ns_list}]) AS n) nn
      WHERE len(ws) >= nn.n
    ),
    cnt AS (
      SELECT {id_col}, n, g, count(*) AS c
      FROM pairs GROUP BY 1, 2, 3
    )
    SELECT {id_col}, CAST(n AS INT) AS n,
           max(c * len(g)) / CAST(sum(c * len(g)) AS DOUBLE)
             AS top_ngram_char_frac,
           coalesce(sum(CASE WHEN c >= 2 THEN c * len(g) END), 0)
             / CAST(sum(c * len(g)) AS DOUBLE) AS dup_ngram_char_frac
    FROM cnt GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# DSIR importance scoring (SURVEY §2 op 112)
# ---------------------------------------------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023; PAPERS.md):
# score every raw document by the log importance ratio of two hashed
# n-gram bag models — one fitted on the TARGET distribution (the data you
# want more of), one on the RAW pool — then resample proportionally. The
# engine-deterministic instance follows the lm/nb protocol exactly: fits
# are bounded integer aggregations, per-bucket log-probs are computed
# driver-side and rounded so both engines only SUM identical doubles,
# and scoring is a zero-shuffle literal-array fold in the scan stage.

_DSIR_SEP = "\x1f"  # the lm2 pair separator — same portable hashing


def _dsir_feats(vt: Column, n_buckets: int) -> Column:
    """Hashed uni+bigram bucket array for a STAGED token-array column."""
    uni = F.transform(vt, lambda t: F.pmod(H.poly_hash(t), F.lit(n_buckets)))
    bi = F.when(
        F.size(vt) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(vt) - 1),
            lambda i: F.pmod(
                H.poly_hash(
                    F.concat(
                        F.element_at(vt, i),
                        F.lit(_DSIR_SEP),
                        F.element_at(vt, i + 1),
                    )
                ),
                F.lit(n_buckets),
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return F.concat(uni, bi)


def dsir_fit(df: DataFrame, text_col: str, n_buckets: int = 1024) -> list[float]:
    """Per-bucket add-one-smoothed log-probs of the hashed uni+bigram
    features — the bounded model one ``dsir_logratio`` side needs. ONE
    map-side-combinable shuffle over ≤ n_buckets keys; collects
    n_buckets integers; log() runs driver-side only (rounded to 9
    decimals → engine-identical literals, the lm protocol)."""
    import math

    staged = df.select(tokens(F.col(text_col)).alias("_vt"))
    counts = (
        staged.select(
            F.explode(_dsir_feats(F.col("_vt"), n_buckets)).alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    c = [0] * n_buckets
    for r in counts:
        c[r["b"]] = r["n"]
    total = sum(c) + n_buckets
    return [round(math.log((x + 1) / total), 9) for x in c]


def dsir_logratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_logp: list[float],
    raw_logp: list[float],
) -> DataFrame:
    """(id, n_feats, dsir_logratio) — the mean per-feature log importance
    ratio log p_target(b) − p_raw(b), rounded to 6 decimals; docs with no
    features score NULL. The per-bucket DELTA is precomputed driver-side
    (each term rounded to 9), so the engines share every literal and the
    only in-engine float op is the left-to-right sum — exact DuckDB
    parity (:func:`sql_dsir_logratio`). Zero shuffle: staged token array
    → feature buckets → one literal-array fold, all in the scan stage
    (pinned, test_plans_r5.py). Compose with
    :func:`~dwca_parquet_spark.operators.sampling.weighted_sample` for
    the resampling step (weight ∝ a capped exp of the score)."""
    if len(target_logp) != len(raw_logp):
        raise ValueError("models must share n_buckets")
    delta = [round(t - r, 9) for t, r in zip(target_logp, raw_logp)]
    nb = len(delta)
    darr = F.array(*[F.lit(x).cast("double") for x in delta])
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_vt"))
    staged = staged.select(
        F.col(id_col), _dsir_feats(F.col("_vt"), nb).alias("_f")
    )
    score = F.round(
        F.aggregate(
            F.col("_f"),
            F.lit(0.0),
            lambda a, b: a + F.element_at(darr, (b + 1).cast("int")),
        )
        / F.size("_f"),
        6,
    )
    return staged.select(
        F.col(id_col),
        F.size("_f").cast("long").alias("n_feats"),
        F.when(F.size("_f") > 0, score).alias("dsir_logratio"),
    )


def sql_dsir_logratio(
    id_expr: str,
    text_expr: str,
    target_logp: list[float],
    raw_logp: list[float],
    source: str = "documents",
) -> str:
    """DuckDB twin of :func:`dsir_logratio` — identical hashing, bucket
    deltas, fold order, and rounding."""
    delta = [round(t - r, 9) for t, r in zip(target_logp, raw_logp)]
    nb = len(delta)
    vals = ", ".join(f"CAST({x!r} AS DOUBLE)" for x in delta)
    norm = H.sql_normalize_text(text_expr)
    toks = (
        f"CASE WHEN length({norm}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex({norm}, '\\s+') END"
    )
    uni = f"list_transform(vt, t -> ({H.sql_poly_hash('t')}) % {nb})"
    # the outer loop var must not be `i`: sql_poly_hash's own inner
    # comprehension binds `i`, and DuckDB scoping would shadow ours
    pair = "vt[j] || chr(31) || vt[j + 1]"
    bi = (
        f"CASE WHEN len(vt) >= 2 THEN "
        f"[({H.sql_poly_hash(pair)}) % {nb} "
        f"for j in range(1, len(vt))] "
        f"ELSE CAST([] AS BIGINT[]) END"
    )
    return f"""
    WITH t AS (SELECT {id_expr} AS id, {toks} AS vt FROM {source}),
    f AS (SELECT id, list_concat({uni}, {bi}) AS fs FROM t)
    SELECT id AS {id_expr},
           CAST(len(fs) AS BIGINT) AS n_feats,
           CASE WHEN len(fs) > 0 THEN
               round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                         [([{vals}])[b + 1] for b in fs]),
                     (a, b) -> a + b) / len(fs), 6)
           END AS dsir_logratio
    FROM f
    """


# ---------------------------------------------------------------------------
# Statistical quality signals (SURVEY §2 op 116): compression ratio +
# exact word entropy
# ---------------------------------------------------------------------------


def word_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_words, word_entropy) — the Shannon entropy (nats) of the
    document's own word distribution: H = Σ (c_w/n)·ln(n/c_w). Low
    entropy flags repetitive/template text (keyword stuffing, boiler
    lists) that length/punctuation rules miss; it complements the
    Gopher duplicate-fraction signals with a single scale-free number.

    Exact and ZERO-SHUFFLE: sort the word array once, find each run of
    equal words by its START POSITION (one flat filter over positions),
    difference consecutive starts into run lengths, and fold the
    entropy terms over that runs array — O(d log d) per row, replacing
    the original O(n·d) per-distinct rescan that burned quadratic CPU
    on long documents. All stages are STAGED as real columns
    (projection per stage): an inlined array_sort inside a lambda is
    re-evaluated once per ELEMENT (measured 54 s vs 0.8 s at sf0.1 —
    the same CollapseProject hazard :func:`repetition_ratio`'s staging
    comment documents). A struct-accumulator run fold was also measured
    (3.1 s): per-element struct allocation costs ~4× the flat-position
    plan. No explode, no groupBy, no Python. Terms are summed in
    ascending word order and the DuckDB twin (:func:`sql_word_entropy`)
    left-folds the identical terms in the identical order, so the
    operator is differentially gated like the other doc-signal ops
    (same rounding protocol: round(…, 6) in both engines). '' → 0
    words, entropy 0.
    """
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: F.length(x) > 0
    )
    # words staged alone first: size() and array_sort() in one projection
    # would each re-run the split+filter (two regex passes per row)
    staged = df.select(F.col(id_col), words.alias("_w")).select(
        F.col(id_col),
        F.size(F.col("_w")).alias("_n"),
        F.array_sort(F.col("_w")).alias("_s"),
    )
    n = F.col("_n")
    nd = n.cast("double")
    s = F.col("_s")
    idx = F.sequence(F.lit(1), F.greatest(n, F.lit(1)))
    run_starts = F.filter(
        idx, lambda i: (i == 1) | (F.element_at(s, i) != F.element_at(s, i - 1))
    )
    st = staged.select(id_col, "_n", run_starts.alias("_starts"))
    # run lengths = next start − this start (a sentinel n+1 closes the last)
    ends = F.concat(
        F.slice(
            F.col("_starts"), 2, F.greatest(F.size(F.col("_starts")) - 1, F.lit(0))
        ),
        F.array(n + 1),
    )
    lens = F.zip_with(F.col("_starts"), ends, lambda a, b: b - a)
    nd2 = F.col("_n").cast("double")
    ent = F.aggregate(
        lens,
        F.lit(0.0),
        lambda acc, c: acc + (c.cast("double") / nd2) * F.log(nd2 / c),
    )
    return st.select(
        F.col(id_col),
        F.col("_n").cast("long").alias("n_words"),
        F.round(
            F.when(F.col("_n") <= 1, F.lit(0.0)).otherwise(ent), 6
        ).alias("word_entropy"),
    )


def sql_word_entropy(source: str, id_col: str, text_col: str) -> str:
    """DuckDB twin of :func:`word_entropy` — identical split, identical
    per-word terms summed in the identical ascending word order (the
    Spark side folds sorted runs, so both engines left-fold the same
    term sequence), identical rounding."""
    ws = (
        f"list_filter(string_split_regex(trim({text_col}), '\\s+'),"
        " x -> len(x) > 0)"
    )
    return f"""
    WITH w AS (SELECT {id_col}, {ws} AS ws FROM {source})
    SELECT {id_col},
           CAST(len(ws) AS BIGINT) AS n_words,
           round(CASE WHEN ws IS NULL THEN NULL
                      WHEN len(ws) <= 1 THEN 0.0 ELSE
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(list_sort(list_distinct(ws)),
                   w -> (CAST(len(list_filter(ws, x -> x = w)) AS DOUBLE)
                         / len(ws))
                        * ln(CAST(len(ws) AS DOUBLE)
                             / len(list_filter(ws, x -> x = w))))),
               (a, b) -> a + b) END, 6) AS word_entropy
    FROM w
    """


def _zlib_len_udf():
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _zlen(texts: pd.Series) -> pd.Series:
        import zlib

        def z(t):
            if t is None:
                return None
            return len(zlib.compress(t.encode("utf-8"), 6))

        return texts.map(z)

    return _zlen


def compression_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, utf8_len, zlib_len, zlib_ratio) — the RedPajama-v2 /
    CCNet-family quality signal: zlib-compressed size over raw UTF-8
    size. Highly repetitive or templated text compresses far below
    natural prose (ratio ≲ 0.3 is the usual suspicion band; pure
    natural text sits ~0.4-0.7), and the signal is tokenizer-free.

    Arrow-batched pandas UDF (zlib is data-dependent byte work — no SQL
    engine exposes it, so the gate is an independent same-contract
    reference plus determinism/edge cases rather than a DuckDB twin;
    the zlib FORMAT is deterministic for a fixed level, and the level
    is pinned at 6 so results reproduce across platforms). NULL text →
    NULL lengths; '' → (0, len(zlib('')) , NULL ratio).

    Zero shuffle; pipelines with whatever projection precedes it.
    """
    raw_len = F.length(F.encode(F.col(text_col), "utf-8")).cast("long")
    out = df.select(
        F.col(id_col),
        raw_len.alias("utf8_len"),
        _zlib_len_udf()(F.col(text_col)).alias("zlib_len"),
    )
    return out.withColumn(
        "zlib_ratio",
        F.when(
            F.col("utf8_len") > 0,
            F.round(
                F.col("zlib_len").cast("double") / F.col("utf8_len"), 6
            ),
        ),
    )


# ---------------------------------------------------------------------------
# Trained language identification (hashed char-n-gram NB — SURVEY §2.G op 153)
# ---------------------------------------------------------------------------
# The fastText-shape LID every multilingual corpus pass gates on (CCNet /
# RedPajama run fastText lid.176; langid.py and Cavnar-Trenkle are the same
# family): a LINEAR model over hashed character-n-gram features. The
# engine-deterministic instance here is multinomial Naive Bayes over k-gram
# rolling-hash buckets — same hashing-trick feature space as fastText, fit by
# two exact integer aggregations (the nb_fit discipline: bounded collect,
# driver-rounded literal weights, zero-shuffle literal-fold scoring).
#
# Why this exists next to language_id (q26): the stopword vote abstains (or
# guesses by priority order) on short/noisy documents that contain no
# stopword at all, while char-n-grams see EVERY character — the reason
# production LID is a trained character model, not a word list
# (test_lid.py::test_lid_beats_stopword_heuristic_on_short_docs measures the
# gap on a held-out split). NOTE (measured, round 10): the driver fixture's
# `lang` column is label noise — per-lang token distributions are uniform
# (top-token rates all ~0.034 across langs at sf0.1) — so accuracy gates run
# on a constructed labeled corpus in pytest; the driver gate (q78) pins
# cross-engine fit+score parity, the q26 precedent.


def _lid_bucket_array(codes: Column, k: int, buckets: int) -> Column:
    """Position-ordered (NOT distinct — multinomial counts need
    multiplicity) char-k-gram rolling-hash buckets from a codepoint
    array. Same stepwise-mod fold as shingle_hashes_from_codes, then
    % buckets (the hashing trick). < k chars → empty array."""

    def at(i: Column) -> Column:
        expr = F.lit(0).cast("long")
        for j in range(k):
            expr = (expr * H.HASH_BASE + F.element_at(codes, i + j)) % H.HASH_MOD
        return expr % buckets

    n = F.size(codes)
    return F.when(n < k, F.array().cast("array<long>")).otherwise(
        F.transform(F.sequence(F.lit(1), n - (k - 1)), at)
    )


def _lid_bucket_counts(
    df: DataFrame, id_col: str, text_col: str, k: int, buckets: int
) -> DataFrame:
    """(id, b, c): per-row char-k-gram bucket COUNTS — the multinomial
    sufficient statistic, ≤ ``buckets`` rows per input row instead of
    one exploded row per character position.

    Arrow-batched mapInPandas for k ≤ 5: normalization stays a JVM
    regex projection; Python sees (id, printable-ASCII text) and
    vectorizes the rolling hash as ONE NumPy expression — for ASCII
    codes and k ≤ 5 the stepwise mod never fires (max intermediate
    127·(31^k−1)/30 < HASH_MOD), so h = Σ c_j·31^(k−1−j) is VALUE-
    identical to the JVM fold — then np.bincount. Spark's higher-order
    array functions run interpreted, and the round-10 profile put ~2×
    of lid's cost in exactly that walk; this is the pHash/zlib
    precedent (Arrow batch when built-ins can't express it
    efficiently), with bit-identical outputs pinned against the HOF
    path in test_lid.py. k > 5 falls back to the exact JVM fold.
    """
    if k > 5:
        staged = (
            df.select(
                F.col(id_col), H.normalize_text(F.col(text_col)).alias("_nt")
            )
            .select(F.col(id_col), H.char_codes(F.col("_nt")).alias("_cd"))
            .select(
                F.col(id_col),
                F.explode(_lid_bucket_array(F.col("_cd"), k, buckets)).alias(
                    "b"
                ),
            )
        )
        return staged.groupBy(id_col, "b").agg(
            F.count(F.lit(1)).alias("c")
        )
    import numpy as np

    staged = df.select(
        F.col(id_col).alias("_id"),
        H.normalize_text(F.col(text_col)).alias("_nt"),
    ).filter(F.col("_nt").isNotNull() & (F.length("_nt") >= k))
    pows = [H.HASH_BASE ** (k - 1 - j) for j in range(k)]

    def gen(batches):
        for pdf in batches:
            ids, bs, cs = [], [], []
            for rid, nt in zip(pdf["_id"], pdf["_nt"]):
                codes = np.frombuffer(
                    nt.encode("ascii"), dtype=np.uint8
                ).astype(np.int64)
                n = len(codes)
                h = np.zeros(n - k + 1, dtype=np.int64)
                for j, p in enumerate(pows):
                    h += codes[j : n - k + 1 + j] * p
                cnt = np.bincount(h % buckets, minlength=0)
                nz = np.nonzero(cnt)[0]
                ids.extend([rid] * len(nz))
                bs.extend(nz.tolist())
                cs.extend(cnt[nz].tolist())
            yield pd.DataFrame({"_id": ids, "b": bs, "c": cs})

    schema = f"_id {dict(staged.dtypes)['_id']}, b long, c long"
    return staged.mapInPandas(gen, schema).withColumnRenamed("_id", id_col)


def lid_fit(
    df: DataFrame,
    text_col: str,
    label_col: str,
    k: int = 3,
    buckets: int = 256,
    alpha: float = 1.0,
) -> dict:
    """Fit the hashed char-k-gram NB language model from labeled rows.

    ONE explode + one map-side-combinable groupBy on (label, bucket) —
    collects ≤ |classes|·buckets count rows plus one doc-count row per
    class (bounded like nb_fit, never data-sized). NULL labels are
    outside the training universe; NULL/short texts contribute no
    n-grams but DO count toward their class prior. Returns a plain-dict
    model (classes sorted asc — the deterministic argmax tie-break
    order everywhere downstream).
    """
    lab = F.col(label_col).cast("string")
    bc = _lid_bucket_counts(
        df.filter(lab.isNotNull()).select(lab.alias("y"), F.col(text_col)),
        "y",
        text_col,
        k,
        buckets,
    )
    cnt_rows = (
        bc.groupBy("y", "b").agg(F.sum("c").alias("n")).collect()
    )
    doc_rows = (
        df.filter(lab.isNotNull())
        .groupBy(lab.alias("y"))
        .agg(F.count(F.lit(1)).alias("d"))
        .collect()
    )
    counts: dict[str, dict[int, int]] = {}
    for r in cnt_rows:
        counts.setdefault(r["y"], {})[int(r["b"])] = int(r["n"])
    docs = {r["y"]: int(r["d"]) for r in doc_rows}
    _check_lid_labels(docs)
    return {
        "k": k,
        "buckets": buckets,
        "alpha": alpha,
        "classes": sorted(docs),
        "counts": counts,
        "totals": {c: sum(counts.get(c, {}).values()) for c in docs},
        "docs": docs,
        "n_docs": sum(docs.values()),
    }


_LID_LABEL_RE = None  # compiled lazily


def _check_lid_labels(classes) -> None:
    """Class labels come straight from corpus data but are interpolated
    into Spark column names (_w_{c}/_s_{c}) and DuckDB string literals
    ('{c}') downstream — a label containing a quote/backtick/dot/space
    breaks column resolution and is an injection surface for the
    generated oracle SQL (ADVICE r10). Restrict to a safe charset; a
    corpus with exotic label values should map them to slugs upstream."""
    global _LID_LABEL_RE
    if _LID_LABEL_RE is None:
        import re

        _LID_LABEL_RE = re.compile(r"^[A-Za-z0-9_-]+$")
    for c in classes:
        if not _LID_LABEL_RE.match(str(c)):
            raise ValueError(
                f"LID class label {c!r} is outside the safe charset "
                "[A-Za-z0-9_-]+ — labels are interpolated into column "
                "names and oracle SQL; slugify them before lid_fit"
            )


def _lid_weights(model: dict) -> tuple[list[str], dict, dict]:
    """Driver-side rounded per-class weights (the only place log runs in
    the literal-twin path — engines then just fold identical doubles):
    w_c[g] = round(ln((cnt+α)/(total_c+α·B)), 9), prior_c =
    round(ln(d_c/N), 9). The add-α denominators mirror
    sql_lid_fit_score's in-SQL fit EXPRESSION-for-expression (divide
    first, one ln, round 9) so the oracle's own ln lands on the same
    doubles — both engines call the platform libm on identical
    arguments (pinned in test_lid.py)."""
    a = model["alpha"]
    b = model["buckets"]
    classes = model["classes"]
    _check_lid_labels(classes)  # models may arrive without lid_fit
    w = {
        c: [
            round(
                math.log(
                    (model["counts"].get(c, {}).get(g, 0) + a)
                    / (model["totals"].get(c, 0) + a * b)
                ),
                9,
            )
            for g in range(b)
        ]
        for c in classes
    }
    pri = {
        c: round(math.log(model["docs"][c] / model["n_docs"]), 9)
        for c in classes
    }
    return classes, w, pri


_LID_DEC = "decimal(18,9)"


def _lid_class_sums_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    buckets: int,
    classes: list[str],
    w: dict,
) -> DataFrame:
    """(id, _w_<class> decimal(28,9)): per-document per-class weight sums,
    computed inside the k ≤ 5 Arrow rolling-hash pass as one exact int64
    ``bincount @ scaled_weights`` matvec per document (see lid_score's
    round-12 note). Docs with NULL/too-short text produce no row — the
    caller's left join + coalesce handles them exactly as before."""
    import numpy as np
    from decimal import Decimal

    # scaled int64 weights parsed from the SAME 9-dp strings the decimal
    # plan casts — identity with the decimal path is by-construction
    wmat = np.array(
        [
            [int(Decimal(f"{w[c][g]:.9f}") * (10**9)) for c in classes]
            for g in range(buckets)
        ],
        dtype=np.int64,
    )
    staged = df.select(
        F.col(id_col).alias("_id"),
        H.normalize_text(F.col(text_col)).alias("_nt"),
    ).filter(F.col("_nt").isNotNull() & (F.length("_nt") >= k))
    pows = [H.HASH_BASE ** (k - 1 - j) for j in range(k)]
    ncls = len(classes)

    def gen(batches):
        for pdf in batches:
            ids, rows = [], []
            for rid, nt in zip(pdf["_id"], pdf["_nt"]):
                codes = np.frombuffer(
                    nt.encode("ascii"), dtype=np.uint8
                ).astype(np.int64)
                n = len(codes)
                h = np.zeros(n - k + 1, dtype=np.int64)
                for j, p in enumerate(pows):
                    h += codes[j : n - k + 1 + j] * p
                cnt = np.bincount(h % buckets, minlength=buckets)
                ids.append(rid)
                rows.append(cnt @ wmat)  # exact int64 per-class sums
            if rows:
                m = np.stack(rows)
            else:
                m = np.zeros((0, ncls), dtype=np.int64)
            yield pd.DataFrame(
                {"_id": ids, **{f"_si_{j}": m[:, j] for j in range(ncls)}}
            )

    schema = ", ".join(
        [f"_id {dict(staged.dtypes)['_id']}"]
        + [f"_si_{j} long" for j in range(ncls)]
    )
    out = staged.mapInPandas(gen, schema)
    # exact de-scaling: decimal(19,0) × decimal(10,9) → decimal(30,9),
    # then the (28,9) narrowing the decimal plan also performed
    descale = F.lit("0.000000001").cast("decimal(10,9)")
    return out.select(
        F.col("_id").alias(id_col),
        *[
            (F.col(f"_si_{j}").cast("decimal(19,0)") * descale)
            .cast("decimal(28,9)")
            .alias(f"_w_{c}")
            for j, c in enumerate(classes)
        ],
    )


def lid_score(
    df: DataFrame, id_col: str, text_col: str, model: dict
) -> DataFrame:
    """Per-document trained LID: (id, lid_lang, lid_score).

    Determinism protocol (the trend_by_group exact-decimal discipline,
    not a float fold): the 9-decimal rounded weights are EXACT
    decimal(18,9) literals, so each class's Σ w_c[bucket] is an
    order-free exact decimal sum — one explode + ONE map-side-
    combinable groupBy(id) with |classes| decimal sums, all codegen
    (Spark's higher-order array folds run interpreted; the round-9
    measurement showed 5 interpreted walks costing ~2× this plan).
    No float enters until the final cast: score = round(prior + Σ, 6)
    in decimal, THEN cast to double — bit-identical across engines
    unconditionally. argmax on the exact decimals, ties to the
    alphabetically first class. NULL text → NULL lang/score;
    empty/short text → bare priors (the corpus-majority class wins,
    deterministically). Weights ride as a BROADCAST (buckets × classes)
    table, not literal arrays — a 1280-literal expression tree costs
    ~4 s of codegen per query (measured round 10) while the 256-row
    broadcast join is free at any scale.
    """
    classes, w, pri = _lid_weights(model)
    zero = F.lit("0").cast(_LID_DEC)
    if model["k"] <= 5:
        # Round-12 optimization (guide §2.3/§2.4): the k ≤ 5 path already
        # runs an Arrow-batched rolling-hash bincount per document
        # (_lid_bucket_counts) — fold the per-class weighted sums into
        # that same pass as ONE int64 (counts @ weights) matvec, so the
        # per-doc (id, Σ-per-class) row is the only thing that leaves
        # Python: the 256-rows/doc bucket-count stream, the broadcast
        # weights join and the |classes| decimal-sum groupBy all
        # disappear (zero Exchange up to the final projection).
        # Exactness is unchanged: the weights are the SAME 9-dp strings
        # the decimal path casts, parsed to scaled int64 (w·1e9), so
        # Σ cnt·w_scaled is the exact decimal Σ scaled by 1e9 (bounded:
        # |w_scaled| < 2e10, Σcnt ≤ doc chars ⇒ |Σ| < 2e10·len ≪ 2⁶³),
        # and the JVM converts back by an exact decimal multiply with
        # 1e-9 before the unchanged round/argmax — bit-identical
        # decimals to the old broadcast-join plan (pinned in
        # test_lid.py against the HOF/decimal path).
        sums = _lid_class_sums_arrow(
            df, id_col, text_col, model["k"], model["buckets"], classes, w
        )
    else:
        spark = df.sparkSession
        b = model["buckets"]
        wrows = [
            tuple([g] + [f"{w[c][g]:.9f}" for c in classes]) for g in range(b)
        ]
        wdf = spark.createDataFrame(
            wrows, ["bucket"] + [f"_wc_{c}" for c in classes]
        ).select(
            F.col("bucket").cast("int"),
            *[F.col(f"_wc_{c}").cast(_LID_DEC) for c in classes],
        )
        # per-doc bucket COUNTS joined to the broadcast weights; Σ w·c is
        # exact decimal — w·c equals w summed c times exactly, so this is
        # value-identical to the per-occurrence fold (the count cast
        # keeps the product inside precision 38 so Spark never reduces
        # the scale)
        bc = _lid_bucket_counts(
            df, id_col, text_col, model["k"], model["buckets"]
        ).join(
            F.broadcast(wdf),
            F.col("b").cast("int") == F.col("bucket"),
            "left",
        )
        cdec = F.col("c").cast("decimal(10,0)")
        # the sum narrows to (28,9) — exact, |Σ| << 10^19 — because a
        # (38,9) operand would push the prior ADDITION past precision 38,
        # where Spark silently drops the scale to 8: a double-rounding
        # that flipped two fixture scores by 1e-6 (caught by the twin)
        waggs = [
            F.sum(F.col(f"_wc_{c}") * cdec)
            .cast("decimal(28,9)")
            .alias(f"_w_{c}")
            for c in classes
        ]
        sums = bc.groupBy(id_col).agg(*waggs)
    # empty/short texts have no bucket rows (bare priors); NULL text →
    # NULL scores — the _nul flag rides a plain scan-stage projection
    base = df.select(
        F.col(id_col),
        H.normalize_text(F.col(text_col)).isNull().alias("_nul"),
    )
    grouped = base.join(sums, id_col, "left")
    score_cols = []
    for c in classes:
        pc = F.lit(f"{pri[c]:.9f}").cast(_LID_DEC)
        score_cols.append(
            F.when(
                ~F.col("_nul"),
                F.round(pc + F.coalesce(F.col(f"_w_{c}"), zero), 6),
            ).alias(f"_s_{c}")
        )
    scored = grouped.select(F.col(id_col), *score_cols)
    svals = [F.col(f"_s_{c}") for c in classes]
    best = svals[0] if len(classes) == 1 else F.greatest(*svals)
    pred = None
    for c in classes:
        cond = F.col(f"_s_{c}") == best
        pred = F.when(cond, F.lit(c)) if pred is None else pred.when(
            cond, F.lit(c)
        )
    return scored.select(
        F.col(id_col),
        pred.alias("lid_lang"),
        best.cast("double").alias("lid_score"),
    )


def _sql_lid_buckets(k: int, buckets: int) -> str:
    """DuckDB bucket-list expression over a codepoint list ``cd`` —
    the twin of :func:`_lid_bucket_array` (same stepwise-mod fold)."""
    sh = "CAST(0 AS BIGINT)"
    for j in range(k):
        sh = f"(({sh}) * {H.HASH_BASE} + cd[i + {j}]) % {H.HASH_MOD}"
    return (
        f"CASE WHEN len(cd) < {k} THEN CAST([] AS BIGINT[]) "
        f"ELSE [(({sh}) % {buckets}) "
        f"for i in range(1, len(cd) - {k - 1} + 1)] END"
    )


_SQL_CODES = (
    "CASE WHEN nt IS NULL THEN NULL ELSE "
    "[CAST(ord(substr(nt, i, 1)) AS BIGINT) "
    "for i in range(1, length(nt) + 1)] END"
)


def sql_lid_score(
    id_expr: str, text_expr: str, model: dict, source: str = "documents"
) -> str:
    """DuckDB literal-weights twin of :func:`lid_score` — the identical
    driver-rounded DECIMAL(18,9) literals summed by the same order-free
    exact-decimal aggregation (unnest + per-class sum), rounded in
    decimal, cast to double, same argmax/tie-break."""
    classes, w, pri = _lid_weights(model)
    bs = _sql_lid_buckets(model["k"], model["buckets"])
    dec = "DECIMAL(18,9)"
    sums = []
    scores = []
    for c in classes:
        wl = (
            "["
            + ", ".join(f"CAST('{x:.9f}' AS {dec})" for x in w[c])
            + "]"
        )
        sums.append(f"sum({wl}[b + 1]) AS _w_{c}")
        scores.append(
            f"CASE WHEN b0.bs IS NULL THEN NULL ELSE "
            f"CAST(round(CAST('{pri[c]:.9f}' AS {dec})"
            f" + coalesce(_w_{c}, CAST('0' AS {dec})), 6) AS DOUBLE)"
            f" END AS _s_{c}"
        )
    g = "greatest(" + ", ".join(f"_s_{c}" for c in classes) + ")"
    pick = " ".join(f"WHEN _s_{c} = {g} THEN '{c}'" for c in classes)
    return f"""
    WITH n0 AS (SELECT {id_expr} AS id, {H.sql_normalize_text(text_expr)} AS nt
                FROM {source}),
    c0 AS (SELECT id, {_SQL_CODES} AS cd FROM n0),
    b0 AS (SELECT id, {bs} AS bs FROM c0),
    brow AS (SELECT id, unnest(bs) AS b FROM b0),
    persum AS (SELECT id, {', '.join(sums)} FROM brow GROUP BY id),
    s0 AS (SELECT b0.id, {', '.join(scores)}
           FROM b0 LEFT JOIN persum USING (id))
    SELECT id AS {id_expr},
           CASE {pick} END AS lid_lang,
           {g} AS lid_score
    FROM s0
    """


def sql_lid_fit_score(
    source: str,
    id_expr: str,
    text_expr: str,
    label_expr: str,
    k: int = 3,
    buckets: int = 256,
    alpha: float = 1.0,
) -> str:
    """The FULL fit+score as one DuckDB statement — the q78 driver
    oracle. The fit mirrors lid_fit's exact integer counts; the weight
    expression round(ln((n+α)/(t+α·B)), 9) evaluates the identical
    doubles as _lid_weights (exact-int numerator/denominator →
    correctly-rounded division → one libm ln → round 9 — argument-
    identical on both engines, equality pinned in test_lid.py), then
    locks to DECIMAL(18,9) so everything downstream — the per-doc
    per-class Σw (a plain order-free decimal aggregation), + prior,
    round 6 — is exact decimal arithmetic identical to lid_score's.
    argmax via row_number (score DESC, class ASC) ≡ the Spark
    greatest/when-chain on the same exact values; all-NULL scores
    (NULL text) surface NULL."""
    a = repr(float(alpha))
    dec = "DECIMAL(18,9)"
    bs = _sql_lid_buckets(k, buckets)
    return f"""
    WITH d0 AS (SELECT {id_expr} AS id, CAST({label_expr} AS VARCHAR) AS y,
                       {H.sql_normalize_text(text_expr)} AS nt
                FROM {source}),
    c0 AS (SELECT id, y, {_SQL_CODES} AS cd FROM d0),
    b0 AS (SELECT id, y, {bs} AS bs FROM c0),
    pairs AS (SELECT y, unnest(bs) AS b FROM b0 WHERE y IS NOT NULL),
    cnt AS (SELECT y, b, count(*) AS n FROM pairs GROUP BY 1, 2),
    tots AS (SELECT y, CAST(sum(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
    docs AS (SELECT y, count(*) AS d FROM d0 WHERE y IS NOT NULL GROUP BY 1),
    nd AS (SELECT CAST(sum(d) AS BIGINT) AS n FROM docs),
    grid AS (SELECT docs.y, gb.b
             FROM docs CROSS JOIN (SELECT unnest(range(0, {buckets})) AS b) gb),
    wts AS (SELECT g.y, g.b,
                   CAST(round(ln((coalesce(c.n, 0) + {a})
                                 / (coalesce(t.t, 0) + {a} * {buckets})), 9)
                        AS {dec}) AS w
            FROM grid g
            LEFT JOIN cnt c ON c.y = g.y AND c.b = g.b
            LEFT JOIN tots t ON t.y = g.y),
    pri AS (SELECT docs.y, CAST(round(ln(docs.d / nd.n), 9) AS {dec}) AS p
            FROM docs CROSS JOIN nd),
    brow AS (SELECT id, unnest(bs) AS b FROM b0),
    persum AS (SELECT br.id, w.y, sum(w.w) AS sw
               FROM brow br JOIN wts w ON w.b = br.b
               GROUP BY 1, 2),
    base AS (SELECT b0.id, docs.y, b0.bs IS NULL AS nul
             FROM b0 CROSS JOIN docs),
    scored AS (SELECT ba.id, ba.y,
                      CASE WHEN ba.nul THEN NULL
                           ELSE CAST(round(p.p + coalesce(ps.sw,
                                         CAST('0' AS {dec})), 6) AS DOUBLE)
                      END AS s
               FROM base ba
               JOIN pri p ON p.y = ba.y
               LEFT JOIN persum ps ON ps.id = ba.id AND ps.y = ba.y)
    SELECT id AS {id_expr},
           CASE WHEN s IS NULL THEN NULL ELSE y END AS lid_lang,
           s AS lid_score
    FROM (SELECT id, y, s, row_number() OVER (
              PARTITION BY id ORDER BY s DESC, y ASC) AS rn
          FROM scored)
    WHERE rn = 1
    """
