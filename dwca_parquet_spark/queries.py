"""Declared query inventory + DuckDB oracle SQL (the t2 contract).

Each entry pairs a PySpark query (a callable ``(spark, sf_dir) -> DataFrame``)
with ANSI SQL that DuckDB runs over the same parquet tables. The driver
compares row count + schema + order-insensitive value hash, so every pair
follows the determinism protocol:

- identical column names (everything aliased on both sides);
- money/qty aggregates via exact decimal(18,2) sums surfaced as DOUBLE;
- averages = decimal_sum / count divided in DOUBLE (never engine avg());
- float similarity scores folded in identical order then rounded;
- hashes from the engine-portable polynomial family (functions/hashing.py);
- timestamps surfaced as formatted strings or unix micros, never raw;
- window orderings always carry a unique tie-break key.

Coverage maps to SURVEY.md §2.G: ops 1-13 (relational core generalizing the
reference's star-join query, ``/root/reference/src/dwca_parquet/templates/
query.sql:1-5``), 16-18 (dedup / similarity / text), 19 (multimodal binary),
20 (event windows). The DwC-A pipeline itself (ops 14-15) is exercised by
``plans/flatten.py`` + tests/test_dwca.py since its inputs are archives, not
the fixture tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dwca_parquet_spark.cache import release_caches
from dwca_parquet_spark.functions import hashing as H
from dwca_parquet_spark.operators import dedup as D
from dwca_parquet_spark.operators import events as E
from dwca_parquet_spark.operators import multimodal as M
from dwca_parquet_spark.operators import relational as R
from dwca_parquet_spark.operators import sampling as SMP
from dwca_parquet_spark.operators import similarity as S
from dwca_parquet_spark.operators import text as T

QueryFn = Callable[[SparkSession, str], DataFrame]

# SEQUENCING CONTRACT: each registered query, when built, first releases the
# tracked caches of the PREVIOUS query (see the `query` decorator).  Callers
# must therefore MATERIALIZE each query's DataFrame before building the next
# one (build q_a → collect q_a → build q_b …), which is exactly how the
# correctness driver, bench.py, perfbench/query_mix.py,
# tools/driver_check.py and tools/plan_audit.py all run.  A caller that
# interleaved builds (build q_a, build q_b, collect q_a) would have q_b's
# build unpersist q_a's tracked shingle/bucket tables, silently reinstating
# the pathological lazy recomputation cache.py documents (~552 s at sf0.1
# for q31).

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

EMB_DIM = 64


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The fixture events.parquet stores ts as parquet TIMESTAMP(NANOS), which
    # Spark rejects by default (PARQUET_TYPE_ILLEGAL). The queries() contract
    # runs under a driver-supplied session, so set the runtime-settable legacy
    # conf here rather than relying on session.py's builder config; the column
    # then surfaces as BIGINT nanoseconds, which ts_micros() handles.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def query(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # A session owner that evaluates queries sequentially (the
            # correctness driver runs 50 in one session) may never call
            # cache.release_caches() itself; releasing the PREVIOUS
            # queries' tracked persists here bounds cache accumulation to
            # one query's intermediates (the sequencing contract above).
            release_caches()
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --- shared oracle SQL fragments (same constants as the Spark side) --------

def _osum(expr: str) -> str:
    """Exact decimal sum → DOUBLE (mirror of operators.relational.dec_sum)."""
    return f"CAST(sum(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE)"


_DISC = "(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))"
_CHARGE = f"(CAST({_DISC} AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2))))"
_NORM_TEXT = H.sql_normalize_text("text")
_TOKENS = f"string_split_regex({_NORM_TEXT}, '\\s+')"


# ===========================================================================
# Relational core (SURVEY §2.G ops 1-13)
# ===========================================================================


@query(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_osum('l_quantity')} AS sum_qty,
           {_osum('l_extendedprice')} AS sum_base_price,
           CAST(sum({_DISC}) AS DOUBLE) AS sum_disc_price,
           CAST(sum({_CHARGE}) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter → groupBy → multi-aggregate. The filter pushes
    into the parquet scan; aggregation map-side combines before one shuffle
    on (returnflag, linestatus)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            R.dec_sum("l_quantity").alias("sum_qty"),
            R.dec_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(R.disc_price()).cast("double").alias("sum_disc_price"),
            F.sum(R.charge()).cast("double").alias("sum_charge"),
            R.dec_avg("l_quantity").alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q02_filter_project",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
      AND o_totalprice BETWEEN 1000 AND 200000
      AND o_orderpriority LIKE '1%'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_custkey IS NOT NULL
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate closure: IN / BETWEEN / LIKE / comparison / null-test, all
    pushable — .explain shows them in PushedFilters on the parquet scan."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "O")
        & F.col("o_totalprice").between(1000, 200000)
        & F.col("o_orderpriority").like("1%")
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


@query(
    "q03_star_join_revenue",
    f"""
    SELECT r_name, n_name,
           CAST(sum({_DISC}) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q03_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's star shape (query.sql:3-5) generalized: fact ⋈ 4 dims.
    True dimensions broadcast (explicit hints); lineitem⋈orders is
    fact-to-fact so its strategy is left to Catalyst/AQE — broadcast at
    fixture scale, sort-merge on orderkey at 100 TB. The only guaranteed
    shuffle is the final aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(R.disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q04_left_join_agg",
    f"""
    SELECT c_custkey,
           count(o_orderkey) AS order_count,
           {_osum('o_totalprice')} AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q04_left_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with zero orders (count 0,
    spend NULL) — the row-preservation semantics the reference's inner join
    drops (SURVEY §2.A A3 note)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            R.dec_sum("o_totalprice").alias("total_spend"),
        )
    )


@query(
    "q05_semi_anti_join",
    """
    SELECT 'anti' AS kind, c_custkey AS entity_id, c_name AS entity_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'semi' AS kind, s_suppkey AS entity_id, s_name AS entity_name
    FROM supplier
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
    """,
)
def q05_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti + left-semi joins in one tagged result: customers with no
    orders ('anti') and suppliers that appear in lineitem ('semi'). Both
    plan as existence joins — the build side carries only the key, never
    the payload, so at 100 TB the probe is a bloom-filterable key lookup."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.lit("anti").alias("kind"),
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("entity_name"),
    )
    semi = s.join(li, s.s_suppkey == li.l_suppkey, "left_semi").select(
        F.lit("semi").alias("kind"),
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_name").alias("entity_name"),
    )
    return anti.unionAll(semi)


@query(
    "q08_dedup_latest",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)
def q08_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dropDuplicates(subset): latest order per customer under
    an explicit total order (operators.relational.dedup_latest)."""
    o = _t(spark, sf_dir, "orders")
    return R.dedup_latest(
        o, ["o_custkey"], [F.col("o_orderdate").desc(), F.col("o_orderkey").asc()]
    ).select("o_custkey", "o_orderkey", "o_totalprice")


@query(
    "q10_set_ops",
    """
    SELECT n_nationkey AS nationkey, 'no_supplier' AS tag FROM (
        SELECT n_nationkey FROM nation
        EXCEPT
        SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT c_nationkey AS nationkey, 'both' AS tag FROM (
        SELECT c_nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT nationkey, 'any' AS tag FROM (
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey FROM supplier
    )
    """,
)
def q10_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole set-op family in one tagged result: EXCEPT ('no_supplier'),
    INTERSECT ('both'), UNION-distinct ('any'), glued with UNION ALL. Each
    leg is a hash-aggregate/join on the key alone — at scale these are the
    cheapest shuffles there are (key-only rows, map-side combined)."""
    n = _t(spark, sf_dir, "nation").select("n_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_nationkey")
    no_sup = n.subtract(s).select(
        F.col("n_nationkey").alias("nationkey"), F.lit("no_supplier").alias("tag")
    )
    both = (
        c.intersect(s)
        .select(F.col("c_nationkey").alias("nationkey"), F.lit("both").alias("tag"))
    )
    any_ = (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .union(s.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
        .select("nationkey", F.lit("any").alias("tag"))
    )
    return no_sup.unionAll(both).unionAll(any_)


@query(
    "q11_window_funcs",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk,
           running_spend, prev_order, next_order
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER w AS rn,
               rank()       OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate ASC, o_orderkey ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_spend,
               lag(o_orderkey)  OVER wd AS prev_order,
               lead(o_orderkey) OVER wd AS next_order
        FROM orders
        WINDOW w  AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC),
               wd AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC)
    ) WHERE rn <= 3
    """,
)
def q11_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-function family in one pass: rank trio over one ordering,
    running decimal sum with an explicit ROWS frame plus lag/lead over a
    second ordering — both windows share the o_custkey partitioning, so
    Spark shuffles ONCE and only re-sorts between the two specs."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    wd = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    wf = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.sum(F.col("o_totalprice").cast(R.DEC)).over(wf).cast("double").alias(
                "running_spend"
            ),
            F.lag("o_orderkey").over(wd).alias("prev_order"),
            F.lead("o_orderkey").over(wd).alias("next_order"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "q13_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
    """,
)
def q13_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k → TakeOrderedAndProject (partial per-partition top-k,
    merge of k rows — no full sort at any scale)."""
    o = _t(spark, sf_dir, "orders")
    return R.topk(
        o.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        20,
    )


@query(
    "q14_string_date_funcs",
    """
    SELECT o_orderkey,
           upper(o_orderpriority) AS prio_upper,
           lower(o_orderpriority) AS prio_lower,
           substr(o_orderpriority, 1, 1) AS prio_code,
           len(string_split(o_orderpriority, '-')) AS n_parts,
           string_split(o_orderpriority, '-')[1] AS first_part,
           concat_ws('|', o_orderstatus, o_orderpriority) AS status_prio,
           regexp_replace(o_orderpriority, '[aeiou]', '', 'g') AS prio_novowels,
           length(o_orderpriority) AS prio_len,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
           CAST(dayofweek(o_orderdate) AS INTEGER) AS dow_sun0,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INTEGER)
               AS days_to_cutoff
    FROM orders
    """,
)
def q14_string_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-library closure in one projection: string family (case,
    substring, split, concat_ws, regex — SURVEY §2.D D2/D8) and date family
    (parts, trunc, diff). Spark dayofweek is 1=Sunday, DuckDB dow is
    0=Sunday — normalized to Sunday=0 on both sides. Pure scan-stage
    projections, zero shuffle."""
    o = _t(spark, sf_dir, "orders")
    parts = F.split(F.col("o_orderpriority"), "-")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.lower("o_orderpriority").alias("prio_lower"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.size(parts).cast("long").alias("n_parts"),
        F.element_at(parts, 1).alias("first_part"),
        F.concat_ws("|", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.regexp_replace("o_orderpriority", "[aeiou]", "").alias("prio_novowels"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.year(d).alias("order_year"),
        F.month(d).alias("order_month"),
        F.quarter(d).alias("order_quarter"),
        (F.dayofweek(d) - 1).alias("dow_sun0"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.lit("1998-12-31").cast("date"), d.cast("date")).alias(
            "days_to_cutoff"
        ),
    )


@query(
    "q16_json_funcs",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           json_extract_string(props, '$.k') AS k_raw
    FROM events
    """,
)
def q16_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (SURVEY §2.D D11 inverse): get_json_object + typed
    from_json — both produce the same surfaced values."""
    ev = _t(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k BIGINT")
    return ev.select(
        "event_id",
        parsed["k"].alias("k_value"),
        F.get_json_object("props", "$.k").alias("k_raw"),
    )


@query(
    "q17_conditional_agg_having",
    f"""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
           CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           {_osum("CASE WHEN o_orderpriority LIKE '1%' THEN o_totalprice ELSE 0 END")}
               AS urgent_value
    FROM orders GROUP BY o_orderstatus
    HAVING sum(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) > 0
    """,
)
def q17_conditional_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (the pivot building block) + HAVING (a plain
    post-aggregation filter in both engines — evaluated after the single
    map-side-combined shuffle, so it adds no plan cost)."""
    o = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").like("1%")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(urgent, 1).otherwise(0)).alias("n_urgent"),
            F.sum(F.when(F.col("o_totalprice") > 150000, 1).otherwise(0)).alias(
                "n_big"
            ),
            R.dec_sum(
                F.when(urgent, F.col("o_totalprice")).otherwise(F.lit(0))
            ).alias("urgent_value"),
        )
        .filter(F.col("n_urgent") > 0)
    )


@query(
    "q20_array_agg",
    """
    SELECT n_nationkey,
           array_to_string(list(s_name ORDER BY s_name), ',') AS supplier_names,
           count(*) AS n_suppliers
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
)
def q20_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list → sort_array → array_join: deterministic array agg
    surfaced as a string (portable hashing; SURVEY §2.D D7/D8)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias(
                "supplier_names"
            ),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


@query(
    "q21_scalar_subquery",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > (
        SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        FROM orders
    )
    """,
)
def q21_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter: orders above the mean price. The mean is the
    deterministic decimal-sum/count form; Spark side broadcasts the 1-row
    aggregate (cross join) — same plan Catalyst builds for scalar subqueries."""
    o = _t(spark, sf_dir, "orders")
    mean = o.agg(R.dec_avg("o_totalprice").alias("mean_price"))
    return (
        o.crossJoin(F.broadcast(mean))
        .filter(F.col("o_totalprice") > F.col("mean_price"))
        .select("o_orderkey", "o_totalprice")
    )


# ===========================================================================
# Event-table ops (SURVEY §2.G op 20)
# ===========================================================================


@query(
    "q23_event_windows",
    f"""
    SELECT 'tumbling' AS kind, window_start, event_type, n_events, total_value
    FROM (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events,
               {_osum('value')} AS total_value
        FROM events GROUP BY 1, 2
    )
    UNION ALL
    SELECT 'sliding' AS kind, window_start, event_type, n_events, total_value
    FROM (
        WITH ev AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
        expanded AS (
            SELECT event_type, value,
                   (us // 1800000000 - k.k) * 1800000000 AS wstart_us
            FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS k) k
        )
        SELECT strftime(make_timestamp(wstart_us), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type,
               count(*) AS n_events,
               {_osum('value')} AS total_value
        FROM expanded GROUP BY 1, 2
    )
    """,
)
def q23_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed aggregation, both shapes tagged in one result:
    tumbling 1-hour windows ('tumbling') and sliding 1-hour/30-min hop
    windows ('sliding', each event in 2 overlapping windows) — the same
    F.window() transformations streaming/events.py runs under a watermark.
    Each leg is one map-side-combined shuffle; the sliding leg's shuffle
    grows only by the overlap factor."""
    ev = _t(spark, sf_dir, "events")
    tumbling = E.tumbling_agg(ev).select(
        F.lit("tumbling").alias("kind"),
        "window_start",
        "event_type",
        "n_events",
        "total_value",
    )
    sliding = E.sliding_agg(ev).select(
        F.lit("sliding").alias("kind"),
        "window_start",
        "event_type",
        "n_events",
        "total_value",
    )
    return tumbling.unionAll(sliding)


@query(
    "q24_event_sessions",
    """
    WITH flagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)
    ), sessions AS (
        SELECT user_id, event_id, ts_us,
               CAST(sum(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts_us ASC, event_id ASC
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts_us) AS start_us, max(ts_us) AS end_us
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q24_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) via lag + cumulative flag sum."""
    return E.sessionize(_t(spark, sf_dir, "events"))


# ===========================================================================
# Text analysis + dedup (north-star; SURVEY §2.G ops 16/18)
# ===========================================================================


def _text_stats_oracle() -> str:
    # Java regex and RE2 share leftmost-first alternation for the BPE
    # pattern, so match counts agree; inside the SQL string literal the
    # pattern's backslashes double and its apostrophes (contraction tokens)
    # escape by doubling.
    pat = T.BPE_TOKEN_PATTERN.replace("\\", "\\\\").replace("'", "''")
    return f"""
    SELECT doc_id,
           CAST(length({_NORM_TEXT}) AS BIGINT) AS n_chars,
           CAST(len({_TOKENS}) AS BIGINT) AS n_tokens,
           round(CASE WHEN len({_TOKENS}) = 0 THEN 0.0
                 ELSE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                          [CAST(length(t) AS BIGINT) for t in {_TOKENS}]),
                          (a, b) -> a + b) AS DOUBLE)
                      / CAST(len({_TOKENS}) AS DOUBLE) END, 6) AS avg_token_len,
           CAST(len(list_distinct({_TOKENS})) AS BIGINT) AS n_distinct_tokens,
           CAST(len(regexp_extract_all({_NORM_TEXT}, '{pat}')) AS BIGINT)
               AS n_bpe_tokens
    FROM documents
    """


@query("q25_text_stats", _text_stats_oracle())
def q25_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting / char stats / BPE-ish-regex token count (the
    pretraining token-cost estimators) — pure projections, all in the scan
    stage, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return T.text_stats(docs, "doc_id", "text", include_bpe=True)


def _lang_oracle() -> str:
    score_cols = []
    for lang, words in T.LANG_STOPWORDS.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"CAST(len(list_filter({_TOKENS}, t -> list_contains([{inlist}], t))) AS BIGINT)"
            f" AS score_{lang}"
        )
    greatest = "greatest(" + ", ".join(f"score_{lang}" for lang in T.LANG_PRIORITY) + ")"
    cases = " ".join(
        f"WHEN score_{lang} = {greatest} THEN '{lang}'" for lang in T.LANG_PRIORITY
    )
    return f"""
    SELECT doc_id, {', '.join(f'score_{lang}' for lang in T.LANG_PRIORITY)},
           CASE WHEN {greatest} = 0 THEN 'und' {cases} END AS lang_pred
    FROM (SELECT doc_id, {', '.join(score_cols)} FROM documents)
    """


@query("q26_language_id", _lang_oracle())
def q26_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID heuristic with fixed tie-break priority."""
    return T.language_id(_t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "q27_quality_score",
    f"""
    SELECT doc_id,
           round(0.5 * (CAST(least(len({_TOKENS}), 100) AS DOUBLE) / 100.0)
                 + 0.3 * (1.0 - CASE WHEN length({_NORM_TEXT}) = 0 THEN 0.0
                       ELSE CAST(length(regexp_replace({_NORM_TEXT}, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                            / CAST(length({_NORM_TEXT}) AS DOUBLE) END)
                 + 0.2 * (CASE WHEN len({_TOKENS}) = 0 THEN 0.0
                       ELSE CAST(len(list_filter({_TOKENS},
                                t -> list_contains(['the','and','of','to','a'], t))) AS DOUBLE)
                            / CAST(len({_TOKENS}) AS DOUBLE) END), 6) AS quality_score,
           CASE WHEN round(0.5 * (CAST(least(len({_TOKENS}), 100) AS DOUBLE) / 100.0)
                 + 0.3 * (1.0 - CASE WHEN length({_NORM_TEXT}) = 0 THEN 0.0
                       ELSE CAST(length(regexp_replace({_NORM_TEXT}, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                            / CAST(length({_NORM_TEXT}) AS DOUBLE) END)
                 + 0.2 * (CASE WHEN len({_TOKENS}) = 0 THEN 0.0
                       ELSE CAST(len(list_filter({_TOKENS},
                                t -> list_contains(['the','and','of','to','a'], t))) AS DOUBLE)
                            / CAST(len({_TOKENS}) AS DOUBLE) END), 6) >= 0.8 THEN 'high'
                WHEN round(0.5 * (CAST(least(len({_TOKENS}), 100) AS DOUBLE) / 100.0)
                 + 0.3 * (1.0 - CASE WHEN length({_NORM_TEXT}) = 0 THEN 0.0
                       ELSE CAST(length(regexp_replace({_NORM_TEXT}, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                            / CAST(length({_NORM_TEXT}) AS DOUBLE) END)
                 + 0.2 * (CASE WHEN len({_TOKENS}) = 0 THEN 0.0
                       ELSE CAST(len(list_filter({_TOKENS},
                                t -> list_contains(['the','and','of','to','a'], t))) AS DOUBLE)
                            / CAST(len({_TOKENS}) AS DOUBLE) END), 6) >= 0.5 THEN 'medium'
                ELSE 'low' END AS quality_bucket
    FROM documents
    """,
)
def q27_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise-linear document quality composite (length/punct/stopwords)."""
    return T.quality_score(_t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "q28_fingerprints",
    f"""
    SELECT doc_id,
           {H.sql_poly_hash(_NORM_TEXT)} AS full_hash,
           {H.sql_poly_hash(f'substr({_NORM_TEXT}, 1, 64)')} AS prefix_hash,
           CAST(length({_NORM_TEXT}) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q28_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints (exact-dup + blocking keys)."""
    return T.fingerprints(_t(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "q29_dedup_exact",
    f"""
    SELECT {H.sql_poly_hash(_NORM_TEXT)} AS text_hash,
           min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def q29_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text (north-star op 16)."""
    return D.dedup_exact(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _minhash_oracle() -> str:
    sh = H.sql_shingle_hashes(_NORM_TEXT)
    mins = []
    for j in range(H.MINHASH_K):
        a, b = H._minhash_ab(j)
        mins.append(f"min((h * {a} + {b}) % {H.MINHASH_P}) AS mh{j}")
    bands = []
    for band in range(H.MINHASH_BANDS):
        lo = band * H.MINHASH_ROWS_PER_BAND
        expr = "CAST(0 AS BIGINT)"
        for r in range(lo, lo + H.MINHASH_ROWS_PER_BAND):
            expr = f"(({expr}) * {H.HASH_BASE} + mh{r}) % {H.HASH_MOD}"
        bands.append(
            f"SELECT doc_id, {band} AS band, {expr} AS bucket FROM sigs"
        )
    bands_sql = " UNION ALL ".join(bands)
    return f"""
    WITH sh AS (SELECT doc_id, {sh} AS hashes FROM documents),
    ex AS (SELECT doc_id, unnest(hashes) AS h FROM sh),
    sigs AS (SELECT doc_id, {', '.join(mins)} FROM ex GROUP BY doc_id),
    bb AS ({bands_sql}),
    cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM bb l JOIN bb r ON l.band = r.band AND l.bucket = r.bucket
                           AND l.doc_id < r.doc_id
    ),
    verified AS (
        SELECT id_a, id_b,
               round(CAST(len(list_intersect(a.hashes, b.hashes)) AS DOUBLE)
                     / (CAST(len(a.hashes) AS DOUBLE) + CAST(len(b.hashes) AS DOUBLE)
                        - CAST(len(list_intersect(a.hashes, b.hashes)) AS DOUBLE)), 6)
                   AS jaccard
        FROM cand JOIN sh a ON cand.id_a = a.doc_id
                  JOIN sh b ON cand.id_b = b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5
    """


@query("q30_minhash_lsh_pairs", _minhash_oracle())
def q30_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, band-bucket candidates verified by exact
    shingle Jaccard (north-star fuzzy dedup; see operators/dedup.py for the
    shuffle analysis)."""
    return D.minhash_dup_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _simhash_oracle() -> str:
    sh = H.sql_shingle_hashes(_NORM_TEXT)
    votes = ", ".join(
        f"sum(CASE WHEN (h // {2**i}) % 2 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(32)
    )
    fp = " + ".join(f"(CASE WHEN s{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(32))
    return f"""
    WITH sh AS (SELECT doc_id, {sh} AS hashes FROM documents),
    ex AS (SELECT doc_id, unnest(hashes) AS h FROM sh),
    votes AS (SELECT doc_id, {votes} FROM ex GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
    """


@query("q31_simhash", _simhash_oracle())
def q31_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (near-dup bucketing by fingerprint)."""
    return D.simhash_fingerprints(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _ngram_topk_oracle() -> str:
    sh = H.sql_shingle_hashes(_NORM_TEXT)
    return f"""
    WITH sh AS (SELECT doc_id, {sh} AS hashes FROM documents),
    pairs AS (
        SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
               round(CAST(len(list_intersect(q.hashes, c.hashes)) AS DOUBLE)
                     / (CAST(len(q.hashes) AS DOUBLE) + CAST(len(c.hashes) AS DOUBLE)
                        - CAST(len(list_intersect(q.hashes, c.hashes)) AS DOUBLE)), 6)
                   AS jaccard
        FROM sh q JOIN sh c ON q.doc_id != c.doc_id
        WHERE q.doc_id < 50
    )
    SELECT query_id, cand_id, jaccard FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY jaccard DESC, cand_id ASC) AS rn
        FROM pairs
    ) WHERE rn = 1
    """


@query("q32_ngram_jaccard_top1", _ngram_topk_oracle())
def q32_ngram_jaccard_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard nearest neighbor for a bounded query set (the
    exact baseline the LSH path approximates)."""
    return D.ngram_jaccard_topk(
        _t(spark, sf_dir, "documents"), "doc_id", "text", query_ids_below=50, topk=1
    )


# ===========================================================================
# Similarity search over embeddings (north-star; SURVEY §2.G op 17)
# ===========================================================================


@query(
    "q33_knn_bruteforce",
    f"""
    WITH sv AS (SELECT vec_id, {S.sql_scaled_vec('embedding', EMB_DIM)} AS s FROM embeddings)
    SELECT query_id, cand_id, cosine FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               round({S.sql_cosine_scaled('q.s', 'c.s', EMB_DIM)}, 4) AS cosine
        FROM sv q JOIN sv c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 20
    )
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) <= 5
    """,
)
def q33_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for 20 query vectors — broadcast query
    side, streaming candidate scan, deterministic tie-break."""
    return S.knn_bruteforce(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", query_ids_below=20, k=5
    )


@query(
    "q34_embedding_neardup",
    f"""
    WITH sv AS (SELECT vec_id, {S.sql_scaled_vec('embedding', EMB_DIM)} AS s FROM embeddings)
    SELECT id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({S.sql_cosine_scaled('a.s', 'b.s', EMB_DIM)}, 4) AS cosine
        FROM sv a JOIN sv b ON a.vec_id < b.vec_id
    ) WHERE cosine >= 0.9
    """,
)
def q34_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact form; LSH-bucketed
    variant in q35/q36 is the scale path)."""
    return S.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", threshold=0.9
    )


def _ann_lsh_oracle() -> str:
    bits = " + ".join(
        f"(CASE WHEN {S.sql_plane_dot('s', j, EMB_DIM)} > 0 THEN {2**j} ELSE 0 END)"
        for j in range(S.NUM_PLANES)
    )
    return f"""
    WITH sv AS (SELECT vec_id, {S.sql_scaled_vec('embedding', EMB_DIM)} AS s FROM embeddings),
    b AS (SELECT vec_id, CAST({bits} AS BIGINT) AS bucket, s FROM sv),
    pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               round({S.sql_cosine_scaled('q.s', 'c.s', EMB_DIM)}, 4) AS cosine
        FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
    )
    SELECT query_id, cand_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, cand_id ASC) AS rn
        FROM pairs
    ) WHERE rn <= 3
    """


@query("q36_ann_topk_lsh", _ann_lsh_oracle())
def q36_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors via bucket-restricted self-join — the
    Σ|bucket|² candidate bound that replaces n² at 100 TB."""
    return S.ann_topk_lsh(_t(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=3)


@query(
    "q37_centroids",
    """
    SELECT label, pos,
           round(CAST(sum(CAST(round(CAST(embedding[pos] AS DOUBLE) * 1000000, 0) AS BIGINT))
                      AS DOUBLE) / (1000000.0 * count(*)), 6) AS centroid
    FROM embeddings, (SELECT unnest(range(1, 65)) AS pos)
    GROUP BY label, pos
    """,
)
def q37_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of each embedding component. Values are scaled to
    integers (×1e6, rounded) before summing so the reduction is exact and
    order-free on both engines — the multimodal 'aggregate a vector column'
    pattern. posexplode is 0-based; +1 aligns with SQL 1-based positions."""
    e = _t(spark, sf_dir, "embeddings")
    exploded = e.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("val").cast("double") * 1_000_000, 0)
        .cast("long")
        .alias("val_scaled"),
    )
    return exploded.groupBy("label", "pos").agg(
        F.round(
            F.sum("val_scaled").cast("double") / (1_000_000.0 * F.count(F.lit(1))), 6
        ).alias("centroid")
    )


# ===========================================================================
# Multimodal binary plumbing (north-star; SURVEY §2.G op 19)
# ===========================================================================


@query(
    "q38_binary_features",
    f"""
    SELECT doc_id,
           CAST(length({_NORM_TEXT}) AS BIGINT) AS n_bytes,
           {H.sql_byte_sum(_NORM_TEXT)} AS byte_sum
    FROM documents
    """,
)
def q38_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: text → utf-8 payload → Arrow-batched
    mapInPandas feature extraction (deterministic stub where a codec would
    sit). Oracle recomputes byte length + byte-sum from the same normalized
    ASCII text — proving the Pandas-UDF plumbing end-to-end."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", H.normalize_text(F.col("text")).alias("text")
    )
    binary = M.to_binary_table(docs, "doc_id", "text")
    return M.extract_features(binary)


@query(
    "q46_payload_transform",
    f"""
    SELECT doc_id,
           {H.sql_byte_sum(f'substr({_NORM_TEXT}, 1, 256)')} AS byte_sum,
           CAST(least(length({_NORM_TEXT}), 256) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def q46_payload_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload→payload transform plumbing (thumbnail/frame-sample slot):
    mapInPandas truncates each binary payload to 256 bytes, then the
    feature extractor runs over the TRANSFORMED payloads — two chained
    Arrow-batched stages, verified byte-for-byte by an oracle recomputing
    length and byte-sum of the 256-char prefix (ASCII-normalized text, so
    chars == bytes)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", H.normalize_text(F.col("text")).alias("text")
    )
    binary = M.to_binary_table(docs, "doc_id", "text")
    thumbs = M.transform_payload(binary)  # default: truncate to 256 bytes
    return M.extract_features(
        thumbs.select("doc_id", "payload")
    ).select("doc_id", "byte_sum", "n_bytes")


# ===========================================================================
# Join-type closure + sinks (SURVEY §2.G ops 5/12 completions)
# ===========================================================================


@query(
    "q40_full_outer_join",
    """
    SELECT coalesce(c_nationkey, s_nationkey) AS nationkey, n_cust, n_supp
    FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer
          WHERE c_custkey < 300 GROUP BY c_nationkey) cu
    FULL OUTER JOIN
         (SELECT s_nationkey, count(*) AS n_supp FROM supplier
          WHERE s_suppkey < 50 GROUP BY s_nationkey) su
    ON c_nationkey = s_nationkey
    """,
)
def q40_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates with asymmetric key coverage (the
    bounded-key filters guarantee unmatched rows on both sides)."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    cu = (
        c.filter(F.col("c_custkey") < 300)
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    su = (
        s.filter(F.col("s_suppkey") < 50)
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cu.join(su, cu.c_nationkey == su.s_nationkey, "full").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        "n_cust",
        "n_supp",
    )


_BANDS = [("low", 0, 100_000), ("mid", 100_000, 250_000), ("high", 250_000, 600_000)]


@query(
    "q41_range_join",
    f"""
    SELECT band, count(*) AS n_orders, {_osum('o_totalprice')} AS band_value
    FROM orders
    JOIN (VALUES {', '.join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)})
         AS bands(band, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def q41_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range/banded) join: orders against a tiny in-memory band
    table. Spark plans this as a BroadcastNestedLoopJoin with the 3-row
    band side broadcast — the only sane physical strategy for a theta join,
    and exactly right when the non-equi side is small. (A big-big range
    join would instead be rewritten to an equi-join on a bucketized key.)"""
    o = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_BANDS, "band string, lo long, hi long")
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            R.dec_sum("o_totalprice").alias("band_value"),
        )
    )


@query(
    "q42_csv_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q42_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink round-trip (§2.G op 12): write nation as CSV (quoted,
    header, explicit null marker), read it back schema-first, project.
    Oracle reads the original parquet — any write/read lossiness surfaces
    as a hash mismatch."""
    import tempfile
    from pathlib import Path

    from dwca_parquet_spark.sinks.csv import read_csv, write_csv

    n = _t(spark, sf_dir, "nation")
    out = Path(tempfile.gettempdir()) / "dwca_parquet_spark_csv_roundtrip"
    write_csv(n, out)
    return read_csv(spark, out, n.schema).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def _neardup_bucketed_oracle() -> str:
    bits = " + ".join(
        f"(CASE WHEN {S.sql_plane_dot('s', j, EMB_DIM)} > 0 THEN {2**j} ELSE 0 END)"
        for j in range(S.NUM_PLANES)
    )
    return f"""
    WITH sv AS (SELECT vec_id, {S.sql_scaled_vec('embedding', EMB_DIM)} AS s FROM embeddings),
    b AS (SELECT vec_id, CAST({bits} AS BIGINT) AS bucket, s FROM sv)
    SELECT id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, c.vec_id AS id_b,
               round({S.sql_cosine_scaled('a.s', 'c.s', EMB_DIM)}, 4) AS cosine
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    ) WHERE cosine >= 0.3
    """


@query("q43_embedding_neardup_bucketed", _neardup_bucketed_oracle())
def q43_embedding_neardup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs — the scale path for q34's
    operator: pair generation is an equi-join on the sign-LSH bucket
    (Σ|bucket|² candidates, never n²). The oracle mirrors the bucket
    restriction exactly, so this checks the bucketed semantics, not just
    the exact fallback."""
    return S.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=0.3,
        bucketed=True,
    )


@query(
    "q52_salted_join",
    """
    SELECT o.o_orderkey, c.c_name, c.c_mktsegment, o.o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q52_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-dim join: same result set as the plain equi-join
    (the oracle), with hot customer keys spread over 8 salted shuffle
    partitions (operators/relational.py salted_join). The manual fallback
    for skew AQE can't split."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return R.salted_join(o, c, "c_custkey").select(
        "o_orderkey", "c_name", "c_mktsegment", "o_totalprice"
    )


@query(
    "q50_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 6) AS p25,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 6) AS p50,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 6) AS p90,
           round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 6) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q50_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (the distribution-profiling
    aggregate). Spark's percentile and DuckDB's quantile_cont share linear
    interpolation over the sorted set; inputs cast to DOUBLE first so both
    engines interpolate identical IEEE values."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("p")
    )
    return li.groupBy("l_returnflag").agg(
        *[
            F.round(F.percentile("p", q), 6).alias(name)
            for name, q in [
                ("p25", 0.25),
                ("p50", 0.5),
                ("p90", 0.9),
                ("p99", 0.99),
            ]
        ]
    )


@query(
    "q48_asof_join",
    """
    WITH ev AS (SELECT event_id, user_id, event_type, value,
                       epoch_us(ts) AS ts_us FROM events),
    p AS (SELECT event_id, user_id, ts_us, value FROM ev
          WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts_us, value FROM ev WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts_us, p.value,
           c.ts_us AS r_ts_us, c.value AS r_value
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
    """,
)
def q48_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase paired with the user's latest click at or
    before it (left-outer). Spark lacks the operator; the union +
    carry-forward-window formulation gives it one key shuffle and no
    range-join pair explosion (operators/events.py asof_join). The oracle
    is DuckDB's native ASOF LEFT JOIN."""
    ev = _t(spark, sf_dir, "events")
    ev_us = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        E.ts_micros(ev, "ts").alias("ts_us"),
    )
    purchases = ev_us.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value"
    )
    clicks = ev_us.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "value"
    )
    return E.asof_join(
        purchases, clicks, "user_id", "ts_us", ["ts_us", "value"]
    )


def _ivf_oracle(q_below: int = 50, k: int = 5, k_cells: int = 16, nprobe: int = 2) -> str:
    d2 = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[(v.s[i] - c.cs[i]) * (v.s[i] - c.cs[i]) for i in range(1, {EMB_DIM + 1})]), "
        f"(x, y) -> x + y)"
    )
    return f"""
    WITH sv AS (SELECT vec_id, {S.sql_scaled_vec('embedding', EMB_DIM)} AS s
                FROM embeddings),
    cents AS (SELECT vec_id AS cid, s AS cs FROM sv ORDER BY vec_id LIMIT {k_cells}),
    dists AS (
        SELECT v.vec_id, c.cid, {d2} AS d2
        FROM sv v CROSS JOIN cents c
    ),
    assign AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM dists) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
            FROM dists WHERE vec_id < {q_below}) WHERE rn <= {nprobe}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS cand_id
        FROM probes p JOIN assign a ON p.cell = a.cell
        WHERE p.query_id != a.vec_id
    ),
    scored AS (
        SELECT query_id, cand_id,
               round({S.sql_cosine_scaled('q.s', 'c.s', EMB_DIM)}, 4) AS cosine
        FROM cand JOIN sv q ON cand.query_id = q.vec_id
                  JOIN sv c ON cand.cand_id = c.vec_id
    )
    SELECT query_id, cand_id, cosine FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rn
        FROM scored) WHERE rn <= {k}
    """


@query("q47_ivf_topk", _ivf_oracle())
def q47_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (the other scale path next to sign-LSH q36):
    deterministic coarse quantizer, inverted-list equi-join on the cell id,
    exact integer-cosine ranking over the probed candidates."""
    return S.ivf_topk(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", query_ids_below=50
    )


def _dedup_clusters_oracle() -> str:
    # The minhash-pairs oracle nests as a CTE body (DuckDB allows a WITH
    # inside a CTE); the recursive part propagates any smaller label along
    # an edge, so min(label) per node is the component minimum. Terminates:
    # the (node, label) space is finite and UNION deduplicates.
    # AS MATERIALIZED matters: edges is referenced on every recursion step,
    # and without it DuckDB may inline (re-evaluate) the whole minhash
    # pipeline per step (observed: 120 s → ~2 s at sf0.01).
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_oracle()}),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    lbl(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, l.label
        FROM lbl l JOIN edges e ON e.dst = l.node
        WHERE l.label < e.src
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM lbl GROUP BY node)
    SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """


@query("q44_dedup_clusters", _dedup_clusters_oracle())
def q44_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup cluster ids: MinHash+LSH pairs → connected components →
    one cluster id per document (singletons keep their own id). The
    operator consumers actually want at 100 TB — "keep one doc per
    cluster" without materializing quadratic duplicate pairs."""
    return D.dedup_clusters(_t(spark, sf_dir, "documents"), "doc_id", "text")


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The entry() smoke query: star join + aggregation (q03)."""
    return q03_star_join_revenue(spark, sf_dir)


# ===========================================================================
# Round-2 closure: pivot/unpivot, deterministic splits, edit distance,
# tf-idf, grouping sets (SURVEY §2 round-2 extensions 30-35)
# ===========================================================================


@query(
    "q53_pivot_unpivot",
    f"""
    WITH wide AS (
        SELECT l_returnflag,
               CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS DOUBLE) AS n_O,
               CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS DOUBLE) AS n_F,
               {_osum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_O,
               {_osum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_F
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'n_O' AS metric, n_O AS value FROM wide
    UNION ALL SELECT l_returnflag, 'n_F', n_F FROM wide
    UNION ALL SELECT l_returnflag, 'qty_O', qty_O FROM wide
    UNION ALL SELECT l_returnflag, 'qty_F', qty_F FROM wide
    """,
)
def q53_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide) immediately unpivoted back (wide → long) — the
    round-trip gates both reshapes in one query. The explicit pivot value
    list avoids the distinct-value discovery job; the plan (verified with
    explain) is two map-side-combinable aggregations — a partial on
    (flag, status), then the pivot assembly keyed on flag — both shuffles
    carrying only keys + aggregates. The unpivot is a narrow per-row
    Expand, zero shuffle. Measures are cast to a common DOUBLE before
    unpivoting (unpivot requires one value type)."""
    li = _t(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            R.dec_sum("l_quantity").alias("qty"),
        )
    )
    # Spark names pivot columns "{value}_{aggAlias}"; surface as alias_value.
    return (
        wide.select(
            "l_returnflag",
            F.col("O_n").cast("double").alias("n_O"),
            F.col("F_n").cast("double").alias("n_F"),
            F.col("O_qty").alias("qty_O"),
            F.col("F_qty").alias("qty_F"),
        )
        .unpivot(["l_returnflag"], ["n_O", "n_F", "qty_O", "qty_F"],
                 "metric", "value")
    )


@query(
    "q55_hash_split",
    f"""
    SELECT split, count(*) AS n_docs, count(DISTINCT lang) AS n_langs
    FROM (SELECT lang,
                 {SMP.sql_split_label("CAST(doc_id AS VARCHAR)")} AS split
          FROM documents)
    GROUP BY split
    """,
)
def q55_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators/sampling.py): label =
    portable-hash(doc_id) bucket, so assignment is reproducible across
    engines, runs, and partitionings — unlike randomSplit. Verified here by
    aggregating per-split counts in both engines."""
    d = _t(spark, sf_dir, "documents")
    return (
        SMP.hash_split(d, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def _q56_oracle() -> str:
    norm = H.sql_normalize_text("text")
    return f"""
    WITH t AS (SELECT doc_id, substr({norm}, 1, 48) AS s
               FROM documents WHERE doc_id < 40)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.s, b.s) <= 32
    """


@query("q56_edit_distance", _q56_oracle())
def q56_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs over a bounded candidate set (the exact
    verifier you run AFTER blocking — levenshtein is O(len²)/pair, so at
    100 TB it only ever runs on candidate pairs from a blocking key
    (fingerprint prefix / LSH bucket), never all-pairs; the bounded id
    filter here stands in for that blocking stage)."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            F.substring(H.normalize_text(F.col("text")), 1, 48).alias("s"),
        )
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("s_a", "s_b").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 32)
    )


def _q57_oracle() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id AS doc, unnest({_TOKENS}) AS term FROM documents
    ),
    tf AS (SELECT doc, term, count(*) AS tf FROM toks
           WHERE length(term) >= 3 GROUP BY doc, term),
    dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    ranked AS (
        SELECT doc, term, tf, df_t, n_docs,
               row_number() OVER (PARTITION BY doc
                                  ORDER BY tf DESC, term ASC) AS rk
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc AS doc_id, term, tf, df_t,
           round(tf * ln((n_docs + 1.0) / (df_t + 1.0)), 6) AS tfidf,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    """


@query("q57_tfidf_top_terms", _q57_oracle())
def q57_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 terms by frequency with smoothed tf-idf
    (operators/text.py tfidf_top_terms). Ranking is by the integer pair
    (tf, term) so row selection is engine-exact; the float tfidf rides
    along rounded."""
    d = _t(spark, sf_dir, "documents")
    return T.tfidf_top_terms(d, "doc_id", "text", top_k=5)


@query(
    "q58_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           count(*) AS n,
           {_osum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                            (l_linestatus), ())
    """,
)
def q58_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the general form of the multi-dimensional
    aggregation family. The four sets requested here are exactly
    CUBE(l_returnflag, l_linestatus), and ROLLUP is the prefix subset
    ((a,b),(a),()) — so this one query gates rollup/cube/grouping-sets
    semantics together. Physically still one Expand + one
    map-side-combined shuffle, rows replicated only per requested set."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_price
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
                                (l_linestatus), ())
        """
    )


@query(
    "q59_interval_join",
    """
    SELECT p_partkey, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_price
    FROM part JOIN orders
      ON o_totalprice >= p_retailprice * 100
     AND o_totalprice <  p_retailprice * 100 + 2000
    GROUP BY p_partkey
    """,
)
def q59_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-interval range aggregation via the banded decomposition
    (operators/relational.py interval_agg, op 165) — full buckets served
    from ONE per-bucket partial pass over orders, only the two edge
    buckets per interval touch raw points, so the 12M-pair intermediate
    the join+groupBy plan materialized at sf0.1 never exists (round 12;
    VERDICT r11 #3 follow-through). The oracle runs the raw theta join +
    GROUP BY. interval_join itself (the pair-producing operator, with
    its own broadcast/bucket size dispatch) stays pinned by
    tests/test_plans.py and q73's overlap variant."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice") * 100).alias("lo"),
        (F.col("p_retailprice") * 100 + 2000).alias("hi"),
    )
    # Exact money as int64 cents: integer sums decompose exactly over
    # the bucket partition (float addition would not be order-safe).
    o = _t(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("_cents"),
    )
    return R.interval_agg(
        o, p, "o_totalprice", "lo", "hi", "p_partkey",
        # span 2000 / width 128 ≈ 15 buckets: ~13 full-bucket lookups
        # (nearly free) + 2 edge buckets of raw points per interval
        bucket_width=128,
        sum_cols={"_sc": "_cents"},
        count_alias="n_orders",
    ).select(
        "p_partkey",
        "n_orders",
        (F.col("_sc").cast("double") / 100.0).alias("sum_price"),
    )


def _ann_multitable_oracle(n_tables: int = 2) -> str:
    tbl_pairs = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(CASE WHEN {S.sql_plane_dot('s', t * S.NUM_PLANES + b, EMB_DIM)} > 0"
            f" THEN {2**b} ELSE 0 END)"
            for b in range(S.NUM_PLANES)
        )
        tbl_pairs.append(
            f"""
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               round({S.sql_cosine_scaled('q.s', 'c.s', EMB_DIM)}, 4) AS cosine
        FROM (SELECT vec_id, CAST({bits} AS BIGINT) AS bucket, s FROM sv) q
        JOIN (SELECT vec_id, CAST({bits} AS BIGINT) AS bucket, s FROM sv) c
          ON q.bucket = c.bucket AND q.vec_id != c.vec_id
        """
        )
    union = "\n        UNION\n".join(tbl_pairs)  # UNION (not ALL) dedups
    return f"""
    WITH sv AS (SELECT vec_id, {S.sql_scaled_vec('embedding', EMB_DIM)} AS s
                FROM embeddings),
    pairs AS ({union})
    SELECT query_id, cand_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, cand_id ASC) AS rn
        FROM pairs
    ) WHERE rn <= 3
    """


@query("q60_ann_multitable", _ann_multitable_oracle())
def q60_ann_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH ANN top-3 (operators/similarity.py
    ann_topk_multitable): same Σ|bucket|² candidate bound per table, L=2
    independent tables union-ed for recall and skew resilience."""
    return S.ann_topk_multitable(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=3, n_tables=2
    )


def _q61_oracle() -> str:
    score = f"""round(0.5 * (CAST(least(len({_TOKENS}), 100) AS DOUBLE) / 100.0)
                 + 0.3 * (1.0 - CASE WHEN length({_NORM_TEXT}) = 0 THEN 0.0
                       ELSE CAST(length(regexp_replace({_NORM_TEXT}, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                            / CAST(length({_NORM_TEXT}) AS DOUBLE) END)
                 + 0.2 * (CASE WHEN len({_TOKENS}) = 0 THEN 0.0
                       ELSE CAST(len(list_filter({_TOKENS},
                                t -> list_contains(['the','and','of','to','a'], t))) AS DOUBLE)
                            / CAST(len({_TOKENS}) AS DOUBLE) END), 6)"""
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_minhash_oracle()}),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    lbl(node, label) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT e.src, l.label
        FROM lbl l JOIN edges e ON e.dst = l.node
        WHERE l.label < e.src
    ),
    comp AS (SELECT node, min(label) AS cluster_id FROM lbl GROUP BY node),
    clustered AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
               {score} AS quality_score
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT cluster_id, doc_id, quality_score, n_docs FROM (
        SELECT *,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY quality_score DESC, doc_id ASC) AS rn,
               count(*) OVER (PARTITION BY cluster_id) AS n_docs
        FROM clustered
    ) WHERE rn = 1
    """


@query("q61_dedup_keep_best", _q61_oracle())
def q61_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end fuzzy-dedup pipeline a pretraining corpus actually
    runs: MinHash-LSH pairs → connected-component clusters → keep the
    highest-quality document per cluster. Pure composition of declared
    operators (dedup_clusters ∘ quality_score ∘ window top-1); the output
    is the deduplicated corpus manifest — O(#clusters) rows, never the
    quadratic pair set."""
    d = _t(spark, sf_dir, "documents")
    clusters = D.dedup_clusters(d, "doc_id", "text")
    quality = T.quality_score(d, "doc_id", "text").select(
        "doc_id", "quality_score"
    )
    joined = clusters.join(quality, "doc_id")
    pc = Window.partitionBy("cluster_id")
    w = pc.orderBy(F.col("quality_score").desc(), F.col("doc_id").asc())
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(pc))
        .filter(F.col("rn") == 1)
        .select("cluster_id", "doc_id", "quality_score", "n_docs")
    )


@query(
    "q62_correlation",
    """
    SELECT l_returnflag, n,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
               AS corr_qty_price
    FROM (
        SELECT l_returnflag,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                        * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    """,
)
def q62_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group WITHOUT engine corr(): the five moment
    sums run as exact decimal aggregates (order-insensitive, map-side
    combinable — one shuffle), and r is assembled from them in one fixed
    double expression. Engine corr() is a float reduction whose result
    depends on partition order — unusable for differential testing and
    irreproducible at scale; the moments formulation is both exact and
    restart-stable."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return agg.select(
        "l_returnflag",
        "n",
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
    )


@query(
    "q63_skew_profile",
    """
    SELECT o_custkey, n_rows, row_share FROM (
        SELECT o_custkey, count(*) AS n_rows,
               round(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM orders), 6)
                   AS row_share,
               row_number() OVER (ORDER BY count(*) DESC, o_custkey ASC) AS rn
        FROM orders GROUP BY o_custkey
    ) WHERE rn <= 10
    """,
)
def q63_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profile (operators/relational.py key_skew_profile): the
    top-10 hottest join/agg keys and their row share — the measurement that
    decides salting vs AQE-split vs broadcast before a 100 TB shuffle."""
    o = _t(spark, sf_dir, "orders")
    return R.key_skew_profile(o, "o_custkey", top_n=10)


def _q64_oracle(n_frames: int = 4) -> str:
    # frame i of the ASCII-normalized payload: substr is byte-accurate
    # because normalize_text strips to printable ASCII.
    return f"""
    WITH d AS (SELECT doc_id, {_NORM_TEXT} AS s FROM documents),
    f AS (
        SELECT doc_id, i AS frame_idx,
               substr(s, i * CAST(ceil(length(s) / {n_frames}.0) AS BIGINT) + 1,
                      CAST(ceil(length(s) / {n_frames}.0) AS BIGINT)) AS fs
        FROM d CROSS JOIN (SELECT unnest(range(0, {n_frames})) AS i)
        WHERE i * CAST(ceil(length(s) / {n_frames}.0) AS BIGINT) < length(s)
    )
    SELECT doc_id, frame_idx,
           CAST(length(fs) AS BIGINT) AS n_bytes,
           {H.sql_byte_sum('fs')} AS byte_sum
    FROM f
    """


@query("q64_frame_sample", _q64_oracle())
def q64_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (operators/multimodal.py
    sample_frames): ≤4 frames per doc, per-frame deterministic features,
    all fan-out inside the Arrow batch — the video-decode pipeline shape
    with the codec stubbed (container has no media libraries)."""
    d = _t(spark, sf_dir, "documents")
    return M.sample_frames(M.to_binary_table(d, "doc_id", "text"), n_frames=4)


# ===========================================================================
# Round 9: event analytics (SURVEY §2.G ops 138-140)
# ===========================================================================

_HOUR_US = 3_600_000_000
_WEEK_US = 7 * 86_400_000_000


@query(
    "q65_resample_ffill",
    f"""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) // {_HOUR_US} AS bucket, value
        FROM events
    ),
    obs AS (
        SELECT user_id, bucket, count(*) AS n_events,
               {_osum('value')} AS sum_value
        FROM ev GROUP BY 1, 2
    ),
    bounds AS (
        SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
        FROM obs GROUP BY 1
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(b0, b1)) AS bucket
        FROM bounds
    )
    SELECT g.user_id, g.bucket,
           coalesce(o.n_events, 0) AS n_events,
           last_value(o.sum_value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.bucket
           ) AS filled_value
    FROM grid g LEFT JOIN obs o
      ON g.user_id = o.user_id AND g.bucket = o.bucket
    """,
)
def q65_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly resample: dense bucket grid (per-key sequence(),
    executor-side) with gaps as n_events=0 and the value sum carried
    forward by a running last(ignoreNulls) window (operators/events.py
    resample_ffill, op 138)."""
    return E.resample_ffill(
        _t(spark, sf_dir, "events"),
        ts_col="ts",
        key_col="user_id",
        value_col="value",
        interval_us=_HOUR_US,
    )


@query(
    "q66_funnel",
    f"""
    WITH ev AS (
        SELECT user_id, event_type AS tp, epoch_us(ts) AS us FROM events
    ),
    s1 AS (
        SELECT user_id, min(us) AS t, min(us) AS t1
        FROM ev WHERE tp = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.us) AS t, s.t1 AS t1
        FROM ev e JOIN s1 s ON e.user_id = s.user_id
        WHERE e.tp = 'click' AND e.us > s.t
          AND e.us <= s.t1 + {72 * _HOUR_US}
        GROUP BY e.user_id, s.t1
    ),
    s3 AS (
        SELECT e.user_id, min(e.us) AS t, s.t1 AS t1
        FROM ev e JOIN s2 s ON e.user_id = s.user_id
        WHERE e.tp = 'purchase' AND e.us > s.t
          AND e.us <= s.t1 + {72 * _HOUR_US}
        GROUP BY e.user_id, s.t1
    ),
    counts AS (
        SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS n_users FROM s1
        UNION ALL
        SELECT 2, 'click', count(*) FROM s2
        UNION ALL
        SELECT 3, 'purchase', count(*) FROM s3
    )
    SELECT stage_idx, stage, n_users,
           CASE WHEN first_value(n_users) OVER (ORDER BY stage_idx) > 0
                THEN round(n_users / CAST(first_value(n_users)
                         OVER (ORDER BY stage_idx) AS DOUBLE), 6)
           END AS pct_of_first
    FROM counts
    """,
)
def q66_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click→purchase conversion funnel with a 72 h window from the
    first 'view': per-stage survivor counts via chained filtered
    min-aggregates + user_id equi-joins — no windows over event rows, no
    per-user collection (operators/events.py funnel, op 139)."""
    return E.funnel(
        _t(spark, sf_dir, "events"),
        stages=("view", "click", "purchase"),
        horizon_us=72 * _HOUR_US,
    )


@query(
    "q67_cohort_retention",
    f"""
    WITH act AS (
        SELECT DISTINCT user_id, epoch_us(ts) // {_WEEK_US} AS bucket
        FROM events
    ),
    cohort AS (
        SELECT user_id, min(bucket) AS cohort_bucket FROM act GROUP BY 1
    )
    SELECT c.cohort_bucket, a.bucket - c.cohort_bucket AS offset,
           count(*) AS n_users
    FROM act a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def q67_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix on integer epoch-week buckets —
    distinct activity + min-bucket cohort + one re-aggregation
    (operators/events.py cohort_retention, op 140)."""
    return E.cohort_retention(_t(spark, sf_dir, "events"))


@query(
    "q68_hybrid_rrf",
    S.sql_hybrid_search_rrf(
        "documents",
        "embeddings",
        "data quality",
        0,
        EMB_DIM,
    ),
)
def q68_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval: BM25 top-20 for 'data quality'
    fused with the exact cosine top-20 around embedding 0 by Reciprocal
    Rank Fusion — rank-space fusion over two bounded legs
    (operators/similarity.py hybrid_search_rrf, op 141)."""
    return S.hybrid_search_rrf(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        text_query="data quality",
        query_vec_id=0,
    )


@query(
    "q69_triangles",
    """
    WITH pr AS (
        SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
    ),
    e AS (
        SELECT DISTINCT a.i AS u, b.i AS v
        FROM pr a JOIN pr b ON a.g = b.g AND a.i < b.i
    ),
    deg AS (
        SELECT n, count(*) AS d
        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
        GROUP BY n
    ),
    agg AS (
        SELECT
            (SELECT count(*) FROM e) AS n_edges,
            (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg)
                AS n_wedges,
            (SELECT count(*)
             FROM e e1
             JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
             JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles
    )
    SELECT n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN round(3.0 * n_triangles / n_wedges, 6)
           END AS global_clustering
    FROM agg
    """,
)
def q69_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census over the part co-purchase graph (parts
    sharing an order): degree-ordered edge orientation bounds the wedge
    self-join by the arboricity, the closing-edge check is one
    equi-join against the canonical edge set
    (operators/graph.py cooccurrence_edges + triangle_count, op 142)."""
    from dwca_parquet_spark.operators import graph as G

    li = _t(spark, sf_dir, "lineitem")
    edges = G.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    # broadcast_degrees: the node space is the bounded part catalog —
    # the degree table fits executor memory at any corpus scale (same
    # justification as the bench row; keeps registry ≡ bench plan)
    return G.triangle_count(
        edges, assume_canonical=True, broadcast_degrees=True
    )


# epoch µs of 2024-01-01 UTC — the fixture corpus epoch; rebasing x keeps
# the double-precision moment products far from 2^53 (see trend_by_group)
_X_ORIGIN_US = 1_704_067_200_000_000


@query(
    "q70_group_trend",
    f"""
    WITH pt AS (
        SELECT event_type AS grp,
               (epoch_us(ts) - {_X_ORIGIN_US}) // {_HOUR_US} AS x,
               value AS y
        FROM events
    ),
    m AS (
        SELECT grp, count(*) AS n,
               CAST(sum(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)))
                    AS DOUBLE) AS sxx,
               CAST(sum(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,2)))
                    AS DOUBLE) AS sxy,
               CAST(sum(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2)))
                    AS DOUBLE) AS syy
        FROM pt GROUP BY grp
    )
    SELECT grp, n,
           CASE WHEN (n * sxx - sx * sx) != 0
                THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           END AS slope,
           CASE WHEN (n * sxx - sx * sx) != 0
                THEN round((sy - ((n * sxy - sx * sy)
                                  / (n * sxx - sx * sx)) * sx) / n, 6)
           END AS intercept,
           CASE WHEN (n * sxx - sx * sx) != 0 AND (n * syy - sy * sy) != 0
                THEN round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           END AS r2
    FROM m
    """,
)
def q70_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value vs hours-since-corpus-epoch:
    five exact decimal moments in ONE map-side-combinable groupBy, the
    closed-form estimators evaluated in a fixed double operand order —
    bit-identical to the oracle (operators/events.py trend_by_group,
    op 144)."""
    return E.trend_by_group(
        _t(spark, sf_dir, "events"), x_origin_us=_X_ORIGIN_US
    )


def _q71_oracle() -> str:
    from dwca_parquet_spark.operators.evaluation import sql_retrieval_metrics

    preds = f"""(
        WITH sv AS (
            SELECT vec_id, {S.sql_scaled_vec('embedding', EMB_DIM)} AS s
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
                   round({S.sql_cosine_scaled('q.s', 'c.s', EMB_DIM)}, 4)
                       AS cosine
            FROM sv q JOIN sv c ON q.vec_id != c.vec_id
            WHERE q.vec_id < 20
        )
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, doc_id ASC) AS rank
        FROM scored
        QUALIFY rank <= 5
    )"""
    truth = (
        "(SELECT a.vec_id AS query_id, b.vec_id AS doc_id "
        "FROM embeddings a JOIN embeddings b "
        "ON a.label = b.label AND a.vec_id != b.vec_id "
        "WHERE a.vec_id < 20)"
    )
    return sql_retrieval_metrics(preds, truth, k=5)


@query("q71_retrieval_eval", _q71_oracle())
def q71_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the exact-kNN leg against
    label-consistency ground truth: per query recall@5 / MRR@5 / nDCG@5
    with rank-ordered bounded folds (operators/evaluation.py
    retrieval_metrics, op 145)."""
    from dwca_parquet_spark.operators.evaluation import retrieval_metrics

    emb = _t(spark, sf_dir, "embeddings")
    knn = S.knn_bruteforce(
        emb, "vec_id", "embedding", query_ids_below=20, k=5
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id").asc()
    )
    preds = knn.select(
        "query_id",
        F.col("cand_id").alias("doc_id"),
        F.row_number().over(w).alias("rank"),
    )
    lab = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    truth = (
        lab.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("query_id"), F.col("label").alias("_l"))
        .join(
            lab.select(F.col("vec_id").alias("doc_id"),
                       F.col("label").alias("_l")),
            "_l",
        )
        .filter(F.col("query_id") != F.col("doc_id"))
        .select("query_id", "doc_id")
    )
    return retrieval_metrics(preds, truth, k=5)


_DAY_US = 86_400_000_000


@query(
    "q72_rolling_actives",
    f"""
    WITH act AS (
        SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS b FROM events
    ),
    hi AS (SELECT max(b) AS hb FROM act),
    ex AS (
        SELECT user_id,
               unnest(generate_series(b, least(b + 6, hi.hb))) AS bucket
        FROM act, hi
    )
    SELECT bucket, count(DISTINCT user_id) AS n_active
    FROM ex GROUP BY bucket
    """,
)
def q72_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling distinct actives (WAU on daily buckets): the
    distinct-explode lift — activity matrix, in-row window explode,
    distinct+count; work is O(activity × window), never
    O(events × window) (operators/events.py rolling_active_users,
    op 147)."""
    return E.rolling_active_users(
        _t(spark, sf_dir, "events"), window_buckets=7
    )


@query(
    "q73_interval_overlap",
    f"""
    WITH iv AS (
        SELECT event_id, event_type, epoch_us(ts) AS lo,
               epoch_us(ts)
                   + (1 + CAST(floor(value) AS BIGINT)) * 60000000 AS hi
        FROM events
    ),
    a AS (SELECT * FROM iv WHERE event_id % 2 = 0),
    b AS (SELECT * FROM iv WHERE event_id % 2 = 1)
    SELECT a.event_type AS l_type, b.event_type AS r_type,
           count(*) AS n_pairs,
           sum(least(a.hi, b.hi) - greatest(a.lo, b.lo)) AS total_overlap_us
    FROM a JOIN b ON a.lo < b.hi AND b.lo < a.hi
    GROUP BY 1, 2
    """,
)
def q73_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (events as [ts, ts+minutes)
    spans, even vs odd ids): bucketed equi-join with responsibility-
    bucket dedup — no theta join, no post-join distinct
    (operators/relational.py interval_overlap_join, op 148). The
    oracle runs the raw overlap theta-join."""
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "event_id",
        "event_type",
        E.ts_micros(ev, "ts").alias("lo"),
        (
            E.ts_micros(ev, "ts")
            + (F.lit(1) + F.floor(F.col("value")).cast("bigint"))
            * F.lit(60_000_000)
        ).alias("hi"),
    )
    a = iv.filter(F.col("event_id") % 2 == 0)
    b = iv.filter(F.col("event_id") % 2 == 1).drop("event_id")
    joined = R.interval_overlap_join(
        a, b.select("event_type", "lo", "hi"), "lo", "hi",
        bucket_width=900_000_000,
    )
    return joined.groupBy(
        F.col("event_type").alias("l_type"),
        F.col("r_event_type").alias("r_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.least(F.col("hi"), F.col("r_hi"))
            - F.greatest(F.col("lo"), F.col("r_lo"))
        ).alias("total_overlap_us"),
    )


@query(
    "q74_bucket_anomalies",
    f"""
    WITH obs AS (
        SELECT event_type AS key, epoch_us(ts) // {_HOUR_US} AS bucket,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS s
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT key, count(*) AS n,
               CAST(sum(s) AS DOUBLE) AS s1,
               CAST(sum(s * s) AS DOUBLE) AS s2
        FROM obs GROUP BY key
    ),
    scored AS (
        SELECT o.key, o.bucket, CAST(o.s AS DOUBLE) AS bucket_sum,
               round(
                   (CAST(o.s AS DOUBLE) - st.s1 / CAST(st.n AS DOUBLE))
                   / (sqrt(CAST(st.n AS DOUBLE) * st.s2 - st.s1 * st.s1)
                      / CAST(st.n AS DOUBLE)),
                   6
               ) AS z
        FROM obs o JOIN stats st USING (key)
        WHERE CAST(st.n AS DOUBLE) * st.s2 - st.s1 * st.s1 > 0
    )
    SELECT key, bucket, bucket_sum, z FROM scored WHERE abs(z) >= 2.0
    """,
)
def q74_bucket_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-event-type anomaly buckets at |z| ≥ 2: decimal
    moments, one fixed-order double z-score, two combinable aggregates
    + one broadcastable join (operators/events.py bucket_anomalies,
    op 149)."""
    return E.bucket_anomalies(_t(spark, sf_dir, "events"))


@query(
    "q75_cusum_alarms",
    f"""
    WITH obs AS (
        SELECT event_type AS key, epoch_us(ts) // {_HOUR_US} AS bucket,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT key, count(*) AS n,
               CAST(sum(x) AS DECIMAL(38,2)) AS s1,
               CAST(sum(x * x) AS DOUBLE) AS s2d,
               CAST(sum(x) AS DOUBLE) AS s1d
        FROM obs GROUP BY key
    ),
    scored AS (
        SELECT o.key, o.bucket, st.n, st.s1d, st.s2d,
               CAST(CAST(CAST(st.n AS DECIMAL(12,0)) * o.x AS DECIMAL(38,2))
                    - st.s1
                    - CAST(CAST(st.n AS DECIMAL(12,0))
                           * CAST('0.00' AS DECIMAL(18,2))
                           AS DECIMAL(38,2))
                    AS DECIMAL(38,2)) AS y
        FROM obs o JOIN stats st USING (key)
    ),
    pref AS (
        SELECT key, bucket, n, s1d, s2d,
               CAST(sum(y) OVER (PARTITION BY key ORDER BY bucket)
                    AS DECIMAL(38,2)) AS p
        FROM scored
    ),
    run AS (
        SELECT key, bucket, n, s1d, s2d, p,
               least(CAST('0' AS DECIMAL(38,2)),
                     min(p) OVER (PARTITION BY key ORDER BY bucket)) AS m
        FROM pref
    )
    SELECT key, bucket, cusum FROM (
        SELECT key, bucket,
               round(CAST(p - m AS DOUBLE)
                     / sqrt(CAST(n AS DOUBLE) * s2d - s1d * s1d), 6)
                   AS cusum
        FROM run
        WHERE CAST(n AS DOUBLE) * s2d - s1d * s1d > 0
    )
    WHERE cusum > 4.0
    """,
)
def q75_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-event-type CUSUM mean-shift alarms at τ=4: the
    max(0, S+y) recursion as its prefix-sum closed form over exact
    decimals, one window per series, one fixed-order double at the end
    (operators/events.py cusum_alarms, op 150)."""
    return E.cusum_alarms(_t(spark, sf_dir, "events"))


@query(
    "q76_session_transitions",
    """
    WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN lag(ts_us) OVER w IS NULL
                         OR ts_us - lag(ts_us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
        SELECT user_id, event_id, ts_us, event_type,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts_us, event_id)
                   AS session_id
        FROM flagged
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM (
            SELECT event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id, session_id
                       ORDER BY ts_us, event_id
                   ) AS prev_type
            FROM sess
        )
        WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    totals AS (SELECT prev_type, sum(n) AS tot FROM pairs GROUP BY 1)
    SELECT p.prev_type, p.next_type, CAST(p.n AS BIGINT) AS n,
           round(CAST(p.n AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS prob
    FROM pairs p JOIN totals t USING (prev_type)
    """,
)
def q76_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session event-type transition matrix (30 min gap): the
    op-20 session boundaries + one more lag over the identical window,
    then a |types|²-row combinable aggregate with fixed-order
    probabilities (operators/events.py session_transitions, op 151)."""
    return E.session_transitions(_t(spark, sf_dir, "events"))


# events span 2024-01-01..01-30; Jan 16 splits the corpus into two
# ~half periods for the stability comparison
_PSI_BOUNDARY_US = 1_705_363_200_000_000


@query(
    "q77_psi_by_group",
    f"""
    WITH ev AS (
        SELECT event_type AS key,
               epoch_us(ts) >= {_PSI_BOUNDARY_US} AS after,
               least(9, greatest(0, CAST(floor(
                   CAST(value AS DOUBLE) / CAST('2.00' AS DOUBLE)
               ) AS INT))) AS bin
        FROM events
    ),
    counts AS (
        SELECT key, bin,
               sum(CASE WHEN NOT after THEN 1 ELSE 0 END) AS ca,
               sum(CASE WHEN after THEN 1 ELSE 0 END) AS cb
        FROM ev GROUP BY 1, 2
    ),
    grid AS (
        SELECT k.key, g.bin
        FROM (SELECT DISTINCT key FROM counts) k,
             (SELECT unnest(generate_series(0, 9)) AS bin) g
    ),
    dense AS (
        SELECT grid.key, grid.bin,
               coalesce(c.ca, 0) AS ca, coalesce(c.cb, 0) AS cb
        FROM grid LEFT JOIN counts c
          ON grid.key = c.key AND grid.bin = c.bin
    ),
    per_key AS (
        SELECT key, sum(ca) AS n_before, sum(cb) AS n_after,
               list(struct_pack(bin := bin, ca := ca, cb := cb)
                    ORDER BY bin) AS bins
        FROM dense GROUP BY key
    )
    SELECT key,
           CAST(n_before AS BIGINT) AS n_before,
           CAST(n_after AS BIGINT) AS n_after,
           CASE WHEN n_before > 0 AND n_after > 0 THEN
               round(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                       [((CAST(e.ca AS DOUBLE) + 1.0)
                             / (CAST(n_before AS DOUBLE) + 10.0)
                         - (CAST(e.cb AS DOUBLE) + 1.0)
                             / (CAST(n_after AS DOUBLE) + 10.0))
                        * ln(((CAST(e.ca AS DOUBLE) + 1.0)
                              / (CAST(n_before AS DOUBLE) + 10.0))
                             / ((CAST(e.cb AS DOUBLE) + 1.0)
                                / (CAST(n_after AS DOUBLE) + 10.0)))
                        for e in bins]),
                   (acc, x) -> acc + x
               ), 6)
           END AS psi
    FROM per_key
    """,
)
def q77_psi_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event_type between the first and
    second half of January: fixed 10-bin grid, add-one smoothing over
    the full domain, bin-ordered fold — bit-identical
    (operators/events.py psi_by_group, op 152)."""
    return E.psi_by_group(
        _t(spark, sf_dir, "events"), boundary_us=_PSI_BOUNDARY_US
    )


@query(
    "q78_lid_trained",
    T.sql_lid_fit_score("documents", "doc_id", "text", "lang"),
)
def q78_lid_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained language ID (hashed char-trigram NB, op 153): fit on the
    table's own (text, lang) labels — two bounded integer aggregations —
    then score every document with exact-decimal weight sums; the oracle
    reruns the ENTIRE fit+score in SQL (operators/text.py
    sql_lid_fit_score), so the gate pins the fit counts, the rounded-ln
    weight grid, the decimal score arithmetic, and the argmax
    tie-break all at once."""
    d = _t(spark, sf_dir, "documents")
    model = T.lid_fit(d, "text", "lang")
    return T.lid_score(d, "doc_id", "text", model)


@query(
    "q79_funnel_latency",
    E.sql_funnel_latency(
        "events",
        ("view", "click", "purchase"),
        horizon_us=72 * _HOUR_US,
    ),
)
def q79_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency percentiles per funnel stage (op 156): q66's
    survivor chain, latencies compressed to distinct-value counts, and
    nearest-rank p50/p90/p99 selected by the INTEGER rank formula
    (n·pm + 999) div 1000 — no float ever decides a rank, so the
    selection is bit-identical across engines
    (operators/events.py funnel_latency / sql_funnel_latency)."""
    return E.funnel_latency(
        _t(spark, sf_dir, "events"),
        stages=("view", "click", "purchase"),
        horizon_us=72 * _HOUR_US,
    )


@query(
    "q80_group_quantiles",
    R.sql_group_quantiles("events", "event_type", "value"),
)
def q80_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT nearest-rank p50/p90/p99 of value per event_type (op 159):
    values compress to distinct-value counts, the rank is the INTEGER
    formula (n·pm + 999) div 1000, and the selected value is an existing
    input value — bit-identical across engines with no float anywhere
    (operators/relational.py group_quantiles)."""
    return R.group_quantiles(
        _t(spark, sf_dir, "events"), "event_type", "value"
    )


@query(
    "q81_weighted_sample_k",
    SMP.sql_weighted_sample_k(
        "documents", "doc_id", "n_chars + 1", 100, salt="r11"
    ),
)
def q81_weighted_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size weighted sampling WITHOUT replacement (op 162,
    Efraimidis-Spirakis): exactly 100 documents, selection probability
    increasing in document length, chosen by the n smallest exponential
    race keys -ln(u)/w with u from the seeded portable hash — the
    decimal(28,12)-locked key and the (key ASC) tie-break make
    membership engine-exact (operators/sampling.py weighted_sample_k).
    The Spark plan is TakeOrderedAndProject — a per-partition partial
    top-n + one n-row merge, never a full sort."""
    d = _t(spark, sf_dir, "documents")
    return SMP.weighted_sample_k(
        d.withColumn("_w", F.col("n_chars") + F.lit(1)),
        "doc_id",
        "_w",
        100,
        salt="r11",
    ).drop("_w")


@query(
    "q82_group_weighted_sample",
    SMP.sql_group_weighted_sample_k(
        "events", "event_type", "event_id", "value", 50, salt="r11"
    ),
)
def q82_group_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group fixed-size weighted sample without replacement
    (op 162): 50 events per event_type, probability increasing in
    `value`; rows with NULL/non-positive value are outside the race by
    the E-S domain contract. One row_number window on the group key
    (operators/sampling.py group_weighted_sample_k)."""
    return SMP.group_weighted_sample_k(
        _t(spark, sf_dir, "events"),
        "event_type",
        "event_id",
        "value",
        50,
        salt="r11",
    )
