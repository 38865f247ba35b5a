"""Link-graph importance scoring: PageRank on (src, dst) edge tables
(SURVEY §2 round-4 extension).

Web-curation pipelines weight documents by their host's link-graph
importance (the CommonCrawl-ranking signal; pairs with
text.extract_urls/registrable_domain, which produce exactly the
(doc → linked-domain) edges this consumes). Beyond connected components
(operators/dedup.py), this adds the ITERATIVE numeric graph family.

Determinism contract (the repo-wide rule, applied to an iterative float
algorithm): rank mass is DECIMAL(28,12) throughout — decimal sums are
order-free exact, and the one division per (node, iteration) is
explicitly quantized — so the final ranks are bit-identical across runs,
partitionings, and a driver-side Decimal reference (the pytest oracle
mirrors the arithmetic with Python's decimal module, HALF_UP like
Spark's).

Scale/shuffle shape per iteration: contributions explode along edges (a
projection over the edge table joined with current ranks — equi-join on
src, co-partitionable), then ONE map-side-combinable groupBy on dst.
Dangling mass (nodes without out-edges) is a 1-row aggregate broadcast
back — the textbook redistribution, kept exact in decimal. Iterations
are a fixed count (convergence-threshold loops need a collect per round;
fixed iters need none beyond the dangling scalar).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dwca_parquet_spark.cache import persist_tracked
from dwca_parquet_spark.fs import (
    FS,
    commit_version,
    latest_version,
    split_segments,
)

# decimal(28,12), NOT (38,12): Spark derives division/multiplication
# result types from operand precisions and SHRINKS the scale when the
# derived precision exceeds 38 — a (38,12)/(20,0) division would come
# back at scale 6 and the subsequent cast would double-round, diverging
# from the single-quantize Python mirror. With (28,12) operands every
# intermediate fits in 38 digits at scale ≥ 12, so the one explicit cast
# is the ONLY rounding point — same as the reference's one quantize.
DEC = "decimal(28,12)"
Q12 = Decimal("0.000000000001")


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: str = "0.85",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank; returns (node, rank DECIMAL(28,12)),
    ranks summing to ~1 (exact up to the per-node quantization).
    ``damping`` is a STRING so it enters decimal arithmetic unrounded.
    Out-degrees are capped at decimal(8,0) (10^8 edges per node) by the
    precision budget above."""
    # damping at its NATURAL precision (3,2): a (28,12)×(28,12) product
    # would exceed 38 digits and trigger Spark's scale reduction; (3,2)×
    # (28,12) stays exact at (32,14), so the cast to DEC is the single
    # rounding point, mirroring the reference's one quantize.
    d = F.lit(damping).cast("decimal(3,2)")
    # nodes is referenced twice per iteration across all iterations —
    # checkpoint once so those references read a materialized table.
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()  # one scalar; fixes the teleport share
    if n_nodes == 0:  # empty edge table → empty ranks, not DivisionByZero
        return nodes.select("node", F.lit(None).cast(DEC).alias("rank"))
    init = (Decimal(1) / Decimal(n_nodes)).quantize(Q12, ROUND_HALF_UP)
    teleport_coef = (
        (Decimal(1) - Decimal(damping)) / Decimal(n_nodes)
    ).quantize(Q12, ROUND_HALF_UP)

    # out_deg feeds every iteration — persist it once (released by the
    # session owner via release_caches, the repo-wide cache lifecycle).
    out_deg = persist_tracked(
        edges.groupBy(src).agg(F.count(F.lit(1)).alias("_deg"))
    )
    ranks = nodes.select("node", F.lit(str(init)).cast(DEC).alias("rank"))
    return _pagerank_rounds(
        edges, nodes, n_nodes, out_deg, ranks, iters, damping, src, dst
    )


def _pagerank_rounds(
    edges: DataFrame,
    nodes: DataFrame,
    n_nodes: int,
    out_deg: DataFrame,
    ranks: DataFrame,
    iters: int,
    damping: str,
    src: str,
    dst: str,
) -> DataFrame:
    """The op-78 iteration body, shared by :func:`pagerank` and the
    op-157 resumable state — rank state in, rank state out, arithmetic
    untouched, so resume(k) + rounds(j) ≡ rounds(k + j) BIT-exactly
    (every round's output is a pure decimal function of the previous
    ranks and the fixed edge table)."""
    d = F.lit(damping).cast("decimal(3,2)")
    teleport_coef = (
        (Decimal(1) - Decimal(damping)) / Decimal(n_nodes)
    ).quantize(Q12, ROUND_HALF_UP)
    for _ in range(iters):
        # Truncate lineage and materialize ONCE per round (the CC
        # discipline, operators/dedup.py:302-330): both references below —
        # the dangling-mass scalar action and the contributions join — read
        # this materialized table. Without it, iteration i's action replays
        # rounds 0..i-1 from source: O(iters²) executed work.
        ranks = ranks.localCheckpoint()
        with_deg = ranks.join(
            out_deg.select(F.col(src).alias("node"), "_deg"), "node", "left"
        )
        contribs = (
            with_deg.filter(F.col("_deg").isNotNull())
            .join(edges.select(F.col(src).alias("node"), F.col(dst)), "node")
            .select(
                F.col(dst).alias("node"),
                (F.col("rank") / F.col("_deg").cast("decimal(8,0)"))
                .cast(DEC)
                .alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").cast(DEC).alias("_in"))
        )
        # dangling nodes' mass redistributes uniformly — one exact scalar
        dangling = (
            with_deg.filter(F.col("_deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit("0").cast(DEC)).cast(DEC))
            .first()[0]
        ) or Decimal(0)
        dang_share = (Decimal(dangling) / Decimal(n_nodes)).quantize(
            Q12, ROUND_HALF_UP
        )
        base = F.lit(str(teleport_coef)).cast(DEC) + (
            d * F.lit(str(dang_share)).cast(DEC)
        ).cast(DEC)
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    base
                    + (
                        d * F.coalesce(F.col("_in"), F.lit("0").cast(DEC))
                    ).cast(DEC)
                )
                .cast(DEC)
                .alias("rank"),
            )
        )
    # final checkpoint: the caller's first action replays zero iterations
    return ranks.localCheckpoint()


def pagerank_reference(
    edge_list: list[tuple[str, str]], iters: int = 5, damping: str = "0.85"
) -> dict[str, Decimal]:
    """Driver-side Decimal mirror of :func:`pagerank` — the differential
    oracle for the iterative arithmetic (same quantization points)."""
    nodes = sorted({s for s, _ in edge_list} | {t for _, t in edge_list})
    n = Decimal(len(nodes))
    d = Decimal(damping)
    out: dict[str, list[str]] = {}
    for s, t in edge_list:
        out.setdefault(s, []).append(t)
    ranks = {v: (Decimal(1) / n).quantize(Q12, ROUND_HALF_UP) for v in nodes}
    teleport = ((Decimal(1) - d) / n).quantize(Q12, ROUND_HALF_UP)
    for _ in range(iters):
        incoming = {v: Decimal(0) for v in nodes}
        dangling = Decimal(0)
        for v in nodes:
            if v in out:
                share = (ranks[v] / Decimal(len(out[v]))).quantize(
                    Q12, ROUND_HALF_UP
                )
                for t in out[v]:
                    incoming[t] += share
            else:
                dangling += ranks[v]
        dang_share = (dangling / n).quantize(Q12, ROUND_HALF_UP)
        base = teleport + (d * dang_share).quantize(Q12, ROUND_HALF_UP)
        ranks = {
            v: (base + (d * incoming[v]).quantize(Q12, ROUND_HALF_UP)).quantize(
                Q12, ROUND_HALF_UP
            )
            for v in nodes
        }
    return ranks


def cooccurrence_edges(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Distinct undirected co-occurrence edges (u < v): items appearing in
    the same group. The graph-construction step for co-purchase /
    co-citation / shared-context analysis.

    Scale shape: per-group sorted item sets build in ONE combinable
    groupBy, the C(items, 2) ordered pairs expand IN-ROW (a transform/
    slice/flatten projection inside whole-stage codegen — no self-join,
    no shuffle of pair rows before they exist), then one distinct on the
    edge. Two shuffles total where the textbook self-join shape costs
    three (measured 2.5 → 1.7 s at sf0.1). Per-group fan-out is still
    C(items_in_group, 2); groups are typically small (an order's parts,
    a doc's hosts). A pathological hot group (celebrity key) would both
    square AND concentrate in one task's array — cap it upstream with a
    per-group item limit if the domain allows.
    """
    adj = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.sort_array(F.collect_set(item_col)).alias("_is")
    )
    pairs = adj.select(
        F.explode(
            F.expr(
                "flatten(transform(_is, (x, i) -> "
                "transform(slice(_is, i + 2, size(_is)), "
                "y -> struct(x AS u, y AS v))))"
            )
        ).alias("_p")
    ).select("_p.u", "_p.v")
    return pairs.distinct()


def triangle_count(
    edges: DataFrame,
    assume_canonical: bool = False,
    broadcast_degrees: bool = False,
) -> DataFrame:
    """Exact global triangle count over an undirected edge set stored as
    (u < v) pairs — the clustering/community-density census (SURVEY §2.G
    op 142).

    Scale shape — degree-ordered orientation (Cohen / Suri-Vassilvitskii
    MapReduce triangle counting): re-orient every edge from its
    lower-(degree, id) endpoint to the higher one, so each node's
    out-degree is bounded by O(sqrt(m)) on any graph (arboricity bound) —
    robust to the power-law hubs that make the naive (u<v-oriented)
    enumeration quadratic in the hub degree: a hub of degree d closes
    C(d,2) wedges naively but only C(out_deg,2) ≤ O(m) oriented.
    Counting is then the EDGE-ITERATOR form: per oriented edge u→v the
    closing triangles are |N⁺(u) ∩ N⁺(v)| — adjacency lists ride the two
    edge equi-joins as array payload and intersect inside whole-stage
    codegen, so the Σ out_deg² wedge set is never materialized or
    shuffled as rows (the first cut self-joined the oriented adjacency
    into wedge rows + a semi-join against the edge set; the intersect
    form deletes that 10⁷-row shuffle — SCALE.md round 9 carries the
    measurements, incl. the planted-hub sweep where this plan beats the
    naive canonical triple join 2.9 s vs 37.9 s).
    Every triangle {a,b,c} is counted exactly once: at the oriented edge
    between its two lowest-(deg,id) vertices, with the third as the
    common out-neighbor.

    Output: ONE row (n_edges, n_wedges, n_triangles, global_clustering) —
    global clustering = 3·triangles / wedges over the ORIGINAL graph
    (wedges = Σ_v C(deg_v, 2), reported from unoriented degrees).
    """
    # assume_canonical skips the defensive dedup when the producer
    # already guarantees a distinct (u < v) set (cooccurrence_edges
    # does) — the double distinct was one full edge shuffle wasted
    # per census (round-10 profile)
    e = edges.select("u", "v")
    if not assume_canonical:
        e = e.distinct()
    e = persist_tracked(e)
    # deg feeds BOTH the orientation joins and the wedge aggregate —
    # persist it or the union-groupBy over 2|E| rows runs twice
    # (round-11 profile: −1.4 s of the census's 5.7 s at sf0.1)
    deg = persist_tracked(
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): lower endpoint -> higher endpoint.
    # broadcast_degrees pins the two degree joins as broadcasts UP
    # FRONT instead of waiting for AQE's runtime SMJ→BHJ conversion
    # (which still pays the probe-side shuffle write — measured ~0.8 s
    # at sf0.1). Opt-in because deg is NODE-sized: callers assert it
    # fits executor memory (true for item-co-occurrence graphs, whose
    # node space is the bounded item vocabulary, not the corpus);
    # default None/False leaves the strategy to Catalyst so
    # billion-node graphs keep the shuffle join.
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    if broadcast_degrees:
        du, dv = F.broadcast(du), F.broadcast(dv)
    ed = e.join(du, "u").join(dv, "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = persist_tracked(
        ed.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    adj = oriented.groupBy("s").agg(F.collect_list("t").alias("_nb"))
    with_a = oriented.join(adj, "s").select(
        F.col("t"), F.col("_nb").alias("_nb_u")
    )
    with_b = with_a.join(
        # INNER: a sink endpoint with no out-edges closes no wedge and
        # would only add a typed-empty-array corner to the intersect
        adj.select(F.col("s").alias("t"), F.col("_nb").alias("_nb_v")),
        "t",
    )
    n_tri = with_b.select(
        F.size(F.array_intersect(F.col("_nb_u"), F.col("_nb_v"))).alias("_c")
    ).groupBy().agg(
        # sum over an empty frame is NULL; a triangle-free graph is 0
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_triangles")
    )
    n_edges = e.groupBy().agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges = deg.groupBy().agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges")
    )
    return (
        n_edges.crossJoin(n_wedges)
        .crossJoin(n_tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(
                    F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
                ),
            ).alias("global_clustering"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental triangle census (SURVEY §2.G op 154 — the missing graph leg)
# ---------------------------------------------------------------------------
# A growing co-occurrence graph (ops 142's input grows with every corpus
# refresh) should not pay a full recount per refresh. The incremental
# identity: every triangle gained by an edge append contains >= 1 new edge,
# and splits EXACTLY into three disjoint cases by how many of its edges are
# new —
#   t1 (1 new):  for each new edge (u, v), the closing vertices are the
#                common OLD neighbors |N_A(u) ∩ N_A(v)| (the other two
#                edges are old by definition; a vertex reached through
#                a new edge is not in N_A, so 2-new triangles never leak
#                in here);
#   t2 (2 new):  the two new edges share a vertex c — enumerate the
#                batch-internal wedges (c; x, y) from the Δ-adjacency and
#                keep those whose closure (x, y) is an OLD edge. The
#                center c is unique per triangle, so each counts once;
#   t3 (3 new):  a full (batch-sized) op-142 census of ΔE alone.
# ΔT = t1 + t2 + t3, advancing the stored totals without ever re-counting
# the old graph. Storage follows the op-134 segment discipline: each
# append writes ONE new edge segment (write-once — earlier segments are
# never read-modified or rewritten, byte-pinned in the tests) plus a tiny
# versioned totals file (transactional tmp+rename; replay of a seen
# batch_id is a no-op — the op-89 pattern). Cost per append: one O(m)
# segment scan to build the old adjacency (unavoidable — new edges must
# intersect against it) but joins and shuffles sized by the BATCH: the
# t1 join touches only the <= 2·|ΔE| adjacency rows of batch endpoints,
# t2/t3 see only ΔE. append(state, B) ≡ triangle_count(A ∪ B) is pinned
# exactly (tests/test_triangles_incremental.py); the planted-hub append
# sweep is recorded in SCALE.md.


def _canon_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (u < v), self-loops dropped,
    duplicates collapsed."""
    u, v = F.col("u"), F.col("v")
    return (
        edges.select(
            F.least(u, v).alias("u"), F.greatest(u, v).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _both_dirs(e: DataFrame) -> DataFrame:
    return e.select(F.col("u").alias("n"), F.col("v").alias("m")).unionAll(
        e.select(F.col("v").alias("n"), F.col("u").alias("m"))
    )


_TRI_TOTALS = ("n_edges", "n_wedges", "n_triangles")


def _read_totals(
    spark, path: str, fields: tuple[str, ...]
) -> tuple[int, dict | None]:
    """(watermark, totals) from the newest ``totals/v<N>`` of a segment
    state (op 154 / op 161); (-1, None) on an empty state dir."""
    wm = latest_version(spark, f"{path}/totals")
    if wm < 0:
        return -1, None
    row = spark.read.parquet(f"{path}/totals/v{wm}").first()
    return wm, {f: int(row[f]) for f in fields}


def _write_state(
    spark,
    path: str,
    version: int,
    segs: dict[str, DataFrame | None],
    totals: dict,
    fields: tuple[str, ...],
) -> None:
    """Commit protocol: segments first (overwrite-safe — a crashed
    earlier attempt at the same version left no totals, so rewriting is
    idempotent), then ``totals/v<version>`` via commit_version as the
    commit point. Every totals version is kept.

    A segment above the totals watermark is therefore a crashed
    append's leftover (``split_segments`` orphans): it MUST NOT be read
    as old edges — the retry would see its own batch as already-present,
    compute an empty delta, and commit unchanged totals while the orphan
    keeps poisoning every later append (ADVICE r10 #1; regression-pinned
    in tests/test_triangles_incremental.py)."""
    fs = FS(spark, path)
    for sub, df in segs.items():
        if df is None:
            continue
        p = f"{path}/{sub}/seg{version}"
        if fs.exists(p):
            fs.delete(p)
        df.write.parquet(p)
    row = spark.createDataFrame(
        [tuple(int(totals[f]) for f in fields)],
        ", ".join(f"{f} long" for f in fields),
    )
    commit_version(
        spark, f"{path}/totals", version,
        lambda tmp: row.coalesce(1).write.parquet(tmp),
        keep=None,
    )


def triangle_state_build(edges: DataFrame, path: str) -> dict:
    """Initialize the census state: canonical edges as segment 0 plus the
    op-142 totals as totals/v0. Overwrites any previous state at
    ``path``; growth goes through :func:`triangle_state_append`."""
    spark = edges.sparkSession
    fs = FS(spark, path)
    for sub in ("segments", "totals"):
        if fs.exists(f"{path}/{sub}"):
            fs.delete(f"{path}/{sub}")
    e = persist_tracked(_canon_edges(edges))
    row = triangle_count(e, assume_canonical=True).first()
    totals = {
        "n_edges": row["n_edges"] or 0,
        "n_wedges": row["n_wedges"] or 0,  # sum over empty frame is NULL
        "n_triangles": row["n_triangles"] or 0,
    }
    _write_state(spark, path, 0, {"segments": e}, totals, _TRI_TOTALS)
    return totals


def triangle_state_append(
    spark,
    path: str,
    batch_edges: DataFrame,
    batch_id: int,
    hub_degree_limit: int | None = None,
) -> dict | bool:
    """Fold one edge batch into the stored census (op 154). Returns the
    updated totals, or False when ``batch_id`` <= the stored watermark
    (transactional replay no-op). Earlier COMMITTED segments are never
    rewritten; a segment above the watermark is a crashed append's
    orphan and is deleted before the old graph is read (the totals
    rename is the commit point, so the orphan was never part of the
    state).

    Sizing contract: the broadcast frames are the batch's endpoint set
    and the old edges INTERNAL to it — bounded by the batch's
    neighborhood, not the graph. Two degenerate regimes exist: (a) a
    batch approaching graph scale (touching most nodes) degenerates the
    broadcasts — that regime is a rebuild, not an append (call
    triangle_state_build); (b) a batch touching a MEGA-HUB collects
    that hub's full old-neighbor list into one array row (the adj_t
    build below) — a single touched node of degree 10^8 is a ~GB row.
    ``hub_degree_limit`` makes (b) a counted guard (the op-110
    short-bucket-limit precedent): when set, the append raises if any
    touched node's old degree exceeds it, and the caller should fall
    back to triangle_state_build (whose census never builds per-node
    adjacency beyond the O(sqrt(m))-bounded oriented lists)."""
    wm, totals = _read_totals(spark, path, _TRI_TOTALS)
    if totals is None:
        raise ValueError(f"no triangle state at {path!r} — build first")
    if batch_id <= wm:
        return False
    committed, orphans = split_segments(spark, f"{path}/segments", wm)
    fs = FS(spark, path)
    for p in orphans:
        fs.delete(p)
    if not committed:
        raise ValueError(f"triangle state at {path!r} has no segments")
    old = spark.read.parquet(*committed).select("u", "v")
    cb = persist_tracked(_canon_edges(batch_edges))
    # everything below is confined to BATCH-TOUCHED nodes: broadcast
    # endpoint semi-filters keep every old-edge pass MAP-SIDE over the
    # segment scan — the old graph is never shuffled, never cached, and
    # never gets a graph-wide adjacency (the first cut did all three
    # and measured as slow as the recount; SCALE.md)
    endpoints = (
        cb.select(F.col("u").alias("n"))
        .unionAll(cb.select(F.col("v").alias("n")))
        .distinct()
    )
    # old edges with BOTH endpoints touched: the only old edges that can
    # (a) collide with the batch or (b) close a batch-internal wedge
    old_t = persist_tracked(
        old.join(
            F.broadcast(endpoints.withColumnRenamed("n", "u")),
            "u",
            "left_semi",
        ).join(
            F.broadcast(endpoints.withColumnRenamed("n", "v")),
            "v",
            "left_semi",
        )
    )
    delta = persist_tracked(
        cb.join(F.broadcast(old_t), ["u", "v"], "left_anti")
    )
    n_new = delta.count()
    if n_new == 0:
        out = dict(totals)
        _write_state(spark, path, batch_id, {}, out, _TRI_TOTALS)
        return out
    # Hub guard FIRST, as a plain count aggregate over the touched-node
    # edge stream — never via size(collect_list): the guard exists for
    # the mega-hub regime (degree ~10^8 → a ~GB array row), and a guard
    # that materializes the giant row to measure it would OOM the
    # executor before the ValueError fires (ADVICE r11). A count
    # aggregate is map-side combinable and its state is one long per
    # touched node.
    # persisted: consumed by TWO jobs (the guard's max and the final
    # wedge-advance d_old) — unpersisted it would re-scan and re-shuffle
    # the touched old-edge stream once per consumer (code-review r12)
    touched_deg = persist_tracked(
        _both_dirs(old)
        .join(F.broadcast(endpoints), "n", "left_semi")
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    if hub_degree_limit is not None:
        hub = (
            touched_deg.agg(F.max("_d").alias("mx")).first()["mx"] or 0
        )
        if hub > hub_degree_limit:
            raise ValueError(
                f"batch touches a node with old degree {hub} > "
                f"hub_degree_limit={hub_degree_limit}; its adjacency "
                "would materialize as one array row — rebuild via "
                "triangle_state_build instead of appending"
            )
    # full OLD neighbor lists, but only for touched nodes (map-side
    # filter, shuffle bounded by Σ deg(touched)) — built only after the
    # guard passes
    adj_t = persist_tracked(
        _both_dirs(old)
        .join(F.broadcast(endpoints), "n", "left_semi")
        .groupBy("n")
        .agg(F.sort_array(F.collect_list("m")).alias("nb"))
    )
    # t1: both-old wedges closing each new edge — common OLD neighbors
    # of the new edge's endpoints
    t1 = (
        delta.join(
            adj_t.select(F.col("n").alias("u"), F.col("nb").alias("_nu")),
            "u",
        )
        .join(
            adj_t.select(F.col("n").alias("v"), F.col("nb").alias("_nv")),
            "v",
        )
        .select(F.size(F.array_intersect("_nu", "_nv")).alias("_c"))
        .groupBy()
        .agg(F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("t"))
        .first()["t"]
    )
    # batch-internal wedges ONCE (sorted Δ-adjacency → in-row pair
    # expansion, the cooccurrence_edges trick; NOT deduped — each
    # (center, pair) incidence is one row), serving both closures:
    # closed by an OLD edge → t2 (center unique per triangle: exactly
    # one count); closed by a NEW edge → a 3-new triangle seen once per
    # its 3 wedge centers, so t3 = matches/3 (cheaper than a full
    # op-142 run over the batch, which cost ~4 s of job overhead)
    dadj = _both_dirs(delta).groupBy("n").agg(
        F.sort_array(F.collect_list("m")).alias("_is")
    )
    wedge_pairs = persist_tracked(
        dadj.select(
            F.explode(
                F.expr(
                    "flatten(transform(_is, (x, i) -> "
                    "transform(slice(_is, i + 2, size(_is)), "
                    "y -> struct(x AS u, y AS v))))"
                )
            ).alias("_p")
        ).select("_p.u", "_p.v")
    )
    t2 = wedge_pairs.join(
        F.broadcast(old_t), ["u", "v"], "left_semi"
    ).count()
    t3_x3 = wedge_pairs.join(
        F.broadcast(delta), ["u", "v"], "left_semi"
    ).count()
    if t3_x3 % 3:
        raise AssertionError(
            f"wedge-closure count {t3_x3} not divisible by 3 — "
            "the 3-wedges-per-triangle invariant broke"
        )
    t3 = t3_x3 // 3
    # wedge advance from touched nodes only: Σ C(d_old+δ, 2) − C(d_old, 2)
    # (exact — untouched nodes' degrees are unchanged); d_old read off
    # the guard's count aggregate (same domain as adj_t, no giant-array
    # size() pass)
    d_delta = (
        _both_dirs(delta).groupBy("n").agg(F.count(F.lit(1)).alias("dd"))
    )
    d_old = touched_deg.select("n", F.col("_d").alias("do"))
    dw = (
        d_delta.join(d_old, "n", "left")
        .select(
            (
                F.expr(
                    "(coalesce(do, 0) + dd) * (coalesce(do, 0) + dd - 1)"
                    " div 2"
                )
                - F.expr("coalesce(do, 0) * (coalesce(do, 0) - 1) div 2")
            ).alias("_w")
        )
        .groupBy()
        .agg(F.coalesce(F.sum("_w"), F.lit(0)).cast("long").alias("w"))
        .first()["w"]
    )
    out = {
        "n_edges": totals["n_edges"] + n_new,
        "n_wedges": totals["n_wedges"] + dw,
        "n_triangles": totals["n_triangles"] + t1 + t2 + t3,
    }
    _write_state(
        spark, path, batch_id, {"segments": delta}, out, _TRI_TOTALS
    )
    return out


def triangle_state_report(spark, path: str) -> DataFrame:
    """The op-142 result row from stored totals — global_clustering via
    the IDENTICAL Spark expression as triangle_count, so
    report(state) ≡ triangle_count(all edges) column-for-column."""
    _, totals = _read_totals(spark, path, _TRI_TOTALS)
    if totals is None:
        raise ValueError(f"no triangle state at {path!r} — build first")
    base = spark.createDataFrame(
        [
            (
                int(totals["n_edges"]),
                int(totals["n_wedges"]),
                int(totals["n_triangles"]),
            )
        ],
        "n_edges long, n_wedges long, n_triangles long",
    )
    return base.select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ),
        ).alias("global_clustering"),
    )


# ---------------------------------------------------------------------------
# Resumable PageRank iteration state (SURVEY §2.G op 157)
# ---------------------------------------------------------------------------
# At corpus-graph scale a PageRank run is hours of iterations; losing the
# driver (or wanting 5 more rounds of precision next week) should not cost
# a from-scratch rerun. The iteration state IS the rank vector: each round
# is a pure decimal function of (previous ranks, edge table), so persisting
# ranks + (iters_done, damping) makes the run restartable with the EXACT
# law resume(k) + j rounds ≡ pagerank(k + j) bit-for-bit (the decimal
# arithmetic has no accumulated-float caveat to carry across the restart).
# Contract: continue must see the SAME edge table the run started with —
# n_nodes/out-degrees re-derive from it; a grown edge set is a NEW run
# (warm-starting changed graphs changes the semantics away from
# fixed-iteration PageRank, so the repo doesn't offer it as an exact op).


def _pagerank_state_write(
    spark, path: str, iters: int, damping: str, ranks: DataFrame
) -> None:
    """One complete state version ``v{iters}`` via commit_version: a
    crash anywhere leaves the previous complete version untouched (the
    newest complete v-dir IS the state; only it is kept, pruned after
    the commit). ``iters`` is always above the stored version."""
    meta = spark.createDataFrame(
        [(int(iters), str(damping))], "iters long, damping string"
    )

    def write(tmp: str) -> None:
        ranks.write.parquet(f"{tmp}/ranks.parquet")
        meta.coalesce(1).write.parquet(f"{tmp}/meta.parquet")

    commit_version(spark, path, iters, write, keep=1)


def _pagerank_state_read(spark, path: str):
    """(iters, damping, ranks) from the newest complete version."""
    best = latest_version(spark, path)
    if best < 0:
        raise ValueError(f"no pagerank state at {path!r} — save first")
    meta = spark.read.parquet(f"{path}/v{best}/meta.parquet").first()
    ranks = spark.read.parquet(f"{path}/v{best}/ranks.parquet")
    return int(meta["iters"]), meta["damping"], ranks


def pagerank_state_save(
    edges: DataFrame,
    path: str,
    iters: int = 5,
    damping: str = "0.85",
    src: str = "src",
    dst: str = "dst",
) -> None:
    """Run ``iters`` rounds and persist the rank state under ``path``
    (overwrites any previous run's versions; growth-in-precision goes
    through :func:`pagerank_continue`)."""
    spark = edges.sparkSession
    fs = FS(spark, path)
    if fs.exists(path):
        fs.delete(path)
    ranks = pagerank(edges, iters, damping, src, dst)
    _pagerank_state_write(spark, path, iters, damping, ranks)


def pagerank_continue(
    edges: DataFrame,
    path: str,
    more_iters: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Resume a persisted run for ``more_iters`` further rounds; returns
    the new ranks and advances the stored state (a new v{iters} version
    committed by tmp + atomic rename — a crash ANYWHERE mid-continue
    leaves the previous complete version as the state, which the first
    cut's delete-then-rename pair did not guarantee). Damping comes
    from the state — the run's constant, not an argument.
    ``more_iters`` must be >= 1: 0 would overwrite the only version in
    place, and a negative count would commit below the watermark."""
    if more_iters < 1:
        raise ValueError(f"more_iters must be >= 1, got {more_iters}")
    spark = edges.sparkSession
    done, damping, ranks = _pagerank_state_read(spark, path)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # mirror pagerank's empty-graph return (ADVICE r10): resuming
        # state saved from an empty edge table must not hit the
        # teleport division — empty ranks out, state still advanced
        empty = nodes.select("node", F.lit(None).cast(DEC).alias("rank"))
        _pagerank_state_write(
            spark, path, done + int(more_iters), damping, empty
        )
        return empty
    out_deg = persist_tracked(
        edges.groupBy(src).agg(F.count(F.lit(1)).alias("_deg"))
    )
    new_ranks = _pagerank_rounds(
        edges, nodes, n_nodes, out_deg, ranks, more_iters,
        damping, src, dst,
    )
    _pagerank_state_write(
        spark, path, done + int(more_iters), damping, new_ranks
    )
    return new_ranks


# ---------------------------------------------------------------------------
# k-core extraction (SURVEY §2.G op 158)
# ---------------------------------------------------------------------------


def kcore(edges: DataFrame, k: int, max_rounds: int = 1000) -> DataFrame:
    """The k-core of an undirected (u < v) edge set: the maximal
    subgraph in which every node has degree >= k — the standard
    dense-community / spam-farm / collaboration-nucleus extractor next
    to op 142's census (a node's coreness is the strongest cohesion
    guarantee its neighborhood gives; triangles count closure, k-core
    certifies it).

    Textbook peeling, expressed as the repo's iterative-plan
    discipline (the CC / op-78 shape): each round computes degrees in
    one combinable groupBy, drops nodes below k, and semi-joins the
    edge set on BOTH endpoints; ``localCheckpoint`` per round truncates
    lineage so round i never replays rounds 0..i-1 (the O(rounds²)
    failure mode measured for CC in round 3). Rounds are bounded by the
    peeling depth (degeneracy ordering depth, small for real graphs;
    ``max_rounds`` is the runaway backstop — a graph that peels one
    node per round is adversarial, not observed). Convergence needs one
    scalar count per round — inherent to any fixpoint loop.

    Exactness: the k-core is the unique maximal fixpoint, and peeling
    order cannot change it — gated against a driver-side peeling
    reference plus structural laws (planted cliques survive a forest;
    k=1 drops nothing but isolated-free inputs keep all edges)
    (tests/test_graph.py).

    Returns the surviving canonical edge set (u < v).
    """
    e = _canon_edges(edges).localCheckpoint()
    after: int | None = None
    for _ in range(max_rounds):
        deg = _both_dirs(e).groupBy("n").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("n")
        nxt = (
            e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint()
        )
        before, after = e.count(), nxt.count()
        e = nxt
        if after == before or after == 0:
            break
    else:
        # exhausting max_rounds without the fixpoint would silently
        # return a superset of the k-core — the docstring's exactness
        # contract requires a loud failure instead (ADVICE r10);
        # detection is free, the counts above already exist
        raise RuntimeError(
            f"kcore did not reach its fixpoint within max_rounds="
            f"{max_rounds} (still peeling at {after} edges) — raise "
            "max_rounds"
        )
    return e


def kcore_reference(
    edge_list: list[tuple[int, int]], k: int
) -> set[tuple[int, int]]:
    """Driver-side peeling mirror — the differential oracle for
    :func:`kcore` (pure Python, any peeling order reaches the same
    unique maximal fixpoint)."""
    edges = {
        (min(u, v), max(u, v)) for u, v in edge_list if u != v
    }
    changed = True
    while changed and edges:
        deg: dict = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        bad = {n for n, d in deg.items() if d < k}
        changed = bool(bad)
        edges = {
            (u, v) for u, v in edges if u not in bad and v not in bad
        }
    return edges


# ---------------------------------------------------------------------------
# Incremental k-core maintenance (SURVEY §2.G op 161 — VERDICT r10 #3,
# the last graph op outside the incremental column)
# ---------------------------------------------------------------------------
# Under edge APPENDS the k-core is monotone: kcore(A) ⊆ kcore(A ∪ B),
# because kcore(A) is a subgraph of A ∪ B with min degree ≥ k and the
# k-core is the maximal such subgraph. So stored core nodes never leave —
# the append only has to decide who ENTERS. Completeness of the candidate
# region: let S* = newcore \ oldcore and C a connected component of the
# subgraph induced on S*. If C contained no batch endpoint, every edge
# incident to C would be old, and every node of C has ≥ k neighbors in
# oldcore ∪ C — then oldcore ∪ C had min degree ≥ k in the OLD graph,
# contradicting C ∩ oldcore = ∅. Hence every component of S* contains a
# batch endpoint that is non-core, and (S* being disjoint from the core)
# is reachable from it through non-core nodes only. The append therefore:
#   1. seeds a BFS at the batch's non-core endpoints, expanding through
#      NON-CORE nodes over old ∪ delta edges → the candidate region R
#      (each round: one map-side broadcast-semi scan of the segments —
#      the old graph is never shuffled, the op-154 discipline);
#   2. peels R with the old core FROZEN as anchors: a candidate's degree
#      is (#neighbors outside R — provably all old-core) + (#alive
#      neighbors inside R); rounds shuffle only region-sized frames;
#   3. the survivors S join the core; the added core edges are the
#      region edges induced on S ∪ oldcore plus the delta edges internal
#      to the old core (the k-core is the INDUCED subgraph on its nodes).
# Storage follows the op-154 segment discipline exactly — append-only
# all-edge segments plus append-only CORE-ADDITION segments (an edge
# enters the core at most once, so core segments are disjoint), a tiny
# versioned totals file as the rename commit point, watermark-filtered
# reads that delete crash orphans (the ADVICE-r10 lesson baked in from
# the start). kcore_state_append(state, B) ≡ kcore(A ∪ B) is pinned
# across batch shapes (tests/test_kcore_incremental.py); the planted-
# cascade sweep is recorded in SCALE.md.
# Degenerate regimes (documented, not silently slow): a batch whose
# candidate region approaches graph scale (e.g. closing a cycle that
# swallows the whole graph) makes the region broadcasts graph-sized —
# that regime is a rebuild, exactly like op-154's graph-scale batch.


_KCORE_TOTALS = ("k", "n_edges", "n_core_edges", "n_core_nodes")


def kcore_state_build(edges: DataFrame, path: str, k: int) -> dict:
    """Initialize the k-core state: canonical edges as segments/seg0,
    the op-158 k-core as core/seg0, totals as the commit. Overwrites
    any previous state at ``path``; growth goes through
    :func:`kcore_state_append`."""
    if k < 1:
        raise ValueError("k must be >= 1")
    spark = edges.sparkSession
    fs = FS(spark, path)
    for sub in ("segments", "core", "totals"):
        if fs.exists(f"{path}/{sub}"):
            fs.delete(f"{path}/{sub}")
    e = persist_tracked(_canon_edges(edges))
    core = persist_tracked(kcore(e, k))
    n_core_nodes = (
        core.select(F.col("u").alias("n"))
        .unionAll(core.select(F.col("v").alias("n")))
        .distinct()
        .count()
    )
    totals = {
        "k": k,
        "n_edges": e.count(),
        "n_core_edges": core.count(),
        "n_core_nodes": n_core_nodes,
    }
    _write_state(
        spark, path, 0, {"segments": e, "core": core}, totals, _KCORE_TOTALS
    )
    return totals


def kcore_state_report(spark, path: str) -> DataFrame:
    """The current k-core edge set (u < v) from stored core segments —
    report(state) ≡ kcore(all appended edges, k) row-for-row (the
    op-154 gate pattern)."""
    wm, totals = _read_totals(spark, path, _KCORE_TOTALS)
    if totals is None:
        raise ValueError(f"no kcore state at {path!r} — build first")
    committed, _ = split_segments(spark, f"{path}/core", wm)
    if not committed:
        raise ValueError(f"kcore state at {path!r} has no core segments")
    return spark.read.parquet(*committed).select("u", "v")


def kcore_state_append(
    spark,
    path: str,
    batch_edges: DataFrame,
    batch_id: int,
    max_bfs_rounds: int = 200,
    max_peel_rounds: int = 200,
) -> dict | bool:
    """Fold one edge batch into the stored k-core (op 161). Returns the
    updated totals, or False when ``batch_id`` <= the stored watermark
    (transactional replay no-op). Earlier committed segments are never
    rewritten; orphans above the watermark are deleted before any read.

    Cost contract: every pass over the old graph is a map-side
    broadcast-semi filter of the segment scan (the old graph is never
    shuffled); every shuffle is sized by the candidate region, not the
    graph. BFS rounds are bounded by the region's diameter and peel
    rounds by its peeling depth — both loud failures, not silent
    wrong answers, when the bounds are exceeded."""
    wm, totals = _read_totals(spark, path, _KCORE_TOTALS)
    if totals is None:
        raise ValueError(f"no kcore state at {path!r} — build first")
    if batch_id <= wm:
        return False
    k = totals["k"]
    seg_c, seg_o = split_segments(spark, f"{path}/segments", wm)
    core_c, core_o = split_segments(spark, f"{path}/core", wm)
    fs = FS(spark, path)
    for p in seg_o + core_o:
        fs.delete(p)
    if not seg_c or not core_c:
        raise ValueError(f"kcore state at {path!r} is missing segments")
    old = spark.read.parquet(*seg_c).select("u", "v")
    old_core = spark.read.parquet(*core_c).select("u", "v")

    # batch/region-bounded frames below are localCheckpoint'ed, not
    # just persisted: persist caches DATA but leaves the full logical
    # tree in every downstream plan, and this operator derives frames
    # from frames enough times that the tree grows combinatorially
    # (AQE's per-stage plan stringification then OOMs a default-sized
    # driver). Checkpointing flattens each level to a LogicalRDD. The
    # graph-sized frames (old, old_core, union_edges) are NEVER
    # checkpointed — they stay as pure scans.
    cb = _canon_edges(batch_edges).localCheckpoint()
    endpoints = (
        cb.select(F.col("u").alias("n"))
        .unionAll(cb.select(F.col("v").alias("n")))
        .distinct()
        .localCheckpoint()
    )
    # delta = genuinely new edges (endpoint-confined anti, op-154 trick)
    old_t = old.join(
        F.broadcast(endpoints.withColumnRenamed("n", "u")), "u", "left_semi"
    ).join(
        F.broadcast(endpoints.withColumnRenamed("n", "v")), "v", "left_semi"
    )
    delta = cb.join(
        F.broadcast(old_t), ["u", "v"], "left_anti"
    ).localCheckpoint()
    n_new = delta.count()
    if n_new == 0:
        out = dict(totals)
        _write_state(spark, path, batch_id, {}, out, _KCORE_TOTALS)
        return out
    union_edges = old.unionAll(delta)

    # core membership of batch endpoints: one map-side scan of the core
    # segments confined to the (broadcast) endpoint set — a k-core with
    # k >= 1 has no isolated nodes, so core nodes ≡ core-edge endpoints
    ep_core = (
        _both_dirs(old_core)
        .select("n")
        .join(F.broadcast(endpoints), "n", "left_semi")
        .distinct()
        .localCheckpoint()
    )
    seeds = endpoints.join(
        F.broadcast(ep_core), "n", "left_anti"
    ).localCheckpoint()

    # --- BFS: candidate region R = non-core nodes reachable from the
    # seeds via non-core DEGREE-QUALIFIED nodes over old ∪ delta edges.
    # Pruning is exact: a node with union-degree < k can never be in
    # any k-core, and the S* components the completeness argument finds
    # are connected via S* nodes — all of which have degree ≥ k — so
    # expanding only through degree-qualified nodes still reaches every
    # entrant while never crawling the sub-k non-core fringe (which on
    # a real graph is most of the non-core mass).
    region = seeds
    frontier = seeds
    if frontier.count() > 0:
        for _ in range(max_bfs_rounds):
            nbrs = (
                _both_dirs(union_edges)
                .join(F.broadcast(frontier), "n", "left_semi")
                .select(F.col("m").alias("n"))
                .distinct()
                .join(F.broadcast(region), "n", "left_anti")
            )
            # drop neighbors that are in the OLD core (frozen anchors):
            # map-side scan of the core segments confined to nbrs
            nbr_core = (
                _both_dirs(old_core)
                .select("n")
                .join(F.broadcast(nbrs), "n", "left_semi")
                .distinct()
            )
            # checkpoint before re-broadcasting: keeps each round's
            # plan shallow (the degree pass below would otherwise embed
            # the whole nbrs plan inside its broadcast — plan depth
            # grows per round and the driver pays it in AQE plan-string
            # memory)
            cand = nbrs.join(
                F.broadcast(nbr_core), "n", "left_anti"
            ).localCheckpoint()
            # degree qualification: map-side confined count over the
            # union scan — only deg >= k nodes can enter the core
            frontier = (
                _both_dirs(union_edges)
                .join(F.broadcast(cand), "n", "left_semi")
                .groupBy("n")
                .agg(F.count(F.lit(1)).alias("_d"))
                .filter(F.col("_d") >= k)
                .select("n")
                .localCheckpoint()
            )
            if frontier.count() == 0:
                break
            region = region.unionAll(frontier).localCheckpoint()
        else:
            raise RuntimeError(
                f"kcore_state_append BFS did not converge within "
                f"max_bfs_rounds={max_bfs_rounds} — the candidate region "
                "is pathologically deep; rebuild via kcore_state_build"
            )
    # region is already a flat checkpointed frame

    # --- region edges + frozen-anchor degrees --------------------------
    # a non-R neighbor of a region node is either an old-core node (a
    # frozen anchor) or a BFS-pruned sub-k non-core node (which can
    # never be in any k-core and contributes nothing) — anchors are
    # therefore VERIFIED against the core segments, never assumed
    ru = region.withColumnRenamed("n", "u")
    rv = region.withColumnRenamed("n", "v")
    # NOTE every semi/anti USING-join below re-selects (u, v): Spark
    # moves the join key FIRST in a USING join's output, so a positional
    # unionAll after a join on "v" would swap the endpoints
    e_u = union_edges.join(F.broadcast(ru), "u", "left_semi").select(
        "u", "v"
    )
    e_v = union_edges.join(F.broadcast(rv), "v", "left_semi").select(
        "u", "v"
    )
    region_edges = e_u.unionAll(e_v).distinct().localCheckpoint()
    # split: candidate-candidate edges vs candidate-anchor edges
    cand_cand = (
        region_edges.join(F.broadcast(ru), "u", "left_semi")
        .join(F.broadcast(rv), "v", "left_semi")
        .select("u", "v")
        .localCheckpoint()
    )
    anchor_inc = region_edges.join(
        F.broadcast(cand_cand), ["u", "v"], "left_anti"
    ).localCheckpoint()
    # verify the non-R endpoint of each anchor edge against the core
    # segments (map-side confined scan); edges to pruned sub-k nodes
    # drop out here — they can never contribute core degree
    anc_nodes = (
        _both_dirs(anchor_inc)
        .select("n")
        .join(F.broadcast(region), "n", "left_anti")
        .distinct()
    )
    anc_core = (
        _both_dirs(old_core)
        .select("n")
        .join(F.broadcast(anc_nodes), "n", "left_semi")
        .distinct()
    )
    # an anchor edge has exactly one non-R endpoint, so the two semis
    # below are disjoint
    anchor_ok = (
        anchor_inc.join(
            F.broadcast(anc_core.withColumnRenamed("n", "u")),
            "u",
            "left_semi",
        )
        .select("u", "v")
        .unionAll(
            anchor_inc.join(
                F.broadcast(anc_core.withColumnRenamed("n", "v")),
                "v",
                "left_semi",
            ).select("u", "v")
        )
        .localCheckpoint()
    )
    # per-candidate anchor degree (the anchor endpoint is the non-R one)
    a_deg = (
        _both_dirs(anchor_ok)
        .join(F.broadcast(region), "n", "left_semi")
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("ad"))
        .localCheckpoint()
    )

    # --- peel R with anchors frozen ------------------------------------
    alive = region.localCheckpoint()
    n_alive = alive.count()
    for _ in range(max_peel_rounds):
        if n_alive == 0:
            break
        live_cc = (
            cand_cand.join(
                F.broadcast(alive.withColumnRenamed("n", "u")),
                "u",
                "left_semi",
            ).join(
                F.broadcast(alive.withColumnRenamed("n", "v")),
                "v",
                "left_semi",
            )
        )
        cc_deg = _both_dirs(live_cc).groupBy("n").agg(
            F.count(F.lit(1)).alias("cd")
        )
        deg = (
            alive.join(a_deg, "n", "left")
            .join(cc_deg, "n", "left")
            .select(
                "n",
                (
                    F.coalesce(F.col("ad"), F.lit(0))
                    + F.coalesce(F.col("cd"), F.lit(0))
                ).alias("d"),
            )
        )
        nxt = deg.filter(F.col("d") >= k).select("n").localCheckpoint()
        n_nxt = nxt.count()
        alive = nxt
        if n_nxt == n_alive:
            break
        n_alive = n_nxt
    else:
        raise RuntimeError(
            f"kcore_state_append peel did not reach its fixpoint within "
            f"max_peel_rounds={max_peel_rounds} — raise the bound"
        )
    survivors = alive  # already a flat checkpointed frame
    n_promoted = survivors.count()

    # --- core additions: induced edges on (old core ∪ survivors) that
    # touch a survivor, plus delta edges internal to the old core -------
    su = survivors.withColumnRenamed("n", "u")
    sv = survivors.withColumnRenamed("n", "v")
    cc_add = (
        cand_cand.join(F.broadcast(su), "u", "left_semi")
        .join(F.broadcast(sv), "v", "left_semi")
        .select("u", "v")
    )
    # verified core-anchored edges whose candidate endpoint survived
    # (edges to pruned non-core neighbors are NOT in anchor_ok and
    # never enter the core — the induced-subgraph contract)
    dead = region.join(F.broadcast(survivors), "n", "left_anti")
    anchor_add = (
        anchor_ok.join(
            F.broadcast(dead.withColumnRenamed("n", "u")), "u", "left_anti"
        )
        .join(F.broadcast(dead.withColumnRenamed("n", "v")), "v", "left_anti")
        .select("u", "v")
    )
    # delta edges with BOTH endpoints in the old core (no endpoint in R)
    delta_cc = (
        delta.join(F.broadcast(ru), "u", "left_anti")
        .join(F.broadcast(rv), "v", "left_anti")
        .select("u", "v")
    )
    core_add = (
        cc_add.unionAll(anchor_add).unionAll(delta_cc).localCheckpoint()
    )
    n_core_add = core_add.count()
    out = {
        "k": k,
        "n_edges": totals["n_edges"] + n_new,
        "n_core_edges": totals["n_core_edges"] + n_core_add,
        "n_core_nodes": totals["n_core_nodes"] + n_promoted,
    }
    segs = {"segments": delta, "core": core_add if n_core_add > 0 else None}
    _write_state(spark, path, batch_id, segs, out, _KCORE_TOTALS)
    return out
