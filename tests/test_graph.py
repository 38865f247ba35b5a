"""PageRank (SURVEY §2 round-4): bit-exact parity with the driver-side
Decimal mirror on a handmade graph AND on the corpus link graph
(extract_urls → registrable_domain edges), partition invariance, and
rank-mass conservation."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F

from dwca_parquet_spark.operators.graph import pagerank, pagerank_reference
from tests.conftest import SF_T2

EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("d", "c"), ("e", "c"), ("e", "a"),
    # f is dangling (no out-edges, only appears as dst)
    ("a", "f"),
]


def test_pagerank_matches_decimal_reference(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=5).collect()}
    want = pagerank_reference(EDGES, iters=5)
    assert {k: Decimal(v) for k, v in got.items()} == want

    # rank is a probability mass (up to per-node quantization drift)
    total = sum(got.values())
    assert abs(total - Decimal(1)) < Decimal("0.000001")
    # 'a' collects c's entire mass (c's only out-edge) → top rank;
    # sources d/e, pointed at by nobody, sit at the teleport floor
    assert got["a"] == max(got.values())
    assert got["d"] == got["e"] == min(got.values())

    # partition invariance — the decimal-exactness claim
    again = {
        r["node"]: r["rank"]
        for r in pagerank(df.repartition(7), iters=5).collect()
    }
    assert again == got


def test_pagerank_constant_lineage(spark):
    """Round-5 plan pin (VERDICT r4 #1): each iteration localCheckpoints,
    so the RETURNED frame's plan must not grow with iters — the lineage is
    a checkpoint scan, not iters stacked join/agg rounds — and per-
    iteration work stays constant instead of replaying rounds 0..i-1."""
    df = spark.createDataFrame(EDGES, "src string, dst string")
    plan2 = pagerank(df, iters=2)._jdf.queryExecution().analyzed().toString()
    plan8 = pagerank(df, iters=8)._jdf.queryExecution().analyzed().toString()
    # checkpointed: the final plan is a LogicalRDD scan of constant size
    assert "LogicalRDD" in plan8
    assert "Join" not in plan8 and "Aggregate" not in plan8
    assert len(plan8) <= 2 * len(plan2)


def test_pagerank_on_corpus_link_graph(spark):
    from dwca_parquet_spark.operators.text import extract_urls

    docs = spark.read.parquet(f"{SF_T2}/documents.parquet")
    urls = extract_urls(docs, "doc_id", "text", collapse_suffix=True)
    edges = urls.select(
        F.col("doc_id").cast("string").alias("src"),
        F.col("registrable_domain").alias("dst"),
    ).distinct()
    edge_list = [(r["src"], r["dst"]) for r in edges.collect()]
    if not edge_list:  # fixture carries URLs; guard regardless
        return
    got = {
        r["node"]: Decimal(r["rank"])
        for r in pagerank(edges, iters=3).collect()
    }
    want = pagerank_reference(edge_list, iters=3)
    assert got == want


# ---------------------------------------------------------------------------
# round 9: triangle census (SURVEY §2.G op 142)
# ---------------------------------------------------------------------------

from dwca_parquet_spark.operators.graph import (  # noqa: E402
    cooccurrence_edges,
    triangle_count,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u bigint, v bigint")


def test_triangle_count_k4(spark):
    # K4: 6 edges, 4 triangles, 12 wedges, clustering 3*4/12 = 1.0
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    row = triangle_count(_edges(spark, k4)).collect()[0]
    assert (row["n_edges"], row["n_wedges"], row["n_triangles"]) == (6, 12, 4)
    assert row["global_clustering"] == 1.0


def test_triangle_count_star_and_path_have_none(spark):
    star = [(0, i) for i in range(1, 6)]  # hub: 10 wedges, 0 triangles
    row = triangle_count(_edges(spark, star)).collect()[0]
    assert (row["n_wedges"], row["n_triangles"]) == (10, 0)
    assert row["global_clustering"] == 0.0

    path = [(i, i + 1) for i in range(5)]
    row = triangle_count(_edges(spark, path)).collect()[0]
    assert row["n_triangles"] == 0


def test_triangle_count_hub_with_one_closing_edge(spark):
    # hub 0 connected to 1..5 plus the single edge (1,2): exactly one
    # triangle {0,1,2}; orientation must count it once even though the
    # hub's naive wedge set is C(5,2)
    edges = [(0, i) for i in range(1, 6)] + [(1, 2)]
    row = triangle_count(_edges(spark, edges)).collect()[0]
    assert row["n_triangles"] == 1
    assert row["n_edges"] == 6


def test_cooccurrence_edges_dedup_and_canonical(spark):
    df = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 20), (1, 30), (2, 20), (2, 10), (3, 99)],
        "g bigint, i bigint",
    )
    got = {
        (r["u"], r["v"])
        for r in cooccurrence_edges(df, "g", "i").collect()
    }
    # group 1 → {10,20,30} pairs; group 2 repeats (10,20); group 3 solo
    assert got == {(10, 20), (10, 30), (20, 30)}


# --- op 157: resumable PageRank iteration state ----------------------------


def test_pagerank_resume_equals_straight_run(spark, tmp_path):
    from dwca_parquet_spark.operators.graph import (
        pagerank,
        pagerank_continue,
        pagerank_state_save,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        ["src", "dst"],
    )
    path = str(tmp_path / "pr")
    pagerank_state_save(edges, path, iters=2)
    resumed = pagerank_continue(edges, path, 3)
    straight = pagerank(edges, iters=5)
    assert sorted(map(tuple, resumed.collect())) == sorted(
        map(tuple, straight.collect())
    )
    # chained continues compose and the stored meta advances
    resumed2 = pagerank_continue(edges, path, 2)
    straight7 = pagerank(edges, iters=7)
    assert sorted(map(tuple, resumed2.collect())) == sorted(
        map(tuple, straight7.collect())
    )
    meta = spark.read.parquet(f"{path}/v7/meta.parquet").first()
    assert meta["iters"] == 7 and meta["damping"] == "0.85"


# --- op 158: k-core extraction ----------------------------------------------


def test_kcore_matches_reference_and_planted_cliques(spark):
    import random

    from dwca_parquet_spark.operators.graph import kcore, kcore_reference

    rng = random.Random(9)
    # a forest + two planted 5-cliques sharing no nodes
    edges = [(i, i + 1) for i in range(0, 40)]  # a path (2-core-free)
    for base in (100, 200):
        clique = [
            (base + a, base + b) for a in range(5) for b in range(a + 1, 5)
        ]
        edges += clique
    edges += [(rng.randrange(40), 100 + rng.randrange(5)) for _ in range(6)]
    df = spark.createDataFrame(edges, "u long, v long")
    for k in (1, 2, 3, 4, 5):
        got = {
            (r["u"], r["v"]) for r in kcore(df, k).collect()
        }
        assert got == kcore_reference(edges, k), k
    # the 4-core is exactly the two cliques; the 5-core is empty
    four = kcore_reference(edges, 4)
    assert len(four) == 20 and all(u >= 100 for u, _ in four)
    assert kcore(df, 5).count() == 0
    # cascade law: removing one clique edge peels that whole clique at k=4
    weakened = [e for e in edges if e != (100, 101)]
    got4 = {
        (r["u"], r["v"])
        for r in kcore(spark.createDataFrame(weakened, "u long, v long"), 4).collect()
    }
    assert got4 == kcore_reference(weakened, 4)
    assert all(u >= 200 for u, _ in got4)


def test_kcore_max_rounds_exhaustion_raises(spark):
    """ADVICE r10: exhausting max_rounds without the fixpoint must fail
    loudly — a silent non-fixpoint edge set contradicts the exactness
    contract."""
    import pytest

    from dwca_parquet_spark.operators.graph import kcore

    # a path peels only its endpoints each round — one round is short
    edges = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(edges, "u long, v long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        kcore(df, 2, max_rounds=1)
    # enough rounds → converges to the (empty) 2-core quietly
    assert kcore(df, 2).count() == 0


def test_pagerank_continue_empty_graph(spark, tmp_path):
    """ADVICE r10: resuming state saved from an empty edge table must
    return empty ranks, not ZeroDivisionError on the teleport share."""
    from dwca_parquet_spark.operators.graph import (
        pagerank_continue,
        pagerank_state_save,
    )

    empty = spark.createDataFrame([], "src string, dst string")
    path = str(tmp_path / "pr_empty")
    pagerank_state_save(empty, path, iters=2)
    out = pagerank_continue(empty, path, 3)
    assert out.count() == 0
    # state advanced: the meta records 5 completed iterations
    meta = spark.read.parquet(f"{path}/v5/meta.parquet").first()
    assert meta["iters"] == 5


def test_pagerank_continue_rejects_non_positive_iters(spark, tmp_path):
    """0 more rounds would commit over the only stored version in place
    (a crash between its delete and rename loses the state); a negative
    count would commit a version below the watermark that is never read.
    Both are refused before any state is touched."""
    import pytest

    from dwca_parquet_spark.operators.graph import (
        pagerank_continue,
        pagerank_state_save,
    )

    edges = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    path = tmp_path / "pr"
    pagerank_state_save(edges, str(path), iters=2)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="more_iters"):
            pagerank_continue(edges, str(path), bad)
    assert sorted(p.name for p in path.iterdir()) == ["v2"]
    meta = spark.read.parquet(f"{path}/v2/meta.parquet").first()
    assert meta["iters"] == 2
