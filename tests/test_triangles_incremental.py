"""Incremental triangle census (SURVEY §2.G op 154).

The op-134/136 gate pattern:
  * append(state, B) ≡ triangle_count(A ∪ B), column-for-column, across
    batch shapes — random splits, chained appends, batches with
    duplicate/reversed/already-present edges, brand-new nodes,
    triangle-free batches, an empty delta;
  * earlier segment files are NEVER rewritten by an append (byte-pinned);
  * replay of a seen batch_id is a transactional no-op.
The planted-hub append sweep was a one-off script, now only in git
history; SCALE.md carries its numbers.
"""

from __future__ import annotations

import hashlib
import random
from pathlib import Path

from dwca_parquet_spark.operators.graph import (
    triangle_count,
    triangle_state_append,
    triangle_state_build,
    triangle_state_report,
)


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(int(u), int(v)) for u, v in pairs], "u long, v long"
    )


def _random_graph(n_nodes, n_edges, seed):
    rng = random.Random(seed)
    seen = set()
    while len(seen) < n_edges:
        u, v = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if u != v:
            seen.add((min(u, v), max(u, v)))
    return sorted(seen)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _dir_hashes(root: Path) -> dict[str, str]:
    out = {}
    for p in sorted(root.rglob("*")):
        if p.is_file():
            out[str(p.relative_to(root))] = hashlib.sha256(
                p.read_bytes()
            ).hexdigest()
    return out


def test_append_equals_recount_random_splits(spark, tmp_path):
    edges = _random_graph(60, 300, seed=1)
    rng = random.Random(2)
    rng.shuffle(edges)
    a, b1, b2 = edges[:150], edges[150:230], edges[230:]
    path = str(tmp_path / "tri")
    triangle_state_build(_edges_df(spark, a), path)
    assert _rows(triangle_state_report(spark, path)) == _rows(
        triangle_count(_edges_df(spark, a))
    )
    triangle_state_append(spark, path, _edges_df(spark, b1), 1)
    assert _rows(triangle_state_report(spark, path)) == _rows(
        triangle_count(_edges_df(spark, a + b1))
    )
    triangle_state_append(spark, path, _edges_df(spark, b2), 2)
    assert _rows(triangle_state_report(spark, path)) == _rows(
        triangle_count(_edges_df(spark, edges))
    )


def test_append_dedupes_reversed_duplicate_and_seen_edges(spark, tmp_path):
    a = [(1, 2), (2, 3), (1, 3), (3, 4)]
    path = str(tmp_path / "tri")
    triangle_state_build(_edges_df(spark, a), path)
    # batch: reversed form of a seen edge, an internal duplicate, a
    # self-loop, and two genuinely new edges closing two new triangles
    batch = [(2, 1), (4, 1), (4, 1), (5, 5), (2, 4)]
    out = triangle_state_append(spark, path, _edges_df(spark, batch), 1)
    union = a + [(1, 4), (2, 4)]
    expect = _rows(triangle_count(_edges_df(spark, union)))
    assert _rows(triangle_state_report(spark, path)) == expect
    assert out["n_edges"] == 6


def test_append_cases_split_exactly(spark, tmp_path):
    # one triangle per case: t1 (1 new edge), t2 (2 new sharing a
    # vertex), t3 (3 new), plus a triangle-free tail batch
    a = [(1, 2), (2, 3), (10, 11), (20, 21)]
    path = str(tmp_path / "tri")
    triangle_state_build(_edges_df(spark, a), path)
    batch = [
        (1, 3),  # t1: closes 1-2-3 via two old edges
        (10, 12), (11, 12),  # t2: two new edges + old (10,11)
        (30, 31), (31, 32), (30, 32),  # t3: all-new triangle
    ]
    out = triangle_state_append(spark, path, _edges_df(spark, batch), 1)
    assert out["n_triangles"] == 3
    assert _rows(triangle_state_report(spark, path)) == _rows(
        triangle_count(_edges_df(spark, a + batch))
    )
    # triangle-free batch with brand-new nodes advances edges only
    out2 = triangle_state_append(
        spark, path, _edges_df(spark, [(40, 41), (41, 42)]), 2
    )
    assert out2["n_triangles"] == 3
    assert out2["n_edges"] == out["n_edges"] + 2
    # empty delta (all edges already present) still advances the
    # watermark with unchanged totals
    out3 = triangle_state_append(
        spark, path, _edges_df(spark, [(1, 2), (3, 2)]), 3
    )
    assert out3 == out2


def test_earlier_segments_byte_pinned_and_replay_noop(spark, tmp_path):
    edges = _random_graph(40, 150, seed=3)
    a, b1, b2 = edges[:80], edges[80:120], edges[120:]
    root = tmp_path / "tri"
    path = str(root)
    triangle_state_build(_edges_df(spark, a), path)
    triangle_state_append(spark, path, _edges_df(spark, b1), 1)
    before = _dir_hashes(root / "segments")
    report_before = _rows(triangle_state_report(spark, path))
    # replay of batch 1 → no-op, nothing changes anywhere
    assert triangle_state_append(spark, path, _edges_df(spark, b1), 1) is False
    assert _dir_hashes(root / "segments") == before
    assert _rows(triangle_state_report(spark, path)) == report_before
    # a real append adds seg2 but never touches seg0/seg1 bytes
    triangle_state_append(spark, path, _edges_df(spark, b2), 2)
    after = _dir_hashes(root / "segments")
    assert {k: v for k, v in after.items() if not k.startswith("seg2")} == before
    assert _rows(triangle_state_report(spark, path)) == _rows(
        triangle_count(_edges_df(spark, edges))
    )


def test_planted_hub_append(spark, tmp_path):
    # a hub of degree 300 in the base graph; the batch attaches edges
    # between hub neighbors (each closes exactly one t1 triangle at the
    # hub) — the power-law shape the sweep tool measures at scale
    hub = 0
    a = [(hub, i) for i in range(1, 301)]
    path = str(tmp_path / "tri")
    triangle_state_build(_edges_df(spark, a), path)
    batch = [(i, i + 1) for i in range(1, 300, 2)]
    out = triangle_state_append(spark, path, _edges_df(spark, batch), 1)
    assert out["n_triangles"] == len(batch)
    assert _rows(triangle_state_report(spark, path)) == _rows(
        triangle_count(_edges_df(spark, a + batch))
    )


def test_crash_orphan_segment_is_ignored_and_healed(spark, tmp_path):
    """ADVICE r10 #1: a crash between the segment write and the totals
    rename leaves an orphan seg{batch_id} above the watermark. The
    retry (foreachBatch replays the batch) must NOT read it as old
    edges — that made the delta empty, committed unchanged totals, and
    left totals/segments permanently inconsistent."""
    edges = _random_graph(40, 160, seed=7)
    a, b1, b2 = edges[:80], edges[80:120], edges[120:]
    path = str(tmp_path / "tri")
    triangle_state_build(_edges_df(spark, a), path)
    triangle_state_append(spark, path, _edges_df(spark, b1), 1)
    # simulate the crashed batch-2 append: its delta segment landed,
    # its totals never committed (the commit point is the rename)
    from dwca_parquet_spark.operators.graph import _canon_edges

    _canon_edges(_edges_df(spark, b2)).write.parquet(
        f"{path}/segments/seg2"
    )
    report_mid = _rows(triangle_state_report(spark, path))
    assert report_mid == _rows(triangle_count(_edges_df(spark, a + b1)))
    out = triangle_state_append(spark, path, _edges_df(spark, b2), 2)
    assert out is not False and out["n_edges"] == len(edges)
    assert _rows(triangle_state_report(spark, path)) == _rows(
        triangle_count(_edges_df(spark, edges))
    )
    # and a later append still sees a consistent state
    extra = [(100, 101), (101, 102), (100, 102)]
    triangle_state_append(spark, path, _edges_df(spark, extra), 3)
    assert _rows(triangle_state_report(spark, path)) == _rows(
        triangle_count(_edges_df(spark, edges + extra))
    )


def test_hub_degree_limit_guard(spark, tmp_path):
    """VERDICT r10 #6: a batch touching a mega-hub materializes that
    hub's whole old adjacency in one array row — the counted guard
    raises instead, and leaves the state untouched for the rebuild."""
    import pytest

    hub = 0
    a = [(hub, i) for i in range(1, 101)]
    path = str(tmp_path / "tri")
    triangle_state_build(_edges_df(spark, a), path)
    with pytest.raises(ValueError, match="hub_degree_limit"):
        triangle_state_append(
            spark,
            path,
            _edges_df(spark, [(hub, 200)]),
            1,
            hub_degree_limit=50,
        )
    # state untouched: the same batch_id still appends cleanly
    out = triangle_state_append(
        spark, path, _edges_df(spark, [(hub, 200)]), 1
    )
    assert out["n_edges"] == 101
    # a batch under the limit passes with the guard on
    out2 = triangle_state_append(
        spark,
        path,
        _edges_df(spark, [(1, 2)]),
        2,
        hub_degree_limit=50,
    )
    assert out2["n_triangles"] == 1  # closes hub-1-2 via the hub


def test_stream_wiring_converges(spark, tmp_path):
    # build on a third of the edges, stream the rest in micro-batches
    from dwca_parquet_spark.streaming.funnel import stream_triangle_maintain
    from dwca_parquet_spark.operators.graph import triangle_state_report

    edges = _random_graph(50, 200, seed=11)
    base, rest = edges[:70], edges[70:]
    path = str(tmp_path / "tri")
    triangle_state_build(_edges_df(spark, base), path)
    src = str(tmp_path / "src")
    _edges_df(spark, rest).repartition(3).write.parquet(src)
    q = stream_triangle_maintain(
        spark.readStream.schema("u long, v long").format("parquet").load(src),
        path,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert _rows(triangle_state_report(spark, path)) == _rows(
        triangle_count(_edges_df(spark, edges))
    )
