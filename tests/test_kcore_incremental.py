"""Incremental k-core maintenance (SURVEY §2.G op 161 — VERDICT r10 #3).

The op-154 gate pattern:
  * kcore_state_append(state, B) ≡ kcore(A ∪ B) as an edge SET, across
    batch shapes — random splits, chained appends, a cascade batch that
    pulls a whole structure into the core, duplicate/reversed/seen
    edges, core-internal edges, brand-new disconnected cliques, an
    empty delta;
  * earlier segment files (edges AND core additions) are NEVER
    rewritten by an append (byte-pinned);
  * replay of a seen batch_id is a transactional no-op;
  * a crash orphan (segment above the totals watermark) is ignored and
    healed — the ADVICE-r10 triangle lesson, baked in from the start.
The planted-cascade append sweep was a one-off script, now only in git
history; SCALE.md carries its numbers.
"""

from __future__ import annotations

import hashlib
import random
from pathlib import Path

import pytest

from dwca_parquet_spark.operators.graph import (
    _canon_edges,
    kcore,
    kcore_reference,
    kcore_state_append,
    kcore_state_build,
    kcore_state_report,
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


def _eset(df):
    return {(r["u"], r["v"]) for r in df.collect()}


def _dir_hashes(root: Path) -> dict[str, str]:
    out = {}
    for p in sorted(root.rglob("*")):
        if p.is_file():
            out[str(p.relative_to(root))] = hashlib.sha256(
                p.read_bytes()
            ).hexdigest()
    return out


def test_append_equals_repeel_random_splits(spark, tmp_path):
    for k in (2, 3):
        edges = _random_graph(50, 220, seed=10 * k)
        rng = random.Random(k)
        rng.shuffle(edges)
        a, b1, b2 = edges[:110], edges[110:170], edges[170:]
        path = str(tmp_path / f"kc{k}")
        kcore_state_build(_edges_df(spark, a), path, k)
        assert _eset(kcore_state_report(spark, path)) == kcore_reference(
            a, k
        )
        kcore_state_append(spark, path, _edges_df(spark, b1), 1)
        assert _eset(kcore_state_report(spark, path)) == kcore_reference(
            a + b1, k
        )
        out = kcore_state_append(spark, path, _edges_df(spark, b2), 2)
        want = kcore_reference(edges, k)
        assert _eset(kcore_state_report(spark, path)) == want
        assert out["n_core_edges"] == len(want)
        assert out["n_core_nodes"] == len(
            {n for e in want for n in e}
        )
        assert out["n_edges"] == len(edges)


def test_cycle_closing_cascade(spark, tmp_path):
    """The canonical long cascade: a path has an empty 2-core; the one
    closing edge pulls the ENTIRE cycle in — the candidate region is
    the whole path, reached by BFS from the two batch endpoints."""
    n = 30
    a = [(i, i + 1) for i in range(n)]  # path 0..n
    path = str(tmp_path / "kc")
    kcore_state_build(_edges_df(spark, a), path, 2)
    assert kcore_state_report(spark, path).count() == 0
    out = kcore_state_append(spark, path, _edges_df(spark, [(0, n)]), 1)
    assert out["n_core_edges"] == n + 1
    assert out["n_core_nodes"] == n + 1
    assert _eset(kcore_state_report(spark, path)) == kcore_reference(
        a + [(0, n)], 2
    )


def test_batch_shapes(spark, tmp_path):
    # base: a 4-clique core (k=3) plus a pendant path
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    tail = [(3, 10), (10, 11)]
    base = clique + tail
    path = str(tmp_path / "kc")
    kcore_state_build(_edges_df(spark, base), path, 3)
    assert _eset(kcore_state_report(spark, path)) == set(clique)
    # batch: reversed seen edge, duplicate, self-loop, a core-internal
    # new edge (5th node fully wired to the clique → joins the core),
    # and a disconnected brand-new 4-clique (all-new nodes)
    newclique = [(20 + a, 20 + b) for a in range(4) for b in range(a + 1, 4)]
    batch = (
        [(1, 0), (1, 0), (7, 7)]
        + [(4, i) for i in range(4)]
        + newclique
    )
    out = kcore_state_append(spark, path, _edges_df(spark, batch), 1)
    union = base + [(0, 4), (1, 4), (2, 4), (3, 4)] + newclique
    want = kcore_reference(union, 3)
    assert _eset(kcore_state_report(spark, path)) == want
    assert out["n_core_edges"] == len(want)
    # empty delta advances the watermark with unchanged totals
    out2 = kcore_state_append(spark, path, _edges_df(spark, [(0, 1)]), 2)
    assert out2 == out


def test_core_core_delta_edge_joins_core(spark, tmp_path):
    """A new edge BETWEEN two old-core nodes has no non-core endpoint
    (empty candidate region) but must still enter the induced core."""
    c1 = [(a, b) for a in range(3) for b in range(a + 1, 3)]  # triangle
    c2 = [(10 + a, 10 + b) for a in range(3) for b in range(a + 1, 3)]
    path = str(tmp_path / "kc")
    kcore_state_build(_edges_df(spark, c1 + c2), path, 2)
    out = kcore_state_append(spark, path, _edges_df(spark, [(0, 10)]), 1)
    want = kcore_reference(c1 + c2 + [(0, 10)], 2)
    assert _eset(kcore_state_report(spark, path)) == want
    assert out["n_core_edges"] == len(want) == 7
    assert out["n_core_nodes"] == 6  # no new nodes


def test_segments_byte_pinned_replay_noop_and_orphan_heal(spark, tmp_path):
    edges = _random_graph(40, 170, seed=5)
    a, b1, b2 = edges[:90], edges[90:130], edges[130:]
    root = tmp_path / "kc"
    path = str(root)
    kcore_state_build(_edges_df(spark, a), path, 2)
    kcore_state_append(spark, path, _edges_df(spark, b1), 1)
    before = {
        sub: _dir_hashes(root / sub) for sub in ("segments", "core")
    }
    report_before = _eset(kcore_state_report(spark, path))
    # replay → transactional no-op
    assert (
        kcore_state_append(spark, path, _edges_df(spark, b1), 1) is False
    )
    for sub in ("segments", "core"):
        assert _dir_hashes(root / sub) == before[sub]
    assert _eset(kcore_state_report(spark, path)) == report_before
    # crash simulation: batch-2's edge segment landed, totals never
    # committed — the retry must ignore the orphan, heal, and converge
    _canon_edges(_edges_df(spark, b2)).write.parquet(
        f"{path}/segments/seg2"
    )
    assert _eset(kcore_state_report(spark, path)) == report_before
    out = kcore_state_append(spark, path, _edges_df(spark, b2), 2)
    assert out is not False and out["n_edges"] == len(edges)
    assert _eset(kcore_state_report(spark, path)) == kcore_reference(
        edges, 2
    )
    # earlier committed segments untouched by the healed append
    for sub in ("segments", "core"):
        after = _dir_hashes(root / sub)
        assert {
            p: h for p, h in after.items() if not p.startswith("seg2")
        } == before[sub]


def test_build_validation_and_missing_state(spark, tmp_path):
    df = _edges_df(spark, [(1, 2)])
    with pytest.raises(ValueError, match="k must be"):
        kcore_state_build(df, str(tmp_path / "bad"), 0)
    with pytest.raises(ValueError, match="build first"):
        kcore_state_report(spark, str(tmp_path / "none"))
    with pytest.raises(ValueError, match="build first"):
        kcore_state_append(spark, str(tmp_path / "none"), df, 1)
