"""connected_components: the distributed min-label loop, which only runs
above ``_CC_LOCAL_MAX_EDGES`` edges, gives the same labels as the
single-task local kernel, with and without broadcast label tables."""

from __future__ import annotations

import pytest

from dwca_parquet_spark.operators import dedup

# three components plus a long path (several pointer-jumping rounds) and
# an isolated pair
NUMERIC = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 13), (13, 14),
           (14, 15), (15, 16), (40, 7), (7, 8), (100, 101)]


def _not_called(edges):
    raise AssertionError("the local kernel ran above its edge bound")


def _labels(df) -> dict:
    return {r["node"]: r["label"] for r in dedup.connected_components(df).collect()}


@pytest.mark.parametrize("ids", ["numeric", "string"])
@pytest.mark.parametrize("broadcast_max_nodes", [None, 0])
def test_distributed_loop_matches_local_kernel(
    spark, monkeypatch, ids, broadcast_max_nodes
):
    if ids == "numeric":
        df = spark.createDataFrame(NUMERIC, "id_a long, id_b long")
    else:
        df = spark.createDataFrame(
            [(f"n{a:03d}", f"n{b:03d}") for a, b in NUMERIC],
            "id_a string, id_b string",
        )
    local = _labels(df)
    # sanity: components are keyed by their minimum id
    assert len(set(local.values())) == 4
    monkeypatch.setattr(dedup, "_CC_LOCAL_MAX_EDGES", 0)
    monkeypatch.setattr(dedup, "_cc_local_arrow", _not_called)
    if broadcast_max_nodes is not None:
        monkeypatch.setattr(dedup, "_CC_BROADCAST_MAX_NODES", broadcast_max_nodes)
    assert _labels(df) == local
