"""Small-file compaction (SURVEY §2 round-4): file count shrinks to the
byte-sized plan, content is preserved exactly, the swap leaves no
staging residue, an already-compact table is a no-op, and an interrupt
between the swap's two renames never loses the table."""

from __future__ import annotations

from collections import Counter

import pytest

from dwca_parquet_spark.fs import FS
from dwca_parquet_spark.sinks.compact import compact_parquet, compaction_plan


def test_compact_shrinks_and_preserves(spark, tmp_path):
    src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    path = str(tmp_path / "shattered")
    # the degraded state (zstd like every sink in this repo — a codec
    # CHANGE during compaction shifts the byte total and costs one extra
    # converging pass, see compact_parquet docstring)
    src.repartition(64).write.option("compression", "zstd").parquet(path)

    plan0 = compaction_plan(spark, path, target_bytes=1 << 40)
    assert plan0["n_files"] == 64

    before = Counter(map(tuple, spark.read.parquet(path).collect()))
    target = max(1, plan0["total_bytes"] // 4)  # aim for ~4-5 files
    result = compact_parquet(spark, path, target_bytes=target)
    assert result["acted"] is True
    assert result["n_files_after"] < 64
    assert result["n_files_after"] <= result["n_out"] + 1

    after = Counter(map(tuple, spark.read.parquet(path).collect()))
    assert after == before

    # no staging residue
    leftovers = [p.name for p in tmp_path.iterdir()]
    assert leftovers == ["shattered"]

    # idempotent: second run is a no-op
    again = compact_parquet(spark, path, target_bytes=target)
    assert again["acted"] is False
    assert again["n_files"] == result["n_files_after"]


def _shattered(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(400).repartition(16).write.option("compression", "zstd").parquet(path)
    rows = Counter(r.id for r in spark.read.parquet(path).collect())
    return path, rows, compaction_plan(spark, path, 1 << 40)["total_bytes"] // 2


def _interrupt_swap(monkeypatch, calls_that_raise):
    """Make ``FS.rename`` raise KeyboardInterrupt on the given call numbers."""
    original, n = FS.rename, [0]

    def rename(self, src, dst):
        n[0] += 1
        if n[0] in calls_that_raise:
            raise KeyboardInterrupt(f"injected at rename {n[0]}")
        return original(self, src, dst)

    monkeypatch.setattr(FS, "rename", rename)
    return original


def test_compact_interrupt_between_renames_rolls_back(spark, tmp_path, monkeypatch):
    """An interrupt from the second rename (tmp → t) is rolled back, not
    left with ``t`` missing; the next call compacts the same rows."""
    path, rows, target = _shattered(spark, tmp_path)
    original = _interrupt_swap(monkeypatch, {2})
    with pytest.raises(KeyboardInterrupt):
        compact_parquet(spark, path, target_bytes=target)
    monkeypatch.setattr(FS, "rename", original)
    assert Counter(r.id for r in spark.read.parquet(path).collect()) == rows

    assert compact_parquet(spark, path, target_bytes=target)["acted"] is True
    assert Counter(r.id for r in spark.read.parquet(path).collect()) == rows
    assert [p.name for p in tmp_path.iterdir()] == ["t"]


def test_compact_repairs_a_swap_that_died_midway(spark, tmp_path, monkeypatch):
    """A process that died between the two renames (its rollback never
    ran) leaves the table only at ``t.compact-old``; the next call puts it
    back before anything else and compacts the same rows."""
    path, rows, target = _shattered(spark, tmp_path)
    original = _interrupt_swap(monkeypatch, {2, 3})  # the rollback dies too
    with pytest.raises(KeyboardInterrupt):
        compact_parquet(spark, path, target_bytes=target)
    monkeypatch.setattr(FS, "rename", original)
    assert not (tmp_path / "t").exists() and (tmp_path / "t.compact-old").exists()

    result = compact_parquet(spark, path, target_bytes=target)
    assert result["acted"] is True and result["n_files"] == 16
    assert Counter(r.id for r in spark.read.parquet(path).collect()) == rows
    assert [p.name for p in tmp_path.iterdir()] == ["t"]
