"""The versioned-state helpers in ``dwca_parquet_spark.fs`` — the one
owner of the ``v<N>`` watermark / staged commit / prune rules and the
committed-vs-orphan segment split that every incremental fold relies on.

Filesystem only: the ``write`` callbacks create plain files, so no Spark
job runs (the session is used for its Hadoop FileSystem)."""

from __future__ import annotations

from pathlib import Path

import pytest

from dwca_parquet_spark.fs import (
    commit_single_file,
    commit_version,
    latest_version,
    split_segments,
    to_local,
)


def _names(d: Path) -> list[str]:
    return sorted(p.name for p in d.iterdir())


def _writer(payload: str):
    def write(tmp: str) -> None:
        to_local(tmp).mkdir(parents=True)
        (to_local(tmp) / "data").write_text(payload)

    return write


def test_latest_version_ignores_residue_and_other_names(spark, tmp_path):
    base = tmp_path / "state"
    assert latest_version(spark, str(base)) == -1  # missing dir
    base.mkdir()
    assert latest_version(spark, str(base)) == -1  # empty dir
    (base / "v3.tmp").mkdir()  # a crashed write is not a version
    (base / "vx").mkdir()
    (base / "v").mkdir()
    assert latest_version(spark, str(base)) == -1
    (base / "v1").mkdir()
    (base / "v10").mkdir()
    (base / "v2").mkdir()
    # numeric, not lexicographic; trailing slash and URI forms agree
    assert latest_version(spark, str(base)) == 10
    assert latest_version(spark, f"{base}/") == 10
    assert latest_version(spark, f"file://{base}") == 10


def test_commit_over_residue(spark, tmp_path):
    base = tmp_path / "state"
    residue = base / "v4.tmp"
    residue.mkdir(parents=True)
    (residue / "garbage").write_text("half-written")
    assert latest_version(spark, str(base)) == -1
    commit_version(spark, str(base), 4, _writer("four"), keep=2)
    assert _names(base) == ["v4"]
    assert _names(base / "v4") == ["data"]
    assert (base / "v4" / "data").read_text() == "four"
    assert latest_version(spark, str(base)) == 4


def test_failed_write_leaves_previous_version_as_state(spark, tmp_path):
    base = tmp_path / "state"
    commit_version(spark, str(base), 0, _writer("zero"), keep=2)

    def crash(tmp: str) -> None:
        Path(tmp).mkdir()
        raise RuntimeError("killed mid-write")

    with pytest.raises(RuntimeError):
        commit_version(spark, str(base), 1, crash, keep=2)
    assert latest_version(spark, str(base)) == 0
    # the retry cleans the residue and commits
    commit_version(spark, str(base), 1, _writer("one"), keep=2)
    assert _names(base) == ["v0", "v1"]


@pytest.mark.parametrize(
    "keep, left",
    [
        (2, ["v2", "v3"]),
        (1, ["v3"]),
        (None, ["v0", "v1", "v2", "v3"]),
    ],
)
def test_prune_keeps_newest(spark, tmp_path, keep, left):
    base = tmp_path / "state"
    for v in range(4):
        commit_version(spark, f"file://{base}", v, _writer(str(v)), keep=keep)
    assert _names(base) == left
    assert latest_version(spark, str(base)) == 3


def test_split_segments_by_watermark(spark, tmp_path):
    base = tmp_path / "segments"
    assert split_segments(spark, str(base), 5) == ([], [])
    for name in ("seg0", "seg2", "seg10", "seg3", "segx", "other"):
        (base / name).mkdir(parents=True)
    committed, orphans = split_segments(spark, str(base), 3)
    assert [p.rsplit("/", 1)[1] for p in committed] == ["seg0", "seg2", "seg3"]
    assert [p.rsplit("/", 1)[1] for p in orphans] == ["seg10"]
    committed, orphans = split_segments(spark, str(base), -1)
    assert committed == [] and len(orphans) == 4


def test_commit_single_file_replaces_target(spark, tmp_path):
    out = tmp_path / "sub" / "out.csv"

    def one_part(body: str):
        def write(tmp: str) -> None:
            Path(tmp).mkdir(parents=True)
            (Path(tmp) / "part-00000.csv").write_text(body)
            (Path(tmp) / "_SUCCESS").write_text("")

        return write

    assert commit_single_file(spark, str(out), one_part("a")) == str(out)
    assert out.read_text() == "a"
    commit_single_file(spark, str(out), one_part("b"))
    assert out.read_text() == "b"
    assert _names(out.parent) == ["out.csv"]  # the staging dir is gone

    def two_parts(tmp: str) -> None:
        Path(tmp).mkdir()
        (Path(tmp) / "part-00000").write_text("x")
        (Path(tmp) / "part-00001").write_text("y")

    with pytest.raises(IOError, match="expected one part file"):
        commit_single_file(spark, str(out), two_parts)
    assert out.read_text() == "b"
