"""The versioned-state helpers in ``dwca_parquet_spark.fs`` — the one
owner of the ``v<N>`` watermark / staged commit / prune rules and the
committed-vs-orphan segment split that every incremental fold relies on,
and the one publish step (``commit_single_file`` / ``FS.replace``) by
which every published file replaces its predecessor.

Mostly filesystem only: most ``write`` callbacks create plain files, so
no Spark job runs (the session is used for its Hadoop FileSystem); the
checksum cases write a tiny parquet file with Spark."""

from __future__ import annotations

from pathlib import Path

import pytest

from dwca_parquet_spark import fs as fs_module
from dwca_parquet_spark.fs import (
    FS,
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


def _spy_writes(monkeypatch) -> list[tuple[str, tuple[str, ...]]]:
    """Record every ``FS`` call that deletes, moves or writes a path."""
    calls: list[tuple[str, tuple[str, ...]]] = []
    for name in ("delete", "rename", "copy", "copy_from_local", "write_bytes"):
        original = getattr(FS, name)

        def spy(self, *args, _original=original, _name=name):
            calls.append((_name, tuple(str(a) for a in args)))
            return _original(self, *args)

        monkeypatch.setattr(FS, name, spy)
    return calls


def test_commit_single_file_replaces_target(spark, tmp_path, monkeypatch):
    out = tmp_path / "sub" / "out.csv"
    calls = _spy_writes(monkeypatch)

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

    # A Hadoop-written file carries a .crc; the replace must leave the new
    # bytes' .crc beside them, or a checksummed read of them fails.
    pq = tmp_path / "sub" / "out.parquet"
    for n in (3, 40):
        commit_single_file(
            spark,
            str(pq),
            lambda tmp: spark.range(n).coalesce(1).write.parquet(tmp),
        )
        assert spark.read.parquet(str(pq)).count() == n
    # (``.out.csv.tmp`` is the refused two-part publish's hidden residue)
    assert _names(pq.parent) == [
        ".out.csv.tmp", ".out.parquet.crc", "out.csv", "out.parquet"
    ]

    # the published paths are only ever replaced, never deleted or written
    touched = [c for c in calls if {str(out), str(pq)} & set(c[1])]
    assert touched == []


def test_commit_single_file_crash_leaves_target_and_hidden_residue(
    spark, tmp_path
):
    out = tmp_path / "out.json"

    def body(text: str):
        def write(tmp: str) -> None:
            Path(tmp).mkdir(parents=True, exist_ok=True)
            (Path(tmp) / "part-0").write_text(text)

        return write

    commit_single_file(spark, str(out), body("old"))

    def crash(tmp: str) -> None:
        body("half")(tmp)
        raise RuntimeError("killed mid-write")

    with pytest.raises(RuntimeError):
        commit_single_file(spark, str(out), crash)
    assert out.read_text() == "old"
    assert [n for n in _names(tmp_path) if not n.startswith((".", "_"))] == [
        "out.json"
    ]
    assert ".out.json.tmp" in _names(tmp_path)  # hidden residue

    # the next publish clears the residue, and its own part is the one read
    commit_single_file(spark, str(out), body("new"))
    assert out.read_text() == "new"
    assert _names(tmp_path) == ["out.json"]


def test_replace_overwrite_branch(spark, tmp_path, monkeypatch):
    """The non-local replace (``FileContext.rename`` with ``OVERWRITE``,
    atomic on HDFS), driven on the local filesystem."""
    monkeypatch.setattr(fs_module, "_LOCAL_FS", "java.lang.String")
    src, dst = tmp_path / "src.parquet", tmp_path / "dst.parquet"
    spark.range(5).coalesce(1).write.parquet(str(tmp_path / "a"))
    spark.range(50).coalesce(1).write.parquet(str(tmp_path / "b"))
    fs = FS(spark, str(tmp_path))
    fs.rename(fs.glob(f"{tmp_path}/a/part-*")[0], str(dst))
    fs.rename(fs.glob(f"{tmp_path}/b/part-*")[0], str(src))
    fs.replace(str(src), str(dst))
    assert not src.exists()
    assert spark.read.parquet(str(dst)).count() == 50
