"""Streaming sketch maintenance (SURVEY §2 round-5): the foreachBatch
fold of CMS/HLL partials equals the one-shot batch sketch over all data
(cell-for-cell / register-for-register), replayed batches are no-ops
(the transactional watermark), and a crashed staged write never corrupts
state."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from dwca_parquet_spark.fs import latest_version as applied_watermark
from dwca_parquet_spark.operators.sketch import (
    cms_build,
    hll_build,
    hll_estimate,
    sql_cms_build,
)
from dwca_parquet_spark.streaming.sketches import (
    apply_batch,
    read_sketch_state,
    stream_sketch_maintain,
)
from tests.conftest import SF_T2

W, D, B = 1024, 4, 8


def _tokens(spark):
    """A token stream off the fixture documents — the real monitoring
    use case (heavy-hitter token frequencies + distinct-token counts)."""
    return (
        spark.read.parquet(f"{SF_T2}/documents.parquet")
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"))
        .filter(F.length("tok") > 0)
    )


def _collect_state(spark, state_path):
    wm, cms, hll, bk = read_sketch_state(spark, state_path)
    return (
        wm,
        sorted(tuple(r) for r in cms.collect()),
        sorted(tuple(r) for r in hll.collect()),
        sorted(tuple(r) for r in bk.collect()),
    )


def test_stream_fold_equals_batch_sketch(spark, tmp_path):
    toks = _tokens(spark)
    src = str(tmp_path / "src")
    # several source files → several micro-batches is not guaranteed by
    # the file source, but the fold ≡ whole claim must hold for ANY
    # batching, so the file count only needs to exercise > 1 fold
    toks.repartition(3).write.parquet(src)

    state = str(tmp_path / "state")
    q = stream_sketch_maintain(
        spark.readStream.schema(toks.schema).format("parquet").load(src),
        state,
        "tok",
        checkpoint=str(tmp_path / "ckpt"),
        width=W, depth=D, b=B,
    )
    q.awaitTermination(180)

    wm, got_cms, got_hll, got_bk = _collect_state(spark, state)
    assert wm >= 0
    want_cms = sorted(
        tuple(r) for r in cms_build(toks, "tok", W, D).collect()
    )
    want_hll = sorted(
        tuple(r) for r in hll_build(toks, "tok", B).collect()
    )
    assert got_cms == want_cms
    assert got_hll == want_hll

    # bottom-k: the lattice merge law makes the streaming fold EXACTLY
    # the one-shot sketch — equality, not approximation
    from dwca_parquet_spark.operators.sketch import bottomk_build
    from dwca_parquet_spark.streaming.sketches import BK_K

    want_bk = sorted(
        tuple(r)
        for r in bottomk_build(
            toks.select(F.col("tok").cast("string").alias("tok")),
            "tok", BK_K,
        ).collect()
    )
    # (the fixture's 30-word vocabulary under-fills k — the law is the
    # point; the k-row case is covered by test_bottomk.py)
    n_distinct = toks.select("tok").distinct().count()
    assert got_bk == want_bk and len(got_bk) == min(BK_K, n_distinct)

    # DuckDB replays the identical CMS from the raw stream (the summary
    # the state holds is cross-engine reproducible, not Spark-private)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW toks AS SELECT unnest(string_split(lower(text), ' '))"
        f" AS tok FROM read_parquet('{SF_T2}/documents.parquet')"
    )
    want_duck = sorted(
        tuple(r)
        for r in con.execute(
            sql_cms_build("tok", "(SELECT tok FROM toks WHERE len(tok) > 0)",
                          W, D)
        ).fetchall()
    )
    assert got_cms == want_duck

    # the HLL state estimates the true distinct count within HLL error
    true_distinct = toks.select("tok").distinct().count()
    _, _cms_df, hll_df, _bk_df = read_sketch_state(spark, state)
    est = hll_estimate(hll_df, B)
    assert abs(est - true_distinct) / true_distinct < 0.15


def test_replay_is_noop_and_crash_residue_ignored(spark, tmp_path):
    toks = _tokens(spark).limit(5000)
    state = str(tmp_path / "state")

    assert apply_batch(spark, state, toks, 0, "tok", width=W, depth=D, b=B)
    before = _collect_state(spark, state)
    # replay of an applied batch id: refused before any merge
    assert not apply_batch(
        spark, state, toks, 0, "tok", width=W, depth=D, b=B
    )
    assert _collect_state(spark, state) == before

    # a crashed predecessor left a partial .tmp — it is NOT state (the
    # watermark ignores it) and the next attempt cleans it and commits
    import pathlib

    residue = pathlib.Path(state) / "v7.tmp"
    residue.mkdir(parents=True)
    (residue / "garbage").write_text("not parquet")
    assert applied_watermark(spark, state) == 0
    assert apply_batch(spark, state, toks, 7, "tok", width=W, depth=D, b=B)
    wm, cms, _, bk7 = _collect_state(spark, state)
    assert wm == 7
    # bottom-k is idempotent under re-folding the same content: the
    # doubled batch changes nothing (same distinct keys, same hashes)
    assert bk7 == before[3]
    # two folds of the same 5000-token batch = exactly double each cell
    doubled = {(r, c): n for r, c, n in cms}
    single = {(r, c): n for r, c, n in before[1]}
    assert doubled == {k: 2 * v for k, v in single.items()}


def test_old_versions_pruned(spark, tmp_path):
    toks = _tokens(spark).limit(1000)
    state = str(tmp_path / "state")
    for i in range(4):
        apply_batch(
            spark, state, toks, i, "tok",
            width=W, depth=D, b=B,
        )
    import pathlib

    vdirs = sorted(p.name for p in pathlib.Path(state).glob("v*"))
    assert vdirs == ["v2", "v3"]
    assert applied_watermark(spark, state) == 3


def test_pre_bottomk_state_layout_fails_with_clear_message(spark, tmp_path):
    """ADVICE r6: resuming over a pre-round-6 state directory (cms/hll
    but no bk.parquet) used to crash with an opaque path error. It must
    still crash — an empty-bk fallback would claim coverage the sketch
    never computed — but self-explanatorily."""
    import pytest

    from dwca_parquet_spark.operators.sketch import cms_build, hll_build

    state = str(tmp_path / "oldstate")
    batch = spark.range(0, 50).select(F.col("id").cast("string").alias("tok"))
    # hand-write the OLD layout: v0 with cms+hll only
    cms_build(batch, "tok", 256, 2).coalesce(1).write.parquet(
        f"{state}/v0/cms.parquet"
    )
    hll_build(batch, "tok", 4).coalesce(1).write.parquet(
        f"{state}/v0/hll.parquet"
    )
    with pytest.raises(ValueError, match="bottom-k state format"):
        read_sketch_state(spark, state)
