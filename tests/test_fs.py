"""Object-store-path contract for the sinks (VERDICT round-1 gap #6).

The reference writes to S3 (``libs/parquet.py:48-51``) and probes object
existence with fsspec (``:33``). These tests drive every sink through a
``file://`` URI — which resolves through the exact same Hadoop FileSystem
dispatch as ``s3a://`` — proving no sink silently assumes the driver's
local pathlib semantics.
"""

from __future__ import annotations

import json
from pathlib import Path

from dwca_parquet_spark.fs import FS, hidden, to_local
from dwca_parquet_spark.sinks.csv import read_csv, write_csv
from dwca_parquet_spark.sinks.jsonarray import write_json_array
from dwca_parquet_spark.sinks.parquet import write_parquet, write_versioned


def _df(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, name string"
    )


def test_hidden_and_to_local():
    assert hidden("s3a://bucket/a/b.parquet", ".tmp") == "s3a://bucket/a/.b.parquet.tmp"
    assert hidden("file:/x/y/z.json") == "file:/x/y/.z.json"
    assert hidden("/x/y/") == "/x/.y"
    assert to_local("/x/y") == Path("/x/y")
    assert to_local("file:///x/y") == Path("/x/y")
    assert to_local("s3a://bucket/x") is None


def test_fs_ops_on_uri(spark, tmp_path):
    fs = FS(spark, f"file://{tmp_path}")
    d = f"file://{tmp_path}/sub"
    assert not fs.exists(d)
    fs.mkdirs(d)
    assert fs.exists(d)
    (tmp_path / "sub" / "x.txt").write_text("hi")
    assert fs.is_file(d + "/x.txt")
    fs.copy(d + "/x.txt", d + "/y.txt")
    assert (tmp_path / "sub" / "y.txt").read_text() == "hi"
    globbed = fs.glob(d + "/*.txt")
    assert len(globbed) == 2
    assert [g.rsplit("/", 1)[1] for g in globbed] == ["x.txt", "y.txt"]
    fs.rename(d + "/y.txt", d + "/z.txt")
    assert not (tmp_path / "sub" / "y.txt").exists()
    assert (tmp_path / "sub" / "z.txt").exists()
    fs.delete(d)
    assert not fs.exists(d)


def test_write_parquet_single_file_uri(spark, tmp_path):
    uri = f"file://{tmp_path}/out.parquet"
    got = write_parquet(_df(spark), uri, single_file=True)
    assert got == uri
    local = tmp_path / "out.parquet"
    assert local.is_file()  # one object, not a directory
    back = spark.read.parquet(uri)
    assert sorted(r["name"] for r in back.collect()) == ["a", "b", "c"]


def test_write_versioned_uri_idempotent(spark, tmp_path):
    base = f"file://{tmp_path}/store"
    got = write_versioned(_df(spark), base, "ds1", 2)
    assert got == (f"{base}/ds1/v2.parquet", f"{base}/ds1.parquet")
    assert (tmp_path / "store" / "ds1" / "v2.parquet").is_file()
    assert (tmp_path / "store" / "ds1.parquet").is_file()
    # idempotency probe on the path's own filesystem: second call is a no-op
    assert write_versioned(_df(spark), base, "ds1", 2) is None
    # a new version refreshes the latest alias
    got3 = write_versioned(_df(spark).limit(1), base, "ds1", 3)
    assert got3 is not None
    back = spark.read.parquet(f"{base}/ds1.parquet")
    assert back.count() == 1


def test_write_csv_single_file_uri(spark, tmp_path):
    uri = f"file://{tmp_path}/out.csv"
    write_csv(_df(spark), uri, single_file=True)
    assert (tmp_path / "out.csv").is_file()
    back = read_csv(spark, uri, "id long, name string")
    assert back.count() == 3


def test_write_json_array_uri(spark, tmp_path):
    uri = f"file://{tmp_path}/cfg.json"
    got = write_json_array(_df(spark), uri)
    assert got == uri
    rows = json.loads((tmp_path / "cfg.json").read_text())
    assert [r["id"] for r in rows] == [1, 2, 3]


def test_write_clustered_prunes(spark, tmp_path):
    """Range clustering yields (near-)disjoint per-file min-max ranges on
    the cluster key — the property parquet min-max pruning needs — and the
    data round-trips exactly."""
    import pyarrow.parquet as pq
    from collections import Counter

    from dwca_parquet_spark.sinks.parquet import write_clustered

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )
    out = tmp_path / "clustered"
    write_clustered(li, out, ["l_orderkey"], num_files=8)

    parts = sorted(out.glob("part-*.parquet"))
    assert len(parts) > 1
    ranges = []
    for p in parts:
        md = pq.ParquetFile(p).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_orderkey"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # ranges from repartitionByRange are disjoint up to equal boundary keys
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges {(lo1, hi1)} {(lo2, hi2)}"

    back = spark.read.parquet(str(out))
    assert Counter(map(tuple, back.collect())) == Counter(
        map(tuple, li.collect())
    )


def test_write_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key with the same bucket count must
    join WITHOUT any Exchange (the co-location contract), and the join
    result must equal the plain join's."""
    from collections import Counter

    from dwca_parquet_spark.sinks.parquet import write_bucketed

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    ).select("c_custkey", "c_name")
    write_bucketed(
        orders, "b_orders", ["o_custkey"], 8,
        sort_cols=["o_custkey"], path=tmp_path / "b_orders",
    )
    write_bucketed(
        customer, "b_customer", ["c_custkey"], 8,
        sort_cols=["c_custkey"], path=tmp_path / "b_customer",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bo = spark.table("b_orders")
        bc = spark.table("b_customer")
        joined = bo.join(bc, bo.o_custkey == bc.c_custkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        got = Counter(map(tuple, joined.collect()))
        want = Counter(
            map(
                tuple,
                orders.join(
                    customer, orders.o_custkey == customer.c_custkey
                ).collect(),
            )
        )
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_dynamic_partition_overwrite_and_pruning(spark, tmp_path):
    """Dynamic overwrite replaces only the partitions the batch carries;
    a partition-column filter prunes the scan to those directories."""
    from collections import Counter

    from dwca_parquet_spark.sinks.parquet import write_partitioned_dynamic

    import pyspark.sql.functions as F

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = str(tmp_path / "by_status")
    write_partitioned_dynamic(orders, path, ["o_orderstatus"])
    before = Counter(
        (r["o_orderstatus"],) for r in spark.read.parquet(path).collect()
    )

    # re-land ONLY status 'F' with halved prices
    relanded = orders.filter(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice", F.col("o_totalprice") / 2
    )
    write_partitioned_dynamic(relanded, path, ["o_orderstatus"])
    after = spark.read.parquet(path)

    # untouched partitions intact, 'F' replaced (same rows, new values)
    assert Counter((r["o_orderstatus"],) for r in after.collect()) == before
    f_prices = after.filter(F.col("o_orderstatus") == "F").agg(
        F.sum("o_totalprice")
    ).first()[0]
    want = orders.filter(F.col("o_orderstatus") == "F").agg(
        F.sum("o_totalprice") / 2
    ).first()[0]
    assert abs(f_prices - want) < 1e-6
    o_rows = after.filter(F.col("o_orderstatus") == "O")
    assert Counter(map(tuple, o_rows.collect())) == Counter(
        map(tuple, orders.filter(F.col("o_orderstatus") == "O").collect())
    )

    # pruning: the partition filter reaches the scan
    plan = (
        after.filter(F.col("o_orderstatus") == "O")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters:")[1].split("]")[0]


def _codecs(path) -> set[str]:
    """Every column chunk's codec across the parquet files at ``path`` (a
    file or a directory tree), read from the pyarrow footers."""
    import pyarrow.parquet as pq

    p = Path(path)
    files = [p] if p.is_file() else sorted(p.rglob("*.parquet"))
    codecs = set()
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                codecs.add(meta.row_group(rg).column(c).compression)
    return codecs


def test_sinks_write_zstd(spark, tmp_path):
    """Every parquet sink writes the reference's codec (zstd,
    ``libs/parquet.py:48``) under a plain session whose own default is
    snappy, so a sink that drops the codec option fails here."""
    from dwca_parquet_spark.sinks.compact import compact_parquet
    from dwca_parquet_spark.sinks.geoparquet import write_geoparquet
    from dwca_parquet_spark.sinks.parquet import (
        write_bucketed,
        write_clustered,
        write_partitioned_dynamic,
    )
    from dwca_parquet_spark.sinks.zorder import write_zordered
    from dwca_parquet_spark.sources.jsonl import write_jsonl

    assert spark.conf.get("spark.sql.parquet.compression.codec") == "snappy"
    df = spark.createDataFrame(
        [(i, f"n{i % 3}", float(i) / 7) for i in range(40)],
        "id long, name string, x double",
    )
    outs = [
        write_parquet(df, tmp_path / "single.parquet", single_file=True),
        write_parquet(df, tmp_path / "dir.parquet"),
        *write_versioned(df, tmp_path / "store", "ds", 1),
        write_clustered(df, tmp_path / "clustered", ["id"], num_files=2),
        write_partitioned_dynamic(df, tmp_path / "dynamic", ["name"]),
    ]
    write_zordered(df, tmp_path / "zordered", ["id", "x"], bits=2, num_files=2)
    outs.append(tmp_path / "zordered")
    try:
        write_bucketed(df, "codec_bucketed", ["id"], 2, path=tmp_path / "bucketed")
        outs.append(tmp_path / "bucketed")
    finally:
        spark.sql("DROP TABLE IF EXISTS codec_bucketed")
    # a snappy table: the compaction rewrite itself must set the codec
    shattered = tmp_path / "shattered"
    df.repartition(8).write.parquet(str(shattered))
    assert _codecs(shattered) == {"SNAPPY"}
    assert compact_parquet(spark, str(shattered), target_bytes=1 << 40)["acted"]
    outs.append(shattered)
    geo = df.selectExpr("id", "concat('POINT (', x, ' 1.0)') AS geom")
    outs.append(write_geoparquet(geo, tmp_path / "geo.parquet"))
    for out in outs:
        assert _codecs(to_local(out)) == {"ZSTD"}, out

    write_jsonl(df, tmp_path / "jsonl")
    parts = sorted(p.name for p in (tmp_path / "jsonl").glob("part-*"))
    assert parts and all(n.endswith(".json.gz") for n in parts), parts


def test_only_fs_touches_the_hadoop_handles():
    """``fs.py`` is the one owner of how a path is written, moved or
    replaced: no other module reaches into ``FS._fs`` or ``FS._jpath``."""
    import ast

    pkg = Path(__file__).resolve().parents[1] / "dwca_parquet_spark"
    reach = []
    for py in sorted(pkg.rglob("*.py")):
        if py == pkg / "fs.py":
            continue
        for node in ast.walk(ast.parse(py.read_text(), str(py))):
            if isinstance(node, ast.Attribute) and node.attr in ("_fs", "_jpath"):
                reach.append(f"{py.relative_to(pkg)}:{node.lineno} .{node.attr}")
    assert reach == []
