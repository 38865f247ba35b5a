"""DwC-A end-to-end golden tests (SURVEY §5.3).

Oracle = DuckDB executing the reference query's semantics (star inner-join
on the meta.xml keys + fid + coalesce(footprint, point) geometry — the
behavior declared at /root/reference/src/dwca_parquet/templates/query.sql:1-5
and libs/dwca.py:8-44) over the SAME extracted CSVs. Values compare as
canonical strings so CSV type-inference differences between engines don't
mask real semantic breaks.

Variant coverage (FIXTURES.md §B): core-only, tab-sep, footprintWKT with
NULLs, multi-extension fan-out, unmatched core rows (inner-join drop),
extension-held footprintWKT (the core-only quirk), latin-1 encoding,
colliding column names, NULL lat/lon, quoted / BOM-prefixed / space-padded
header lines. Layers typed on the driver are checked against Spark's own
inference of the same archive; zip bombs against the staging bounds.
"""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest

from dwca_parquet_spark.plans.flatten import dwca_flatten
from dwca_parquet_spark.sources import dwca
from dwca_parquet_spark.sources.csv_schema import infer_schema
from dwca_parquet_spark.sources.dwca import read_dwca, read_layer
from tests import dwca_fixtures as FX


def _flatten(spark, zpath: Path, tmp: Path, **kw):
    archive, core_df, ext_dfs = read_dwca(spark, zpath, tmp / "staging")
    return archive, dwca_flatten(archive, core_df, ext_dfs, **kw)


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float) and v == int(v):
        return str(int(v))
    s = str(v)
    return s[:-2] if s.endswith(".0") else s


def _rowlist(cols, rows) -> list[str]:
    """Canonical sorted row multiset — duplicates count (a fan-out join that
    duplicates rows must not pass a set-based compare)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_canon(r[i]) for i in order) for r in rows)


def _duck_oracle(archive, fix_core_only_quirk: bool = True):
    """Build the reference-semantics SQL over the extracted files."""
    con = duckdb.connect()
    core = archive.core
    parts = [
        f"read_csv('{archive.root / core.location}', header=true, "
        f"delim='{core.sep}', sample_size=-1) AS {core.alias}"
    ]
    joins = []
    for ext in archive.extensions:
        joins.append(
            f"JOIN read_csv('{archive.root / ext.location}', header=true, "
            f"delim='{ext.sep}', sample_size=-1) AS {ext.alias} "
            f'ON {ext.alias}."{ext.id_col}" = {core.alias}."{core.id_col}"'
        )
    headers_for_geom = core.headers  # the reference's core-only quirk
    has_wkt = "footprintWKT" in headers_for_geom
    lat_ok = "decimalLatitude" in core.headers and "decimalLongitude" in core.headers
    if lat_ok:
        point = (
            "CASE WHEN decimalLatitude IS NOT NULL AND decimalLongitude IS NOT NULL "
            "THEN 'POINT (' || CAST(decimalLatitude AS VARCHAR) || ' ' || "
            "CAST(decimalLongitude AS VARCHAR) || ')' END"
        )
    else:
        point = "NULL"
    geom = f"coalesce(CAST(footprintWKT AS VARCHAR), {point})" if has_wkt else point
    sql = (
        f'SELECT {core.alias}."{core.id_col}" AS fid, {geom} AS geom, * '
        f"FROM {parts[0]} {' '.join(joins)}"
    )
    rel = con.sql(sql)
    cols, rows = list(rel.columns), rel.fetchall()
    con.close()
    return cols, rows


def _compare(sdf, oracle, name: str, cols: list[str]):
    srows = sdf.select(*cols).collect()
    slist = _rowlist(cols, [tuple(r) for r in srows])
    ocols, orows = oracle
    idx = [ocols.index(c) for c in cols]
    olist = _rowlist(cols, [tuple(row[i] for i in idx) for row in orows])
    only_s = [r for r in slist if r not in olist][:3]
    only_o = [r for r in olist if r not in slist][:3]
    assert slist == olist, (
        f"{name}: row multiset mismatch ({len(slist)} vs {len(olist)} rows)"
        f"\nspark-only={only_s}\nduck-only={only_o}"
    )


def test_core_only(spark, tmp_path):
    z = FX.build_archive(tmp_path, "v1", FX.core_rows(), FX.CORE_HEADERS)
    archive, flat = _flatten(spark, z, tmp_path)
    assert archive.extensions == []
    _compare(flat, _duck_oracle(archive), "core_only", ["fid", "geom", "scientificName"])


def test_tab_separated_with_extension(spark, tmp_path):
    ext = FX.mof_extension([1, 2, 3, 4, 5, 6])
    ext["sep"] = "\t"
    z = FX.build_archive(
        tmp_path, "v2", FX.core_rows(), FX.CORE_HEADERS,
        extensions=[ext], core_sep="\t",
    )
    archive, flat = _flatten(spark, z, tmp_path)
    assert archive.core.sep == "\t"
    _compare(
        flat, _duck_oracle(archive), "tab_ext",
        ["fid", "geom", "measurementType", "measurementValue"],
    )


def test_footprint_wkt_coalesce(spark, tmp_path):
    z = FX.build_archive(
        tmp_path, "v3", FX.core_rows(with_wkt=True), FX.CORE_HEADERS_WKT
    )
    archive, flat = _flatten(spark, z, tmp_path)
    rows = {r["fid"]: r["geom"] for r in flat.collect()}
    # even ids carry a polygon footprint; odd ids fall back to the point
    assert rows[2].startswith("POLYGON")
    assert rows[1].startswith("POINT")
    _compare(flat, _duck_oracle(archive), "wkt", ["fid", "geom"])


def test_fanout_two_extensions(spark, tmp_path):
    z = FX.build_archive(
        tmp_path, "v4", FX.core_rows(), FX.CORE_HEADERS,
        extensions=[FX.mof_extension([1, 2, 3, 4, 5, 6], per_id=2),
                    FX.multimedia_extension([1, 2, 3, 4, 5, 6])],
    )
    archive, flat = _flatten(spark, z, tmp_path)
    # fan-out: 6 core × 2 mof × 1 media = 12 rows
    assert flat.count() == 12
    _compare(flat, _duck_oracle(archive), "fanout", ["fid", "measurementValue", "identifier"])


def test_inner_join_drops_unmatched(spark, tmp_path):
    z = FX.build_archive(
        tmp_path, "v5", FX.core_rows(), FX.CORE_HEADERS,
        extensions=[FX.mof_extension([1, 3, 5])],  # 2,4,6 unmatched
    )
    archive, flat = _flatten(spark, z, tmp_path)
    fids = {r["fid"] for r in flat.select("fid").collect()}
    assert fids == {1, 3, 5}
    _compare(flat, _duck_oracle(archive), "inner_drop", ["fid", "measurementValue"])


def test_extension_wkt_ignored_core_only_quirk(spark, tmp_path):
    """Reference quirk (libs/dwca.py:37-42): footprintWKT in an EXTENSION
    must NOT feed geom — only core headers are consulted."""
    ext = {
        "file": "measurementorfact.txt",
        "headers": ["coreid", "footprintWKT"],
        "rows": [{"coreid": i, "footprintWKT": "POLYGON ((9 9, 9 8, 8 8, 9 9))"} for i in range(1, 7)],
    }
    z = FX.build_archive(tmp_path, "v6", FX.core_rows(), FX.CORE_HEADERS, extensions=[ext])
    archive, flat = _flatten(spark, z, tmp_path)
    for r in flat.collect():
        assert r["geom"] is None or r["geom"].startswith("POINT"), r
    # fixed mode uses the extension column
    _, flat_fixed = _flatten(spark, z, tmp_path / "f", footprint_from_core_only=False)
    assert all(
        r["geom"].startswith("POLYGON") for r in flat_fixed.select("geom").collect()
    )


def test_latin1_encoding(spark, tmp_path):
    rows = FX.core_rows(3)
    rows[0]["scientificName"] = "Ærø señor"
    z = FX.build_archive(tmp_path, "v7", rows, FX.CORE_HEADERS, core_enc="ISO-8859-1")
    archive, flat = _flatten(spark, z, tmp_path)
    assert archive.core.encoding == "ISO-8859-1"
    names = {r["scientificName"] for r in flat.collect()}
    assert "Ærø señor" in names


def test_colliding_columns_renamed(spark, tmp_path):
    ext = {
        "file": "multimedia.txt",
        "headers": ["coreid", "scientificName"],
        "rows": [{"coreid": i, "scientificName": f"ext-{i}"} for i in range(1, 7)],
    }
    z = FX.build_archive(tmp_path, "v8", FX.core_rows(), FX.CORE_HEADERS, extensions=[ext])
    archive, flat = _flatten(spark, z, tmp_path)
    assert "multimedia_scientificName" in flat.columns
    assert "scientificName" in flat.columns
    # parquet round-trip must succeed despite the original collision
    out = tmp_path / "out.parquet"
    flat.write.mode("overwrite").parquet(str(out))
    assert spark.read.parquet(str(out)).count() == 6


def _spark_inferred(monkeypatch, fn):
    """``fn()`` with every layer left to Spark's ``inferSchema`` pass: the
    same reader call, without the driver-side schema."""
    with monkeypatch.context() as m:
        m.setattr(dwca, "infer_schema", lambda *args: None)
        return fn()


def _driver_typed(monkeypatch) -> dict[str, bool]:
    """Record, per layer file name, whether the driver typed it."""
    typed = {}

    def spy(spark, path, options):
        schema = infer_schema(spark, path, options)
        typed[path.name] = schema is not None
        return schema

    monkeypatch.setattr(dwca, "infer_schema", spy)
    return typed


def test_read_dwca_driver_inference_parity(spark, tmp_path, monkeypatch):
    """Layers typed on the driver get Spark's ``inferSchema`` names and
    dtypes, in the serial order, and run no Spark job in the caller's job
    group."""
    rows = FX.core_rows()
    rows[0]["scientificName"] = "Ærø señor"
    collide = {
        "file": "multimedia.txt",
        "headers": ["coreid", "scientificName", "individualCount"],
        "rows": [
            {"coreid": i, "scientificName": f"ext-{i}", "individualCount": f"{i}.5"}
            for i in range(1, 7)
        ],
        "sep": "\t",
        "enc": "ISO-8859-1",
    }
    mof = FX.mof_extension([r["id"] for r in rows], per_id=2)
    z = FX.build_archive(
        tmp_path, "v_par", rows, FX.CORE_HEADERS,
        extensions=[mof, collide], core_sep="\t", core_enc="ISO-8859-1",
    )
    typed = _driver_typed(monkeypatch)
    (archive, core_df, ext_dfs), jobs = FX.in_job_group(
        spark, "dwca-driver-inference",
        lambda: read_dwca(spark, z, tmp_path / "staging"),
    )
    assert typed == dict.fromkeys(
        ["occurrence.txt", "measurementorfact.txt", "multimedia.txt"], True
    )
    assert jobs == []
    layers = [archive.core, *archive.extensions]
    aliases = [ly.alias for ly in layers]
    assert aliases == ["occurrence", "measurementorfact", "multimedia"]
    serial = _spark_inferred(
        monkeypatch, lambda: [read_layer(spark, archive, ly) for ly in layers]
    )
    assert [df.dtypes for df in [core_df, *ext_dfs]] == [df.dtypes for df in serial]
    assert dict(ext_dfs[1].dtypes)["individualCount"] == "double"
    assert core_df.filter("scientificName = 'Ærø señor'").count() == 1


@pytest.mark.parametrize("case", ["multi_char_sep", "junk_line"])
def test_read_dwca_spark_inference_fallback(spark, tmp_path, monkeypatch, case):
    """A ``~~`` separator is left to Spark's inference; a verbatim
    ``ignoreHeaderLines=2`` archive, whose junk line is one more data row,
    is typed on the driver. Both get Spark's dtypes."""
    rows = FX.core_rows()
    mof = FX.mof_extension([r["id"] for r in rows])
    kw = {}
    if case == "multi_char_sep":
        mof["sep"] = "~~"
    else:
        kw = {"ignore_header_lines": 2, "junk_lines": ["#units"]}
    z = FX.build_archive(tmp_path, case, rows, FX.CORE_HEADERS, extensions=[mof], **kw)
    typed = _driver_typed(monkeypatch)
    archive, core_df, ext_dfs = read_dwca(spark, z, tmp_path / "staging")
    assert typed == {
        "occurrence.txt": True, "measurementorfact.txt": case == "junk_line"
    }
    _, spark_core, spark_exts = _spark_inferred(
        monkeypatch, lambda: read_dwca(spark, z, tmp_path / "spark")
    )
    assert [df.dtypes for df in [core_df, *ext_dfs]] == [
        df.dtypes for df in [spark_core, *spark_exts]
    ]
    if case == "junk_line":
        assert dict(core_df.dtypes)["id"] == "string"


def test_null_latlon_geom_null(spark, tmp_path):
    z = FX.build_archive(
        tmp_path, "v9", FX.core_rows(null_latlon=True), FX.CORE_HEADERS
    )
    archive, flat = _flatten(spark, z, tmp_path)
    rows = {r["fid"]: r["geom"] for r in flat.collect()}
    assert rows[3] is None and rows[6] is None
    assert rows[1].startswith("POINT")
    _compare(flat, _duck_oracle(archive), "null_latlon", ["fid", "geom"])


def test_fix_latlon_mode(spark, tmp_path):
    z = FX.build_archive(tmp_path, "v10", FX.core_rows(1), FX.CORE_HEADERS)
    archive, flat_verbatim = _flatten(spark, z, tmp_path)
    _, flat_fixed = _flatten(spark, z, tmp_path / "f", fix_latlon=True)
    g_v = flat_verbatim.select("geom").first()["geom"]
    g_f = flat_fixed.select("geom").first()["geom"]
    assert g_v == "POINT (58.12 7.15)"  # reference order: lat first (query.sql:1)
    assert g_f == "POINT (7.15 58.12)"  # corrected lon-lat


def test_malformed_archive_errors(tmp_path):
    """Missing meta.xml / missing <core> fail with messages naming the
    broken contract (a many-dataset harvest needs actionable failures)."""
    import zipfile

    import pytest

    from dwca_parquet_spark.sources.dwca import parse_meta, stage_archive

    # an archive with no meta.xml at all
    z = tmp_path / "no_meta.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("occurrence.txt", "id\tname\n1\tx\n")
    extracted = stage_archive(z, tmp_path / "s1")
    # extraction reads the source zip in place: no copy of it is staged
    assert [p.name for p in (tmp_path / "s1").iterdir()] == ["extracted"]
    with pytest.raises(FileNotFoundError, match="no meta.xml"):
        parse_meta(extracted)

    # meta.xml present but without a <core> element
    z2 = tmp_path / "no_core.zip"
    with zipfile.ZipFile(z2, "w") as zf:
        zf.writestr(
            "meta.xml",
            '<?xml version="1.0"?>'
            '<archive xmlns="http://rs.tdwg.org/dwc/text/"></archive>',
        )
    extracted2 = stage_archive(z2, tmp_path / "s2")
    with pytest.raises(ValueError, match="no <core>"):
        parse_meta(extracted2)

    # a <location> escaping the archive — relative "../" or absolute — is
    # refused before any read, though a readable table sits at the target
    secret = tmp_path / "secret.txt"
    secret.write_text("id\tname\n1\tnot part of the archive\n")
    for i, location in enumerate(["../../secret.txt", str(secret)]):
        z3 = tmp_path / f"escape{i}.zip"
        with zipfile.ZipFile(z3, "w") as zf:
            zf.writestr(
                "meta.xml",
                '<?xml version="1.0"?>'
                '<archive xmlns="http://rs.tdwg.org/dwc/text/">'
                '<core fieldsTerminatedBy="\\t"><files>'
                f"<location>{location}</location></files>"
                '<id index="0"/></core></archive>',
            )
        extracted3 = stage_archive(z3, tmp_path / f"s3_{i}")
        assert (extracted3 / location).resolve() == secret.resolve()
        with pytest.raises(ValueError, match="outside the archive") as err:
            parse_meta(extracted3)
        assert repr(location) in str(err.value)

    # a malformed layer element is named, not an AttributeError, an
    # IndexError or a join key silently counted from the last column
    table = "id\tname\n1\tx\n"
    core_ok = (
        '<core fieldsTerminatedBy="\\t"><files><location>occurrence.txt'
        '</location></files><id index="0"/></core>'
    )
    cases = [
        ("no_files", '<core><id index="0"/></core>', "",
         ValueError, "core has no <files><location>"),
        ("no_location", '<core><files/><id index="0"/></core>', "",
         ValueError, "core has no <files><location>"),
        ("missing_file",
         '<core><files><location>absent.txt</location></files>'
         '<id index="0"/></core>', "",
         FileNotFoundError, "no core file 'absent.txt'"),
        ("no_id",
         '<core><files><location>occurrence.txt</location></files></core>',
         "", ValueError, "core has neither <id> nor <coreid>"),
        ("ext_no_coreid", core_ok,
         '<extension><files><location>occurrence.txt</location></files>'
         '</extension>',
         ValueError, "extension 1 has neither <id> nor <coreid>"),
        ("no_index",
         '<core><files><location>occurrence.txt</location></files>'
         '<id/></core>', "",
         ValueError, "core <id> index '' is not a column position"),
        ("ext_negative_index", core_ok,
         '<extension><files><location>occurrence.txt</location></files>'
         '<coreid index="-1"/></extension>',
         ValueError, "extension 1 <coreid> index '-1' is not a column position"),
        ("text_index",
         '<core><files><location>occurrence.txt</location></files>'
         '<id index="first"/></core>', "",
         ValueError, "core <id> index 'first' is not a column position"),
        ("negative_index",
         '<core><files><location>occurrence.txt</location></files>'
         '<id index="-1"/></core>', "",
         ValueError, "core <id> index '-1' is not a column position"),
    ]
    for tag, core_xml, ext_xml, exc, message in cases:
        z4 = tmp_path / f"{tag}.zip"
        with zipfile.ZipFile(z4, "w") as zf:
            zf.writestr(
                "meta.xml",
                '<?xml version="1.0"?>'
                '<archive xmlns="http://rs.tdwg.org/dwc/text/">'
                f"{core_xml}{ext_xml}</archive>",
            )
            zf.writestr("occurrence.txt", table)
        with pytest.raises(exc, match=message):
            parse_meta(stage_archive(z4, tmp_path / f"s4_{tag}"))


def _rewrite_member(zpath: Path, member: str, fn) -> None:
    """Replace the bytes of ``member`` in the zip at ``zpath`` by
    ``fn(bytes)``."""
    import zipfile

    with zipfile.ZipFile(zpath) as zf:
        files = {n: zf.read(n) for n in zf.namelist()}
    files[member] = fn(files[member])
    with zipfile.ZipFile(zpath, "w") as zf:
        for n, data in files.items():
            zf.writestr(n, data)


_HEADER_VARIANTS = {
    "quoted": lambda h: b",".join(b'"' + c + b'"' for c in h.split(b",")),
    "bom": lambda h: b"\xef\xbb\xbf" + h,
    "padded": lambda h: b", ".join(h.split(b",")),
}


@pytest.mark.parametrize("variant", list(_HEADER_VARIANTS))
def test_hostile_header_lines(spark, tmp_path, variant):
    """A quoted header line, a UTF-8 BOM and a space after each separator
    in the header line only: every variant converts with the column names
    DuckDB parses, joins its extension on the meta.xml key and keeps the
    point geometry."""
    rows = FX.core_rows()
    ext = FX.mof_extension([r["id"] for r in rows])
    z = FX.build_archive(tmp_path, variant, rows, FX.CORE_HEADERS, extensions=[ext])

    def header_only(data: bytes) -> bytes:
        head, rest = data.split(b"\n", 1)
        return _HEADER_VARIANTS[variant](head) + b"\n" + rest

    _rewrite_member(z, "occurrence.txt", header_only)
    archive, flat = _flatten(spark, z, tmp_path)
    assert archive.core.headers == FX.CORE_HEADERS
    assert archive.core.id_col == "id"
    oracle = _duck_oracle(archive)
    assert flat.columns == oracle[0]
    _compare(flat, oracle, variant, ["fid", "geom", "measurementValue"])
    assert flat.filter("geom IS NULL").count() == 0


def test_padded_header_name_collision(spark, tmp_path):
    """A padded header name whose stripped form another column already
    has keeps Spark's name, so the archive still converts."""
    headers = FX.CORE_HEADERS + ["scientificName"]
    z = FX.build_archive(tmp_path, "collide", FX.core_rows(), headers)
    _rewrite_member(
        z, "occurrence.txt",
        lambda data: data.replace(b",scientificName\n", b", SCIENTIFICNAME\n", 1),
    )
    archive, flat = _flatten(spark, z, tmp_path)
    assert archive.core.headers == FX.CORE_HEADERS + [" SCIENTIFICNAME"]
    assert flat.count() == 6
    assert flat.filter("geom IS NULL").count() == 0


def test_id_index_past_last_column(spark, tmp_path):
    """An ``<id index>`` at or past the layer's column count is named once
    the header is parsed."""
    n_cols = len(FX.CORE_HEADERS)
    z = FX.build_archive(tmp_path, "wide", FX.core_rows(), FX.CORE_HEADERS)
    _rewrite_member(
        z, "meta.xml",
        lambda m: m.replace(b'<id index="0"/>', f'<id index="{n_cols}"/>'.encode()),
    )
    with pytest.raises(
        ValueError,
        match=f"occurrence.txt id index {n_cols} is past its {n_cols} columns",
    ):
        read_dwca(spark, z, tmp_path / "staging")


@pytest.mark.parametrize("case", ["bytes", "members", "outside"])
def test_stage_archive_bounds(tmp_path, monkeypatch, case):
    """A zip bomb is refused with the limit it broke: the extracted bytes,
    counted as they are written, or the member count. A member named
    outside the extraction directory is refused too; an archive inside the
    bounds extracts."""
    import zipfile

    from dwca_parquet_spark.sources.dwca import parse_meta, stage_archive

    monkeypatch.setattr(dwca, "_MAX_EXTRACTED_BYTES", 1 << 20)
    monkeypatch.setattr(dwca, "_MAX_MEMBERS", 3)
    ok = FX.build_archive(tmp_path, "ok", FX.core_rows(), FX.CORE_HEADERS)
    assert parse_meta(stage_archive(ok, tmp_path / "ok")).core.alias == "occurrence"
    z = tmp_path / f"{case}.zip"
    with zipfile.ZipFile(z, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("meta.xml", "<archive/>")
        if case == "members":
            for i in range(3):
                zf.writestr(f"part{i}.txt", "1")
        elif case == "outside":
            zf.writestr("../escaped.txt", "1")
        else:
            zf.writestr("occurrence.txt", b"0" * (2 << 20))
    message = {
        "bytes": "extracts to more than the limit of 1048576 bytes",
        "members": "4 zip members, over the limit of 3",
        "outside": "zip member '../escaped.txt' points outside the archive",
    }[case]
    with pytest.raises(ValueError, match=re.escape(message)):
        stage_archive(z, tmp_path / "staging")
    assert not (tmp_path / "escaped.txt").exists()


def _oracle_readable(archive):
    """DuckDB's read_csv caps delim at ONE byte; Spark reads multi-char
    separators natively. For any multi-byte-sep layer, write a
    0x1F-unit-separator copy next to the original (data is quote-free in
    these fixtures) and return an archive descriptor pointing at the
    copies — the ORACLE-side translation only, Spark keeps reading the
    hostile original."""
    import dataclasses

    def fix(layer):
        multi = len(layer.sep.encode()) > 1
        non_utf8 = layer.encoding.upper() not in ("UTF-8", "UTF8")
        if not (multi or non_utf8):
            return layer
        src = archive.root / layer.location
        dst = src.with_suffix(src.suffix + ".oracle")
        text = src.read_text(encoding=layer.encoding)
        sep = "\x1f" if multi else layer.sep
        if multi:
            text = text.replace(layer.sep, "\x1f")
        dst.write_text(text, encoding="utf-8")  # duckdb reads UTF-8 only
        return dataclasses.replace(layer, location=dst.name, sep=sep)

    return dataclasses.replace(
        archive,
        core=fix(archive.core),
        extensions=[fix(e) for e in archive.extensions],
    )


def _duck_oracle_honored(archive):
    """Oracle for the HONORED ignoreHeaderLines semantics: skip the
    declared header lines entirely and supply column names explicitly
    (DuckDB has no skip-after-header, so header=false + skip=N +
    names=[...] expresses 'header from meta, data from line N+1')."""
    con = duckdb.connect()
    core = archive.core

    def rd(layer):
        names = ", ".join(f"'{h}'" for h in layer.headers)
        return (
            f"read_csv('{archive.root / layer.location}', header=false, "
            f"skip={layer.ignore_header_lines}, names=[{names}], "
            f"delim='{layer.sep}', sample_size=-1)"
        )

    joins = [
        f'JOIN {rd(ext)} AS {ext.alias} '
        f'ON {ext.alias}."{ext.id_col}" = {core.alias}."{core.id_col}"'
        for ext in archive.extensions
    ]
    point = (
        "CASE WHEN decimalLatitude IS NOT NULL AND decimalLongitude IS NOT NULL "
        "THEN 'POINT (' || CAST(decimalLatitude AS VARCHAR) || ' ' || "
        "CAST(decimalLongitude AS VARCHAR) || ')' END"
    )
    geom = (
        f"coalesce(CAST(footprintWKT AS VARCHAR), {point})"
        if "footprintWKT" in core.headers
        else point
    )
    sql = (
        f'SELECT {core.alias}."{core.id_col}" AS fid, {geom} AS geom, * '
        f"FROM {rd(core)} AS {core.alias} {' '.join(joins)}"
    )
    rel = con.sql(sql)
    cols, rows = list(rel.columns), rel.fetchall()
    con.close()
    return cols, rows


@pytest.mark.slow
def test_hostile_archive_matrix(spark, tmp_path):
    """VERDICT r11 #6 — the §5.3 hostile list as ONE full cross product:
    {UTF-8, ISO-8859-1} × {',', TAB, multi-char '~~'} ×
    {all-matched, missing extension matches} × {ignoreHeaderLines 1, 2}
    × {no collision, duplicate column name} — every combination reads,
    flattens, and matches the rendered-query.sql DuckDB oracle. The
    ignoreHeaderLines=2 combos additionally prove BOTH modes: verbatim
    (the reference never consults it — DuckDB read_csv skips exactly one
    line, so the junk line leaks into typing, both engines alike) and
    honored (the trimmed-staging path drops it; skip-N oracle)."""
    import itertools

    from dwca_parquet_spark.sources.dwca import read_dwca

    n = 0
    for enc, sep, matched, ihl, collide in itertools.product(
        ("UTF-8", "ISO-8859-1"),
        (",", "\t", "~~"),
        (True, False),
        (1, 2),
        (False, True),
    ):
        n += 1
        tag = f"m{n}"
        rows = FX.core_rows(6)
        rows[0]["scientificName"] = "Ærø señor"  # latin-1-encodable
        ext_ids = [1, 2, 3, 4, 5, 6] if matched else [1, 3, 5]
        ext = FX.mof_extension(ext_ids)
        if collide:
            ext["headers"] = ext["headers"] + ["eventDate"]
            for i, r in enumerate(ext["rows"]):
                r["eventDate"] = f"1999-01-{i + 1:02d}"
        if not matched:  # plus a dangling extension row
            ext["rows"].append(
                {"coreid": 99, "measurementType": "t", "measurementValue": "0"}
            )
        ext["sep"], ext["enc"] = sep, enc
        z = FX.build_archive(
            tmp_path, tag, rows, FX.CORE_HEADERS,
            extensions=[ext], core_sep=sep, core_enc=enc,
            ignore_header_lines=ihl,
            junk_lines=["#junk-comment-line"] if ihl == 2 else None,
        )
        case = f"enc={enc} sep={sep!r} matched={matched} ihl={ihl} collide={collide}"

        # verbatim mode (reference parity; junk leaks like DuckDB's
        # 1-header-line read)
        staging = tmp_path / f"s{n}"
        archive, core_df, ext_dfs = read_dwca(spark, z, staging)
        flat = dwca_flatten(archive, core_df, ext_dfs)
        assert archive.core.sep == sep and archive.core.encoding == enc
        assert archive.core.ignore_header_lines == ihl
        cols = ["fid", "geom", "scientificName", "measurementValue"]
        _compare(
            flat, _duck_oracle(_oracle_readable(archive)),
            f"verbatim {case}", cols,
        )
        got = flat.collect()
        fids = {str(r["fid"]) for r in got}
        assert "99" not in fids, case  # dangling ext row inner-join-dropped
        if ihl == 1:
            # without junk the fid set is exactly the matched core ids
            assert fids == {str(i) for i in ext_ids}, case
        else:
            # verbatim quirk, both engines alike: the junk line exists in
            # BOTH files, so junk-id joins junk-coreid and survives — the
            # oracle compare above already proved DuckDB agrees
            assert fids - {"#junk-comment-line"} == {
                str(i) for i in ext_ids
            }, case
        if collide:
            assert "measurementorfact_eventDate" in flat.columns, case
            assert {
                str(r["measurementorfact_eventDate"]) for r in got
            } - {"None"} <= {f"1999-01-{i:02d}" for i in range(1, 8)}, case
            assert any(
                str(r["eventDate"]).startswith("2024-03") for r in got
            ), case
        name_col = {r["scientificName"] for r in got}
        assert "Ærø señor" in name_col, case

        # honored mode only differs when ihl > 1
        if ihl == 2:
            archive2, core2, exts2 = read_dwca(
                spark, z, tmp_path / f"h{n}", honor_ignore_header_lines=True
            )
            flat2 = dwca_flatten(archive2, core2, exts2)
            _compare(
                flat2, _duck_oracle_honored(_oracle_readable(archive2)),
                f"honored {case}", cols,
            )


def _matrix_archives(tmp_path):
    """The archives of ``test_hostile_archive_matrix``: (case, zip path,
    ignoreHeaderLines)."""
    import itertools

    for n, (enc, sep, matched, ihl, collide) in enumerate(itertools.product(
        ("UTF-8", "ISO-8859-1"), (",", "\t", "~~"), (True, False), (1, 2),
        (False, True),
    )):
        rows = FX.core_rows(6)
        rows[0]["scientificName"] = "Ærø señor"
        ext = FX.mof_extension([1, 2, 3, 4, 5, 6] if matched else [1, 3, 5])
        if collide:
            ext["headers"] = ext["headers"] + ["eventDate"]
            for i, r in enumerate(ext["rows"]):
                r["eventDate"] = f"1999-01-{i + 1:02d}"
        if not matched:
            ext["rows"].append(
                {"coreid": 99, "measurementType": "t", "measurementValue": "0"}
            )
        ext["sep"], ext["enc"] = sep, enc
        z = FX.build_archive(
            tmp_path, f"m{n}", rows, FX.CORE_HEADERS,
            extensions=[ext], core_sep=sep, core_enc=enc,
            ignore_header_lines=ihl,
            junk_lines=["#junk-comment-line"] if ihl == 2 else None,
        )
        yield f"enc={enc} sep={sep!r} matched={matched} ihl={ihl} collide={collide}", z, ihl


def _dtypes(spark, z, staging, **kw):
    _, core_df, ext_dfs = read_dwca(spark, z, staging, **kw)
    return [df.dtypes for df in [core_df, *ext_dfs]]


@pytest.mark.slow
def test_hostile_archive_matrix_spark_dtypes(spark, tmp_path, monkeypatch):
    """Every hostile-matrix archive, in verbatim and (for
    ignoreHeaderLines=2) honored mode, reads with the names and dtypes of
    Spark's own inference; only the multi-char separator is left to it."""
    typed = _driver_typed(monkeypatch)
    for case, z, ihl in _matrix_archives(tmp_path):
        for honor in (False, True) if ihl == 2 else (False,):
            kw = {"honor_ignore_header_lines": honor}
            tag, staging = f"{case} honor={honor}", f"{z.stem}_{honor}"
            typed.clear()
            got = _dtypes(spark, z, tmp_path / "s" / staging, **kw)
            assert all(typed.values()) == ("'~~'" not in case), (tag, typed)
            want = _spark_inferred(
                monkeypatch, lambda: _dtypes(spark, z, tmp_path / "o" / staging, **kw)
            )
            assert got == want, tag


def test_service_mix_shapes_spark_dtypes(spark, tmp_path, monkeypatch):
    """The benchmark's ``service_mix`` archive shapes are all typed on the
    driver, with the names and dtypes of Spark's own inference (late
    ``123+`` and ``n/a`` cells included)."""
    from dataclasses import replace

    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parents[1] / "perfbench"))
    import gen
    import service_load

    typed = _driver_typed(monkeypatch)
    for seed, (shape, spec) in enumerate(service_load.SHAPES.items()):
        z = tmp_path / f"{shape}.zip"
        gen.write_archive(z, replace(spec, n_core=service_load.ARCHIVE_ROWS), seed)
        typed.clear()
        got = _dtypes(spark, z, tmp_path / "s" / shape)
        assert typed and all(typed.values()), (shape, typed)
        want = _spark_inferred(
            monkeypatch, lambda: _dtypes(spark, z, tmp_path / "o" / shape)
        )
        assert got == want, shape
