"""Synthetic Darwin Core Archive builders (FIXTURES.md §B variant matrix).

Each builder returns the path of a zip containing meta.xml + core
occurrence.txt + 0-2 extension files, structurally matching what the
reference consumes (``/root/reference/src/dwca_parquet/libs/dwca.py:8-44``):
the dwc text namespace, <id index=…>/<coreid index=…> positional keys,
fieldsTerminatedBy separators, per-file encodings.
"""

from __future__ import annotations

import zipfile
from pathlib import Path

DWC_NS = "http://rs.tdwg.org/dwc/text/"


def _meta_xml(
    core_file: str,
    core_sep: str,
    core_enc: str,
    extensions: list[tuple[str, str, str]],
    ignore_header_lines: int = 1,
) -> str:
    def layer(tag: str, loc: str, sep: str, enc: str, key_tag: str) -> str:
        return f"""
  <{tag} encoding="{enc}" fieldsTerminatedBy="{sep}" linesTerminatedBy="\\n"
         ignoreHeaderLines="{ignore_header_lines}" rowType="http://rs.tdwg.org/dwc/terms/Occurrence">
    <files><location>{loc}</location></files>
    <{key_tag} index="0"/>
  </{tag}>"""

    exts = "".join(layer("extension", loc, sep, enc, "coreid") for loc, sep, enc in extensions)
    return (
        f'<?xml version="1.0" encoding="UTF-8"?>\n<archive xmlns="{DWC_NS}">'
        + layer("core", core_file, core_sep, core_enc, "id")
        + exts
        + "\n</archive>\n"
    )


def build_archive(
    tmpdir: Path,
    name: str,
    core_rows: list[dict],
    core_headers: list[str],
    extensions: list[dict] | None = None,
    core_sep: str = ",",
    core_enc: str = "UTF-8",
    ignore_header_lines: int = 1,
    junk_lines: list[str] | None = None,
) -> Path:
    """extensions: [{"file": "measurementorfact.txt", "headers": [...],
    "rows": [...], "sep": ",", "enc": "UTF-8"}].

    ``ignore_header_lines`` is what meta.xml DECLARES; ``junk_lines`` are
    extra raw lines physically written after each file's header (the
    hostile-archive case: declared 2+, e.g. a units/comment line). The two
    are independent so tests can also build liar archives."""
    extensions = extensions or []
    zpath = tmpdir / f"{name}.zip"
    sep_escaped = core_sep.replace("\t", "\\t")
    junk_lines = junk_lines or []

    def render(headers: list[str], rows: list[dict], sep: str) -> str:
        def cell(v) -> str:
            if v is None:
                return ""
            s = str(v)
            if sep in s or '"' in s or "\n" in s:
                return '"' + s.replace('"', '""') + '"'
            return s

        # junk lines are padded to the header width (the realistic
        # "units/comment second line" shape) — a junk line with FEWER
        # fields than the header makes DuckDB's sniffer error out, which
        # would mean the REFERENCE cannot read the archive at all; the
        # interesting hostile case is the one both engines parse
        lines = [sep.join(headers)] + [
            sep.join([m] + [""] * (len(headers) - 1)) for m in junk_lines
        ]
        for r in rows:
            lines.append(sep.join(cell(r.get(h)) for h in headers))
        return "\n".join(lines) + "\n"

    ext_meta = [
        (e["file"], e.get("sep", ",").replace("\t", "\\t"), e.get("enc", "UTF-8"))
        for e in extensions
    ]
    meta = _meta_xml(
        "occurrence.txt", sep_escaped, core_enc, ext_meta,
        ignore_header_lines=ignore_header_lines,
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("meta.xml", meta)
        zf.writestr(
            "occurrence.txt",
            render(core_headers, core_rows, core_sep).encode(core_enc),
        )
        for e in extensions:
            zf.writestr(
                e["file"],
                render(e["headers"], e["rows"], e.get("sep", ",")).encode(
                    e.get("enc", "UTF-8")
                ),
            )
    return zpath


CORE_HEADERS = [
    "id",
    "occurrenceID",
    "scientificName",
    "eventDate",
    "decimalLatitude",
    "decimalLongitude",
    "individualCount",
]

CORE_HEADERS_WKT = CORE_HEADERS + ["footprintWKT"]


def core_rows(n: int = 6, with_wkt: bool = False, null_latlon: bool = False) -> list[dict]:
    rows = []
    for i in range(1, n + 1):
        r = {
            "id": i,
            "occurrenceID": f"occ:{i}",
            "scientificName": f"Species {chr(64 + i)}",
            "eventDate": f"2024-03-{i:02d}",
            "decimalLatitude": None if (null_latlon and i % 3 == 0) else f"58.{i}2",
            "decimalLongitude": None if (null_latlon and i % 3 == 0) else f"7.{i}5",
            "individualCount": i * 2,
        }
        if with_wkt:
            r["footprintWKT"] = (
                f"POLYGON ((0 0, {i} 0, {i} {i}, 0 0))" if i % 2 == 0 else None
            )
        rows.append(r)
    return rows


def mof_extension(core_ids: list[int], per_id: int = 1) -> dict:
    rows = []
    for cid in core_ids:
        for k in range(per_id):
            rows.append(
                {
                    "coreid": cid,
                    "measurementType": f"weight{k}",
                    "measurementValue": f"{cid * 10 + k}",
                }
            )
    return {
        "file": "measurementorfact.txt",
        "headers": ["coreid", "measurementType", "measurementValue"],
        "rows": rows,
    }


def multimedia_extension(core_ids: list[int]) -> dict:
    return {
        "file": "multimedia.txt",
        "headers": ["coreid", "format", "identifier"],
        "rows": [
            {"coreid": cid, "format": "image/jpeg", "identifier": f"http://img/{cid}.jpg"}
            for cid in core_ids
        ],
    }


def in_job_group(spark, group: str, fn):
    """Run ``fn`` under Spark job group ``group``; return its result and the
    group's job ids (the Spark jobs the call made)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))
