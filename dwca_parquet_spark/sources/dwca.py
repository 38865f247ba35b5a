"""Darwin Core Archive (DwC-A) source: meta.xml discovery + zip-member CSV
reading into DataFrames.

Reference semantics reproduced (not ported — the reference hands a Jinja'd
SQL string to DuckDB+zipfs; here the archive descriptor drives declarative
``spark.read.csv`` plans):

- ``meta.xml`` drives everything: file locations, encodings, field
  separators, and the positional id/coreid join keys
  (``/root/reference/src/dwca_parquet/libs/dwca.py:8-44``).
- Separators arrive as escaped strings ("\\t"). The id column NAME is the
  ``<id index=…>`` position looked up in the column names of the layer's
  one header parse (the reference also splits the header row in Python,
  ``dwca.py:19-25``): the driver-side typing pass
  (``csv_schema.infer_schema``) parses it with Spark's names, or Spark's
  reader does where that pass leaves a layer to Spark.
- Spark cannot scan inside zip archives (DuckDB used its zipfs extension,
  ``settings.py:50,59``), so the archive stages to a local directory first —
  the same cache-then-read pattern the reference uses for remote archives
  (``libs/parquet.py:35-42``). At 100 TB the staging step is the ingest
  boundary: unpack once, convert to parquet early, and every downstream
  operator reads columnar.
"""

from __future__ import annotations

import codecs
import os
import shutil
import zipfile
from dataclasses import dataclass, field, replace
from pathlib import Path
from xml.etree import ElementTree

from pyspark.sql import DataFrame, SparkSession

from dwca_parquet_spark.sources.csv_schema import infer_schema

_DWC_NS = "{http://rs.tdwg.org/dwc/text/}"
# what one archive may extract. An IPT archive holds meta.xml, eml.xml and
# a few layer files; the bounds stop a zip bomb from filling the staging
# disk. The bytes are counted as they are written: a zip's size fields are
# archive input too.
_MAX_MEMBERS = 100_000
_MAX_EXTRACTED_BYTES = 32 << 30


@dataclass
class SourceLayer:
    """One delimited file inside the archive (core or extension).

    Mirrors the reference's layer dict (``libs/dwca.py:8-29``): ``alias`` is
    the filename stem (used as table alias, ``dwca.py:10``), ``id_index``
    the meta.xml ``<id>``/``<coreid>`` position (``dwca.py:24-25``). The
    layer's header parse gives ``headers`` and ``id_col`` (the name at
    ``id_index``): ``read_dwca`` fills them from the frame it read.
    """

    alias: str
    location: str
    sep: str
    encoding: str
    id_index: int
    ignore_header_lines: int
    headers: list[str] = field(default_factory=list)
    id_col: str = ""


@dataclass
class DwcaArchive:
    """Parsed archive descriptor: the engine's IR replacing the reference's
    Jinja context (``dwca.py:44``)."""

    root: Path
    core: SourceLayer
    extensions: list[SourceLayer] = field(default_factory=list)


def _decode_sep(raw: str | None) -> str:
    """meta.xml fieldsTerminatedBy arrives escaped ('\\t'); decode like the
    reference's regex-split path does implicitly (``dwca.py:19-20``)."""
    if not raw:
        return ","
    return codecs.decode(raw, "unicode_escape")


def _parse_layer(node: ElementTree.Element, root: Path, name: str) -> SourceLayer:
    def malformed(what: str) -> ValueError:
        return ValueError(f"malformed meta.xml in {root}: {name} {what}")

    location = node.findtext(f"{_DWC_NS}files/{_DWC_NS}location")
    if not location:
        raise malformed("has no <files><location>")
    # meta.xml is archive input: a "../…" or absolute location must not
    # make the job read, convert and publish a file outside the archive
    path = root / location
    if not path.resolve().is_relative_to(root.resolve()):
        raise malformed(f"<location> {location!r} points outside the archive")
    if not path.is_file():
        raise FileNotFoundError(f"{root}: no {name} file {location!r}")
    id_node = node.find(f"{_DWC_NS}id")
    if id_node is None:
        id_node = node.find(f"{_DWC_NS}coreid")
    if id_node is None:
        raise malformed("has neither <id> nor <coreid>")
    # a negative index would silently pick a column counted from the end
    index = id_node.get("index") or ""
    if not index.strip().isdecimal():
        key = id_node.tag.removeprefix(_DWC_NS)
        raise malformed(f"<{key}> index {index!r} is not a column position")
    return SourceLayer(
        alias=Path(location).stem,
        location=location,
        sep=_decode_sep(node.get("fieldsTerminatedBy")),
        encoding=node.get("encoding") or "UTF-8",
        id_index=int(index),
        ignore_header_lines=int(node.get("ignoreHeaderLines") or 1),
    )


def stage_archive(source: str | Path, staging_dir: str | Path) -> Path:
    """Extract a local DwC-A zip to ``staging_dir/extracted``.

    The extract step mirrors reference ``libs/parquet.py:35-42`` (httpfs+
    zipfs don't compose there; Spark has no zip source here); the archive
    bytes arrive through ``IptClient.fetch``. The caller owns the staging
    lifecycle (reference deletes in ``finally``, ``parquet.py:52-54`` — use
    a tempfile.TemporaryDirectory context).

    An archive with more than ``_MAX_MEMBERS`` members, one that extracts
    to more than ``_MAX_EXTRACTED_BYTES`` bytes, or a member whose name
    points outside the extraction directory is refused with a
    ``ValueError``.
    """
    extract_dir = Path(staging_dir) / "extracted"
    root = extract_dir.resolve()
    budget = _MAX_EXTRACTED_BYTES
    with zipfile.ZipFile(source) as zf:
        members = zf.infolist()
        if len(members) > _MAX_MEMBERS:
            raise ValueError(
                f"{source}: {len(members)} zip members, over the limit of "
                f"{_MAX_MEMBERS}"
            )
        for info in members:
            target = (root / info.filename).resolve()
            if not target.is_relative_to(root):
                raise ValueError(
                    f"{source}: zip member {info.filename!r} points outside "
                    "the archive"
                )
            if info.is_dir():
                target.mkdir(parents=True, exist_ok=True)
                continue
            target.parent.mkdir(parents=True, exist_ok=True)
            with zf.open(info) as src, open(target, "wb") as out:
                while chunk := src.read(min(1 << 20, budget + 1)):
                    budget -= len(chunk)
                    if budget < 0:
                        raise ValueError(
                            f"{source}: extracts to more than the limit of "
                            f"{_MAX_EXTRACTED_BYTES} bytes"
                        )
                    out.write(chunk)
    return extract_dir


def parse_meta(extract_dir: str | Path) -> DwcaArchive:
    """Parse meta.xml → DwcaArchive (semantics of ``libs/dwca.py:31-44``).

    Malformed archives fail with a message naming what is missing — a
    harvest job processing hundreds of IPT datasets needs the failure to
    say WHICH contract the archive broke, not an AttributeError."""
    root = Path(extract_dir)
    meta_path = root / "meta.xml"
    if not meta_path.exists():
        raise FileNotFoundError(
            f"not a DwC-A: no meta.xml in {root} (archive must carry its "
            "descriptor at the extraction root)"
        )
    meta = ElementTree.parse(meta_path).getroot()
    core_node = meta.find(f"{_DWC_NS}core")
    if core_node is None:
        raise ValueError(
            f"malformed meta.xml in {root}: no <core> element — a DwC-A "
            "declares exactly one core table"
        )
    core = _parse_layer(core_node, root, "core")
    extensions = [
        _parse_layer(ext, root, f"extension {i}")
        for i, ext in enumerate(meta.findall(f"{_DWC_NS}extension"), 1)
    ]
    return DwcaArchive(root=root, core=core, extensions=extensions)


def read_layer(
    spark: SparkSession,
    archive: DwcaArchive,
    layer: SourceLayer,
    honor_ignore_header_lines: bool = False,
) -> DataFrame:
    """One layer → DataFrame via spark.read.csv (reference query.sql:2,4).

    Every cell is typed, as DuckDB's ``sample_size=-1`` sniff types every
    extension row, with Spark's CSV inference rules. The staged file is on
    the driver's disk, so ``csv_schema.infer_schema`` types it there with
    no Spark job and the reader gets its schema. Where that pass cannot
    decide a file exactly (a multi-char separator, a row of another width,
    a backslash, a quote inside a quoted cell, an empty or repeated header
    name, …) the same reader runs without a schema and Spark's
    ``inferSchema`` pass (``samplingRatio=1.0``) types it instead. Spark ≥3.0
    reads multi-char separators, so the decoded meta.xml separator passes
    straight through.

    ``honor_ignore_header_lines``: meta.xml can declare
    ``ignoreHeaderLines > 1`` (header plus N-1 comment/unit lines). The
    REFERENCE never consults it — DuckDB ``read_csv`` skips exactly one
    header line (``templates/query.sql:2,4``), so lines 2..N leak into the
    data. Default False preserves that verbatim behavior (oracle parity,
    the §1.3 quirk discipline); True implements the declared semantics by
    rewriting a trimmed copy at staging time — a driver-side streaming
    pass, same order as the zip extraction that already ran there (header
    skipping is inherently file-ordered work; Spark partitions have no
    line-number notion)."""
    path = archive.root / layer.location
    skip = layer.ignore_header_lines - 1
    if honor_ignore_header_lines and skip > 0:
        # ALWAYS rewrite, via temp + atomic rename — a bare existence
        # check would silently reuse a truncated copy (process killed
        # mid-write) or a previous archive's copy left behind by a
        # re-extraction into the same staging dir (code-review r12);
        # the rewrite is one streaming pass over a file that was just
        # extracted anyway.
        trimmed = path.with_suffix(path.suffix + f".skip{skip}")
        tmp = trimmed.with_suffix(trimmed.suffix + ".tmp")
        with open(path, "rb") as src, open(tmp, "wb") as out:
            out.write(src.readline())  # the real header line
            for _ in range(skip):  # the declared junk lines
                src.readline()
            shutil.copyfileobj(src, out)
        os.replace(tmp, trimmed)
        path = trimmed
    options = {
        "header": "true",
        "sep": layer.sep,
        "encoding": layer.encoding,
        "multiLine": "false",
        "inferSchema": "true",
        "samplingRatio": "1.0",
    }
    reader = spark.read.options(**options)
    schema = infer_schema(spark, path, options)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.csv(str(path))
    # Spark keeps the padding of a header such as "id, name" (" name");
    # DuckDB and the reference's header split strip it. A padded name
    # whose stripped form another column has too (case-insensitively, as
    # Spark resolves names) keeps Spark's name: two equal names would
    # make every reference to either ambiguous.
    stripped = [c.strip() for c in df.columns]
    folded = [c.lower() for c in stripped]
    renames = {
        c: new for c, new, key in zip(df.columns, stripped, folded)
        if c != new and folded.count(key) == 1
    }
    if renames:
        df = df.withColumnsRenamed(renames)
    return df.alias(layer.alias)


def read_dwca(
    spark: SparkSession,
    source: str | Path,
    staging_dir: str | Path,
    honor_ignore_header_lines: bool = False,
) -> tuple[DwcaArchive, DataFrame, list[DataFrame]]:
    """Full archive → (descriptor, core DataFrame, extension DataFrames).

    Stages the archive, parses meta.xml and reads the layers one after
    another with :func:`read_layer`: core first, then extensions in
    meta.xml order. A layer typed on the driver runs no Spark job here;
    one left to Spark's inference runs its jobs on the calling thread, so
    they carry the caller's job group and tags. The returned descriptor's
    layers carry their frames' column names (``headers``, ``id_col``); an
    ``<id index>`` past a layer's last column raises ``ValueError``.

    ``honor_ignore_header_lines`` — see :func:`read_layer`; default False
    preserves the reference's verbatim one-header-line behavior."""
    extract_dir = stage_archive(source, staging_dir)
    archive = parse_meta(extract_dir)
    layers = [archive.core, *archive.extensions]
    dfs = [
        read_layer(spark, archive, layer, honor_ignore_header_lines)
        for layer in layers
    ]
    named = []
    for layer, cols in zip(layers, [df.columns for df in dfs]):
        if layer.id_index >= len(cols):
            raise ValueError(
                f"malformed meta.xml in {archive.root}: {layer.location} id "
                f"index {layer.id_index} is past its {len(cols)} columns"
            )
        named.append(replace(layer, headers=cols, id_col=cols[layer.id_index]))
    archive = replace(archive, core=named[0], extensions=named[1:])
    return archive, dfs[0], dfs[1:]
