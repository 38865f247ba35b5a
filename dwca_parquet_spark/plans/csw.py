"""CSW metadata-record pipeline (reference ``libs/csw.py:41-113``).

The reference harvests every IPT dataset, imports its EML, renders an
ISO19139 XML document, and builds one flat pycsw-shaped record per dataset;
the records table is written as zstd parquet. It does all of that again on
every request. Here the harvest is ``IptClient.harvest``, shared with the
geoapi pipeline: it fetches the RSS, then fetches and parses only the EMLs
whose RSS version moved (or that carry none), and keeps each parsed EML
with its version for the next pass. The ISO19139 ``xml`` and its
``anytext`` depend on the EML alone, so they are kept on that same entry
and rendered once per version; only ``title`` is taken from the current
RSS on every pass. The state lives in the process, so the first job after
a restart pays the full harvest. The harvested rows reach Spark as one
``pyarrow.Table`` typed from ``HARVEST_SCHEMA`` (``rows_to_frame``): no
Python worker and no pickling. The *per-record field derivations* are
DataFrame expressions (SURVEY §2.D mapping), so the same pipeline scales
past driver-memory catalogs:

- D7/D8  keyword flatten + dedup + join  → flatten / array_distinct / array_join
- D9     bbox → WKT polygon              → format_string (shapely.box vertex order)
- D11    links JSON                      → to_json(array(struct(...)))
- D12    constant fields                 → lit()

Order-sensitivity note: the reference joins ``set(keywords)`` /
``set(contribs)`` — Python set iteration order, which is not stable across
processes. We use first-occurrence order (array_distinct preserves it),
which is deterministic; tests pin that order.

The ISO19139 serialization itself (reference delegates to pygeometa, not
available in this environment) is a minimal conformant-shaped stand-in
covering the fields the record table consumes; ``anytext`` is derived from
its text nodes exactly like reference ``csw.py:25-38``.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from dwca_parquet_spark.sources.ipt import IptClient


@dataclass
class CatalogConfig:
    """Output-location knobs (mirror of reference ``settings.py:11-26``)."""

    ipt_url: str = "https://ipt.example.org"
    endpoint_url: str = "https://s3.example.org"
    bucket: str = "datasets"
    resources_prefix: str = "/resources/"
    creator: str = "Norsk institutt for naturforskning (NINA)"
    publisher: str = "Norsk institutt for naturforskning (NINA)"


def iso19139_xml(metadata: dict) -> str:
    """ISO19139-shaped XML for a parsed EML dict.

    Stand-in for the reference's pygeometa ISO19139OutputSchema
    (``csw.py:20,48``) — the library is not installed here; covers
    identifier, language, dateStamp, contacts, title, abstract, keywords
    and bbox — the content the CSW record's ``xml``/``anytext`` fields
    carry forward. Still absent vs a full pygeometa render: characterSet/
    hierarchyLevel codelists, CRS, distribution links, lineage (the
    golden-file test pins the exact serialization and the field map).
    """
    idf = metadata["identification"]
    kws = [
        w
        for grp in idf["keywords"].values()
        for w in grp["keywords"]
    ]
    spatial = idf["extents"]["spatial"]
    bbox = spatial[0]["bbox"] if spatial else None

    gmd = "http://www.isotc211.org/2005/gmd"
    gco = "http://www.isotc211.org/2005/gco"
    ET.register_namespace("gmd", gmd)
    ET.register_namespace("gco", gco)
    root = ET.Element(f"{{{gmd}}}MD_Metadata")

    def leaf(parent, tag: str, text: str):
        el = ET.SubElement(parent, f"{{{gmd}}}{tag}")
        cs = ET.SubElement(el, f"{{{gco}}}CharacterString")
        cs.text = text
        return el

    leaf(root, "fileIdentifier", metadata["metadata"]["identifier"])
    leaf(root, "language", metadata["metadata"].get("language", "eng"))
    stamp = ET.SubElement(root, f"{{{gmd}}}dateStamp")
    date_el = ET.SubElement(stamp, f"{{{gco}}}Date")
    date_el.text = idf["dates"]["publication"]
    # first-occurrence order, matching the record pipeline's
    # array_distinct determinism note (reference iterates a set here)
    for name in dict.fromkeys(
        c["individualname"] for c in metadata["contact"].values()
    ):
        contact = ET.SubElement(root, f"{{{gmd}}}contact")
        party = ET.SubElement(contact, f"{{{gmd}}}CI_ResponsibleParty")
        leaf(party, "individualName", name)
    ident = ET.SubElement(root, f"{{{gmd}}}identificationInfo")
    leaf(ident, "title", idf["title"])
    leaf(ident, "abstract", idf["abstract"])
    for w in kws:
        leaf(ident, "keyword", w)
    if bbox is not None:
        ext = ET.SubElement(ident, f"{{{gmd}}}EX_GeographicBoundingBox")
        for tag, val in zip(
            ("westBoundLongitude", "southBoundLatitude",
             "eastBoundLongitude", "northBoundLatitude"),
            bbox,
        ):
            el = ET.SubElement(ext, f"{{{gmd}}}{tag}")
            dec = ET.SubElement(el, f"{{{gco}}}Decimal")
            dec.text = repr(val)
    return ET.tostring(root, encoding="unicode")


def anytext_from_xml(xml_text: str) -> str:
    """All XML text-node content, space-joined (reference ``csw.py:25-38``)."""
    root = ET.fromstring(xml_text)
    return " ".join(t.strip() for t in root.itertext() if t.strip())


HARVEST_SCHEMA = StructType(
    [
        StructField("resource_id", StringType()),
        StructField("identifier", StringType()),
        StructField("title", StringType()),
        StructField("abstract", StringType()),
        StructField("publication_date", StringType()),
        StructField("bbox", ArrayType(DoubleType())),  # minx,miny,maxx,maxy
        # keyword groups, one array per keywordSet (flattened in the plan)
        StructField("keyword_groups", ArrayType(ArrayType(StringType()))),
        StructField("contacts", ArrayType(StringType())),
        StructField("xml", StringType()),
        StructField("anytext", StringType()),
    ]
)


def rows_to_frame(
    spark: SparkSession, rows: list[dict], schema: StructType
) -> DataFrame:
    """Driver rows → DataFrame through one Arrow table typed from the Spark
    ``schema``, so the schema stays the one owner of the column types.
    ``createDataFrame`` takes a ``pyarrow.Table`` on the JVM's Arrow reader
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says; a
    ``list[dict]`` would be pickled through a Python worker instead."""
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def harvest_rows(client: IptClient) -> list[dict]:
    """One record row per dataset of ``client.harvest()`` (reference
    ``csw.py:44-49``). The ISO render and its ``anytext`` are made once per
    EML version and kept on the harvest's entry."""
    rows = []
    for ds, eml in client.harvest():
        metadata = eml.metadata
        if "xml" not in eml.derived:
            xml = iso19139_xml(metadata)
            eml.derived.update(xml=xml, anytext=anytext_from_xml(xml))
        idf = metadata["identification"]
        spatial = idf["extents"]["spatial"]
        rows.append(
            {
                "resource_id": ds["id"],
                "identifier": metadata["metadata"]["identifier"],
                "title": ds.get("title") or idf["title"],
                "abstract": idf["abstract"],
                "publication_date": idf["dates"]["publication"],
                "bbox": spatial[0]["bbox"] if spatial else None,
                "keyword_groups": [
                    grp["keywords"] for grp in idf["keywords"].values()
                ],
                "contacts": [c["individualname"] for c in metadata["contact"].values()],
                "xml": eml.derived["xml"],
                "anytext": eml.derived["anytext"],
            }
        )
    return rows


def bbox_to_wkt(bbox: F.Column) -> F.Column:
    """[minx,miny,maxx,maxy] → WKT polygon, shapely.box vertex order
    (reference ``csw.py:8,88``: CCW from (maxx,miny); 1 decimal place is
    shapely's repr for these fixtures is not replicated — we emit full
    precision with no trailing-zero trimming via %s on the doubles)."""
    minx, miny, maxx, maxy = (bbox[0], bbox[1], bbox[2], bbox[3])
    return F.format_string(
        "POLYGON ((%s %s, %s %s, %s %s, %s %s, %s %s))",
        maxx, miny, maxx, maxy, minx, maxy, minx, miny, maxx, miny,
    )


def eml_to_csw_records(
    spark: SparkSession,
    harvested: list[dict],
    cfg: CatalogConfig | None = None,
) -> DataFrame:
    """Harvested rows → the reference's 21-column CSW record table
    (``csw.py:77-101``), all derivations as DataFrame expressions."""
    cfg = cfg or CatalogConfig()
    raw = rows_to_frame(spark, harvested, HARVEST_SCHEMA)

    keywords = F.array_join(
        F.array_distinct(F.flatten(F.col("keyword_groups"))), ", "
    )
    contributor = F.array_join(F.array_distinct(F.col("contacts")), "; ")
    parquet_url = F.concat(
        F.lit(f"{cfg.endpoint_url}/{cfg.bucket}{cfg.resources_prefix}"),
        F.col("resource_id"),
        F.lit(".parquet"),
    )
    dwca_url = F.concat(
        F.lit(f"{cfg.ipt_url}/archive.do?r="), F.col("resource_id")
    )
    links = F.to_json(
        F.array(
            F.struct(
                F.lit("Parquet").alias("name"),
                F.lit("The resource as (geo)parquet file").alias("description"),
                F.lit("FILE:GEO").alias("protocol"),
                parquet_url.alias("url"),
            ),
            F.struct(
                F.lit("DWCA").alias("name"),
                F.lit("The resource as Darwin Core Archive").alias("description"),
                F.lit("file").alias("protocol"),
                dwca_url.alias("url"),
            ),
        )
    )

    return raw.select(
        F.col("identifier"),
        F.lit("gmd:MD_Metadata").alias("typename"),
        F.lit("http://www.isotc211.org/2005/gmd").alias("schema"),
        F.lit("local").alias("mdsource"),
        F.col("publication_date").alias("insert_date"),
        F.col("title"),
        F.col("publication_date").alias("date_modified"),
        F.lit("service").alias("type"),
        F.lit(None).cast("string").alias("format"),
        bbox_to_wkt(F.col("bbox")).alias("wkt_geometry"),
        F.col("xml").alias("metadata"),
        F.col("xml"),
        keywords.alias("keywords"),
        F.lit("application/xml").alias("metadata_type"),
        F.col("anytext"),
        F.col("abstract"),
        F.col("publication_date").alias("date"),
        F.lit(cfg.creator).alias("creator"),
        F.lit(cfg.publisher).alias("publisher"),
        contributor.alias("contributor"),
        links.alias("links"),
    )
