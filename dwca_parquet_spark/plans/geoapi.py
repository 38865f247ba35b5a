"""pygeoapi resource-config pipeline (reference ``libs/geoapi.py:21-75``).

One nested config row per harvested dataset: ``extents.spatial`` struct,
deduplicated keyword array, and a single-element ``providers`` array of
structs pointing OGR at the GeoParquet output with ``id_field: fid``
(consumed downstream by pygeoapi; the ``fid`` contract comes from the
flatten plan's core-id alias, see plans/flatten.py). The result is written
as ONE JSON array file (reference ``geoapi.py:73-75``, COPY … FORMAT json,
ARRAY true) via sinks.jsonarray.

Like the reference, keyword dedup uses set semantics — here
``array_distinct`` (first-occurrence order, deterministic; the reference's
Python ``set()`` order is not).

The reference re-harvests the whole IPT catalog per request. Here the rows
come from ``IptClient.harvest``, the one harvest loop shared with the CSW
pipeline, which fetches and parses an EML only when its RSS version moved
(or is absent) and keeps the parsed EML per dataset in between; ``title``
is read from the current RSS on every pass. The state lives in the
process, so the first job after a restart fetches every EML. The rows reach
Spark as one ``pyarrow.Table`` typed from ``GEOAPI_HARVEST_SCHEMA``
(``plans.csw.rows_to_frame``), not pickled through a Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from dwca_parquet_spark.plans.csw import CatalogConfig, rows_to_frame
# ``parse_eml`` is unused here but stays importable as
# ``plans.geoapi.parse_eml``: perfbench/tracing.py wraps it on this module
# too. The harvest calls it through ``sources.ipt``.
from dwca_parquet_spark.sources.ipt import IptClient, parse_eml  # noqa: F401

GEOAPI_HARVEST_SCHEMA = StructType(
    [
        StructField("resource_id", StringType()),
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("bbox", ArrayType(DoubleType())),
        StructField("crs", IntegerType()),
        StructField("keyword_groups", ArrayType(ArrayType(StringType()))),
    ]
)


def harvest_geoapi_rows(client: IptClient) -> list[dict]:
    """One config row per dataset of ``client.harvest()`` (reference
    ``geoapi.py:24-38``)."""
    rows = []
    for ds, eml in client.harvest():
        idf = eml.metadata["identification"]
        spatial = idf["extents"]["spatial"]
        rows.append(
            {
                "resource_id": ds["id"],
                "title": ds.get("title") or idf["title"],
                "description": idf["abstract"],
                "bbox": spatial[0]["bbox"] if spatial else None,
                "crs": spatial[0]["crs"] if spatial else None,
                "keyword_groups": [
                    grp["keywords"] for grp in idf["keywords"].values()
                ],
            }
        )
    return rows


def ipt_to_pygeoapi_resources(
    spark: SparkSession,
    harvested: list[dict],
    cfg: CatalogConfig | None = None,
) -> DataFrame:
    """Harvested rows → nested pygeoapi collection configs
    (reference ``geoapi.py:40-65``)."""
    cfg = cfg or CatalogConfig()
    raw = rows_to_frame(spark, harvested, GEOAPI_HARVEST_SCHEMA)

    host = cfg.ipt_url.replace("https://", "")
    source = F.concat(
        F.lit(f"/vsicurl/{cfg.endpoint_url}/{cfg.bucket}{cfg.resources_prefix}"),
        F.col("resource_id"),
        F.lit(".parquet"),
    )
    provider = F.struct(
        F.lit("feature").alias("type"),
        F.lit("OGR").alias("name"),
        F.lit(True).alias("default"),
        F.lit("fid").alias("id_field"),
        F.lit(False).alias("editable"),
        F.lit("http://www.opengis.net/def/crs/OGC/1.3/CRS84").alias("storage_crs"),
        F.struct(
            F.lit("Parquet").alias("source_type"),
            source.alias("source"),
        ).alias("data"),
        F.col("resource_id").alias("layer"),
    )

    return raw.select(
        F.concat(F.lit(f"{host}/"), F.col("resource_id")).alias("id"),
        F.lit("collection").alias("type"),
        F.lit("default").alias("visibility"),
        F.col("title"),
        F.struct(
            F.struct(
                F.col("bbox"),
                F.col("crs"),
            ).alias("spatial")
        ).alias("extents"),
        F.array_distinct(F.flatten(F.col("keyword_groups"))).alias("keywords"),
        F.col("description"),
        F.array(provider).alias("providers"),
    )
