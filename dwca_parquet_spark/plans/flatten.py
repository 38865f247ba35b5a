"""dwca_flatten — the reference's entire relational surface as one plan.

Reproduces ``/root/reference/src/dwca_parquet/templates/query.sql:1-5``
declaratively:

    SELECT core.<id> AS fid,
           coalesce(ST_GeomFromText(footprintWKT),
                    ST_Point(decimalLatitude, decimalLongitude)) AS geom,
           *  (star-join of every extension onto the core, inner, on
               ext.<coreid> = core.<id>)

Design decisions (SURVEY §1.3 quirks, honored behind flags):

- ``footprint_from_core_only=True`` (default) reproduces the reference bug
  where only CORE headers decide whether the footprintWKT branch exists
  (``libs/dwca.py:37-42`` discards the extension-header union).
- ``fix_latlon=False`` (default) keeps the reference's (lat, lon) argument
  order to ST_Point (``query.sql:1``) — verbatim parity; True emits (lon,
  lat) per the WKT spec.
- Inner joins drop core rows without extension matches — exactly the
  reference's fan-out/drop semantics (``query.sql:3-5``).
- ``SELECT *`` over a join duplicates the id/coreid columns; Spark's parquet
  writer rejects duplicate names, so extension columns colliding with
  already-selected names are deterministically renamed ``{alias}_{col}``.

Geometry: no native geometry type without Sedona, so ``geom`` is WKT text —
``coalesce(footprintWKT, 'POINT (lat lon)')`` — byte-comparable against the
DuckDB oracle via ``ST_AsText``. A Sedona upgrade would swap the column for
a GeometryType and register ST_* expressions; nothing else changes.

Scale: extensions are typically ≪ core → broadcast hints; the core never
shuffles for the star join. Number formatting for POINT wkt matches DuckDB's
shortest-roundtrip float rendering via Spark's DOUBLE → STRING cast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dwca_parquet_spark.functions.geometry import validate_wkt
from dwca_parquet_spark.sources.dwca import DwcaArchive

FOOTPRINT_COL = "footprintWKT"
LAT_COL = "decimalLatitude"
LON_COL = "decimalLongitude"


def _fmt_coord(c: Column) -> Column:
    """DOUBLE → text matching DuckDB's %g-style rendering of ST_AsText
    (integral doubles print without trailing '.0')."""
    d = c.cast("double")
    as_str = d.cast("string")
    return F.when(
        d == F.floor(d), d.cast("decimal(28,0)").cast("string")
    ).otherwise(as_str)


def point_wkt(lat: Column, lon: Column, fix_latlon: bool = False) -> Column:
    """WKT point. Reference passes (decimalLatitude, decimalLongitude) — lat
    as x (``query.sql:1``); replicated verbatim unless fix_latlon."""
    x, y = (lon, lat) if fix_latlon else (lat, lon)
    return F.when(
        x.isNotNull() & y.isNotNull(),
        F.concat(F.lit("POINT ("), _fmt_coord(x), F.lit(" "), _fmt_coord(y), F.lit(")")),
    )


def dwca_flatten(
    archive: DwcaArchive,
    core_df: DataFrame,
    ext_dfs: list[DataFrame],
    footprint_from_core_only: bool = True,
    fix_latlon: bool = False,
) -> DataFrame:
    """Star-join + fid + geom — the rendered query.sql as a DataFrame plan."""
    out = core_df
    taken = set(archive.core.headers)
    for layer, ext_df in zip(archive.extensions, ext_dfs):
        renames = {
            colname: f"{layer.alias}_{colname}"
            for colname in ext_df.columns
            if colname in taken
        }
        e = F.broadcast(ext_df.withColumnsRenamed(renames))
        # join key may itself have been renamed — resolve after renaming
        ext_key = renames.get(layer.id_col, layer.id_col)
        out = out.join(e, out[archive.core.id_col] == e[ext_key], "inner")
        taken.update(e.columns)

    if footprint_from_core_only:
        has_footprint = FOOTPRINT_COL in archive.core.headers
    else:
        has_footprint = FOOTPRINT_COL in out.columns

    lat = F.col(LAT_COL) if LAT_COL in out.columns else F.lit(None).cast("double")
    lon = F.col(LON_COL) if LON_COL in out.columns else F.lit(None).cast("double")
    point = point_wkt(lat, lon, fix_latlon)
    # Malformed WKT → NULL → point fallback, where DuckDB's
    # ST_GeomFromText would abort the whole conversion. Validation is a
    # scan-stage regex (functions/geometry.py); valid WKT passes through
    # byte-identical (modulo trim), so oracle parity is unaffected.
    footprint = validate_wkt(F.col(FOOTPRINT_COL).cast("string"))
    geom = F.coalesce(footprint, point) if has_footprint else point

    return out.select(
        F.col(archive.core.id_col).alias("fid"),
        geom.alias("geom"),
        *[F.col(c) for c in out.columns],
    )
