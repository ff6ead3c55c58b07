"""Geo sources & sinks (SURVEY.md §2.1 S1/S2/S7/S8/S9).

The reference's file formats, re-expressed as Spark readers/writers:

* S1 GeoJSON scan — `gpd.read_file` of a FeatureCollection
  (`prclz/_complexity.py:74`, `prclz/blocks/_extract_blocks.py:26`).
  Here: `spark.read` of newline-delimited GeoJSON features (the cloud-scale
  layout) or a single FeatureCollection file; geometry JSON → WKB in one
  Arrow pass.
* S2 CSV+WKT scan — `csv_to_geo` (`prclz/utils.py:45-61`) incl. the
  block_id-uniqueness assert (:53).
* S7 CSV sink — WKT-ified columns (`prclz/blocks/_extract_blocks.py:39`).
* S8 GeoJSON sink — `to_file(driver='GeoJSON')` (`prclz/_parcels.py:212`).
* S9 partitioned write by region key — the per-gadm file loop
  (`prclz/etl/_split_buildings.py:64-70`) as `partitionBy`.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, StringType

from .. import geom as G


# --- GeoJSON geometry codec (pure python/numpy) -----------------------------

def _denorm_coords(c):
    """Spark's json reader may stringify ragged coordinate arrays (Polygon
    vs MultiPolygon depths in one file): re-parse any embedded JSON strings."""
    if isinstance(c, str):
        return _denorm_coords(json.loads(c))
    if isinstance(c, (list, tuple)):
        return [_denorm_coords(x) for x in c]
    return c


def geojson_to_geom(gj: dict) -> G.Geom:
    t = gj["type"]
    c = _denorm_coords(gj["coordinates"])
    if t == "Point":
        return G.point(c[0], c[1])
    if t == "LineString":
        return G.linestring(c)
    if t == "Polygon":
        return G.polygon(c[0], c[1:])
    if t == "MultiPoint":
        return G.multipoint(c)
    if t == "MultiLineString":
        return G.multilinestring(c)
    if t == "MultiPolygon":
        return G.multipolygon([[np.asarray(r, dtype=np.float64) for r in poly] for poly in c])
    raise ValueError(f"unsupported GeoJSON type {t}")


def geom_to_geojson(g: G.Geom) -> dict:
    k = g.kind
    if k == G.POINT:
        return {"type": "Point", "coordinates": [float(g.data[0]), float(g.data[1])]}
    if k == G.LINESTRING:
        return {"type": "LineString", "coordinates": g.data.tolist()}
    if k == G.POLYGON:
        return {"type": "Polygon", "coordinates": [r.tolist() for r in g.data]}
    if k == G.MULTIPOINT:
        return {"type": "MultiPoint", "coordinates": g.data.tolist()}
    if k == G.MULTILINESTRING:
        return {"type": "MultiLineString", "coordinates": [l.tolist() for l in g.data]}
    if k == G.MULTIPOLYGON:
        return {"type": "MultiPolygon", "coordinates": [[r.tolist() for r in rings] for rings in g.data]}
    raise ValueError(f"kind {k}")


def _geojson_or_none(j):
    """Unsupported/malformed/NULL GeoJSON geometry → NULL geometry, never a
    task-killing exception (same NULL-on-bad-row contract as
    st_geomfromwkt and images._try_decode)."""
    if j is None:
        return None
    try:
        return G.wkb_dumps(geojson_to_geom(json.loads(j)))
    except Exception:
        return None


@pandas_udf(BinaryType())
def st_geomfromgeojson(s: pd.Series) -> pd.Series:
    return s.map(_geojson_or_none)


@pandas_udf(StringType())
def st_asgeojson(s: pd.Series) -> pd.Series:
    return s.map(lambda b: json.dumps(geom_to_geojson(G.wkb_loads(bytes(b)))) if b is not None else None)


# --- readers ----------------------------------------------------------------

def read_geojson(spark: SparkSession, path: str, properties: list[str]) -> DataFrame:
    """Newline-delimited GeoJSON features (or a FeatureCollection read via
    multiLine) → DataFrame with WKB `geometry` + requested property columns."""
    df = spark.read.option("multiLine", "false").json(path)
    if "features" in df.columns:  # whole FeatureCollection in one doc
        df = spark.read.option("multiLine", "true").json(path).select(
            F.explode("features").alias("f")
        ).select("f.*")
    cols = [F.col(f"properties.{p}").alias(p) for p in properties]
    return df.select(*cols, st_geomfromgeojson(F.to_json(F.col("geometry"))).alias("geometry"))


def read_csv_wkt(
    spark: SparkSession, path: str, geometry_col: str = "geometry", assert_unique: str | None = None
) -> DataFrame:
    """CSV with a WKT geometry column → WKB; optional uniqueness check
    (the reference asserts block_id uniqueness, `prclz/utils.py:53`)."""
    from ..functions.st import st_geomfromwkt

    df = spark.read.option("header", "true").csv(path)
    out = df.withColumn(geometry_col, st_geomfromwkt(F.col(geometry_col)))
    if assert_unique:
        total, distinct = out.select(
            F.count(assert_unique), F.countDistinct(assert_unique)
        ).first()
        if total != distinct:
            raise ValueError(f"{assert_unique} not unique: {total} rows, {distinct} distinct")
    return out


# --- sinks -------------------------------------------------------------------

def write_csv_wkt(df: DataFrame, path: str, geometry_cols=None, mode: str = "overwrite"):
    """CSV sink with WKT geometry columns (the reference's format). By
    default every BinaryType column is treated as WKB geometry."""
    from pyspark.sql.types import BinaryType as _Bin

    from ..functions.st import st_aswkt

    if geometry_cols is None:
        geometry_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, _Bin)]
    out = df
    for c in geometry_cols:
        out = out.withColumn(c, st_aswkt(F.col(c)))
    out.write.mode(mode).option("header", "true").csv(path)


def write_geojson(df: DataFrame, path: str, geometry_col: str = "geometry",
                  partition_by: str | None = None, mode: str = "overwrite"):
    """Feature-per-line GeoJSON; optional per-region partitioned layout (S9:
    the reference's one-file-per-gadm loop becomes partitionBy)."""
    props = [c for c in df.columns if c != geometry_col]
    # geometry JSON is kept verbatim (schema-free): build the line manually
    out = df.withColumn("_gj", st_asgeojson(F.col(geometry_col))).withColumn(
        "feature",
        F.concat(
            F.lit('{"type": "Feature", "geometry": '),
            F.col("_gj"),
            F.lit(', "properties": '),
            F.to_json(F.struct(*[F.col(c) for c in props])),
            F.lit("}"),
        ),
    )
    w = out.select(*([partition_by] if partition_by else []), "feature").write.mode(mode)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.text(path)
