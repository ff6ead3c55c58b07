"""Stage 3 — k-complexity of street blocks (SURVEY.md §3.2, K3+K6-K10).

Reference flow (`prclz/_complexity.py:99-131`):

1. buildings → centroids                     (`:104`)
2. sjoin(blocks, centroids, right/intersects)(`:107`)   = PIP join J4
3. groupby(block)['geometry'].agg(list)      (`:108-109`) = collect_list
4. per-block kernel: Voronoi s0 → weak-dual sequence → k (`:79-97`)
5. output (block_id, geometry, complexity, centroids_multipoint)

Spark plan: `st_centroid` pUDF → `pip_join` (single-cell probe, broadcast
cover-exploded blocks) → `groupBy(block_id).applyInPandas(kernel)`. The
`.block.cache` resume files (`:80-87`) are replaced by the lineage ledger
(ledger.py) at partition granularity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import geom as G
from ..functions.st import st_centroid, st_x, st_y
from ..kernels import planar as P
from .sjoin import pip_join

_OUT_SCHEMA = "block_id string, geometry binary, complexity int, centroids_multipoint binary"
_COLS = ["block_id", "geometry", "complexity", "centroids_multipoint"]


def _k_row(
    block_id: str, block_wkb: bytes, block: G.Geom, xs: np.ndarray, ys: np.ndarray
) -> tuple | None:
    """One block's output row in `_OUT_SCHEMA` order, or None when no
    centroid lies in the block; `block_wkb` is the WKB that `block` was
    decoded from, emitted as the row's geometry. A `block_complexity`
    failure raises."""
    # kernel-side PIP refine of the cell-join candidates (closed semantics,
    # vectorized over all candidate points at once)
    mask = G.points_in_polygon_bulk(xs, ys, block)
    if not mask.any():
        return None
    cents = np.column_stack([xs[mask], ys[mask]])
    ring = block.data[0] if block.kind == G.POLYGON else block.data[0][0]
    k = P.block_complexity(ring, cents)
    return (block_id, block_wkb, int(k), G.wkb_dumps(G.multipoint(cents)))


def _k_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """The staged operator's per-block kernel: a failed block yields no row."""
    block_wkb = bytes(pdf["block_geom"].iloc[0])
    block = G.wkb_loads(block_wkb)
    try:
        row = _k_row(pdf["block_id"].iloc[0], block_wkb, block, pdf["x"].to_numpy(dtype=float),
                     pdf["y"].to_numpy(dtype=float))
    except Exception:
        row = None
    return pd.DataFrame([row] if row else [], columns=_COLS)


def building_centroids(buildings: DataFrame, id_col: str = "osm_id", res: int | None = None) -> DataFrame:
    """Centroid points; with `res` also the probe cell, fused in one Arrow
    phase (see st_centroid_xy_cell) so pip_join skips its own cell pass."""
    if res is not None:
        from ..functions.st import st_centroid_xy_cell

        c = st_centroid_xy_cell(res)(F.col("geometry"))
        return (
            buildings.withColumn("_c", c)
            .select(
                F.col(id_col),
                F.col("_c.x").alias("x"),
                F.col("_c.y").alias("y"),
                F.col("_c.cell").alias("cell"),
            )
            .filter(F.col("cell").isNotNull())
        )
    c = st_centroid(F.col("geometry"))
    return buildings.select(F.col(id_col), st_x(c).alias("x"), st_y(c).alias("y"))


def k_complexity(
    blocks: DataFrame, buildings: DataFrame, res: int, unique_assign: bool = False
) -> DataFrame:
    """blocks(block_id, geometry) × buildings(osm_id, geometry) →
    (block_id, geometry, complexity, centroids_multipoint).

    ``unique_assign=True`` assigns each centroid to the SMALLEST enclosing
    block (area argmin per point) instead of every enclosing block. The
    reference's blocks are a planar partition (polygonize faces — disjoint
    by construction, `prclz/_blocks.py`), so each point has one block and
    the default multi-assign path is exact; a DRIFTED blocks layer with
    overlapping "umbrella" polygons (the checked-in DJI fixture) needs the
    smallest-enclosing rule to recover the partition semantics. Costs one
    extra shuffle (window argmin on point id) — leave off for partition
    inputs."""
    pts = building_centroids(buildings, res=res)
    if unique_assign:
        from pyspark.sql import Window

        from ..functions.st import st_area

        joined = pip_join(
            pts,
            blocks,
            "osm_id",
            "block_id",
            res=res,
            how="inner",
            keep_poly_geom="block_geom",
            refine=True,  # per-point exact PIP BEFORE the argmin
        )
        areas = blocks.select("block_id", st_area(F.col("geometry")).alias("_barea"))
        w = Window.partitionBy("osm_id").orderBy(
            F.col("_barea").asc(), F.col("block_id").asc()
        )
        grouped = (
            joined.join(F.broadcast(areas), "block_id")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("block_id", "block_geom", "x", "y")
        )
    else:
        grouped = pip_join(
            pts,
            blocks,
            "osm_id",
            "block_id",
            res=res,
            how="inner",
            keep_poly_geom="block_geom",
            refine=False,  # exact PIP happens inside _k_kernel, post-shuffle
        ).select("block_id", "block_geom", "x", "y")
    return grouped.groupBy("block_id").applyInPandas(_k_kernel, _OUT_SCHEMA)
