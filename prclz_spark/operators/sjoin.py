"""Distributed point-in-polygon join — the engine's spatial join (SURVEY.md
§2.2, J4): the reference assigns buildings to blocks by their centroids
(`prclz/_complexity.py:104-107`, `prclz/reblock/_reblock.py:52`).

Architecture (idiomatic Spark, no custom Catalyst rule):

    build side (polygons)  : explode(st_cells(geom, res))         ← O(n·cells)
    probe side (points)    : ONE cell per row, a JVM expression
    candidate pairs        : equi-join on cell id (broadcast hint
                             when the build side is small, else
                             sort-merge + hot-cell salting)
    refine                 : exact PIP in an Arrow pandas UDF
    how=left               : backfill outer join on the point id

At 100 TB the build side (GADM regions / blocks) is ~10⁵-10⁷ rows — fits a
broadcast after cover-explode at a sane resolution; the probe side
(buildings / image tiles, 10⁹-10¹²) is never shuffled at all in the
broadcast path: scan → narrow projection → broadcast hash join → pUDF
refine. That is the "H3-indexed broadcast-build spatial join" of
BASELINE.json.

The polygon⋈polygon joins of the reference (J1-J3: `intersects`,
`how='right'`, `contains`) have no counterpart here: the pipeline assigns
buildings by cell cover + centroid PIP, and street lines reach regions
through `operators.blocks`' cell-candidate join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.st import cell_col, cell_ixy_cols, st_cells, st_contains_xy
from .skew import salt_exploded_join

_BG = "_build_geom"


def pip_join(
    points: DataFrame,
    polys: DataFrame,
    point_id: str,
    poly_id: str,
    res: int,
    x: str = "x",
    y: str = "y",
    poly_geom: str = "geometry",
    how: str = "inner",
    broadcast_build: bool = True,
    salt: int = 8,
    hot_threshold: int = 100_000,
    keep_poly_geom: str | None = None,
    refine: bool = True,
) -> DataFrame:
    """Point-in-polygon join — the flagship fast path (J4,
    `prclz/_complexity.py:104-107`): the probe side gets ONE cell per row
    (no explode → no probe-side blowup), polygons are cover-exploded and
    broadcast; refine is `st_contains_xy` (closed semantics: boundary
    points match, as in GEOS intersects).

    Because each probe has exactly one cell, a (point, poly) pair can only
    meet once — no dedup shuffle is needed, and for how='inner' the result
    is produced straight off the broadcast join + filter: the probe side is
    scan → narrow UDF → broadcast-hash-join → filter, with NO probe-side
    shuffle at all. Returns points columns + poly_id (+ optionally the
    polygon geometry as `keep_poly_geom`, saving the caller a re-join).

    If `points` already carries a `cell` column (e.g. from the fused
    st_centroid_xy_cell prep) it is used as-is — one fewer Python phase.

    The probe cell is one pure-JVM codegen projection
    (cell_col over cell_ixy_cols, bit-equal to cells.cell_of_xy and so in
    the layout of the st_cells build cover), so the probe side of this
    join carries NO ArrowEvalPython node at all — the only Python phase
    left is the exact refine (guide §4.1)."""
    if "cell" in points.columns:
        p = points
    else:
        p = points.withColumn("cell", cell_col(res, *cell_ixy_cols(res, F.col(x), F.col(y))))
    b = polys.select(F.col(poly_id), F.col(poly_geom).alias(_BG)).withColumn(
        "cell", F.explode(st_cells(res)(F.col(_BG)))
    )
    if broadcast_build:
        cand = p.join(F.broadcast(b), "cell", "inner")
    elif salt > 1:
        # non-broadcast default: histogram pre-pass + hot-cell salting
        cand = salt_exploded_join(
            p, b, key="cell", salts=salt, probe_id=point_id, hot_threshold=hot_threshold
        )
    else:
        cand = p.join(b, "cell", "inner")
    # refine=False defers the exact PIP test to a downstream grouped kernel
    # (vectorized per polygon, after the shuffle) — one fewer ArrowEval
    # phase when the caller groups by poly_id anyway
    hit = cand.filter(st_contains_xy(F.col(_BG), F.col(x), F.col(y))) if refine else cand
    out_cols = [F.col(c) for c in points.columns] + [F.col(poly_id)]
    if keep_poly_geom:
        out_cols.append(F.col(_BG).alias(keep_poly_geom))
    if how == "inner":
        return hit.select(*out_cols)
    if how == "left":
        sel = [F.col(point_id), F.col(poly_id)] + (
            [F.col(_BG).alias(keep_poly_geom)] if keep_poly_geom else []
        )
        return points.join(hit.select(*sel), point_id, "left")
    raise ValueError(how)
