"""Distributed spatial join — the core engine operator (SURVEY.md §2.2).

Reproduces the semantics of geopandas ``sjoin`` as used by the reference:

* J1 `op='intersects'` polygon⋈polygon — `prclz/etl/_split_buildings.py:58`,
  `prclz/_parcels.py:88,197`, `prclz/reblock/_reblock.py:337`
* J2 `how='right'` — `prclz/_complexity.py:107`
* J3 `op='contains'` — `prclz/_parcels.py:231-237`
* J4 point-in-polygon probe — `prclz/reblock/_reblock.py:52`
* J5 candidate-pairs→refine→backfill plan shape — the reference's own
  vectorized variant at `scripts/split-buildings/split_buildings.py:136-141`

Architecture (idiomatic Spark, no custom Catalyst rule):

    build side (polygons)  : explode(cover_cells(geom, res))      ← O(n·cells)
    probe side (any geom)  : explode(cover_cells) — or a SINGLE
                             cell per row for point probes (J4)
    candidate pairs        : equi-join on cell id (broadcast hint
                             when the build side is small, else
                             sort-merge + AQE + optional salting)
    refine                 : exact predicate in an Arrow pandas UDF
    dedupe                 : dropDuplicates(left_id, right_id) —
                             a pair can meet in several cells
    how=left/right         : backfill outer join on the id

At 100 TB the build side (GADM regions / blocks) is ~10⁵-10⁷ rows — fits a
broadcast after cover-explode at a sane resolution; the probe side
(buildings / image tiles, 10⁹-10¹²) is never shuffled at all in the
broadcast path: scan → narrow explode → broadcast hash join → pUDF refine.
That is the "H3-indexed broadcast-build spatial join" of BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.st import (
    cell_col, cell_ixy_cols, st_cells, st_contains, st_contains_xy, st_intersects,
)
from .skew import salt_exploded_join

_PG, _BG = "_probe_geom", "_build_geom"


def candidate_pairs(
    probe: DataFrame,
    build: DataFrame,
    probe_id: str,
    build_id: str,
    res: int,
    probe_geom: str = "geometry",
    build_geom: str = "geometry",
    broadcast_build: bool = True,
    salt: int = 8,
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Cell-level candidate pairs: (probe_id, build_id, _probe_geom, _build_geom).

    Non-broadcast builds (a build side too big for one executor's memory)
    default THROUGH the hot-cell histogram pre-pass (VERDICT r4 #6): cells
    holding ≥ ``hot_threshold`` probe rows are spread over ``salt`` tasks
    (skew.salt_exploded_join); with no hot cells the pre-pass degrades to
    the plain cell equi-join. ``salt=0`` opts out of the pre-pass."""
    b = build.select(F.col(build_id), F.col(build_geom).alias(_BG)).withColumn(
        "cell", F.explode(st_cells(res)(F.col(_BG)))
    )
    p = probe.select(F.col(probe_id), F.col(probe_geom).alias(_PG)).withColumn(
        "cell", F.explode(st_cells(res)(F.col(_PG)))
    )
    if broadcast_build:
        joined = p.join(F.broadcast(b), "cell", "inner")
    elif salt > 1:
        joined = salt_exploded_join(
            p, b, key="cell", salts=salt, probe_id=probe_id, hot_threshold=hot_threshold
        )
    else:
        joined = p.join(b, "cell", "inner")
    return joined.dropDuplicates([probe_id, build_id])


def sjoin_pairs(
    probe: DataFrame,
    build: DataFrame,
    probe_id: str,
    build_id: str,
    res: int,
    predicate: str = "intersects",
    probe_geom: str = "geometry",
    build_geom: str = "geometry",
    broadcast_build: bool = True,
    salt: int = 8,
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Exact-match (probe_id, build_id) pair table (J5 plan shape)."""
    cand = candidate_pairs(
        probe, build, probe_id, build_id, res, probe_geom, build_geom,
        broadcast_build, salt, hot_threshold,
    )
    if predicate == "intersects":
        ok = st_intersects(F.col(_PG), F.col(_BG))
    elif predicate in ("contains", "within"):  # build ⊇ probe (J3)
        ok = st_contains(F.col(_BG), F.col(_PG))
    else:
        raise ValueError(f"unknown predicate {predicate}")
    return cand.filter(ok).select(probe_id, build_id)


def sjoin(
    probe: DataFrame,
    build: DataFrame,
    probe_id: str,
    build_id: str,
    res: int,
    predicate: str = "intersects",
    how: str = "inner",
    probe_geom: str = "geometry",
    build_geom: str = "geometry",
    broadcast_build: bool = True,
    salt: int = 8,
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Full spatial join: probe columns + build attribute columns.

    ``how='left'`` keeps unmatched probe rows (J1's how='left');
    ``how='right'`` keeps unmatched BUILD rows (J2, `prclz/_complexity.py:107`
    geopandas sjoin how='right': build columns + matching probe attributes,
    null probe attributes where no probe matched)."""
    pairs = sjoin_pairs(
        probe, build, probe_id, build_id, res, predicate, probe_geom, build_geom,
        broadcast_build, salt, hot_threshold,
    )
    if how == "right":
        probe_attrs = probe.drop(probe_geom)
        enriched = pairs.join(probe_attrs, probe_id, "inner")
        return build.join(enriched, build_id, "left")
    build_attrs = build.drop(build_geom)
    enriched = pairs.join(
        F.broadcast(build_attrs) if broadcast_build else build_attrs, build_id, "inner"
    )
    jt = {"inner": "inner", "left": "left"}[how]
    return probe.join(enriched, probe_id, jt)


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
