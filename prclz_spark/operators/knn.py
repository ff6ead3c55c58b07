"""kNN and within-distance joins over the cell grid (SURVEY.md J8-J10).

Replaces every nearest-neighbor mechanism in the reference:

* rtree `idx.nearest(bounds, MAX_CENTROID_DEGREE)` for weak-dual candidates
  (`prclz/topology.py:12,359-366`),
* the ε-buffer grown ×2 until a candidate edge appears
  (`prclz/reblock/_reblock_graph.py:16-17,473-502`),
* the sort-by-distance-then-scan parent-parcel search
  (`prclz/_parcels.py:105-149`).

Both joins are equi-joins on the cell id ``(res << 58) | (ix << res) | iy``
(cells.cell_id), built in the JVM on both sides by st.cell_col from the
grid indices of st.cell_ixy_cols — the same id pip_join probes with. One
mechanism, `_disk`, explodes a row into the cells of its disk: ``sequence``
over the clipped index range in each axis, with one radius per axis, so
the radii may be per-row columns.

kNN is ONE lazy plan; calling knn_join runs no Spark job:

1. First pass: every probe explodes disk(1), its 3×3 cells, and left-joins
   the broadcast build; row_number over (dist, bid) ≤ k; per probe
   ``_nc`` = count and ``kd0`` = max(dist) of the kept rows.
2. Ring size, per axis: ``rx`` is the first r with ``kd0 <= r·cell_w``
   and ``ry`` the first r with ``kd0 <= r·cell_h``, each computed as
   ceil(kd0 / cell) plus 1 when that float test fails. World cells are
   2:1 (cell_w = 2·cell_h), so rx is about half of ry. A probe with fewer
   than k candidates in its 3×3 disk (or none), or with rx or ry above
   ``max_ring``, gets ``max_ring`` on both axes.
3. Final pass: every probe explodes the (2rx+1)×(2ry+1) disk, joins the
   build and keeps row_number over (dist, bid) ≤ k.

Exactness: a build point outside the disk lies ≥ rx+1 cells from the
probe's cell along x, or ≥ ry+1 cells along y. The probe may sit anywhere
in its own cell, so the point is farther than rx·cell_w ≥ kd0 (or
ry·cell_h ≥ kd0) from the probe along that axis alone. Disk(1) already
holds k points within kd0, so every point of the true top-k, ties
included, is within kd0 and therefore in the disk: the top-k of the disk
is the exact top-k. A capped probe gets the top-k of disk(max_ring),
which is exact whenever its true top-k lie within max_ring rings.

Candidate (probe, build) pairs are unique by construction (each build
point lives in exactly one cell and a probe's disk cells are distinct), so
no dedup exchange is needed; callers pass unique probe and build ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import cells as C
from ..functions.st import cell_col, cell_ixy_cols


def _disk(df: DataFrame, rx: Column, ry: Column, res: int) -> DataFrame:
    """One row per cell within rx columns and ry rows of (_ix, _iy),
    clipped to the 2^res × 2^res grid; ``cell`` = its cell id."""
    n = 1 << res

    def axis(c: str, r: Column) -> Column:
        lo = F.greatest(F.col(c) - r, F.lit(0))
        return F.explode(F.sequence(lo, F.least(F.col(c) + r, F.lit(n - 1))))

    return (
        df.withColumn("_cx", axis("_ix", rx))
        .withColumn("_cy", axis("_iy", ry))
        .withColumn("cell", cell_col(res, F.col("_cx"), F.col("_cy")))
        .drop("_cx", "_cy")
    )


def _points(df: DataFrame, pid: str, x: str, y: str, side: str, res: int) -> DataFrame:
    """(_{side}id, _{side}x, _{side}y, _ix, _iy) of a point table at resolution res."""
    ix, iy = cell_ixy_cols(res, F.col(x), F.col(y))
    return df.select(
        F.col(pid).alias(f"_{side}id"), F.col(x).alias(f"_{side}x"), F.col(y).alias(f"_{side}y"),
        ix.alias("_ix"), iy.alias("_iy"),
    )


def _dist() -> Column:
    return F.sqrt((F.col("_px") - F.col("_bx")) ** 2 + (F.col("_py") - F.col("_by")) ** 2)


def within_distance_join(
    probes: DataFrame,
    build: DataFrame,
    probe_id: str,
    build_id: str,
    radius: float,
    res: int,
    probe_x: str = "x",
    probe_y: str = "y",
    build_x: str = "x",
    build_y: str = "y",
    broadcast_build: bool = True,
) -> DataFrame:
    """All (probe, build) pairs within Euclidean `radius` (range join).

    The join runs at an *effective* resolution coarsened until the radius
    fits inside one cell, so the build side explodes over a fixed 3×3 disk
    (9 cells) — never a ⌈radius/cell⌉-ring disk whose (2n+1)² blowup
    multiplied the broadcast build side when the caller's `res` was fine
    relative to the radius (the r2 radius_join regression). Any in-radius
    pair differs by ≤1 cell in Chebyshev distance at the effective
    resolution, so the 3×3 disk is cover-exact; the exact distance filter
    refines. This is the distributed analogue of the expanding-buffer
    candidate search at `prclz/reblock/_reblock_graph.py:473-502` for a
    fixed radius."""
    import numpy as np

    # coarsest-dimension cell height is 180/2^r; want cell ≥ radius
    max_res_for_radius = int(np.floor(np.log2(max(1.0, 180.0 / max(radius, 1e-300)))))
    res_eff = int(np.clip(min(res, max_res_for_radius), 0, C.MAX_RES))

    p = _points(probes, probe_id, probe_x, probe_y, "p", res_eff)
    p = p.select("_pid", "_px", "_py", cell_col(res_eff, F.col("_ix"), F.col("_iy")).alias("cell"))
    one = F.lit(1)
    b = _disk(_points(build, build_id, build_x, build_y, "b", res_eff), one, one, res_eff)
    b = b.select("_bid", "_bx", "_by", "cell")
    if broadcast_build:
        b = F.broadcast(b)
    # a (probe, build) pair meets exactly once (probe has ONE cell; the
    # build's 9 disk cells are distinct) — no dedup exchange needed
    return (
        p.join(b, "cell", "inner")
        .withColumn("dist", _dist())
        .filter(F.col("dist") <= radius)
        .select(F.col("_pid").alias(probe_id), F.col("_bid").alias(build_id), "dist")
    )


def knn_join(
    probes: DataFrame,
    build: DataFrame,
    probe_id: str,
    build_id: str,
    k: int,
    res: int,
    probe_x: str = "x",
    probe_y: str = "y",
    build_x: str = "x",
    build_y: str = "y",
    max_ring: int = 12,
    broadcast_build: bool = True,
) -> DataFrame:
    """Top-k nearest build points per probe point.

    Returns (probe_id, build_id, dist, rank) with rank 1..k by Euclidean
    distance (ties broken by build_id for determinism, mirroring the
    reference's stable rtree ordering). `max_ring` caps the search disk."""
    p = _points(probes, probe_id, probe_x, probe_y, "p", res)
    b = _points(build, build_id, build_x, build_y, "b", res)
    b = b.select("_bid", "_bx", "_by", cell_col(res, F.col("_ix"), F.col("_iy")).alias("cell"))
    if broadcast_build:
        b = F.broadcast(b)
    w = Window.partitionBy("_pid").orderBy(F.col("dist").asc_nulls_last(), F.col("_bid").asc())

    def top_k(src: DataFrame, rx: Column, ry: Column, how: str, keep: list) -> DataFrame:
        cand = _disk(src, rx, ry, res).join(b, "cell", how)
        cand = cand.select(*keep, "_bid", _dist().alias("dist"))
        return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

    # 1. first pass over the 3×3 disk; the left join keeps probes with no
    #    candidate (their null rows count 0 and have no distance)
    keep = ["_pid", "_px", "_py", "_ix", "_iy"]
    first = top_k(p, F.lit(1), F.lit(1), "left", keep).groupBy(*keep).agg(
        F.count("_bid").alias("_nc"), F.max("dist").alias("_kd0")
    )

    # 2. ring size per axis: the first r with kd0 <= r·cell; max_ring on
    #    both axes for an under-filled probe or one beyond max_ring
    def ring(cell: float) -> Column:
        r = F.ceil(F.col("_kd0") / cell)
        return F.when(F.col("_kd0") <= r * cell, r).otherwise(r + 1)

    rx, ry = ring(C._cell_w(res)), ring(C._cell_h(res))
    cap = (F.col("_nc") < k) | (F.greatest(rx, ry) > max_ring)
    rings = first.select(
        *keep,
        F.when(cap, max_ring).otherwise(rx).alias("_rx"),
        F.when(cap, max_ring).otherwise(ry).alias("_ry"),
    )
    # 3. final pass over the per-axis disk
    out = top_k(rings, F.col("_rx"), F.col("_ry"), "inner", ["_pid"])
    return out.select(
        F.col("_pid").alias(probe_id),
        F.col("_bid").alias(build_id),
        F.col("dist"),
        F.col("rank"),
    )
