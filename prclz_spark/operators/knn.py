"""kNN and within-distance joins over the cell grid (SURVEY.md J8-J10).

Replaces every nearest-neighbor mechanism in the reference:

* rtree `idx.nearest(bounds, MAX_CENTROID_DEGREE)` for weak-dual candidates
  (`prclz/topology.py:12,359-366`),
* the ε-buffer grown ×2 until a candidate edge appears
  (`prclz/reblock/_reblock_graph.py:16-17,473-502`),
* the sort-by-distance-then-scan parent-parcel search
  (`prclz/_parcels.py:105-149`).

Both joins are equi-joins on the key ``ix · 2^res + iy`` of the grid
indices from st.cell_ixy_cols, computed in the JVM on both sides (pip_join
keeps the Morton cell id, because its build cells come from the Python
st_cells cover). One mechanism, `_disk`, explodes a row into the cells of
its Chebyshev disk(r): ``sequence`` over the clipped index range in each
axis, so r may be a per-row column.

kNN is ONE lazy plan; calling knn_join runs no Spark job:

1. First pass: every probe explodes disk(1), its 3×3 cells, and left-joins
   the broadcast build; row_number over (dist, bid) ≤ k; per probe
   ``_nc`` = count and ``kd0`` = max(dist) of the kept rows.
2. Ring size: the first r with ``kd0 <= r·w`` (w = min(cell_w, cell_h)),
   computed as ceil(kd0 / w) plus 1 when that float test fails, capped at
   ``max_ring``. A probe with fewer than k candidates in its 3×3 disk, or
   none, gets ``max_ring``.
3. Final pass: every probe explodes disk(r), joins the build and keeps
   row_number over (dist, bid) ≤ k.

Exactness: a build point outside disk(r) lies ≥ r+1 cells from the probe's
cell along some axis, and the probe may sit anywhere in its own cell, so
the point is farther than r·w ≥ kd0 from the probe. Disk(1) already holds
k points within kd0, so every point of the true top-k, ties included, is
within kd0 and therefore in disk(r): the top-k of disk(r) is the exact
top-k. A capped probe gets the top-k of disk(max_ring), which is exact
whenever its true top-k lie within max_ring rings.

Candidate (probe, build) pairs are unique by construction (each build
point lives in exactly one cell and a probe's disk cells are distinct), so
no dedup exchange is needed; callers pass unique probe and build ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import cells as C
from ..functions.st import cell_ixy_cols


def _disk(df: DataFrame, r: Column, n: int) -> DataFrame:
    """One row per cell of the Chebyshev disk(r) around (_ix, _iy), clipped
    to the n×n grid; ``cell`` = ix·n + iy."""

    def axis(c: str) -> Column:
        lo = F.greatest(F.col(c) - r, F.lit(0))
        return F.explode(F.sequence(lo, F.least(F.col(c) + r, F.lit(n - 1))))

    return (
        df.withColumn("_cx", axis("_ix"))
        .withColumn("_cy", axis("_iy"))
        .withColumn("cell", F.col("_cx") * n + F.col("_cy"))
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
    n = 1 << res_eff

    p = _points(probes, probe_id, probe_x, probe_y, "p", res_eff)
    p = p.select("_pid", "_px", "_py", (F.col("_ix") * n + F.col("_iy")).alias("cell"))
    b = _disk(_points(build, build_id, build_x, build_y, "b", res_eff), F.lit(1), n)
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
    w_cell = min(C._cell_w(res), C._cell_h(res))
    n = 1 << res

    p = _points(probes, probe_id, probe_x, probe_y, "p", res)
    b = _points(build, build_id, build_x, build_y, "b", res)
    b = b.select("_bid", "_bx", "_by", (F.col("_ix") * n + F.col("_iy")).alias("cell"))
    if broadcast_build:
        b = F.broadcast(b)
    w = Window.partitionBy("_pid").orderBy(F.col("dist").asc_nulls_last(), F.col("_bid").asc())

    def top_k(src: DataFrame, r: Column, how: str, keep: list) -> DataFrame:
        cand = _disk(src, r, n).join(b, "cell", how).select(*keep, "_bid", _dist().alias("dist"))
        return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

    # 1. first pass over the 3×3 disk; the left join keeps probes with no
    #    candidate (their null rows count 0 and have no distance)
    keep = ["_pid", "_px", "_py", "_ix", "_iy"]
    first = top_k(p, F.lit(1), "left", keep).groupBy(*keep).agg(
        F.count("_bid").alias("_nc"), F.max("dist").alias("_kd0")
    )
    # 2. ring size: the first r with kd0 <= r·w, capped at max_ring
    r = F.ceil(F.col("_kd0") / w_cell)
    r = F.when(F.col("_kd0") <= r * w_cell, r).otherwise(r + 1)
    r = F.when(F.col("_nc") >= k, F.least(r, F.lit(max_ring))).otherwise(F.lit(max_ring))
    # 3. final pass over disk(r)
    out = top_k(first.withColumn("_r", r), F.col("_r"), "inner", ["_pid"])
    return out.select(
        F.col("_pid").alias(probe_id),
        F.col("_bid").alias(build_id),
        F.col("dist"),
        F.col("rank"),
    )
