"""Spatial cell index (H3/S2-style) — a pure numpy grid per resolution.

The reference uses in-memory R-trees (`prclz/topology.py:359-362`, geopandas
`sindex` at `scripts/split-buildings/split_buildings.py:137`) — a per-process
mutable index that cannot distribute. Per `BASELINE.json` north_rule we
replace it with *index-as-data*: every geometry is covered by a set of
int64 cell ids; spatial joins become `explode(cells)` + equi-join on the cell
id, which Catalyst plans as ordinary broadcast/sort-merge hash joins.

Cell id layout (int64, no native deps — deterministic across JVM/Python):

    bits 58..62    : resolution r (0..28)
    bits r..2r-1   : column index ix
    bits 0..r-1    : row index iy

i.e. ``cell_id = (r << 58) | (ix << r) | iy``: a bijection of the 2^r × 2^r
grid at each resolution, so the JVM side (functions/st.cell_col) builds the
same id with one shift and two ORs.

World frame is lon ∈ [-180,180], lat ∈ [-90,90]. At resolution r the world is
a 2^r × 2^r grid. Equivalent role to H3 `polyfill`/`kRing`: `cover()` /
`ring()`/`disk()` below.

`cover()` is **superset-exact**: it returns exactly the cells whose closed
square intersects the geometry (never fewer — a missing cover cell would
silently drop join candidate pairs). Proof of exactness for polygons: if
polygon ∩ cell ≠ ∅ then either (a) a polygon vertex lies in the cell, or
(b) the cell center lies in the polygon with no boundary crossing the cell,
or (c) the polygon boundary crosses the cell square — and those are exactly
the three tests applied (each vectorized over the whole candidate grid).
"""

from __future__ import annotations

import numpy as np

from . import geom as G

RES_BITS_SHIFT = 58
MAX_RES = 28

# Guard against accidental res/data mismatches generating huge covers.
MAX_COVER_CELLS = 1 << 22

_WORLD = (-180.0, -90.0, 180.0, 90.0)


def _cell_w(res: int) -> float:
    return (_WORLD[2] - _WORLD[0]) / (1 << res)


def _cell_h(res: int) -> float:
    return (_WORLD[3] - _WORLD[1]) / (1 << res)


def _grid_index(x: np.ndarray, y: np.ndarray, res: int):
    n = 1 << res
    xmin, ymin, xmax, ymax = _WORLD
    ix = np.clip(np.floor((x - xmin) / (xmax - xmin) * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor((y - ymin) / (ymax - ymin) * n).astype(np.int64), 0, n - 1)
    return ix, iy


def cell_id(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    ix = np.asarray(ix, dtype=np.int64)
    iy = np.asarray(iy, dtype=np.int64)
    return (res << RES_BITS_SHIFT) | (ix << res) | iy


def cell_of_xy(x, y, res: int) -> np.ndarray:
    """Point → single containing cell (vectorized). The PIP-probe fast path
    (SURVEY.md J4): probe side never explodes."""
    x = np.atleast_1d(np.asarray(x, dtype=np.float64))
    y = np.atleast_1d(np.asarray(y, dtype=np.float64))
    ix, iy = _grid_index(x, y, res)
    return cell_id(ix, iy, res)


def cell_ixy(cell):
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    res = int(cell[0] >> RES_BITS_SHIFT)
    mask = (1 << res) - 1
    return (cell >> res) & mask, cell & mask, res


def cell_bounds(cell: int):
    ix, iy, r = cell_ixy(cell)
    w, h = _cell_w(r), _cell_h(r)
    x0 = _WORLD[0] + ix[0] * w
    y0 = _WORLD[1] + iy[0] * h
    return float(x0), float(y0), float(x0 + w), float(y0 + h)


def _ixy_grid_of_bbox(xmin, ymin, xmax, ymax, res: int):
    ix0, iy0 = _grid_index(np.asarray([xmin]), np.asarray([ymin]), res)
    ix1, iy1 = _grid_index(np.asarray([xmax]), np.asarray([ymax]), res)
    nx = int(ix1[0] - ix0[0] + 1)
    ny = int(iy1[0] - iy0[0] + 1)
    if nx * ny > MAX_COVER_CELLS:
        raise ValueError(
            f"cover would produce {nx*ny} cells at res {res}; "
            "choose a coarser resolution (see choose_resolution)"
        )
    return int(ix0[0]), int(iy0[0]), nx, ny


def cover_bbox(xmin, ymin, xmax, ymax, res: int) -> np.ndarray:
    """All cells whose closed square intersects the bbox."""
    ix0, iy0, nx, ny = _ixy_grid_of_bbox(xmin, ymin, xmax, ymax, res)
    gx, gy = np.meshgrid(np.arange(ix0, ix0 + nx), np.arange(iy0, iy0 + ny), indexing="ij")
    return cell_id(gx.ravel(), gy.ravel(), res)


def _centers_in_polygon(cx: np.ndarray, cy: np.ndarray, g: G.Geom) -> np.ndarray:
    """Vectorized ray-cast PIP of many points vs one (multi)polygon.
    Boundary points may report either; exactness of cover doesn't rely on
    boundary classification here (segment traversal catches those cells)."""
    inside = np.zeros(len(cx), dtype=bool)
    polys = [g.data] if g.kind == G.POLYGON else g.data
    for rings in polys:
        in_shell = _pts_in_ring(cx, cy, rings[0])
        for hole in rings[1:]:
            in_shell &= ~_pts_in_ring(cx, cy, hole)
        inside |= in_shell
    return inside


def _pts_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    inside = np.zeros(len(px), dtype=bool)
    # chunk over edges to bound memory: (P,E) matrix
    P = px[:, None]
    Q = py[:, None]
    cond = (y0[None, :] > Q) != (y1[None, :] > Q)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0[None, :] + (Q - y0[None, :]) * (x1 - x0)[None, :] / (y1 - y0)[None, :]
    hits = cond & (P < xint)
    inside = (hits.sum(axis=1) % 2).astype(bool)
    return inside


def _segment_cells(segs: np.ndarray, res: int):
    """Supercover grid traversal: all (ix,iy) cells each segment's closed
    image intersects. Returns (ix, iy) int arrays (concatenated, with dups).

    Method: for each segment collect the parameter values t where it crosses
    vertical/horizontal grid lines; midpoints of consecutive t-intervals give
    one interior point per traversed cell. Points within eps of a grid line
    mark both adjacent cells (closed-set semantics for boundary-running
    segments)."""
    n = 1 << res
    w, h = _cell_w(res), _cell_h(res)
    oxs, oys = [], []
    for x0, y0, x1, y1 in segs:
        dx, dy = x1 - x0, y1 - y0
        ts = [0.0, 1.0]
        if dx != 0:
            gx0 = np.ceil(min(x0, x1) / w) * w
            gxs = np.arange(gx0, max(x0, x1) + w * 1e-12, w)
            ts.extend(((gxs - x0) / dx).tolist())
        if dy != 0:
            gy0 = np.ceil(min(y0, y1) / h) * h
            gys = np.arange(gy0, max(y0, y1) + h * 1e-12, h)
            ts.extend(((gys - y0) / dy).tolist())
        t = np.unique(np.clip(np.asarray(ts), 0.0, 1.0))
        mid = 0.5 * (t[:-1] + t[1:])
        mx = np.concatenate([x0 + mid * dx, [x0, x1]])
        my = np.concatenate([y0 + mid * dy, [y0, y1]])
        fx = (mx - _WORLD[0]) / w
        fy = (my - _WORLD[1]) / h
        ix = np.floor(fx).astype(np.int64)
        iy = np.floor(fy).astype(np.int64)
        # eps-adjacent duplication for points sitting on a grid line
        eps = 1e-9
        on_vx = np.abs(fx - np.round(fx)) < eps
        on_hy = np.abs(fy - np.round(fy)) < eps
        ix_all = [ix]
        iy_all = [iy]
        if on_vx.any():
            ix_all.append(np.where(on_vx, np.round(fx).astype(np.int64) - 1, ix))
            iy_all.append(iy)
            ix_all.append(np.where(on_vx, np.round(fx).astype(np.int64), ix))
            iy_all.append(iy)
        if on_hy.any():
            ix_all.append(ix)
            iy_all.append(np.where(on_hy, np.round(fy).astype(np.int64) - 1, iy))
            ix_all.append(ix)
            iy_all.append(np.where(on_hy, np.round(fy).astype(np.int64), iy))
        if on_vx.any() and on_hy.any():  # exact corner: all four neighbors
            rx = np.round(fx).astype(np.int64)
            ry = np.round(fy).astype(np.int64)
            both = on_vx & on_hy
            for ddx in (-1, 0):
                for ddy in (-1, 0):
                    ix_all.append(np.where(both, rx + ddx, ix))
                    iy_all.append(np.where(both, ry + ddy, iy))
        gx = np.clip(np.concatenate(ix_all), 0, n - 1)
        gy = np.clip(np.concatenate(iy_all), 0, n - 1)
        oxs.append(gx)
        oys.append(gy)
    if not oxs:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    return np.concatenate(oxs), np.concatenate(oys)


def cover(g: "G.Geom", res: int) -> np.ndarray:
    """Cover cells of a geometry (H3 `polyfill` analogue); superset-exact."""
    if g.kind == G.POINT:
        return cell_of_xy(g.data[0], g.data[1], res)
    if g.kind == G.MULTIPOINT:
        return np.unique(cell_of_xy(g.data[:, 0], g.data[:, 1], res))

    segs = G._segments(g)
    ix_b, iy_b = _segment_cells(segs, res)  # boundary cells

    if g.kind in (G.POLYGON, G.MULTIPOLYGON):
        xmin, ymin, xmax, ymax = G.bounds(g)
        ix0, iy0, nx, ny = _ixy_grid_of_bbox(xmin, ymin, xmax, ymax, res)
        gx, gy = np.meshgrid(np.arange(ix0, ix0 + nx), np.arange(iy0, iy0 + ny), indexing="ij")
        gx = gx.ravel()
        gy = gy.ravel()
        w, h = _cell_w(res), _cell_h(res)
        cx = _WORLD[0] + (gx + 0.5) * w
        cy = _WORLD[1] + (gy + 0.5) * h
        interior = _centers_in_polygon(cx, cy, g)
        ix_all = np.concatenate([gx[interior], ix_b])
        iy_all = np.concatenate([gy[interior], iy_b])
    else:
        ix_all, iy_all = ix_b, iy_b

    if len(ix_all) == 0:
        xmin, ymin, xmax, ymax = G.bounds(g)
        return cover_bbox(xmin, ymin, xmax, ymax, res)
    return np.unique(cell_id(ix_all, iy_all, res))


def ring(cell: int, r: int) -> np.ndarray:
    """Cells at Chebyshev distance exactly r (H3 `kRing` ring r) — the
    expansion primitive for kNN (SURVEY.md J8-J10: replaces rtree `nearest`
    at `prclz/topology.py:359-366` and the expanding buffer at
    `prclz/reblock/_reblock_graph.py:493-501`)."""
    ix, iy, res = cell_ixy(cell)
    n = 1 << res
    cx, cy = int(ix[0]), int(iy[0])
    if r == 0:
        return np.array([cell], dtype=np.int64)
    xs, ys = [], []
    for dx in range(-r, r + 1):
        for dy in (-r, r):
            xs.append(cx + dx)
            ys.append(cy + dy)
    for dy in range(-r + 1, r):
        for dx in (-r, r):
            xs.append(cx + dx)
            ys.append(cy + dy)
    xs = np.asarray(xs)
    ys = np.asarray(ys)
    ok = (xs >= 0) & (xs < n) & (ys >= 0) & (ys < n)
    return cell_id(xs[ok], ys[ok], res)


def disk(cell: int, r: int) -> np.ndarray:
    """Cells at Chebyshev distance ≤ r (H3 `kRing` disk)."""
    return np.concatenate([ring(cell, i) for i in range(r + 1)])


def choose_resolution(xmin, ymin, xmax, ymax, n_features: int, target_per_cell: float = 4.0) -> int:
    """Pick res so the data bbox holds ≈ n/target cells — keeps the exploded
    build side ~O(n) and the per-cell candidate lists small (skew-aware
    sizing; see skew.py for the hot-cell salting pass)."""
    want_cells = max(1.0, n_features / target_per_cell)
    frac = max(1e-12, ((xmax - xmin) * (ymax - ymin)) / (360.0 * 180.0))
    world_cells = want_cells / frac
    res = int(np.ceil(0.5 * np.log2(max(1.0, world_cells))))
    return int(np.clip(res, 3, MAX_RES))
