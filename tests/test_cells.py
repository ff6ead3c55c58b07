"""Cell index tests: the cover() superset property is load-bearing for join
correctness (a missing cover cell silently drops candidate pairs)."""

import numpy as np
import pytest

from prclz_spark import cells as C
from prclz_spark import geom as G


@pytest.mark.parametrize("res", [8, 10, 14])
def test_polygon_cover_superset(res):
    poly = G.wkt_loads("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    cov = set(int(x) for x in C.cover(poly, res))
    rng = np.random.default_rng(0)
    pts = rng.uniform(0, 2, size=(400, 2))
    cells = C.cell_of_xy(pts[:, 0], pts[:, 1], res)
    assert all(int(c) in cov for c in cells)
    # boundary + corner points
    bpts = np.array([[0, 0], [2, 2], [1, 0], [0, 1], [2, 1], [1, 2]], dtype=float)
    cells = C.cell_of_xy(bpts[:, 0], bpts[:, 1], res)
    assert all(int(c) in cov for c in cells)


@pytest.mark.parametrize("res", [10, 14])
def test_linestring_cover_superset(res):
    ls = G.wkt_loads("LINESTRING (0.1 0.1, 1.9 1.3, 0.3 1.7)")
    cov = set(int(x) for x in C.cover(ls, res))
    t = np.linspace(0, 1, 300)
    for (x0, y0), (x1, y1) in [((0.1, 0.1), (1.9, 1.3)), ((1.9, 1.3), (0.3, 1.7))]:
        cells = C.cell_of_xy(x0 + t * (x1 - x0), y0 + t * (y1 - y0), res)
        assert all(int(c) in cov for c in cells)


def test_concave_polygon_cover_superset():
    poly = G.wkt_loads("POLYGON ((0 0, 3 0, 3 1, 1 1, 1 2, 3 2, 3 3, 0 3, 0 0))")
    res = 12
    cov = set(int(x) for x in C.cover(poly, res))
    rng = np.random.default_rng(2)
    pts = rng.uniform(0, 3, size=(2000, 2))
    inside = G.points_in_polygon_bulk(pts[:, 0], pts[:, 1], poly)
    cells = C.cell_of_xy(pts[:, 0], pts[:, 1], res)
    assert all(int(c) in cov for c, ok in zip(cells, inside) if ok)


def test_ring_and_disk_counts():
    c = int(C.cell_of_xy(1.0, 1.0, 14)[0])
    assert len(C.ring(c, 0)) == 1
    assert len(C.ring(c, 1)) == 8
    assert len(C.ring(c, 2)) == 16
    assert len(C.disk(c, 2)) == 25


def test_cell_id_roundtrip_every_res():
    """cell_ixy inverts cell_id at every resolution, the grid's far corner
    included, and the index bits never reach the res tag."""
    rng = np.random.default_rng(3)
    for res in range(C.MAX_RES + 1):
        top = (1 << res) - 1
        ix = np.concatenate([[0, top, 0, top], rng.integers(0, top + 1, 50)])
        iy = np.concatenate([[0, top, top, 0], rng.integers(0, top + 1, 50)])
        cells = C.cell_id(ix, iy, res)
        assert (cells >> C.RES_BITS_SHIFT == res).all(), res
        gx, gy, r = C.cell_ixy(cells)
        assert r == res and (gx == ix).all() and (gy == iy).all(), res
        assert len(np.unique(cells)) == len(set(zip(ix.tolist(), iy.tolist()))), res


def test_cell_bounds_contains_point():
    cell = int(C.cell_of_xy(0.5, 0.5, 12)[0])
    x0, y0, x1, y1 = C.cell_bounds(cell)
    assert x0 <= 0.5 <= x1 and y0 <= 0.5 <= y1


def test_cover_guard():
    poly = G.wkt_loads("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    with pytest.raises(ValueError):
        C.cover(poly, 24)
