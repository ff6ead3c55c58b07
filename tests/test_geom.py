"""Geometry core unit tests (pure numpy, no Spark)."""

import numpy as np
import pytest

from prclz_spark import geom as G

WKTS = [
    "POINT (1 2)",
    "LINESTRING (0 0, 1 1, 2 0)",
    "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
    "MULTIPOINT ((1 1), (2 2))",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((2 2, 3 2, 3 3, 2 3, 2 2)))",
]


@pytest.mark.parametrize("wkt", WKTS)
def test_wkb_wkt_roundtrip(wkt):
    g = G.wkt_loads(wkt)
    assert G.wkb_loads(G.wkb_dumps(g)) == g
    assert G.wkt_loads(G.wkt_dumps(g)) == g


def test_area_and_centroid():
    holed = G.wkt_loads("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")
    assert abs(G.area(holed) - 15.0) < 1e-12
    c = G.centroid(G.wkt_loads("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"))
    assert np.allclose(c, [1, 1])


def test_point_in_polygon_closed_semantics():
    holed = G.wkt_loads("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")
    assert G.contains_point(holed, 0.5, 0.5)
    assert not G.contains_point(holed, 1.5, 1.5)  # inside hole
    assert G.contains_point(holed, 4, 4)  # boundary is closed
    assert G.contains_point(holed, 1, 1)  # hole boundary counts as inside


def test_bulk_pip_matches_scalar():
    poly = G.wkt_loads("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))")
    rng = np.random.default_rng(1)
    pts = rng.uniform(-1, 5, size=(500, 2))
    bulk = G.points_in_polygon_bulk(pts[:, 0], pts[:, 1], poly)
    scalar = np.array([G.contains_point(poly, x, y) for x, y in pts])
    assert np.array_equal(bulk, scalar)


def test_intersects_and_distance():
    a = G.wkt_loads("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    b = G.wkt_loads("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))")
    d = G.wkt_loads("POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))")
    assert G.intersects(a, b) and not G.intersects(a, d)
    # touching only at corner still intersects (closed)
    t = G.wkt_loads("POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))")
    assert G.intersects(a, t)
    assert abs(G.distance(a, d) - np.hypot(3, 3)) < 1e-12
    assert G.distance(G.point(5, 8), G.wkt_loads("LINESTRING (0 5, 10 5)")) == 3.0


def test_contains():
    a = G.wkt_loads("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    inner = G.wkt_loads("POLYGON ((0.2 0.2, 0.8 0.2, 0.8 0.8, 0.2 0.8, 0.2 0.2))")
    cross = G.wkt_loads("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))")
    assert G.contains(a, inner)
    assert not G.contains(a, cross)


def test_convex_hull():
    pts = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [1, 1], [0.5, 0.5]])
    ring = G.convex_hull(pts)
    assert abs(abs(G._ring_area(ring)) - 4.0) < 1e-12


_DECODE_UNDER_O = r"""
import struct
from prclz_spark import geom as G, images as IM

ihdr16 = struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)
for bad in (
    lambda: G.wkb_loads(b"\x00" + struct.pack(">Idd", G.POINT, 1.0, 2.0)),
    lambda: IM.png_decode(b"GIF89a" + bytes(16)),
    lambda: IM.png_decode(IM._PNG_SIG + IM._chunk(b"IHDR", ihdr16)),
):
    try:
        bad()
    except ValueError as e:
        print(e)
"""


def test_decoders_reject_bad_input_under_python_O():
    """The input checks of the WKB and PNG decoders are raises, not
    `assert`s, so `python -O` cannot strip them."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    out = subprocess.run(
        [sys.executable, "-O", "-c", _DECODE_UNDER_O],
        cwd=Path(__file__).resolve().parent.parent,
        env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"},
        capture_output=True, text=True, check=True,
    ).stdout
    assert out.splitlines() == [
        "big-endian WKB not supported", "not a PNG", "unsupported PNG variant",
    ]
