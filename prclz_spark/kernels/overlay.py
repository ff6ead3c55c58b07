"""General polygon boolean overlay + buffer on the planar-arrangement core.

Closes the SURVEY §2.6 gaps the reference gets from GEOS for free:
`st_intersection` (general, `prclz/_complexity.py:33`), `st_difference` /
`st_buffer` (`prclz/blocks/_methods.py:35-40` BufferedLineDifference),
union, symmetric difference.

Algorithm (boundary-of-region, robust to disjoint/nested components where
per-component face tracing is not):

    1. node every boundary segment of both inputs (planar.node_segments)
    2. a noded piece is a RESULT boundary edge iff the boolean predicate
       differs between its two sides (tested a hair off the midpoint);
       orient it so the kept region lies on its LEFT
    3. chain the directed boundary edges into loops — left-orientation
       makes shells come out CCW and holes CW automatically
    4. nest: negative-area loops are holes of the smallest containing shell

Buffer extends the arrangement with the offset isocurve (straight edge
offsets + polygonal arc joins) and uses the distance predicate — positive
d dilates, negative d erodes. Accuracy is bounded by the ARC_SEGS chord
discretization.
"""

from __future__ import annotations

import math

import numpy as np

from .. import geom as G
from .planar import node_segments

ARC_SEGS = 16


def _poly_rings(g: G.Geom) -> list:
    if g.kind == G.POLYGON:
        return list(g.data)
    if g.kind == G.MULTIPOLYGON:
        return [r for rings in g.data for r in rings]
    if g.kind == G.LINESTRING:
        return [g.data]
    if g.kind == G.MULTILINESTRING:
        return list(g.data)
    raise ValueError(f"overlay needs polygonal/linear input, got {g.type_name}")


def _segs_of(rings: list) -> list:
    out = []
    for r in rings:
        r = np.asarray(r, dtype=np.float64)
        if len(r) >= 2:
            out.append(np.hstack([r[:-1], r[1:]]))
    return out


def _signed_area(r: np.ndarray) -> float:
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def _region_from_predicate(pieces: list, pred=None, pred_batch=None) -> G.Geom | None:
    """Boundary edges = noded pieces whose two sides disagree on the
    predicate, oriented kept-region-on-the-left; chained into loops and
    nested. Pass either a scalar `pred(x, y) -> bool` or a vectorized
    `pred_batch(xs, ys) -> bool array` (one call for all probes — the
    difference between O(pieces·ring) scalar ray-casts and a handful of
    numpy passes on block-scale inputs)."""
    def key(p):
        return (round(p[0], 9), round(p[1], 9))

    if not pieces:
        return None
    arr = np.asarray(pieces, dtype=np.float64)
    dx = arr[:, 2] - arr[:, 0]
    dy = arr[:, 3] - arr[:, 1]
    ln = np.hypot(dx, dy)
    # skip zero-length pieces AND pieces whose endpoints collapse under the
    # round-9 output key: they can never yield a directed edge (ka == kb is
    # dropped below), and their probe offset would exceed the piece itself —
    # a sliver probed across neighboring geometry mislabels nothing if it is
    # never probed (ADVICE r3).
    kq = np.round(arr, 9)
    ok = (ln >= 1e-300) & ~((kq[:, 0] == kq[:, 2]) & (kq[:, 1] == kq[:, 3]))
    arr, dx, dy, ln = arr[ok], dx[ok], dy[ok], ln[ok]
    mx = 0.5 * (arr[:, 0] + arr[:, 2])
    my = 0.5 * (arr[:, 1] + arr[:, 3])
    # left normal; probe a hair off the midpoint on each side. The probe
    # must (a) clear geom.point_in_ring's ABSOLUTE on-boundary band
    # (|cross| < 1e-12 ⇒ within 1e-12/seg_len of the segment — the
    # 4e-12/ln term, using the piece's own length as the conservative
    # proxy for the ring segments it lies on), and (b) survive float
    # addition to the midpoint — scaled by COORDINATE magnitude
    # (~450 ulps: mag·1e-13), NOT by piece length: the old ln·1e-6 term
    # made long pieces probe 1e-6 away, which overshoots dust-scale
    # parallel geometry — hypothesis found two boxes 1.2e-7 apart whose
    # union annihilated because every probe landed across the other box's
    # edge (test_union_n_properties_hypothesis). For pieces long enough
    # that a fraction of their own length still clears the band
    # (ln ≥ 3e-6), the offset also stays below 0.45·ln so the probe is
    # local to the piece rather than its neighbors.
    nx_ = -dy / ln
    ny_ = dx / ln
    mag = np.maximum(np.abs(mx), np.abs(my))
    eps = np.maximum(np.maximum(1e-9, mag * 1e-13), 4e-12 / ln)
    cap_ok = ln >= 3e-6
    eps = np.where(cap_ok, np.minimum(eps, 0.45 * ln), eps)
    lx, ly = mx + eps * nx_, my + eps * ny_
    rx, ry = mx - eps * nx_, my - eps * ny_
    if pred_batch is not None:
        left = np.asarray(pred_batch(lx, ly), dtype=bool)
        right = np.asarray(pred_batch(rx, ry), dtype=bool)
    else:
        left = np.fromiter((pred(x, y) for x, y in zip(lx, ly)), dtype=bool, count=len(lx))
        right = np.fromiter((pred(x, y) for x, y in zip(rx, ry)), dtype=bool, count=len(rx))
    directed = []
    coords: dict = {}
    for i in np.nonzero(left != right)[0]:
        a = (float(arr[i, 0]), float(arr[i, 1]))
        b = (float(arr[i, 2]), float(arr[i, 3]))
        if not left[i]:  # kept region on the right → flip
            a, b = b, a
        ka, kb = key(a), key(b)
        if ka == kb:
            continue
        coords.setdefault(ka, a)
        coords.setdefault(kb, b)
        directed.append((ka, kb))
    if not directed:
        return None
    out_edges: dict = {}
    for u, w in directed:
        out_edges.setdefault(u, []).append(w)

    def _pick(prev_k, cur_k, cands):
        """At a vertex shared by several result loops, continue with the
        most-counterclockwise turn relative to the incoming edge — each
        simple loop then closes on itself instead of fusing with a loop
        that merely touches this vertex (two components pinching into one
        12-vertex polygon, ADVICE r2). Exact U-turns are least preferred."""
        if len(cands) == 1:
            return cands[0]
        cx, cy = coords[cur_k]
        px, py = coords[prev_k]
        vx, vy = cx - px, cy - py
        best, best_a = None, -math.inf
        for cand in cands:
            wx, wy = coords[cand]
            ox, oy = wx - cx, wy - cy
            ang = math.atan2(vx * oy - vy * ox, vx * ox + vy * oy)
            if ang >= math.pi - 1e-12:  # U-turn: demote to the bottom
                ang -= 2 * math.pi
            if ang > best_a:
                best, best_a = cand, ang
        return best

    used: set = set()
    loops = []
    for u0, w0 in directed:
        if (u0, w0) in used:
            continue
        path = [u0, w0]
        used.add((u0, w0))
        prev, cur = u0, w0
        while cur != u0:
            cands = [c for c in out_edges.get(cur, []) if (cur, c) not in used]
            if not cands:
                break
            nxt = _pick(prev, cur, cands)
            used.add((cur, nxt))
            path.append(nxt)
            prev, cur = cur, nxt
        if cur == u0 and len(path) >= 4:
            arr = np.asarray([coords[k] for k in path], dtype=np.float64)
            if abs(_signed_area(arr)) > 0:
                loops.append(arr)
    return _assemble(loops)


def _assemble(loops: list) -> G.Geom | None:
    """Left-oriented loops: CCW (positive area) = shell, CW = hole of the
    smallest containing shell."""
    if not loops:
        return None
    shells = [lp for lp in loops if _signed_area(lp) > 0]
    holes = [lp for lp in loops if _signed_area(lp) < 0]
    if not shells:
        return None
    shells.sort(key=lambda r: -abs(_signed_area(r)))
    polys = [[s] for s in shells]
    for h in holes:
        px, py = float(h[0, 0]), float(h[0, 1])
        best = None
        for i, s in enumerate(shells):
            if abs(_signed_area(s)) >= abs(_signed_area(h)) and G.point_in_ring(px, py, s):
                if best is None or abs(_signed_area(s)) < abs(_signed_area(shells[best])):
                    best = i
        if best is not None:
            polys[best].append(h)
    if len(polys) == 1:
        return G.Geom(G.POLYGON, polys[0])
    return G.Geom(G.MULTIPOLYGON, polys)


# elementwise-safe (used on both scalars and boolean arrays)
_OPS = {
    "intersection": lambda a, b: a & b,
    "difference": lambda a, b: a & ~b,
    "union": lambda a, b: a | b,
    "symdifference": lambda a, b: a != b,
}


def _contains_batch(g: G.Geom):
    """Vectorized containment for POLYGON/MULTIPOLYGON (holes honored)."""
    def f(xs, ys):
        if g.kind in (G.POLYGON, G.MULTIPOLYGON):
            return G.points_in_polygon_bulk(np.asarray(xs), np.asarray(ys), g)
        return np.array([G.contains_point(g, x, y) for x, y in zip(xs, ys)], dtype=bool)

    return f


def overlay(a: G.Geom, b: G.Geom, op: str) -> G.Geom | None:
    """Boolean overlay of two polygonal geometries; None when empty."""
    fn = _OPS[op]
    segs = _segs_of(_poly_rings(a)) + _segs_of(_poly_rings(b))
    pieces = node_segments(np.vstack(segs))
    in_a = _contains_batch(a)
    in_b = _contains_batch(b)

    def pred_batch(xs, ys):
        return fn(in_a(xs, ys), in_b(xs, ys))

    return _region_from_predicate(pieces, pred_batch=pred_batch)


def union_n(geoms: list) -> G.Geom | None:
    """N-way union in ONE noded arrangement (VERDICT r3 #6): all inputs'
    boundary segments are noded together (bucketed-grid noder, near-linear)
    and each piece is kept iff exactly one side lies inside ANY input —
    replacing the sequential per-pair fold whose accumulated boundary makes
    it O(Σ m_acc²) as the accumulator grows. The membership predicate is
    bbox-prefiltered per input and short-circuits probes already known
    inside, so each probe touches only the inputs whose bbox covers it."""
    geoms = [g for g in geoms if g is not None]
    if not geoms:
        return None
    if len(geoms) == 1:
        return geoms[0]
    segs = [s for g in geoms for s in _segs_of(_poly_rings(g))]
    pieces = node_segments(np.vstack(segs))
    boxes = [G.bounds(g) for g in geoms]
    preds = [_contains_batch(g) for g in geoms]

    def pred_batch(xs, ys):
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        out = np.zeros(len(xs), dtype=bool)
        for p, (x0, y0, x1, y1) in zip(preds, boxes):
            m = ~out
            m &= (xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)
            if m.any():
                out[m] = p(xs[m], ys[m])
        return out

    res = _region_from_predicate(pieces, pred_batch=pred_batch)
    if res is None:
        # round-4 ADVICE: all-degenerate inputs (every piece skipped by the
        # probe/sliver guards) must not make the group silently VANISH from
        # a two-phase union — a partition's partial would be dropped without
        # trace. Best effort: keep the largest input as the partial.
        return max(geoms, key=G.area)
    return res


def buffer(g: G.Geom, d: float) -> G.Geom | None:
    """Round-join buffer as a morphological op with a POLYGONAL structuring
    element (per-edge rectangles + per-vertex k-gons, k = ARC_SEGS): the
    dilation is g ∪ ⋃pieces, the erosion is g ∖ ⋃pieces. Using the same
    chorded pieces for both the arrangement and the predicate keeps the
    result loops exactly closed. d > 0 dilates (any input), d < 0 erodes
    (polygons only), d == 0 → g."""
    if d == 0:
        return g
    rings = _poly_rings(g)
    segs = _segs_of(rings)
    r = abs(d)
    piece_rings = []
    for sarr in segs:
        for x0, y0, x1, y1 in sarr:
            dx, dy = x1 - x0, y1 - y0
            ln = math.hypot(dx, dy)
            if ln < 1e-300:
                continue
            nx_, ny_ = -dy / ln * r, dx / ln * r
            piece_rings.append(
                np.array(
                    [
                        [x0 + nx_, y0 + ny_],
                        [x1 + nx_, y1 + ny_],
                        [x1 - nx_, y1 - ny_],
                        [x0 - nx_, y0 - ny_],
                        [x0 + nx_, y0 + ny_],
                    ]
                )
            )
        ts = np.linspace(0.0, 2 * math.pi, ARC_SEGS + 1)
        caps = np.vstack([sarr[:, :2], sarr[-1:, 2:]])  # incl. open-line end cap
        for x0, y0 in caps:
            piece_rings.append(np.stack([x0 + r * np.cos(ts), y0 + r * np.sin(ts)], axis=1))
    extra = _segs_of(piece_rings)
    pieces = node_segments(np.vstack(segs + extra))
    polygonal = g.kind in (G.POLYGON, G.MULTIPOLYGON)
    if d < 0 and not polygonal:
        raise ValueError("negative buffer needs polygonal input")

    def in_pieces(px, py):
        return any(G.point_in_ring(px, py, pr) for pr in piece_rings)

    def pred(px, py):
        inside = polygonal and G.contains_point(g, px, py)
        if d > 0:
            return inside or in_pieces(px, py)
        return inside and not in_pieces(px, py)

    return _region_from_predicate(pieces, pred)
