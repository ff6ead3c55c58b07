"""Round-8 fused-C s0 path (planar_fast.s0_segs / weak_dual_k_segs):
bit-exactness fuzz against the pure-Python reference path.

The fused path replaces s0_graph's per-cell Python glue with one C call per
block; these suites pin every seam:

* pw_sum — the numpy pairwise-summation port (used for the clip CCW sign
  and the sub-ring area filter) must equal np.sum BIT-FOR-BIT on contiguous
  float64 up to the 8192 cap, including cancellation / mixed magnitudes /
  signed zeros / denormals;
* pt_in_ring — the geom.point_in_ring port (multipart anchor selection);
* s0_segs — the emitted segment table must equal the segments assembled
  from _s0_rings (the shared Python reference) byte-for-byte;
* weak_dual_k_segs — graph build + weak-dual loop from noded pieces must
  equal graph_from_segments + weak_dual_sequence_len;
* block_complexity — end-to-end fast path == forced Python path, on convex
  AND concave blocks (concave exercises split_ring_parts multiparts and the
  anchor-containment selection), boundary anchors, duplicate centroids, and
  the two-anchor aspect rule;
* seeded worlds — k and _s0_rings digests pinned on both paths.
"""

import numpy as np
import pytest

from prclz_spark.kernels import planar as P

if P._CF is None or not hasattr(P._CF, "s0_segs"):
    pytest.skip("planar_fast with s0_segs not built", allow_module_level=True)

CF = P._CF


def test_pw_sum_matches_numpy_bitwise():
    rng = np.random.default_rng(7)
    for ln in list(range(0, 200)) + [255, 256, 1000, 4096, 8192]:
        for rep in range(4):
            mode = rep % 3
            if mode == 0:
                arr = rng.standard_normal(ln) * (10.0 ** rng.integers(-300, 300, ln))
            elif mode == 1:
                half = rng.standard_normal((ln + 1) // 2)
                arr = np.concatenate([half, -half])[:ln]
                rng.shuffle(arr)
            else:
                arr = rng.choice(
                    [0.0, -0.0, 1e-320, -1e-320, 1e100, -1e100, 1.0], ln
                )
            with np.errstate(all="ignore"):
                want = float(np.sum(arr))
            got = CF.pw_sum(arr.tolist())
            assert np.float64(want).tobytes() == np.float64(got).tobytes(), ln


def test_pt_in_ring_matches_python(monkeypatch):
    from prclz_spark import geom as G

    monkeypatch.setattr(G, "_PF", None)  # force the numpy reference path
    rng = np.random.default_rng(8)
    for trial in range(300):
        n = int(rng.integers(3, 12))
        ring = rng.uniform(0, 1, size=(n, 2))
        ring = np.vstack([ring, ring[:1]])
        for _ in range(5):
            if rng.random() < 0.3:
                # exact vertex / on-edge probes hit the boundary branches
                i = int(rng.integers(0, n))
                px, py = float(ring[i, 0]), float(ring[i, 1])
            else:
                px, py = float(rng.uniform(-0.2, 1.2)), float(rng.uniform(-0.2, 1.2))
            want = G.point_in_ring(px, py, ring)
            got = bool(CF.pt_in_ring(px, py, ring[:, 0].tolist(), ring[:, 1].tolist()))
            assert want == got, (trial, px, py)


def _segs_ref(ring, pts):
    rings = P._s0_rings(ring, pts)
    segs = []
    for rg in rings:
        rg = np.asarray(rg, dtype=np.float64)
        if len(rg) >= 2:
            segs.append(np.hstack([rg[:-1], rg[1:]]))
    return np.vstack(segs) if segs else np.zeros((0, 4))


def _segs_c(ring, pts):
    b = CF.s0_segs(
        ring[:, 0].tolist(), ring[:, 1].tolist(),
        pts[:, 0].tolist(), pts[:, 1].tolist(),
        P.PYTESS_PAIR_ASPECT, P.SNAP, 1e-9,
    )
    return np.frombuffer(b).reshape(-1, 4)


SQUARE = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], dtype=float)
# concave L: clipping convex cells against it produces multipart
# intersections (split_ring_parts + anchor selection)
ELL = np.array(
    [[0, 0], [1, 0], [1, 0.4], [0.4, 0.4], [0.4, 1], [0, 1], [0, 0]],
    dtype=float,
)


def _world(rng, trial):
    ring = SQUARE if trial % 2 == 0 else ELL
    npts = int(rng.integers(1, 40))
    pts = rng.uniform(0, 1, size=(npts, 2))
    if trial % 5 == 2 and npts >= 2:
        pts[1] = pts[0]  # duplicate centroid (voronoi dedupe)
    if trial % 7 == 3:
        pts[0] = ring[int(rng.integers(0, len(ring) - 1))]  # boundary anchor
    if trial % 11 == 4:
        pts = np.round(pts, 2)  # grid-aligned: exact-equality branches
    return ring, pts


def test_s0_segs_matches_python_bitwise():
    rng = np.random.default_rng(9)
    for trial in range(500):
        ring, pts = _world(rng, trial)
        sr = _segs_ref(ring, pts)
        sc = _segs_c(ring, pts)
        assert sr.shape == sc.shape, trial
        assert sr.tobytes() == np.ascontiguousarray(sc).tobytes(), trial


def test_s0_segs_two_anchor_aspect_rule():
    # both sides of the pair-degeneracy threshold
    for dx, dy in [(1.0, 0.1), (1.0, 0.9), (0.5, 0.5), (0.0, 0.0)]:
        pts = np.array([[0.3, 0.3], [0.3 + dx * 0.3, 0.3 + dy * 0.3]])
        sr = _segs_ref(SQUARE, pts)
        sc = _segs_c(SQUARE, pts)
        assert sr.shape == sc.shape and sr.tobytes() == np.ascontiguousarray(sc).tobytes()


def test_weak_dual_k_segs_matches_python():
    rng = np.random.default_rng(10)
    for trial in range(150):
        ring, pts = _world(rng, trial)
        segs = _segs_ref(ring, pts)
        if not len(segs):
            continue
        pieces = P._node_pieces(segs)
        # Python reference: nx graph + weak_dual_sequence_len
        g = P.graph_from_segments(list(map(tuple, pieces)))
        want = 0 if g.number_of_nodes() == 0 else P.weak_dual_sequence_len(g)
        got = CF.weak_dual_k_segs(np.ascontiguousarray(pieces).tobytes(), 64)
        assert want == got, trial


def _k_python(ring, pts):
    g0 = P.s0_graph(ring, pts)
    if g0.number_of_nodes() == 0:
        return 0
    return P.weak_dual_sequence_len(g0)


def test_block_complexity_fast_equals_python_end_to_end():
    rng = np.random.default_rng(11)
    for trial in range(300):
        ring, pts = _world(rng, trial)
        assert P.block_complexity(ring, pts) == _k_python(ring, pts), trial


# Pinned outputs over 16 seeds × 25 seeded worlds: sha256 of every k as
# little-endian int16, and sha256 of every kept _s0_rings ring's float64
# bytes in order. The fast==python fuzz above cannot see both paths shift
# together; these digests can.
PIN_K_SHA256 = "38d72dcec093cd2f1746fa8ed4e6b6a48684cc7da23876b405333894f45f5a2b"
PIN_RINGS_SHA256 = "71b712bf8c150bc231dda2b76a6b778dccbb8f7adb743f147d64e7213a07d1e1"
PIN_K_SUM = 1313


@pytest.mark.parametrize("native", [True, False], ids=["native", "python"])
def test_seeded_world_outputs_pinned(monkeypatch, native):
    import hashlib

    if not native:
        monkeypatch.setattr(P, "_CF", None)
    ks = []
    h_rings = hashlib.sha256()
    for seed in range(16):
        rng = np.random.default_rng(1000 + seed)
        for trial in range(25):
            ring, pts = _world(rng, trial)
            ks.append(P.block_complexity(ring, pts))
            for rg in P._s0_rings(ring, pts):
                h_rings.update(np.ascontiguousarray(rg, dtype=np.float64).tobytes())
    assert sum(ks) == PIN_K_SUM
    assert hashlib.sha256(np.asarray(ks, dtype="<i2").tobytes()).hexdigest() == PIN_K_SHA256
    assert h_rings.hexdigest() == PIN_RINGS_SHA256


def test_region_faces_matches_python_polygonize():
    """region_faces (C polygonize face stage) must reproduce the Python
    node->graph->prune->trace->filter path ring-for-ring, byte-for-byte."""
    from prclz_spark import geom as G

    def poly_py(ring, las):
        segs = [np.hstack([np.asarray(ring)[:-1], np.asarray(ring)[1:]])]
        for arr in las:
            arr = np.asarray(arr, dtype=np.float64)
            if len(arr) >= 2:
                segs.append(np.hstack([arr[:-1], arr[1:]]))
        segs = np.vstack(segs)
        g = P.graph_from_segments(P.node_segments(segs))
        while True:
            leaves = [n for n in g.nodes() if g.degree(n) <= 1]
            if not leaves:
                break
            g.remove_nodes_from(leaves)
        out = []
        region_geom = G.Geom(G.POLYGON, [np.asarray(ring, dtype=float)])
        for f in P.inner_faces(g):
            rr = P.face_ring(f)
            if P.face_area(f) <= 0:
                continue
            cx, cy = P.face_centroid(f)
            if G.contains_point(region_geom, cx, cy):
                out.append(rr)
        out.sort(key=lambda rr: (rr[:, 1].min(), rr[:, 0].min(), -len(rr)))
        return out

    rng = np.random.default_rng(21)
    ring = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], dtype=float)
    for trial in range(60):
        n = int(rng.integers(2, 40))
        mode = trial % 3
        if mode == 0:
            las = [rng.uniform(0, 1, size=(int(rng.integers(2, 5)), 2))
                   for _ in range(n)]
        elif mode == 1:
            las = []
            for _ in range(n):
                if rng.random() < 0.5:
                    x = round(float(rng.uniform(0, 1)), 1)
                    las.append(np.array([[x, -0.1], [x, 1.1]]))
                else:
                    y = round(float(rng.uniform(0, 1)), 1)
                    las.append(np.array([[-0.1, y], [1.1, y]]))
        else:
            las = [np.round(rng.uniform(0, 1, size=(3, 2)), 1) for _ in range(n)]
        a = P.polygonize_region(ring, las)
        b = poly_py(ring, las)
        assert len(a) == len(b), trial
        for x, y in zip(a, b):
            assert x.shape == y.shape and x.tobytes() == y.tobytes(), trial
