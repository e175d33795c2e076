"""Kernel tests: geometry predicates vs the independent oracle.

Property test: seeded random geometry pairs — engine ``pairs_intersect``
/ ``pairs_distance`` must agree with the winding-number oracle
(semantics of shapely ``intersects``, ``cdap_geo/functions.py:72-78``).
"""

import numpy as np
import pytest

from cdap_geo_spark.core import geom as G, wkb as W
from cdap_geo_spark.fixtures import doc_geometry_wkb

import oracle


def _region_blobs(n, seed=7):
    rng = np.random.RandomState(seed)
    out = []
    for i in range(n):
        cx, cy = rng.uniform(0, 2000), rng.uniform(0, 2000)
        size = rng.uniform(50, 800)
        if i % 3 == 0:
            out.append(W.boxes_to_wkb(np.array([cx]), np.array([cy]),
                                      np.array([cx + size]), np.array([cy + size]))[0])
        else:
            nv = rng.randint(5, 12)
            ang = np.linspace(0, 2 * np.pi, nv, endpoint=False)
            rr = size / 2 * (1 if i % 3 == 1 else
                             np.where(np.arange(nv) % 2 == 0, 1.0, 0.4))
            ring = np.column_stack([cx + rr * np.cos(ang), cy + rr * np.sin(ang)])
            ring = np.vstack([ring, ring[:1]])
            out.append(W.polygon_to_wkb([ring]))
    return out


def test_intersects_property_random_pairs():
    ids = np.arange(120, dtype=np.int64)
    # rescale fixture geometries into a dense 2km window so overlaps occur
    lblobs = doc_geometry_wkb(ids)
    lb = W.parse_wkb(lblobs)
    lb.coords[:] = (lb.coords % 2000.0)
    rblobs = _region_blobs(25)
    rb = W.parse_wkb(rblobs)
    n, m = len(lb), len(rb)
    li = np.repeat(np.arange(n), m)
    ri = np.tile(np.arange(m), n)
    got = G.pairs_intersect(lb, rb, li, ri)

    # oracle needs the rescaled left geoms — re-emit them
    lg = []
    for i in range(n):
        sl = W.slice_batch(lb, np.array([i]))
        if lb.kinds[i] == W.KIND_POINT:
            lg.append(oracle.parse(W.point_to_wkb(sl.coords[0, 0], sl.coords[0, 1])))
        else:
            # build oracle dict directly from coords
            lg.append(_batch_to_oracle(sl))
    rg = [oracle.parse(b) for b in rblobs]
    mismatches = []
    for idx in range(len(li)):
        want = oracle.intersects(lg[li[idx]], rg[ri[idx]])
        if bool(got[idx]) != want:
            mismatches.append((int(li[idx]), int(ri[idx]), bool(got[idx]), want))
    assert not mismatches, mismatches[:10]


def _batch_to_oracle(sl):
    """Single-geometry batch -> oracle dict, built from its parts."""
    parts = []
    for p in range(sl.geom_part_off[0], sl.geom_part_off[1]):
        paths = [[tuple(c) for c in sl.coords[sl.ring_coord_off[r]:
                                              sl.ring_coord_off[r + 1]]]
                 for r in range(sl.part_ring_off[p], sl.part_ring_off[p + 1])]
        kind = int(sl.part_kind[p])
        if kind == W.KIND_POINT:
            parts.append({"type": "Point", "coords": paths[0][0]})
        elif kind == W.KIND_LINESTRING:
            parts.append({"type": "LineString", "coords": paths[0]})
        elif kind == W.KIND_POLYGON:
            parts.append({"type": "Polygon", "rings": paths})
        else:
            raise AssertionError(kind)
    if int(sl.kinds[0]) in (W.KIND_POINT, W.KIND_LINESTRING, W.KIND_POLYGON):
        return parts[0]
    return {"type": "Multi", "parts": parts}


def _box_ring(x0, y0, w, h):
    return [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]


def _random_polygon(rng, hole, big):
    """A box or a triangle on the integer grid, sides up to 13 units if
    ``big`` else 4; with ``hole``, a box with a box hole strictly inside
    it."""
    lo, hi = (4, 14) if big else (1, 5)
    if hole:
        x0, y0 = rng.randint(0, 12, 2)
        w, h = rng.randint(max(lo, 4), hi, 2)
        hx, hy = x0 + rng.randint(1, w - 2), y0 + rng.randint(1, h - 2)
        hw = rng.randint(1, x0 + w - hx)
        hh = rng.randint(1, y0 + h - hy)
        return [_box_ring(x0, y0, w, h), _box_ring(hx, hy, hw, hh)[::-1]]
    x0, y0 = rng.randint(0, 18, 2)
    if rng.rand() < 0.5:
        return [_box_ring(x0, y0, *rng.randint(lo, hi, 2))]
    while True:
        t = np.array([x0, y0]) + rng.randint(0, hi, (3, 2))
        if np.cross(t[1] - t[0], t[2] - t[0]) != 0:
            return [np.vstack([t, t[:1]]).tolist()]


def _random_line(rng):
    steps = rng.randint(-5, 6, (rng.randint(2, 5), 2))
    return np.cumsum(steps, axis=0) + rng.randint(0, 20, 2)


def _random_point(rng):
    return W.point_to_wkb(*rng.randint(0, 20, 2).astype(float))


def _random_geometry(rng, kind):
    """One WKB geometry of ``kind`` with integer coordinates in a small
    window, so shared vertices, touches and nesting are common."""
    if kind == "Point":
        return _random_point(rng)
    if kind == "MultiPoint":
        return W.multi_to_wkb(W.KIND_MULTIPOINT, [
            _random_point(rng) for _ in range(rng.randint(2, 5))])
    if kind == "LineString":
        return W.linestring_to_wkb(_random_line(rng))
    if kind == "MultiLineString":
        return W.multi_to_wkb(W.KIND_MULTILINESTRING, [
            W.linestring_to_wkb(_random_line(rng))
            for _ in range(rng.randint(2, 4))])
    if kind == "Polygon":
        return W.polygon_to_wkb(_random_polygon(rng, hole=True, big=True))
    # MultiPolygon: 2-3 small parts, bbox-disjoint so it is valid
    parts, boxes, n = [], [], rng.randint(2, 4)
    while len(parts) < n:
        rings = _random_polygon(rng, hole=False, big=False)
        c = np.asarray(rings[0])
        b = (*c.min(axis=0), *c.max(axis=0))
        if all(b[0] > q[2] or b[2] < q[0] or b[1] > q[3] or b[3] < q[1]
               for q in boxes):
            parts.append(W.polygon_to_wkb(rings))
            boxes.append(b)
    return W.multi_to_wkb(W.KIND_MULTIPOLYGON, parts)


_KINDS = ["Point", "MultiPoint", "LineString", "MultiLineString",
          "Polygon", "MultiPolygon"]
_PER_KIND = 20


def test_multipart_pairs_match_the_oracle():
    """Every kind, multi-part ones included, on both sides: a part of
    one side may lie wholly inside the other with no edge contact while
    the first part lies outside. intersects and distance agree with the
    oracle on every pair."""
    rng = np.random.RandomState(20)
    blobs = [_random_geometry(rng, k) for k in _KINDS for _ in range(_PER_KIND)]
    lb = W.parse_wkb(blobs[::2])
    rb = W.parse_wkb(blobs[1::2])
    lg = [oracle.parse(b) for b in blobs[::2]]
    rg = [oracle.parse(b) for b in blobs[1::2]]
    assert set(lb.kinds.tolist()) == set(rb.kinds.tolist()) == set(range(1, 7))
    li = np.repeat(np.arange(len(lb)), len(rb))
    ri = np.tile(np.arange(len(rb)), len(lb))
    hit = G.pairs_intersect(lb, rb, li, ri)
    dist = G.pairs_distance(lb, rb, li, ri)
    want_hit = np.array([oracle.intersects(lg[i], rg[j])
                         for i, j in zip(li, ri)])
    want_dist = np.array([oracle.distance(lg[i], rg[j])
                          for i, j in zip(li, ri)])
    assert 0.2 < want_hit.mean() < 0.8
    bad = np.flatnonzero(hit != want_hit)
    assert not len(bad), [(_KINDS[2 * li[k] // _PER_KIND],
                           _KINDS[(2 * ri[k] + 1) // _PER_KIND], hit[k])
                          for k in bad[:10]]
    np.testing.assert_allclose(dist, want_dist, rtol=1e-12, atol=1e-12)


def test_boundary_touch_counts_as_intersecting():
    # FIXTURES.md §4: touching-only boundaries → intersects = true
    a = W.boxes_to_wkb(np.array([0.0]), np.array([0.0]),
                       np.array([10.0]), np.array([10.0]))
    b = W.boxes_to_wkb(np.array([10.0]), np.array([0.0]),
                       np.array([20.0]), np.array([10.0]))
    lb, rb = W.parse_wkb(a), W.parse_wkb(b)
    assert G.pairs_intersect(lb, rb, np.array([0]), np.array([0]))[0]


def test_point_on_vertex_intersects():
    box = W.parse_wkb(W.boxes_to_wkb(np.array([0.0]), np.array([0.0]),
                                     np.array([10.0]), np.array([10.0])))
    pt = W.parse_wkb([W.point_to_wkb(10.0, 10.0)])
    assert G.pairs_intersect(pt, box, np.array([0]), np.array([0]))[0]


def test_degenerate_zero_area_polygon():
    ring = [[0, 0], [10, 0], [0, 0], [0, 0]]
    blob = W.polygon_to_wkb([ring])
    b = W.parse_wkb([blob])
    assert G.area(b)[0] == pytest.approx(0.0)
    pt_on = W.parse_wkb([W.point_to_wkb(5.0, 0.0)])
    assert G.pairs_intersect(pt_on, b, np.array([0]), np.array([0]))[0]


def test_null_never_matches():
    pt = W.parse_wkb([W.point_to_wkb(1, 1)])
    nul = W.parse_wkb([None])
    assert not G.pairs_intersect(pt, nul, np.array([0]), np.array([0]))[0]
    assert not G.pairs_intersect(nul, pt, np.array([0]), np.array([0]))[0]


def test_distance_property():
    rng = np.random.RandomState(3)
    xs, ys = rng.uniform(0, 1000, 40), rng.uniform(0, 1000, 40)
    pts = W.parse_wkb(W.points_to_wkb(xs, ys))
    rblobs = _region_blobs(10, seed=11)
    rb = W.parse_wkb(rblobs)
    li = np.repeat(np.arange(40), 10)
    ri = np.tile(np.arange(10), 40)
    got = G.pairs_distance(pts, rb, li, ri)
    for idx in range(0, len(li), 7):
        g1 = oracle.parse(W.point_to_wkb(xs[li[idx]], ys[li[idx]]))
        g2 = oracle.parse(rblobs[ri[idx]])
        assert got[idx] == pytest.approx(oracle.distance(g1, g2), abs=1e-6)


def test_intersection_area_boxes():
    a = W.parse_wkb(W.boxes_to_wkb(np.array([0.0]), np.array([0.0]),
                                   np.array([10.0]), np.array([10.0])))
    b = W.parse_wkb(W.boxes_to_wkb(np.array([5.0, 20.0]), np.array([5.0, 20.0]),
                                   np.array([15.0, 30.0]), np.array([15.0, 30.0])))
    got = G.pairs_intersection_area(a, b, np.array([0, 0]), np.array([0, 1]))
    np.testing.assert_allclose(got, [25.0, 0.0])


def _poly(rings):
    return W.polygon_to_wkb([np.asarray(r, float) for r in rings])


def test_intersection_area_multipolygon_parts():
    """Round-1 HIGH bug: the flattened-ring loop subtracted the second
    part's exterior as if it were a hole (ADVICE.md) — two disjoint
    unit squares clipped by a containing box must give 2.0, not 0.0."""
    sq1 = [[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]
    sq2 = [[3, 0], [4, 0], [4, 1], [3, 1], [3, 0]]
    mp = W.multi_to_wkb(W.KIND_MULTIPOLYGON, [_poly([sq1]), _poly([sq2])])
    box = W.boxes_to_wkb(np.array([-1.0]), np.array([-1.0]),
                         np.array([5.0]), np.array([2.0]))[0]
    lb, rb = W.parse_wkb([mp]), W.parse_wkb([box])
    got = G.pairs_intersection_area(lb, rb, np.array([0]), np.array([0]))
    np.testing.assert_allclose(got, [2.0])


def test_intersection_area_nonconvex_and_holes():
    # concave U-shape split by a box into two prongs: area 1 + 1
    u = [[0, 0], [3, 0], [3, 3], [2, 3], [2, 1], [1, 1], [1, 3], [0, 3],
         [0, 0]]
    b2 = W.boxes_to_wkb(np.array([0.0]), np.array([2.0]),
                        np.array([3.0]), np.array([4.0]))[0]
    lb, rb = W.parse_wkb([_poly([u])]), W.parse_wkb([b2])
    got = G.pairs_intersection_area(lb, rb, np.array([0]), np.array([0]))
    np.testing.assert_allclose(got, [2.0])
    # polygon with a hole clipped by an offset box
    outer = [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]
    hole = [[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]]
    b3 = W.boxes_to_wkb(np.array([2.0]), np.array([0.0]),
                        np.array([6.0]), np.array([4.0]))[0]
    lb = W.parse_wkb([_poly([outer, hole])])
    rb = W.parse_wkb([b3])
    got = G.pairs_intersection_area(lb, rb, np.array([0]), np.array([0]))
    np.testing.assert_allclose(got, [6.0])  # 8 outer - 2 hole overlap


def _star(rng, nv=None):
    cx, cy = rng.uniform(0, 100), rng.uniform(0, 100)
    nv = nv or rng.randint(6, 14)
    ang = np.linspace(0, 2 * np.pi, nv, endpoint=False)
    rr = np.where(np.arange(nv) % 2 == 0, rng.uniform(30, 60),
                  rng.uniform(10, 25))
    ring = np.column_stack([cx + rr * np.cos(ang), cy + rr * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def test_intersection_area_raster_property():
    """Random concave star pairs vs a grid-rasterized oracle."""
    rng = np.random.RandomState(3)
    for _ in range(12):
        s1, s2 = _star(rng), _star(rng)
        lb, rb = W.parse_wkb([_poly([s1])]), W.parse_wkb([_poly([s2])])
        got = G.pairs_intersection_area(lb, rb, np.array([0]),
                                        np.array([0]))[0]
        gx, gy = np.meshgrid(np.linspace(-80, 180, 700),
                             np.linspace(-80, 180, 700))
        px, py = gx.ravel(), gy.ravel()
        inter = (G.points_in_rings(px, py, [s1])
                 & G.points_in_rings(px, py, [s2]))
        est = inter.sum() * (260 / 699) ** 2
        assert abs(got - est) <= max(0.05 * est, 5.0)


def test_intersection_geometry_nonconvex(spark):
    """compat.intersection on concave inputs: output region's area must
    equal the exact kernel area (pieces may be seam-subdivided)."""
    from pyspark.sql import functions as F

    import cdap_geo_spark.compat as compat

    rng = np.random.RandomState(9)
    rows = []
    for _ in range(10):
        rows.append((bytearray(_poly([_star(rng)])),
                     bytearray(_poly([_star(rng)]))))
    df = spark.createDataFrame(rows, "g1 binary, g2 binary")
    out = df.select(
        compat.intersection("g1", "g2").alias("gi"),
        compat.intersection_area("g1", "g2").alias("ia")).collect()
    for r in out:
        if r.gi is None:
            assert r.ia == pytest.approx(0.0, abs=1e-6)
            continue
        got = W.parse_wkb([bytes(r.gi)])
        assert G.area(got)[0] == pytest.approx(r.ia, rel=1e-9, abs=1e-9)


def test_vertex_counts():
    blobs = [W.point_to_wkb(1, 1),
             W.polygon_to_wkb([[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]])]
    b = W.parse_wkb(blobs)
    assert G.vertex_counts(b).tolist() == [1, 5]


def test_pair_kernel_chunk_invariance(monkeypatch):
    """The cache-sized kernel slicing (udfs._pair_kernel) must be
    result-invariant in the chunk size — slicing is a pure execution
    detail."""
    import numpy as np
    import pyarrow as pa
    from cdap_geo_spark import udfs
    from cdap_geo_spark.core import geom as G, wkb as W
    from cdap_geo_spark.fixtures import doc_geometry_wkb

    blobs = doc_geometry_wkb(np.arange(500, dtype=np.int64))
    rng = np.random.default_rng(3)
    li = rng.integers(0, 500, 3000)
    ri = rng.integers(0, 500, 3000)
    l = pa.array([blobs[i] for i in li], pa.binary())
    r = pa.array([blobs[i] for i in ri], pa.binary())
    outs = []
    for chunk in (0, 7, 256, 100000):
        monkeypatch.setattr(udfs, "KERNEL_CHUNK", chunk)
        run = udfs._pair_kernel(G.pairs_intersect, bool)
        outs.append(run(l, r))
    for o in outs[1:]:
        np.testing.assert_array_equal(outs[0], o)
    assert outs[0].sum() > 0  # some self/near pairs intersect


@pytest.mark.parametrize("predicate", ["intersects", "distance"])
def test_broadcast_batch_pairs_chunk_invariance(monkeypatch, predicate):
    """The broadcast sjoin pass refines through the same slicing loop:
    its per-batch pairs are invariant in the chunk size too."""
    import pyarrow as pa
    from cdap_geo_spark import udfs
    from cdap_geo_spark.operators.sjoin import RegionIndex, batch_pairs

    rng = np.random.default_rng(5)
    x0 = rng.uniform(0, 650_000, 200)
    y0 = rng.uniform(0, 1_250_000, 200)
    w = rng.uniform(1_000, 80_000, 200)
    index = RegionIndex(pa.array(np.arange(200)),
                        W.boxes_to_wkb(x0, y0, x0 + w, y0 + w),
                        7, "marked" if predicate == "intersects" else "bbox",
                        1.0)
    lb = W.parse_wkb(doc_geometry_wkb(np.arange(3000, dtype=np.int64)))
    kw = dict(level=7, pad=1.0, predicate=predicate,
              how="intersects" if predicate == "intersects" else "bbox",
              dilate=0.0 if predicate == "intersects" else 2_000.0,
              distance=None if predicate == "intersects" else 2_000.0)
    outs = []
    for chunk in (0, 7, 256, 100000):
        monkeypatch.setattr(udfs, "KERNEL_CHUNK", chunk)
        outs.append(batch_pairs(index, lb, **kw))
    for o in outs[1:]:
        for a, b in zip(outs[0], o):
            np.testing.assert_array_equal(a, b)
    assert len(outs[0][0]) > 256  # the small chunks really slice


# ---------------------------------------------------------------------------
# slab-union kernel property tests (hypothesis)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings, strategies as st
    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    import numpy as np

    def _box_ring(x0, y0, w, h):
        return np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h],
                         [x0, y0 + h], [x0, y0]], float)

    def _tri_ring(x0, y0, dx1, dy1, dx2, dy2):
        return np.array([[x0, y0], [x0 + dx1, y0 + dy1],
                         [x0 + dx2, y0 + dy2], [x0, y0]], float)

    _coords = st.integers(min_value=0, max_value=40)
    _sizes = st.integers(min_value=1, max_value=15)

    _boxes = st.tuples(_coords, _coords, _sizes, _sizes)
    _tris = st.tuples(_coords, _coords,
                      st.integers(min_value=-12, max_value=12),
                      st.integers(min_value=1, max_value=12),
                      st.integers(min_value=1, max_value=12),
                      st.integers(min_value=-12, max_value=12))

    def _raster_area(members, lo=-15, hi=60, n=600):
        """Independent oracle: point-in-polygon rasterization using the
        even-odd crossing rule per member (same fill convention, totally
        different algorithm)."""
        from cdap_geo_spark.core.geom import points_in_rings
        xs = np.linspace(lo + 1e-4, hi, n)
        ys = np.linspace(lo + 2e-4, hi, n)
        gx, gy = np.meshgrid(xs, ys)
        gx, gy = gx.ravel(), gy.ravel()
        cov = np.zeros(len(gx), bool)
        for rings in members:
            # even-odd over this member's rings
            inside = np.zeros(len(gx), int)
            for r in rings:
                inside += points_in_rings(gx, gy, [r]).astype(int)
            cov |= (inside % 2) == 1
        cell = (xs[1] - xs[0]) * (ys[1] - ys[0])
        return cov.sum() * cell

    @settings(max_examples=25, deadline=None)
    @given(st.lists(_boxes, min_size=1, max_size=6),
           st.lists(_tris, min_size=0, max_size=4))
    def test_union_trapezoids_matches_raster(boxes, tris):
        from cdap_geo_spark.core.geom import union_trapezoids
        members = [[_box_ring(*b)] for b in boxes]
        for t in tris:
            ring = _tri_ring(*t)
            # skip degenerate (collinear) triangles
            a2 = ((ring[1, 0] - ring[0, 0]) * (ring[2, 1] - ring[0, 1])
                  - (ring[1, 1] - ring[0, 1]) * (ring[2, 0] - ring[0, 0]))
            if abs(a2) > 1e-9:
                members.append([ring])
        quads, area = union_trapezoids(members)
        # exact area vs the independent raster (resolution-limited)
        approx = _raster_area(members)
        assert area == pytest.approx(approx, abs=25.0)
        # the quads re-fed through the kernel tile the SAME region:
        # union of the tiling has the identical exact area
        if quads:
            requads, rearea = union_trapezoids(
                [[np.vstack([q, q[:1]])] for q in quads])
            assert rearea == pytest.approx(area, rel=1e-9)


# ---------------------------------------------------------------------------
# subdivision property tests (hypothesis, kernel-level — no Spark)
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings, strategies as st

    def _subdiv_pieces(rings, max_vertices):
        from cdap_geo_spark.operators.geoops import _subdivide_rings
        out = []
        _subdivide_rings(rings, max_vertices, out, 0)
        return out

    _radii = st.lists(st.floats(min_value=10.0, max_value=100.0),
                      min_size=8, max_size=40)

    @given(_radii, st.integers(min_value=9, max_value=32))
    @settings(max_examples=40, deadline=None)
    def test_subdivide_rings_bound_and_area(radii, max_v):
        import numpy as np
        from cdap_geo_spark.core import geom as G, wkb as W
        n = len(radii)
        th = np.linspace(0, 2 * np.pi, n + 1)[:-1]
        ext = np.c_[np.array(radii) * np.cos(th),
                    np.array(radii) * np.sin(th)]
        ext = np.vstack([ext, ext[:1]])
        blobs = _subdiv_pieces([ext], max_v)
        assert blobs, "no pieces emitted"
        pieces = W.parse_wkb(blobs)
        # every piece within the bound; union area preserved exactly
        # (pieces disjoint, separated by bisection lines)
        assert int(G.vertex_counts(pieces).max()) <= max_v
        orig = W.parse_wkb([W.polygon_to_wkb([ext])])
        # SH-clip interpolation on concave rings drifts at ulp scale
        # per cut; 1e-7 relative over hundreds of cuts is the honest
        # envelope (exact for the convex/realistic cases)
        assert np.isclose(G.area(pieces).sum(), G.area(orig)[0],
                          rtol=1e-7, atol=1e-9)
except ImportError:  # pragma: no cover
    pass


def test_centroid_hand_computed_shapes():
    sq = [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]
    hole = [[1, 1], [1, 3], [3, 3], [3, 1], [1, 1]]       # reversed winding
    lshape = [[0, 0], [2, 0], [2, 1], [1, 1], [1, 2], [0, 2], [0, 0]]
    donut = [[10, 10], [10, 12], [14, 12], [14, 10], [10, 10]]   # CW ext
    dhole = [[11, 10.5], [12, 10.5], [12, 11.5], [11, 11.5], [11, 10.5]]
    blobs = [_poly([sq]), _poly([sq, hole]), _poly([lshape]),
             _poly([donut, dhole])]
    got = G.centroid(W.parse_wkb(blobs))
    # L: rects (0..2,0..1) a=2 c=(1,.5) + (0..1,1..2) a=1 c=(.5,1.5)
    # donut: 4x2 a=8 c=(12,11) minus 1x1 a=1 c=(11.5,11)
    want = [(2, 2), (2, 2), (2.5 / 3, 2.5 / 3), (84.5 / 7, 11.0)]
    np.testing.assert_allclose(got, want, rtol=1e-12)


def test_centroid_lines_points_null_and_dimension_rule():
    import struct
    line = struct.pack("<BII", 1, 2, 3) + b"".join(
        struct.pack("<dd", *p) for p in [(0, 0), (2, 0), (2, 2)])
    pt = struct.pack("<BIdd", 1, 1, 7.0, 9.0)
    mpt = W.multi_to_wkb(W.KIND_MULTIPOINT,
                         [struct.pack("<BIdd", 1, 1, 0.0, 0.0),
                          struct.pack("<BIdd", 1, 1, 4.0, 2.0)])
    got = G.centroid(W.parse_wkb([line, pt, mpt, None]))
    # line: segment mids (1,0) w=2 and (2,1) w=2 -> (1.5, 0.5)
    np.testing.assert_allclose(got[0], (1.5, 0.5))
    np.testing.assert_allclose(got[1], (7.0, 9.0))
    np.testing.assert_allclose(got[2], (2.0, 1.0))
    assert np.isnan(got[3]).all()
    # degenerate polygon (zero area) falls to its boundary length
    degen = _poly([[[0, 0], [2, 0], [0, 0], [0, 0]]])
    d = G.centroid(W.parse_wkb([degen]))
    np.testing.assert_allclose(d[0], (1.0, 0.0))


def test_centroid_matches_triangulation_on_random_polygons():
    """Independent cross-check: ear-triangulate the polygon and compare
    the area-weighted triangle-centroid mean against the shoelace
    kernel, at projected-CRS magnitudes (the local-frame anchor keeps
    the moments exact where raw shoelace loses ~6 digits)."""
    rng = np.random.RandomState(7)
    for trial in range(20):
        k = rng.randint(4, 9)
        # full-circle jittered spokes: distinct angles covering 2π keep
        # the anchor interior, so the radial polygon is simple (a bare
        # radial sort can leave a >π gap whose closing edge cuts back)
        ang = (np.arange(k) + rng.uniform(0.1, 0.9, k)) * 2 * np.pi / k
        rad = rng.uniform(5_000, 20_000, k)
        cx0, cy0 = rng.uniform(1e5, 1.2e6, 2)
        ring = np.c_[cx0 + rad * np.cos(ang), cy0 + rad * np.sin(ang)]
        ring = np.vstack([ring, ring[:1]])
        got = G.centroid(W.parse_wkb([_poly([ring])]))[0]
        tris = G._ear_triangulate(ring[:-1] - [cx0, cy0])
        a_tot, mx, my = 0.0, 0.0, 0.0
        for t in tris:
            t = np.asarray(t, float)
            a = 0.5 * abs(np.cross(t[1] - t[0], t[2] - t[0]))
            c = t.mean(axis=0)
            a_tot += a
            mx += a * c[0]
            my += a * c[1]
        want = (cx0 + mx / a_tot, cy0 + my / a_tot)
        np.testing.assert_allclose(got, want, atol=1e-6), trial


def test_length_hand_computed_shapes():
    """st_length kernel: polygon perimeter includes holes (ST_Perimeter),
    lines measure polyline length (non-axis-aligned hypot path), points
    and NULL are 0; multi-parts sum; ring-boundary phantom segments do
    not leak between rings or geometries."""
    import struct
    sq = [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]
    hole = [[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]]
    line = struct.pack("<BII", 1, 2, 3) + b"".join(
        struct.pack("<dd", *p) for p in [(0, 0), (3, 4), (3, 10)])
    pt = struct.pack("<BIdd", 1, 1, 5.0, 5.0)
    mline = W.multi_to_wkb(W.KIND_MULTILINESTRING, [
        struct.pack("<BII", 1, 2, 2) + struct.pack("<dddd", 0, 0, 1, 0),
        struct.pack("<BII", 1, 2, 2) + struct.pack("<dddd", 0, 0, 0, 2)])
    mpoly = W.multi_to_wkb(W.KIND_MULTIPOLYGON, [
        _poly([sq]), _poly([[[20, 20], [21, 20], [21, 21],
                             [20, 21], [20, 20]]])])
    mpt = W.multi_to_wkb(W.KIND_MULTIPOINT,
                         [struct.pack("<BIdd", 1, 1, 0.0, 0.0),
                          struct.pack("<BIdd", 1, 1, 9.0, 9.0)])
    got = G.length(W.parse_wkb([_poly([sq, hole]), line, pt,
                                mline, mpoly, mpt, None]))
    np.testing.assert_allclose(got, [48.0, 11.0, 0.0, 3.0, 44.0,
                                     0.0, 0.0], rtol=1e-12)


def test_length_octagon_matches_closed_form():
    """Non-axis-aligned exactness: a regular n-gon of circumradius r has
    perimeter 2*n*r*sin(pi/n)."""
    for n in (4, 8, 16):
        ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
        ring = np.column_stack([437_000 + 250 * np.cos(ang),
                                912_000 + 250 * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]]).tolist()
        got = G.length(W.parse_wkb([_poly([ring])]))[0]
        want = 2 * n * 250 * np.sin(np.pi / n)
        np.testing.assert_allclose(got, want, rtol=1e-12)
