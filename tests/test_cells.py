"""Kernel tests: hierarchical cell algebra + cover semantics parity
with the reference's BNG edge rules (``cdap_geo/_indexing.py``).
"""

import numpy as np
import pytest

from cdap_geo_spark.core import cells as C, geom as G, wkb as W


def test_encode_decode_roundtrip():
    rng = np.random.RandomState(0)
    for level in (0, 5, 12, 20, 29):
        n = 1 << level
        xi = rng.randint(0, n, 50)
        yi = rng.randint(0, n, 50)
        ids = C.encode(level, xi, yi)
        lv, dx, dy = C.decode(ids)
        assert (lv == level).all()
        np.testing.assert_array_equal(dx, xi)
        np.testing.assert_array_equal(dy, yi)
        assert (ids >= 0).all()  # sign bit unused


def test_cell_box_roundtrip():
    ids = C.encode(12, np.array([2048]), np.array([1024]))
    minx, miny, maxx, maxy = C.cell_box(ids)
    assert maxx[0] - minx[0] == C.cell_size(12) == 1024.0
    # world origin cell
    o = C.encode(12, np.array([0]), np.array([0]))
    minx, miny, _, _ = C.cell_box(o)
    assert (minx[0], miny[0]) == (C.WORLD_X0, C.WORLD_Y0)


def test_point_on_edge_two_cells_on_vertex_four():
    # reference rule: cdap_geo/_indexing.py:192-216
    cs = C.cell_size(12)  # 1024
    x_edge = C.WORLD_X0 + 3 * cs  # NB: int(x)%cs==0 test uses raw coords
    # use coords that are multiples of the cell size in world space
    off, cells = C.cover_points(np.array([3 * cs, 3 * cs, 100.5]),
                                np.array([100.5, 2 * cs, 200.5]), 12)
    assert np.diff(off).tolist() == [2, 4, 1]


def test_bbox_on_boundary_pad_rule():
    # bbox exactly on a cell boundary → both cells (pad=1,
    # cdap_geo/_indexing.py:116-120)
    cs = C.cell_size(12)
    x0 = C.WORLD_X0 + 5 * cs
    bounds = np.array([[x0, x0, x0 + 10, x0 + 10]]) - np.array([C.WORLD_X0, C.WORLD_Y0, C.WORLD_X0, C.WORLD_Y0]) * 0  # keep world coords
    bounds = np.array([[x0, 100.0, x0 + 10, 110.0]])
    off, cells = C.cover_bbox(bounds, 12)
    lv, xi, yi = C.decode(cells)
    assert set(xi.tolist()) == {4, 5}  # straddles the x boundary


def test_intersects_cover_subset_of_bbox_cover():
    # cdap_geo/_indexing.py:232-270: intersects-cover ⊆ bbox-cover
    ring = np.array([[100.0, 100.0], [90000.0, 120.0], [45000.0, 70000.0],
                     [100.0, 100.0]])
    blob = W.polygon_to_wkb([ring])
    b = W.parse_wkb([blob])
    off_b, cells_b, _ = C.cover_batch(b, 12, how="bbox")
    off_i, cells_i, _ = C.cover_batch(b, 12, how="intersects")
    assert set(cells_i.tolist()) <= set(cells_b.tolist())
    assert len(cells_i) < len(cells_b)  # triangle: corners pruned


def test_marked_cells_are_inside():
    # big box polygon: interior cells flagged, boundary cells not
    blob = W.boxes_to_wkb(np.array([0.0]), np.array([0.0]),
                          np.array([10000.0]), np.array([10000.0]))[0]
    b = W.parse_wkb([blob])
    off, cells, inside = C.cover_batch(b, 12, how="marked")
    assert inside.any() and not inside.all()
    # every marked cell's corners are strictly within the box
    minx, miny, maxx, maxy = C.cell_box(cells[inside])
    assert (minx >= 0).all() and (maxx <= 10000).all()
    assert (miny >= 0).all() and (maxy <= 10000).all()


def test_cover_agreement_with_exact_predicate():
    """Covered cells with how='intersects' are exactly the cells whose
    box intersects the geometry (within the pad rule on the bbox hull).
    A point within the pad of a cell edge keeps the cell across it only
    when it lies on that edge."""
    ring = np.array([[500.0, 500.0], [20000.0, 800.0], [10000.0, 15000.0],
                     [500.0, 500.0]])
    cs = C.cell_size(13)  # 512 m: x = 0 and y = 0 are cell edges
    blobs = [W.polygon_to_wkb([ring]),
             W.point_to_wkb(0.7, 16_000.0),    # 0.7 m east of an edge
             W.point_to_wkb(-0.3, cs + 0.4),   # beside a corner
             W.point_to_wkb(cs, 100.5),        # on an edge
             W.point_to_wkb(-cs, -cs),         # on a corner
             W.multi_to_wkb(W.KIND_MULTIPOINT, [
                 W.point_to_wkb(0.7, 16_000.0),
                 W.point_to_wkb(-2 * cs - 0.5, 100.5)])]
    b = W.parse_wkb(blobs)
    off, cells, _ = C.cover_batch(b, 13, how="intersects")
    minx, miny, maxx, maxy = C.cell_box(cells)
    boxes = W.parse_wkb(W.boxes_to_wkb(minx, miny, maxx, maxy))
    hit = G.pairs_intersect(boxes, b, np.arange(len(cells)),
                            np.repeat(np.arange(len(blobs)), np.diff(off)))
    assert hit.all()
    assert np.diff(off)[1:].tolist() == [1, 1, 2, 4, 2]


def test_null_geometry_empty_cover():
    b = W.parse_wkb([None, W.point_to_wkb(10, 10)])
    off, cells, inside = C.cover_batch(b, 10)
    assert np.diff(off).tolist() == [0, 1]


@pytest.mark.parametrize("how", ["intersects", "marked"])
def test_exact_cover_keeps_geometry_outside_the_world(how):
    """A geometry beyond the world frame is clamped into the edge cells;
    the exact cover keeps those cells (it dropped every one when the
    geometry spanned more than one) and never marks them inside."""
    east = 2 * C.WORLD_SIZE
    blobs = W.boxes_to_wkb([east, -east], [-1e4, -east],
                           [east + 2e5, -east + 2e5], [1e4, -east + 2e5])
    blobs.append(W.polygon_to_wkb([[[east, 0], [east + 2e5, 5e3],
                                    [east + 1e5, 2e4], [east, 0]]]))
    b = W.parse_wkb(blobs)
    want, _, _ = C.cover_batch(b, 7, how="bbox")
    off, cells, inside = C.cover_batch(b, 7, how=how)
    assert (np.diff(off) > 0).all()
    assert np.array_equal(np.diff(off), np.diff(want))
    assert not inside.any()
