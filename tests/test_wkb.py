"""Kernel tests: WKB codec (no Spark).

Pin the decode contract from SURVEY.md §1: WKB in/out, 2D
normalization (``cdap_geo/sedona.py:44-45``), null-safety
(``cdap_geo/sedona.py:15-36``: malformed/NULL never raises).
"""

import struct

import numpy as np
import pytest

from cdap_geo_spark.core import geom as G, wkb as W

import oracle


def test_point_roundtrip():
    xs = np.array([0.0, 123.456, -700000.0])
    ys = np.array([1.0, 654.321, 1300000.0])
    blobs = W.points_to_wkb(xs, ys)
    b = W.parse_wkb(blobs)
    assert b.kinds.tolist() == [W.KIND_POINT] * 3
    np.testing.assert_allclose(b.bounds()[:, 0], xs)
    np.testing.assert_allclose(b.bounds()[:, 1], ys)
    # oracle agrees
    for blob, x, y in zip(blobs, xs, ys):
        g = oracle.parse(blob)
        assert g["type"] == "Point" and g["coords"] == (x, y)


def test_box_roundtrip():
    blobs = W.boxes_to_wkb(np.array([1.0]), np.array([2.0]),
                           np.array([11.0]), np.array([22.0]))
    b = W.parse_wkb(blobs)
    assert b.kinds[0] == W.KIND_POLYGON
    np.testing.assert_allclose(b.bounds()[0], [1, 2, 11, 22])
    assert oracle.area(oracle.parse(blobs[0])) == pytest.approx(200.0)
    assert G.area(b)[0] == pytest.approx(200.0)


def test_boxes_batch_equals_parsed_boxes():
    rng = np.random.RandomState(2)
    x0, y0 = rng.uniform(-1e6, 1e6, 40), rng.uniform(-1e6, 1e6, 40)
    x1, y1 = x0 + rng.uniform(0, 1e4, 40), y0 + rng.uniform(0, 1e4, 40)
    for n in (40, 0):
        args = (x0[:n], y0[:n], x1[:n], y1[:n])
        want, got = W.parse_wkb(W.boxes_to_wkb(*args)), W.boxes_batch(*args)
        for f in ("kinds", "valid", "geom_part_off", "part_kind",
                  "part_ring_off", "ring_coord_off", "coords"):
            a, b = getattr(want, f), getattr(got, f)
            assert a.dtype == b.dtype, f
            np.testing.assert_array_equal(a, b, err_msg=f)


def test_null_and_malformed_never_raise():
    blobs = [None, b"", b"\x01\x01\x00", b"garbage!!", W.point_to_wkb(5, 5)]
    b = W.parse_wkb(blobs)
    assert b.valid.tolist() == [False, False, False, False, True]
    assert len(b) == 5
    # bounds of invalid rows are NaN
    assert np.isnan(b.bounds()[0]).all()


def test_big_endian_point():
    blob = struct.pack(">BIdd", 0, 1, 10.0, 20.0)
    b = W.parse_wkb([blob])
    assert b.valid[0]
    np.testing.assert_allclose(b.bounds()[0], [10, 20, 10, 20])


def test_iso_z_and_ewkb_z_dropped():
    iso_z = struct.pack("<BIddd", 1, 1001, 1.0, 2.0, 3.0)
    ewkb_z = struct.pack("<BIddd", 1, 0x80000001, 4.0, 5.0, 6.0)
    b = W.parse_wkb([iso_z, ewkb_z])
    np.testing.assert_allclose(b.bounds()[:, :2], [[1, 2], [4, 5]])


def test_ewkb_srid_skipped():
    blob = struct.pack("<BIIdd", 1, 0x20000001, 27700, 7.0, 8.0)
    b = W.parse_wkb([blob])
    np.testing.assert_allclose(b.bounds()[0], [7, 8, 7, 8])


def test_point_empty_nan():
    blob = struct.pack("<BIdd", 1, 1, float("nan"), float("nan"))
    b = W.parse_wkb([blob])
    assert not b.valid[0]


def test_multipolygon():
    b1 = W.boxes_to_wkb(np.array([0.0]), np.array([0.0]),
                        np.array([10.0]), np.array([10.0]))[0]
    b2 = W.boxes_to_wkb(np.array([20.0]), np.array([20.0]),
                        np.array([30.0]), np.array([30.0]))[0]
    mp = W.multi_to_wkb(W.KIND_MULTIPOLYGON, [b1, b2])
    b = W.parse_wkb([mp])
    assert b.kinds[0] == W.KIND_MULTIPOLYGON
    np.testing.assert_allclose(b.bounds()[0], [0, 0, 30, 30])
    assert G.area(b)[0] == pytest.approx(200.0)


def test_polygon_with_hole():
    ext = [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]
    hole = [[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]]
    blob = W.polygon_to_wkb([ext, hole])
    b = W.parse_wkb([blob])
    assert G.area(b)[0] == pytest.approx(96.0)
    assert oracle.area(oracle.parse(blob)) == pytest.approx(96.0)


def _row_coords(b, i):
    lo, hi = b.ring_coord_off[b.part_ring_off[b.geom_part_off[[i, i + 1]]]]
    return b.coords[lo:hi]


def _edge_blobs() -> list:
    ext = [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]
    hole = [[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]]
    return [None, b"", b"\x01\x01\x00", W.point_to_wkb(1, 2)[:-3],
            struct.pack(">BIdd", 0, 1, 10.0, 20.0),
            struct.pack("<BIddd", 1, 1001, 1.0, 2.0, 3.0),
            struct.pack("<BIIdd", 1, 0x20000001, 27700, 7.0, 8.0),
            struct.pack("<BIdd", 1, 1, float("nan"), float("nan")),
            struct.pack("<BIdd", 1, 0x10001, 1.0, 2.0),  # unknown type
            W.polygon_to_wkb([ext, hole]), W.polygon_to_wkb([ext])[:-8],
            W.polygon_to_wkb([ext])[:-16],
            bytearray(W.point_to_wkb(3, 4)),
            memoryview(W.polygon_to_wkb([ext]))]


def test_fast_path_matches_general(monkeypatch):
    """parse_wkb over every input form it takes gives, row for row, the
    kinds, validity, bounds and coordinates of the general parser; its
    buffer-classified fast paths take the LE points and single-ring
    polygons, so the general parser sees only the other rows."""
    import pandas as pd
    import pyarrow as pa
    from cdap_geo_spark.fixtures import doc_geometry_wkb

    docs = list(doc_geometry_wkb(np.arange(1_000, 1_400, dtype=np.int64)))
    mixed = list(docs)
    for i, e in zip(range(7, 400, 31), _edge_blobs()):
        mixed[i] = e
    plain = [None if b is None else bytes(b) for b in mixed]
    points = W.points_to_wkb(np.array([1.5, np.nan, 3.5]),
                             np.array([4.5, np.nan, 6.5]))
    cases = {
        "list": (mixed, mixed),
        "points": (points, points),
        "series": (pd.Series(mixed), mixed),
        "binary": (pa.array(plain, pa.binary()), plain),
        "large_binary": (pa.array(plain, pa.large_binary()), plain),
        "sliced": (pa.array(plain, pa.binary()).slice(13, 300),
                   plain[13:313]),
        "chunked": (pa.chunked_array([pa.array(plain[:50], pa.binary()),
                                      pa.array(plain[50:], pa.binary())]),
                    plain),
        "no_validity": (pa.array(docs, pa.binary()), docs),
        # null rows whose offsets still span a point
        "null_over_data": (pa.Array.from_buffers(
            pa.binary(), 3, [pa.py_buffer(bytes([0b101])),
                             *pa.array(points, pa.binary()).buffers()[1:]]),
            [points[0], None, points[2]]),
        "all_null": (pa.nulls(5, pa.binary()), [None] * 5),
        "empty": (pa.array([], pa.binary()), []),
    }
    assert cases["no_validity"][0].buffers()[0] is None
    assert cases["sliced"][0].offset == 13
    general, seen = W._parse_general, {}

    def spy(blobs):
        seen[name] = seen.get(name, 0) + len(blobs)
        return general(blobs)
    monkeypatch.setattr(W, "_parse_general", spy)
    for name, (given, ref) in cases.items():
        got, want = W.parse_wkb(given), general(ref)
        assert len(got) == len(ref), name
        for f in ("kinds", "valid"):
            np.testing.assert_array_equal(getattr(got, f), getattr(want, f),
                                          err_msg=name)
        np.testing.assert_array_equal(got.bounds(), want.bounds(),
                                      err_msg=name)
        for i in np.flatnonzero(want.valid):
            np.testing.assert_array_equal(_row_coords(got, i),
                                          _row_coords(want, i), err_msg=name)
    fast = sum(len(b) == 21 and b[:2] == b"\x01\x01" for b in docs)
    assert 0 < seen["no_validity"] < len(docs) - fast
    assert "points" not in seen and "all_null" in seen


def test_slice_batch():
    blobs = W.points_to_wkb(np.arange(5, dtype=float), np.arange(5, dtype=float))
    b = W.parse_wkb(blobs)
    s = W.slice_batch(b, np.array([3, 1]))
    np.testing.assert_allclose(s.coords, [[3, 3], [1, 1]])
