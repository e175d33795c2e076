"""Operator tests: the spatial join vs the O(n²) cross-join oracle
(the pair-set-equality contract of ``st_intersects``,
``cdap_geo/sedona.py:105-108``; north rule: "matching the reference's
join output rows").
"""

import struct

import numpy as np
import pytest

from cdap_geo_spark import docs as D, fixtures
from cdap_geo_spark.core import wkb as W
from cdap_geo_spark.operators.sjoin import sjoin, sjoin_pairs

import oracle


@pytest.fixture(scope="module")
def small_world(spark):
    dd = fixtures.documents(spark, 250, partitions=4).cache()
    rr = fixtures.regions(spark, 60).cache()
    dd.count(), rr.count()
    return D.with_geometry(dd), rr, dd


def _oracle_pairs(dg, rr, pred="intersects", distance=None):
    """Cross-join oracle with a NumPy bbox prefilter (disjoint bboxes
    can't intersect / can't be within d; only survivors get the exact
    scalar oracle)."""
    docs_pd = dg.select("doc_id", "geometry").toPandas()
    regs_pd = rr.select("region_id", "geometry").toPandas()
    lg = [oracle.parse(None if b is None else bytes(b)) for b in docs_pd.geometry]
    rg = [oracle.parse(None if b is None else bytes(b)) for b in regs_pd.geometry]
    lb = W.parse_wkb([bytes(b) for b in docs_pd.geometry]).bounds()
    rb = W.parse_wkb([bytes(b) for b in regs_pd.geometry]).bounds()
    m = 0.0 if distance is None else float(distance)
    cand = ~((lb[:, None, 0] - m > rb[None, :, 2]) |
             (lb[:, None, 1] - m > rb[None, :, 3]) |
             (lb[:, None, 2] + m < rb[None, :, 0]) |
             (lb[:, None, 3] + m < rb[None, :, 1]))
    out = set()
    for i, j in zip(*np.nonzero(cand)):
        a, b = lg[i], rg[j]
        if a is None or b is None:
            continue
        if pred == "intersects":
            hit = oracle.intersects(a, b)
        else:
            hit = oracle.distance(a, b) <= distance
        if hit:
            out.add((docs_pd.doc_id[i], regs_pd.region_id[j]))
    return out


def _pairs_set(df):
    return set(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def base_pairs(spark, small_world):
    dg, rr, _ = small_world
    return _pairs_set(sjoin_pairs(dg, rr, left_id="doc_id",
                                  right_id="region_id", level=7))


def test_sjoin_matches_oracle(spark, small_world, base_pairs):
    dg, rr, _ = small_world
    assert base_pairs == _oracle_pairs(dg, rr)


def test_sjoin_level_invariance(spark, small_world, base_pairs):
    dg, rr, _ = small_world
    assert _pairs_set(sjoin_pairs(dg, rr, level=9, left_id="doc_id",
                                  right_id="region_id")) == base_pairs


def test_sjoin_broadcast_equals_shuffle(spark, small_world, base_pairs):
    dg, rr, _ = small_world
    assert _pairs_set(sjoin_pairs(dg, rr, level=7, broadcast=True,
                                  left_id="doc_id",
                                  right_id="region_id")) == base_pairs


def test_sjoin_no_marked_fastpath_same_result(spark, small_world):
    """The marked-cell fast path is sound: a region index built with
    'marked' (inside cells skip the exact kernel) and one built with
    'intersects' (every candidate refined) give the same pairs."""
    import pyarrow as pa
    from cdap_geo_spark.operators import sjoin as SJ
    dg, rr, _ = small_world
    regs = rr.select("region_id", "geometry").collect()
    ids = pa.array([r[0] for r in regs])
    blobs = [None if r[1] is None else bytes(r[1]) for r in regs]
    lb = W.parse_wkb([None if r[0] is None else bytes(r[0])
                      for r in dg.select("geometry").collect()])
    kw = dict(level=7, how="intersects", pad=SJ.PAD, dilate=0.0,
              predicate="intersects", distance=None)
    marked = SJ.RegionIndex(ids, blobs, 7, "marked", SJ.PAD)
    assert marked.inside.any()
    exact = SJ.RegionIndex(ids, blobs, 7, "intersects", SJ.PAD)
    assert not exact.inside.any()
    fast = set(zip(*SJ.batch_pairs(marked, lb, **kw)[:2]))
    slow = set(zip(*SJ.batch_pairs(exact, lb, **kw)[:2]))
    assert len(fast) > 0 and fast == slow


def test_shuffle_route_splits_hot_cell_with_aqe(spark, no_broadcast):
    """A hot cell on the shuffle route is split by AQE's skew join
    (thresholds lowered for this test, restored after it), and the
    pairs still equal the broadcast route's."""
    from pyspark.sql import functions as F
    rng = np.random.RandomState(11)
    n = 6_000
    hot = rng.rand(n) < 0.9
    x = np.where(hot, 100_500 + rng.rand(n) * 20_000,
                 rng.rand(n) * 600_000)
    y = np.where(hot, 100_500 + rng.rand(n) * 20_000,
                 rng.rand(n) * 1_200_000)
    docs = spark.createDataFrame(
        [(i, _pt(float(x[i]), float(y[i]))) for i in range(n)],
        "doc_id long, geometry binary").repartition(4)
    regions = spark.createDataFrame(
        [(j, _box(float(x0), float(y0), float(x0) + 15_000.0,
                  float(y0) + 15_000.0))
         for j, (x0, y0) in enumerate(
             [(100_000 + 5_000 * k, 100_000 + 5_000 * k) for k in range(4)]
             + [(60_000 * k, 90_000 * k) for k in range(1, 12)])],
        "region_id long, geometry binary")
    conf = {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "16k",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2"}
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        slow = sjoin_pairs(docs, regions, level=7, broadcast=False)
        got = _pairs_set(slow)
        plan = slow._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin(skew=true)" in plan, plan
    want = _pairs_set(sjoin_pairs(docs, regions, level=7, broadcast=True))
    assert len(want) > 0.5 * n and got == want


def test_bbox_predicate_is_bbox_overlap(spark, small_world):
    # the bbox_join contract (cdap_geo/index_bbox.py:32-71): pairs whose
    # bounding boxes overlap (strict-inequality filter)
    dg, rr, _ = small_world
    got = _pairs_set(sjoin_pairs(dg, rr, level=7, predicate="bbox",
                                 left_id="doc_id", right_id="region_id"))
    docs_pd = dg.select("doc_id", "geometry").toPandas()
    regs_pd = rr.select("region_id", "geometry").toPandas()
    lb = W.parse_wkb([bytes(b) for b in docs_pd.geometry]).bounds()
    rb = W.parse_wkb([bytes(b) for b in regs_pd.geometry]).bounds()
    want = set()
    for i in range(len(lb)):
        for j in range(len(rb)):
            if np.isnan(lb[i]).any() or np.isnan(rb[j]).any():
                continue
            if not (lb[i, 0] > rb[j, 2] or lb[i, 1] > rb[j, 3] or
                    lb[i, 2] < rb[j, 0] or lb[i, 3] < rb[j, 1]):
                want.add((docs_pd.doc_id[i], regs_pd.region_id[j]))
    assert got == want


def test_distance_join_matches_oracle(spark, small_world):
    dg, rr, _ = small_world
    d = 5000.0
    want = _oracle_pairs(dg, rr, pred="distance", distance=d)
    got = _pairs_set(sjoin_pairs(dg, rr, level=7, predicate="distance",
                                 distance=d, left_id="doc_id",
                                 right_id="region_id"))
    assert got == want


def test_full_sjoin_preserves_spans(spark, small_world):
    dg, rr, dd = small_world
    full = sjoin(dg, rr, left_id="doc_id", right_id="region_id", level=7)
    assert D.check_span_invariant(dd, full) == 0
    # suffix renaming of colliding columns (cdap_geo/sedona.py:122-125)
    assert "geometry_right" in full.columns


def test_parallelism_invariance(spark, small_world, base_pairs):
    # local[1]-equivalent: repartition(1) both sides — same pair set
    dg, rr, _ = small_world
    got = _pairs_set(sjoin_pairs(dg.repartition(1), rr.repartition(1),
                                 level=7, left_id="doc_id",
                                 right_id="region_id"))
    assert got == base_pairs


def test_box_pairs_native_matches_wkb_bbox_path(spark):
    # the native-bounds fast path must return exactly the rows of
    # sjoin_pairs(predicate='bbox') over the same boxes encoded as
    # WKB — touching boxes included (strict-inequality contract),
    # at every covering level
    import numpy as np
    from pyspark.sql import functions as F
    from cdap_geo_spark import udfs
    from cdap_geo_spark.operators.sjoin import box_pairs_native

    rng = np.random.RandomState(3)
    rows = []
    for i in range(300):
        x0 = float(rng.randint(0, 500_000))
        y0 = float(rng.randint(0, 900_000))
        w = float(rng.randint(0, 60_000))
        h = float(rng.randint(0, 60_000))
        rows.append((i, x0, y0, x0 + w, y0 + h))
    # one exactly-touching pair (shared edge) pins the tie rule
    rows.append((1000, 0.0, 0.0, 1_000.0, 1_000.0))
    rows.append((1001, 1_000.0, 0.0, 2_000.0, 1_000.0))
    b = spark.createDataFrame(
        rows, "id long, minx double, miny double, maxx double, maxy double")
    wkb = b.select("id", udfs.st_box()(
        F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"))
        .alias("geometry"))
    want = {(r["a"], r["b"]) for r in sjoin_pairs(
        wkb.select(F.col("id").alias("a"), "geometry"),
        wkb.select(F.col("id").alias("b"), "geometry"),
        left_id="a", right_id="b", level=7, predicate="bbox").collect()}
    assert ((1000, 1001) in want)  # touching pair is a bbox match
    for lv in (6, 7, 8):
        got = {(r["a"], r["b"]) for r in box_pairs_native(
            b.select(F.col("id").alias("a"), "minx", "miny", "maxx",
                     "maxy"),
            b.select(F.col("id").alias("b"), "minx", "miny", "maxx",
                     "maxy"),
            left_id="a", right_id="b", level=lv).collect()}
        assert got == want


def test_box_pairs_native_negative_coordinates_match_brute_force(spark):
    """Negative and zero-straddling boxes: the grid ranges count cells
    from the world frame's corner, so cells are as wide on both sides
    of the origin, overlapping or touching boxes share a cell, and the
    exact bbox test drops every extra candidate."""
    from pyspark.sql import functions as F
    from cdap_geo_spark.operators.sjoin import box_pairs_native

    rng = np.random.RandomState(5)
    n = 250
    x0 = rng.randint(-400_000, 400_000, n).astype(float)
    y0 = rng.randint(-400_000, 400_000, n).astype(float)
    w = rng.randint(0, 80_000, n).astype(float)
    h = rng.randint(0, 80_000, n).astype(float)
    rows = [(i, float(x0[i]), float(y0[i]), float(x0[i] + w[i]),
             float(y0[i] + h[i])) for i in range(n)]
    rows += [(1000, -2_000.0, -2_000.0, -1_000.0, -1_000.0),  # touches 1001
             (1001, -1_000.0, -1_500.0, 500.0, -900.0),
             (1002, -30_000.5, 10.0, -29_999.5, 20.0),        # tiny, x < 0
             (1003, -30_000.0, 15.0, -30_000.0, 15.0)]       # a point in it
    arr = np.array([r[1:] for r in rows])
    ids = [r[0] for r in rows]
    hit = ~((arr[:, None, 0] > arr[None, :, 2])
            | (arr[:, None, 1] > arr[None, :, 3])
            | (arr[:, None, 2] < arr[None, :, 0])
            | (arr[:, None, 3] < arr[None, :, 1]))
    want = {(ids[a], ids[b]) for a, b in zip(*np.nonzero(hit))}
    assert {(1000, 1001), (1002, 1003)} <= want
    b = spark.createDataFrame(
        rows, "id long, minx double, miny double, maxx double, maxy double")
    for lv in (6, 7, 8):
        got = {(r["a"], r["b"]) for r in box_pairs_native(
            b.withColumnRenamed("id", "a"), b.withColumnRenamed("id", "b"),
            left_id="a", right_id="b", level=lv).collect()}
        assert got == want, lv


# ---------------------------------------------------------------------------
# broadcast route vs shuffle route
# ---------------------------------------------------------------------------

def _box(x0, y0, x1, y1):
    return bytes(W.boxes_to_wkb([x0], [y0], [x1], [y1])[0])


def _pt(x, y):
    return bytes(W.point_to_wkb(x, y))


def _line(*xy):
    return bytes(W.linestring_to_wkb(xy))


#: an L-shaped polygon over [100k, 500k]^2 (the [300k, 500k]^2 quarter
#: cut out): at level 7 (32,768 m cells) its cover has cells marked
#: wholly inside, so point candidates take the fast path
_L_POLY = bytes(W.polygon_to_wkb([[
    [100_000, 100_000], [500_000, 100_000], [500_000, 300_000],
    [300_000, 300_000], [300_000, 500_000], [100_000, 500_000],
    [100_000, 100_000]]]))
#: a line around the L, never touching it: its bbox covers the L's
#: inside cells, so a bbox left cover must not take the fast path
_AROUND_L = _line((50_000, 600_000), (600_000, 600_000), (600_000, 50_000))
_EMPTY = struct.pack("<BIdd", 1, 1, float("nan"), float("nan"))
_EMPTY_GC = struct.pack("<BII", 1, 7, 0)


def _triangle(far_x):
    """A triangle over A's inside with a third vertex at x = ``far_x``."""
    return bytes(W.polygon_to_wkb([[[500, 500], [700, 500], [far_x, 600],
                                    [500, 500]]]))


#: (doc_id, geometry): edges of the sjoin contract; ids are nullable
#: longs, a few repeat (same geometry)
_EDGE_DOCS = [
    (1, _pt(500, 500)),                       # inside A
    (1, _pt(500, 500)),                       # duplicate doc_id
    (2, _box(1_000, 0, 2_000, 1_000)),        # shares A's east edge
    (3, _pt(1_000, 1_000)),                   # on A's corner vertex
    (4, _line((1_000, 1_000), (3_000, 3_000))),  # touches A's corner
    (5, None),
    (6, _EMPTY),
    (7, b"garbage!!"),
    (8, _pt(-500_000, -300_000)),             # negative, inside B
    (9, _box(-450_000, -260_000, -440_000, -250_000)),  # touches B
    (10, _pt(-2_000_000, -2_000_000)),        # outside the cell world
    (11, _pt(3_500_000, 0)),                  # outside, east
    (12, _pt(-3_000_000, -2_000_000)),        # clamped into C's cells
    (13, _pt(200_000, 200_000)),              # deep inside the L
    (13, _pt(200_000, 200_000)),
    (14, _pt(450_000, 150_000)),              # inside the L's arm
    (15, _pt(400_000, 400_000)),              # in the L's notch
    (16, _AROUND_L),
    (17, _box(450_000, 250_000, 550_000, 350_000)),  # multi-cell, overlaps
    (18, _pt(1_000_500, 1_000_500)),          # in the second 101
    (None, _pt(700, 300)),                    # null id, inside A
    (19, _pt(2_000, 500)),                    # 1 km east of A
    (23, _triangle(float("inf"))),            # non-finite vertex: no
    (24, _triangle(float("nan"))),            # part, like kNN's rows
]
#: (region_id, geometry)
_EDGE_REGIONS = [
    (100, _box(0, 0, 1_000, 1_000)),                          # A
    (100, _box(0, 0, 1_000, 1_000)),                          # duplicate
    (101, _box(-600_000, -400_000, -450_000, -250_000)),      # B
    (101, _box(1_000_000, 1_000_000, 1_001_000, 1_001_000)),  # same id
    (102, _box(-2_100_000, -2_100_000, -1_900_000, -1_900_000)),  # C
    (103, _box(3_400_000, -10_000, 3_600_000, 10_000)),       # D
    (104, _L_POLY),
    (105, None),
    (106, _EMPTY_GC),
    (107, b"\x01\x03"),
    (None, _box(1_500, 0, 2_500, 1_000)),
    (109, bytes(W.polygon_to_wkb([[[0, 0], [900, 0], [900, float("inf")],
                                   [0, 0]]]))),
]

_ROUTE_CASES = {
    "intersects": ("intersects", {}),
    "intersects_geom": ("intersects", {"keep_left_geom": True}),
    "bbox": ("bbox", {}),
    "distance": ("distance", {"distance": 5_000.0}),
    "distance_kept": ("distance", {"distance": 5_000.0,
                                   "keep_distance": True}),
}


def _edge_oracle(predicate, distance=None):
    """Brute force over every (doc, region) row pair; a geometry with a
    NaN or infinite bound takes no part."""
    lv = W.parse_wkb([g for _, g in _EDGE_DOCS])
    rv = W.parse_wkb([g for _, g in _EDGE_REGIONS])
    lb, rb = lv.bounds(), rv.bounds()
    lok = lv.valid & np.isfinite(lb).all(axis=1)
    rok = rv.valid & np.isfinite(rb).all(axis=1)
    out = set()
    for i, (lid, lg) in enumerate(_EDGE_DOCS):
        for j, (rid, rg) in enumerate(_EDGE_REGIONS):
            if not (lok[i] and rok[j]):
                continue
            if predicate == "bbox":
                hit = not (lb[i, 0] > rb[j, 2] or lb[i, 1] > rb[j, 3]
                           or lb[i, 2] < rb[j, 0] or lb[i, 3] < rb[j, 1])
            elif predicate == "intersects":
                hit = oracle.intersects(oracle.parse(lg), oracle.parse(rg))
            else:
                hit = oracle.distance(oracle.parse(lg),
                                      oracle.parse(rg)) <= distance
            if hit:
                out.add((lid, rid))
    return out


@pytest.fixture(scope="module")
def edge_world(spark):
    docs = spark.createDataFrame(_EDGE_DOCS, "doc_id long, geometry binary")
    regions = spark.createDataFrame(_EDGE_REGIONS,
                                    "region_id long, geometry binary")
    return docs.repartition(3), regions


@pytest.mark.parametrize("dedup", [True, False], ids=["dedup", "nodedup"])
@pytest.mark.parametrize("case", sorted(_ROUTE_CASES))
def test_broadcast_route_matches_shuffle_route(spark, edge_world,
                                               no_broadcast, case, dedup):
    """The broadcast route (one mapInArrow pass against the driver-built
    region index) returns the shuffle route's schema and rows: exact
    rows with dedup, the same row set without, and both equal the
    brute force over the edge cases."""
    from collections import Counter
    docs, regions = edge_world
    predicate, kw = _ROUTE_CASES[case]
    args = dict(level=7, predicate=predicate, dedup=dedup, **kw)
    fast = sjoin_pairs(docs, regions, broadcast=True, **args)
    slow = sjoin_pairs(docs, regions, broadcast=False, **args)
    assert fast.schema.simpleString() == slow.schema.simpleString()
    got, want = fast.collect(), slow.collect()
    if dedup:
        assert Counter(map(tuple, got)) == Counter(map(tuple, want))
    else:
        assert set(map(tuple, got)) == set(map(tuple, want))
    assert {(r[0], r[1]) for r in got} == _edge_oracle(
        predicate, kw.get("distance"))


@pytest.mark.parametrize("broadcast", [True, False],
                         ids=["broadcast", "shuffle"])
def test_bbox_predicate_pairs_overlap_outside_left_cover(
        spark, edge_world, no_broadcast, broadcast):
    """A line around the L touches none of the L's cells but its bbox
    overlaps the L's: predicate='bbox' covers the left side by its
    bbox, so the pair is found on both routes."""
    docs, regions = edge_world
    got = {(r[0], r[1]) for r in sjoin_pairs(
        docs, regions, level=7, predicate="bbox",
        broadcast=broadcast).collect()}
    assert (16, 104) in got


def test_edge_oracle_covers_the_cases():
    """The edge cases above really exercise what they name."""
    hits = _edge_oracle("intersects")
    assert {(1, 100), (2, 100), (3, 100), (4, 100), (None, 100),
            (8, 101), (9, 101), (18, 101), (10, 102), (11, 103),
            (13, 104), (14, 104), (17, 104), (2, None)} <= hits
    assert not {(12, 102), (15, 104), (16, 104)} & hits
    assert not any(d in (5, 6, 7, 23, 24) or r in (105, 106, 107, 109)
                   for d, r in hits)
    assert (19, 100) in _edge_oracle("distance", 5_000.0) - hits


def test_broadcast_inside_cells_take_the_fast_path(monkeypatch):
    """Points deep inside the L are accepted by a marked inside cell,
    without the exact kernel; a bbox left cover never is."""
    import pyarrow as pa
    from cdap_geo_spark.core import geom as G
    from cdap_geo_spark.operators import sjoin as SJ
    index = SJ.RegionIndex(pa.array([104]), [_L_POLY], 7, "marked", 1.0)
    assert index.inside.any()
    lb = W.parse_wkb([_pt(200_000, 200_000), _AROUND_L])
    refined, real = [], G.pairs_intersect

    def spy(lb_, rb_, li, ri):
        refined.extend(li.tolist())
        return real(lb_, rb_, li, ri)
    monkeypatch.setattr(G, "pairs_intersect", spy)
    kw = dict(level=7, pad=1.0, dilate=0.0, predicate="intersects",
              distance=None)
    li, _, _ = SJ.batch_pairs(index, lb, how="intersects", **kw)
    assert li.tolist() == [0] and refined == []
    li, _, _ = SJ.batch_pairs(index, lb, how="bbox", **kw)
    assert li.tolist() == [0] and refined == [0, 1]


@pytest.mark.parametrize("predicate", ["intersects", "bbox", "distance"])
def test_broadcast_empty_right_side_keeps_schema(spark, edge_world,
                                                 predicate):
    docs, regions = edge_world
    args = dict(level=7, predicate=predicate, dedup=False,
                keep_left_geom=True, keep_distance=True,
                distance=100.0 if predicate == "distance" else None)
    empty = regions.limit(0)
    fast = sjoin_pairs(docs, empty, broadcast=True, **args)
    slow = sjoin_pairs(docs, empty, broadcast=False, **args)
    assert fast.schema.simpleString() == slow.schema.simpleString()
    assert fast.count() == 0 == slow.count()


def _multipoint(*xy):
    return struct.pack("<BII", 1, 4, len(xy)) + b"".join(
        struct.pack("<BIdd", 1, 1, x, y) for x, y in xy)


@pytest.mark.parametrize("broadcast", [True, False],
                         ids=["broadcast", "shuffle"])
def test_multipoint_pairs_with_a_region_near_any_part(spark, no_broadcast,
                                                      broadcast):
    """A MultiPoint is covered on every part, not only at its bbox's
    min corner: (0 0, 500000 500000) meets a region around its second
    point, on both routes and for every predicate."""
    docs = spark.createDataFrame(
        [(1, _multipoint((0, 0), (500_000, 500_000))),
         (2, _multipoint((499_500, 499_500), (499_600, 499_600))),
         (3, _multipoint((0, 0), (100, 100)))],
        "doc_id long, geometry binary")
    regions = spark.createDataFrame(
        [(10, _box(499_000, 499_000, 501_000, 501_000))],
        "region_id long, geometry binary")
    for predicate, kw in (("intersects", {}), ("bbox", {}),
                          ("distance", {"distance": 10.0})):
        got = {tuple(r) for r in sjoin_pairs(
            docs, regions, level=7, predicate=predicate,
            broadcast=broadcast, **kw).collect()}
        assert got == {(1, 10), (2, 10)}, predicate


def _multi(kind, *parts):
    return bytes(W.multi_to_wkb(kind, parts))


@pytest.mark.parametrize("broadcast", [True, False],
                         ids=["broadcast", "shuffle"])
def test_multipart_doc_pairs_with_a_region_around_a_later_part(
        spark, no_broadcast, broadcast):
    """A MultiPolygon or MultiLineString doc whose second part lies
    wholly inside a region, touching none of its edges, while the first
    part lies far away, pairs with that region on both routes."""
    far = _box(0, 0, 1_000, 1_000)
    docs = spark.createDataFrame(
        [(1, _multi(W.KIND_MULTIPOLYGON, far,
                    _box(104_000, 104_000, 106_000, 106_000))),
         (2, _multi(W.KIND_MULTILINESTRING, _line((0, 0), (1_000, 0)),
                    _line((104_000, 104_000), (106_000, 105_000)))),
         (3, _multi(W.KIND_MULTIPOLYGON, far,
                    _box(305_000, 305_000, 310_000, 310_000))),
         (4, _multi(W.KIND_MULTIPOLYGON, far,
                    _box(200_000, 200_000, 201_000, 201_000)))],
        "doc_id long, geometry binary")
    triangle = bytes(W.polygon_to_wkb([[
        [300_000, 300_000], [340_000, 300_000], [300_000, 340_000],
        [300_000, 300_000]]]))
    regions = spark.createDataFrame(
        [(10, _box(100_000, 100_000, 110_000, 110_000)), (20, triangle)],
        "region_id long, geometry binary")
    for predicate, kw in (("intersects", {}),
                          ("distance", {"distance": 10.0})):
        got = {tuple(r) for r in sjoin_pairs(
            docs, regions, level=7, predicate=predicate,
            broadcast=broadcast, **kw).collect()}
        assert got == {(1, 10), (2, 10), (3, 20)}, predicate


#: a polygon whose east edge dents in to x = 0.5 at y = 16000, just east
#: of the level-7 cell edge x = 0; the cell west of that edge is marked
#: wholly inside it
_DENT = bytes(W.polygon_to_wkb([[
    [-40_000, -1_000], [100, -1_000], [0.5, 16_000], [100, 33_000],
    [-40_000, 33_000], [-40_000, -1_000]]]))


@pytest.mark.parametrize("broadcast", [True, False],
                         ids=["broadcast", "shuffle"])
def test_point_beside_a_marked_cell_is_refined(spark, no_broadcast,
                                               broadcast):
    """A point within the pad east of a cell edge takes the cell across
    the edge by the straddle rule. That cell is marked inside the dented
    polygon, but the point at x = 0.7 lies outside it: the exact left
    cover drops the cell, so no route accepts the pair unrefined."""
    docs = spark.createDataFrame(
        [(1, _pt(0.7, 16_000)), (2, _pt(0.3, 16_000)),
         (3, _pt(-0.3, 16_000))], "doc_id long, geometry binary")
    regions = spark.createDataFrame([(10, _DENT)],
                                    "region_id long, geometry binary")
    got = {tuple(r) for r in sjoin_pairs(
        docs, regions, level=7, broadcast=broadcast).collect()}
    assert got == {(2, 10), (3, 10)}
    assert got == {(d, 10) for d, g in docs.collect()
                   if oracle.intersects(oracle.parse(bytes(g)),
                                        oracle.parse(_DENT))}
