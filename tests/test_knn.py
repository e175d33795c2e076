"""Operator tests: both kNN routes vs brute force
(FIXTURES.md §5 oracle: brute-force distance sort in pandas).
"""

import math
import struct

import numpy as np
import pytest

from cdap_geo_spark import fixtures
from cdap_geo_spark.operators.knn import knn_join


def _rows(df) -> list:
    """(query_id, rank, doc_id, dist) rows, sorted."""
    return sorted((r.query_id, r["rank"], r.doc_id, r.dist)
                  for r in df.collect())


def test_knn_matches_bruteforce(spark):
    _check_matches_bruteforce(spark)


def test_knn_matches_bruteforce_ring_loop(spark, no_broadcast):
    _check_matches_bruteforce(spark)


def _check_matches_bruteforce(spark):
    corpus = fixtures.documents(spark, 400, partitions=4)
    from cdap_geo_spark import docs as D
    corpus = D.with_geometry(corpus).select("doc_id", "geometry").cache()
    queries = fixtures.knn_queries(spark, 12).cache()
    k = 5
    got = knn_join(queries, corpus, k=k, level=9,
                   require_points=False).toPandas()

    # brute force
    qp = queries.toPandas()
    cp = corpus.toPandas()
    from cdap_geo_spark.core import wkb as W
    qb = W.parse_wkb([bytes(b) for b in qp.geometry]).bounds()
    cb = W.parse_wkb([bytes(b) for b in cp.geometry]).bounds()
    for qi in range(len(qp)):
        # corpus rows may be polygons/lines — knn uses their bounds min
        # corner only for point corpus; restrict to point rows like the
        # operator does (cell from min corner). For this test the corpus
        # geometry mix is fine because the operator and oracle use the
        # same representative coordinate.
        d = np.sqrt((cb[:, 0] - qb[qi, 0]) ** 2 + (cb[:, 1] - qb[qi, 1]) ** 2)
        order = sorted(range(len(d)), key=lambda i: (d[i], cp.doc_id[i]))
        want = [(cp.doc_id[i], round(float(d[i]), 6)) for i in order[:k]]
        sub = got[got.query_id == qp.query_id[qi]].sort_values("rank")
        have = [(r.doc_id, round(float(r.dist), 6)) for r in sub.itertuples()]
        assert have == want, qp.query_id[qi]


def test_knn_k1_and_sparse_region(spark):
    _check_k1_and_sparse_region(spark)


def test_knn_k1_and_sparse_region_ring_loop(spark, no_broadcast):
    _check_k1_and_sparse_region(spark)


def _check_k1_and_sparse_region(spark):
    # queries in empty areas force multi-ring expansion
    from pyspark.sql import functions as F
    from cdap_geo_spark import udfs
    corpus = spark.createDataFrame(
        [("c1", 1000.0, 1000.0), ("c2", 200000.0, 200000.0),
         ("c3", 200100.0, 200000.0)],
        "doc_id string, x double, y double"
    ).select("doc_id", udfs.st_point()(F.col("x"), F.col("y")).alias("geometry"))
    queries = spark.createDataFrame(
        [("q1", 500000.0, 900000.0)], "query_id string, x double, y double"
    ).select("query_id", udfs.st_point()(F.col("x"), F.col("y")).alias("geometry"))
    got = knn_join(queries, corpus, k=2, level=9).toPandas()
    # c3 (200100, 200000) is marginally closer to (500000, 900000)
    # than c2 (200000, 200000): 761537 m vs 761577 m
    assert list(got.sort_values("rank").doc_id) == ["c3", "c2"]


def test_knn_non_broadcast_path_matches(spark, no_broadcast, monkeypatch):
    # broadcast joins off: 'auto' must take the histogram route through
    # shuffle joins, and return the broadcast route's rows exactly
    from cdap_geo_spark.operators import knn as K
    corpus = fixtures.documents(spark, 300, partitions=4)
    from cdap_geo_spark import docs as D
    corpus = D.with_geometry(corpus).select("doc_id", "geometry").cache()
    queries = fixtures.knn_queries(spark, 8).cache()
    bc = _rows(knn_join(queries, corpus, k=3, level=9, require_points=False,
                        broadcast_queries=True))
    monkeypatch.setattr(K, "_knn_broadcast", None)   # must not be taken
    rings = knn_join(queries, corpus, k=3, level=9, require_points=False,
                     broadcast_queries="auto")
    assert bc == _rows(rings)
    assert len(bc) == 8 * 3


def test_annulus_cells_arithmetic():
    from cdap_geo_spark.operators.knn import _annulus_cells
    assert _annulus_cells(0, 0) == 1
    assert _annulus_cells(0, 1) == 9
    assert _annulus_cells(1, 2) == 24      # 5^2 - 1
    assert _annulus_cells(3, 6) == 13 ** 2 - 5 ** 2


def _clusters(rng, lo, hi, n_clusters, per, sigma, n_wide):
    """(n, 2) points: ``per`` Gaussian points (``sigma``) around each
    of ``n_clusters`` centres drawn over [lo, hi), then ``n_wide``
    uniform over the same square."""
    centres = rng.uniform(lo, hi, (n_clusters, 2))
    return np.r_[np.repeat(centres, per, axis=0)
                 + rng.normal(0, sigma, (n_clusters * per, 2)),
                 rng.uniform(lo, hi, (n_wide, 2))]


def test_reach_bounds_the_kth_distance(monkeypatch):
    # D from the histogram at the finest shift s whose occupied cells
    # fit the budget, cut so s > 0: every query's k-th distance over
    # the counted rows is at most D, and D exceeds it by at most a cell
    # diagonal at s, for queries in the clusters, between them and
    # outside the world frame
    from cdap_geo_spark.core import cells as C
    from cdap_geo_spark.operators import knn as K
    monkeypatch.setattr(K, "HIST_CELLS", 64)
    level = 12
    for seed in range(4):
        rng = np.random.RandomState(seed)
        pts = _clusters(rng, 0, 400_000, 6, 40, 3_000, 30)
        gx, gy = C.point_grid(pts[:, 0], pts[:, 1], level)
        s = next(t for t in range(level + 1) if len(np.unique(
            (gx >> t) * (1 << level) + (gy >> t))) <= K.HIST_CELLS)
        assert s > 0
        cells, n = np.unique(np.c_[gx >> s, gy >> s], axis=0,
                             return_counts=True)
        qs = np.r_[pts[rng.randint(240, size=20)] + rng.normal(0, 2_000,
                                                              (20, 2)),
                   rng.uniform(0, 400_000, (20, 2)),
                   [[-1_300_000.0, 200_000.0], [5_000_000.0, -3_000_000.0],
                    [100_000.0, 3_200_000.0]]]
        dist = np.sqrt(((qs[:, None, :] - pts[None, :, :]) ** 2).sum(-1))
        dist.sort(axis=1)
        slack = math.sqrt(2) * C.cell_size(level - s)
        for k in (1, 5, 41, len(pts)):
            d = K._reach(qs[:, 0], qs[:, 1], cells[:, 0], cells[:, 1], n, s,
                         k, level)
            dk = dist[:, k - 1]
            assert (dk <= d * (1 + 1e-12)).all(), (seed, k)
            assert (d <= (dk + slack) * (1 + 1e-12)).all(), (seed, k)


def test_knn_empty_corpus_short_circuits(spark):
    from pyspark.sql import functions as F
    from cdap_geo_spark import udfs
    corpus = spark.createDataFrame(
        [], "doc_id string, geometry binary")
    queries = spark.createDataFrame(
        [("q1", 5.0, 9.0)], "query_id string, x double, y double"
    ).select("query_id", udfs.st_point()(F.col("x"), F.col("y")).alias("geometry"))
    got = knn_join(queries, corpus, k=3, level=9).toPandas()
    assert len(got) == 0
    assert list(got.columns) == ["query_id", "doc_id", "dist", "rank"]


def test_seed_radius():
    import math
    from cdap_geo_spark.operators.knn import (
        MAX_SEED_RADIUS, SEED_SAFETY, _seed_radius)
    # degenerate inputs never seed
    assert _seed_radius(0, 1e12, 5, 1000.0) == 0
    assert _seed_radius(100, 0.0, 5, 1000.0) == 0
    # dense corpus: inscribed disk of one cell already expects >> 4k
    # points, so the seed stays at the smallest certifiable radius (1)
    assert _seed_radius(1_000_000, 1e10, 5, 16384.0) == 1
    # sparse corpus: radius grows like 1/sqrt(density) ...
    r = _seed_radius(1_000, 1e12, 5, 1000.0)
    expect = math.ceil(
        math.sqrt(SEED_SAFETY * 5 / (math.pi * 1_000 / 1e12)) / 1000.0)
    assert r == min(MAX_SEED_RADIUS, expect) and r > 1
    # ... but is capped: ultra-sparse pays rounds, not a quadratic probe
    assert _seed_radius(10, 1e14, 50, 100.0) == MAX_SEED_RADIUS


def test_knn_rejects_non_point_corpus(spark):
    """Round-5 contract: a box/polygon corpus used to silently rank by
    bounds min-corner distance; it must raise unless the caller opts
    into that semantics explicitly."""
    import pytest
    from pyspark.sql import functions as F

    from cdap_geo_spark import fixtures
    from cdap_geo_spark.operators.knn import knn_join

    queries = fixtures.knn_queries(spark, 3)
    boxes = fixtures.regions(spark, 30).withColumnRenamed(
        "region_id", "doc_id")
    with pytest.raises(ValueError, match="non-point"):
        knn_join(queries, boxes, k=2, level=9).count()
    # opt-in keeps the documented corner-distance behaviour
    got = knn_join(queries, boxes, k=2, level=9,
                   require_points=False)
    assert got.count() == 6
    # and a point corpus still validates clean
    pts = fixtures.knn_queries(spark, 80).select(
        F.col("query_id").alias("doc_id"), "geometry")
    assert knn_join(queries, pts, k=2, level=9).count() == 6


# --- differential tests: broadcast route vs ring loop vs brute force ---

#: POINT EMPTY (NaN coordinates) and GEOMETRYCOLLECTION EMPTY
POINT_EMPTY = b"\x01\x01\x00\x00\x00" + struct.pack("<dd", math.nan, math.nan)
COLLECTION_EMPTY = b"\x01\x07\x00\x00\x00\x00\x00\x00\x00"


def _points(spark, rows, id_type="string", parts=1):
    """(id, geometry) frame from (id, x, y) rows, ``parts`` partitions
    dealt round-robin; a row (id, wkb) keeps its raw WKB (or None)."""
    from cdap_geo_spark.core import wkb as W
    data = [(r[0], W.point_to_wkb(float(r[1]), float(r[2])))
            if len(r) == 3 else r for r in rows]
    rdd = spark.sparkContext.parallelize(data, parts)
    return spark.createDataFrame(rdd, f"gid {id_type}, geometry binary")


def _bruteforce(queries, corpus, k):
    """Sorted (query_id, rank, doc_id, dist) rows of the exact kNN over
    the (id, x, y) rows, ranked by (dist, doc_id)."""
    out = []
    for qid, qx, qy in (q for q in queries if len(q) == 3):
        ranked = sorted((math.sqrt((qx - cx) * (qx - cx)
                                   + (qy - cy) * (qy - cy)), cid)
                        for cid, cx, cy in (c for c in corpus if len(c) == 3))
        out += [(qid, i + 1, cid, d) for i, (d, cid) in
                enumerate(ranked[:k])]
    return sorted(out)


def _routes(spark, queries, corpus, k, *, id_type="string", parts=4,
            level=9):
    """knn_join's rows on each route (forced), as ``_rows`` lists."""
    q = _points(spark, queries, id_type).withColumnRenamed("gid", "query_id")
    c = _points(spark, corpus, id_type, parts) \
        .withColumnRenamed("gid", "doc_id")
    return {route: _rows(knn_join(q, c, k=k, level=level,
                                  broadcast_queries=flag))
            for route, flag in (("broadcast", True), ("rings", False))}


def _assert_routes_exact(spark, queries, corpus, k, **kw):
    want = _bruteforce(queries, corpus, k)
    got = _routes(spark, queries, corpus, k, **kw)
    assert got["broadcast"] == want
    assert got["rings"] == want


def test_knn_distance_ties_across_partitions(spark):
    # eight points at exactly 5 m from the query, one per partition,
    # ids not in coordinate order: both routes must keep the smallest
    # ids, the (dist, corpus_id) rule, from every partition's share
    ring = [(3, 4), (4, 3), (-3, 4), (5, 0), (0, 5), (-5, 0), (0, -5),
            (-4, -3)]
    ids = ["c7", "c2", "c5", "c0", "c6", "c1", "c4", "c3"]
    corpus = [(i, 1000.0 + x, 2000.0 + y) for i, (x, y) in zip(ids, ring)]
    corpus += [("far", 9000.0, 9000.0)]
    queries = [("q", 1000.0, 2000.0)]
    _assert_routes_exact(spark, queries, corpus, 3, parts=len(corpus))
    # long ids order numerically, not as strings
    corpus = [(int(i[1:]) * 10, x, y) for i, x, y in corpus[:-1]]
    _assert_routes_exact(spark, [(1, 1000.0, 2000.0)], corpus, 4,
                         id_type="long", parts=8)


def test_knn_duplicate_coordinates(spark):
    rng = np.random.RandomState(23)
    xy = rng.randint(0, 50_000, size=(40, 2)).astype(float)
    corpus = [(f"c{i:02d}", *xy[i % 13]) for i in range(40)]
    queries = [(f"q{j}", *xy[j]) for j in range(5)] \
        + [("q_dup", *xy[0]), ("q_off", 25_000.5, 25_000.5)]
    _assert_routes_exact(spark, queries, corpus, 6)


def test_knn_negative_coordinates(spark):
    rng = np.random.RandomState(29)
    pts = rng.uniform(-300_000, 300_000, size=(120, 2)).round(1)
    corpus = [(f"c{i:03d}", *pts[i]) for i in range(100)]
    queries = [(f"q{i:03d}", *pts[i]) for i in range(100, 120)]
    _assert_routes_exact(spark, queries, corpus, 5)


def test_knn_points_outside_the_cell_world(spark):
    # x below WORLD_X0 = -1,048,576: the cell index must clamp to the
    # grid edge on both sides, or A (10 km away) is never probed and B
    # (1,040 km away) is reported as the certified nearest neighbour
    corpus = [("A", -1_050_000.0, 0.0), ("B", 0.0, 0.0)]
    queries = [("q", -1_040_000.0, 0.0), ("q_out", -1_300_000.0, 300_000.0)]
    want = _bruteforce(queries, corpus, 1)
    assert [r[2] for r in want] == ["A", "A"]
    _assert_routes_exact(spark, queries, corpus, 1)


def test_knn_null_and_empty_geometries(spark):
    corpus = [("c1", 10.0, 10.0), ("c2", None), ("c3", POINT_EMPTY),
              ("c4", COLLECTION_EMPTY), ("c5", 500.0, 40.0),
              ("c6", -70.0, 3.0)]
    queries = [("q1", 0.0, 0.0), ("q2", None), ("q3", POINT_EMPTY),
               ("q4", 400.0, 0.0)]
    _assert_routes_exact(spark, queries, corpus, 2)


def test_knn_k_larger_than_corpus(spark):
    corpus = [("c1", 0.0, 0.0), ("c2", 100.0, 0.0), ("c3", 0.0, 300.0)]
    queries = [("q1", 1.0, 1.0), ("q2", -400_000.0, 700_000.0)]
    _assert_routes_exact(spark, queries, corpus, 10)


@pytest.mark.parametrize("flag", [True, False])
def test_knn_non_finite_coordinates_take_no_part(spark, flag):
    # a NaN or infinite coordinate takes no part, like a null or empty
    # geometry: the other rows' neighbours are the finite rows' exact kNN
    corpus = [("c1", 0.0, 0.0), ("c2", 10.0, 0.0), ("c3", 0.0, 20.0)]
    queries = [("q1", 3.0, 0.0), ("q2", 5.0, 5.0)]
    want = _bruteforce(queries, corpus, 2)
    cases = [(queries, corpus + [("bad", 0.5, math.nan)]),
             (queries, corpus + [("bad", math.inf, 0.0)]),
             (queries, corpus + [("bad", 5.0, -math.inf)]),
             (queries + [("bad", 3.0, math.nan)], corpus),
             (queries + [("bad", math.inf, 2.0)], corpus)]
    for qs, cs in cases:
        q = _points(spark, qs).withColumnRenamed("gid", "query_id")
        c = _points(spark, cs, parts=2).withColumnRenamed("gid", "doc_id")
        got = _rows(knn_join(q, c, k=2, broadcast_queries=flag))
        assert got == want, (qs, cs)


def test_knn_broadcast_result_outlives_its_checkpoint_scope(spark):
    # the broadcast route returns a local relation, which an action can
    # read after the scope closes
    from cdap_geo_spark.core.lifetime import checkpoint_scope
    queries = fixtures.knn_queries(spark, 20)
    corpus = fixtures.knn_queries(spark, 500).withColumnRenamed(
        "query_id", "doc_id")
    with checkpoint_scope():
        bc = knn_join(queries, corpus, k=3, broadcast_queries=True)
        want = _rows(knn_join(queries, corpus, k=3,
                              broadcast_queries=False))
    assert len(want) == 20 * 3
    assert _rows(bc) == want


@pytest.mark.parametrize("flag", [True, False])
def test_knn_empty_corpus_keeps_schema(spark, flag):
    corpus = _points(spark, [], parts=2).withColumnRenamed("gid", "doc_id")
    queries = _points(spark, [("q1", 5.0, 9.0)]) \
        .withColumnRenamed("gid", "query_id")
    got = knn_join(queries, corpus, k=3, broadcast_queries=flag)
    assert got.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("query_id", "string"), ("doc_id", "string"), ("dist", "double"),
        ("rank", "int")]


@pytest.mark.parametrize("flag", [True, False])
def test_knn_require_points_raises_at_call_time(spark, flag):
    from pyspark.sql import functions as F
    from cdap_geo_spark import udfs
    pts = fixtures.knn_queries(spark, 10)
    boxes = fixtures.regions(spark, 10).select(
        F.col("region_id").alias("query_id"), "geometry")
    corpus = pts.withColumnRenamed("query_id", "doc_id")
    # no action on the result: knn_join itself raises
    with pytest.raises(ValueError, match="corpus contains non-point"):
        knn_join(pts, boxes.withColumnRenamed("query_id", "doc_id"), k=2,
                 broadcast_queries=flag)
    with pytest.raises(ValueError, match="queries contain non-point"):
        knn_join(boxes, corpus, k=2, broadcast_queries=flag)
    # a degenerate box (zero extent) is a point
    one = spark.createDataFrame(
        [("b", 5.0, 5.0)], "query_id string, x double, y double"
    ).select("query_id",
             udfs.st_box()("x", "y", "x", "y").alias("geometry"))
    assert knn_join(one, corpus, k=2, broadcast_queries=flag).count() == 2


def _random_boxes(spark, n, seed, prefix, max_side=40000.0, min_side=10.0):
    import numpy as np
    from pyspark.sql import functions as F
    from cdap_geo_spark import udfs
    rng = np.random.RandomState(seed)
    x = rng.uniform(0, 600000, n)
    y = rng.uniform(0, 1200000, n)
    if max_side <= 0:
        w = h = np.zeros(n)          # point-degenerate boxes
    else:
        w = rng.uniform(min_side, max_side, n)
        h = rng.uniform(min_side, max_side, n)
    rows = [(f"{prefix}{i}", float(x[i]), float(y[i]),
             float(x[i] + w[i]), float(y[i] + h[i])) for i in range(n)]
    df = spark.createDataFrame(
        rows, "gid string, minx double, miny double, maxx double, maxy double")
    return df.select("gid", "minx", "miny", "maxx", "maxy",
                     udfs.st_box()(F.col("minx"), F.col("miny"),
                                   F.col("maxx"), F.col("maxy"))
                         .alias("geometry"))


def test_knn_box_matches_bruteforce(spark):
    """Box-mode kNN vs the O(n^2) box-to-box distance oracle: exact
    ranks AND distances, including dist-0 overlapping pairs (many
    zero ties broken by corpus id) and queries in sparse corners."""
    import numpy as np
    corpus = _random_boxes(spark, 120, 3, "c").cache()
    queries = _random_boxes(spark, 25, 7, "q").cache()
    k = 4
    got = knn_join(queries.selectExpr("gid as query_id", "geometry"),
                   corpus.selectExpr("gid as doc_id", "geometry"),
                   k=k, level=8, how="box").toPandas()

    qp = queries.toPandas()
    cp = corpus.toPandas()

    def boxdist(q, c):
        dx = max(q.minx - c.maxx, c.minx - q.maxx, 0.0)
        dy = max(q.miny - c.maxy, c.miny - q.maxy, 0.0)
        return float(np.hypot(dx, dy))

    for q in qp.itertuples():
        d = [(boxdist(q, c), c.gid) for c in cp.itertuples()]
        want = sorted(d)[:k]
        sub = got[got.query_id == q.gid].sort_values("rank")
        have = [(round(float(r.dist), 6), r.doc_id) for r in sub.itertuples()]
        assert have == [(round(dd, 6), g) for dd, g in want], q.gid
        # certified exactness must include zero-distance overlaps
    assert (got.dist == 0).any()   # the fixture produces overlaps


def test_knn_box_degenerate_boxes_match_point_mode(spark):
    """Point-degenerate boxes (minx==maxx, miny==maxy) under how='box'
    must reproduce the point mode's (id, rank, dist) exactly."""
    corpus = _random_boxes(spark, 150, 11, "c", max_side=0.0) \
        .selectExpr("gid as doc_id", "geometry").cache()
    queries = _random_boxes(spark, 8, 13, "q", max_side=0.0) \
        .selectExpr("gid as query_id", "geometry").cache()
    pt = knn_join(queries, corpus, k=3, level=9,
                  require_points=False).toPandas()
    bx = knn_join(queries, corpus, k=3, level=9,
                  how="box").toPandas()
    key = ["query_id", "rank"]
    pt = pt.sort_values(key).reset_index(drop=True)
    bx = bx.sort_values(key).reset_index(drop=True)
    assert list(pt.doc_id) == list(bx.doc_id)
    assert np.allclose(pt.dist, bx.dist)


def test_knn_centroid_pointify_closes_the_polygon_guard(spark):
    """The require_points guard suggests centroiding a polygon corpus;
    st_centroid makes that a one-liner, and the result must equal
    brute-force kNN on the exact centroids."""
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F
    from cdap_geo_spark import udfs

    rng = np.random.RandomState(5)
    n = 120
    cx = rng.uniform(1000, 99_000, n)
    cy = rng.uniform(1000, 99_000, n)
    w = rng.uniform(100, 900, n)
    h = rng.uniform(100, 900, n)
    corpus = spark.createDataFrame(
        [(int(i), float(cx[i] - w[i] / 2), float(cy[i] - h[i] / 2),
          float(cx[i] + w[i] / 2), float(cy[i] + h[i] / 2))
         for i in range(n)],
        "doc_id long, minx double, miny double, maxx double, maxy double"
    ).select("doc_id", udfs.st_box()("minx", "miny", "maxx", "maxy")
             .alias("geometry"))
    queries = spark.createDataFrame(
        [(int(q), float(rng.uniform(0, 100_000)),
          float(rng.uniform(0, 100_000))) for q in range(8)],
        "query_id long, x double, y double").select(
        "query_id", udfs.st_point()("x", "y").alias("geometry")).cache()
    qpd = queries.select("query_id",
                         udfs.st_bounds()("geometry").alias("b")).toPandas()

    # boxes refuse point-mode kNN...
    with pytest.raises(ValueError, match="point"):
        knn_join(queries, corpus, k=3, level=6).toPandas()
    # ...centroiding them is the documented fix
    pts = corpus.select("doc_id",
                        udfs.st_centroid()("geometry").alias("geometry"))
    got = knn_join(queries, pts, k=3, level=6).toPandas()

    for _, q in qpd.iterrows():
        qx, qy = q.b["minx"], q.b["miny"]
        d2 = (cx - qx) ** 2 + (cy - qy) ** 2
        order = sorted(range(n), key=lambda i: (d2[i], i))[:3]
        sub = got[got.query_id == q.query_id].sort_values("rank")
        assert list(sub.doc_id) == order, q.query_id


def test_idw_interpolate_matches_bruteforce(spark):
    import random

    from cdap_geo_spark.operators.knn import idw_interpolate

    rng = random.Random(19)
    corpus = [(i, rng.randrange(10000), rng.randrange(10000),
               rng.randrange(1, 1000)) for i in range(300)]
    queries = [(j, rng.randrange(10000), rng.randrange(10000))
               for j in range(8)]
    got = {r.query_id: (r.n_nb, r.num, r.den, r.est_centi)
           for r in idw_interpolate(
               spark.createDataFrame(queries, "query_id long, x long, y long"),
               spark.createDataFrame(corpus,
                                     "doc_id long, x long, y long, v long"),
               k=4, level=6).collect()}
    for qid, qx, qy in queries:
        nn = sorted(corpus, key=lambda c: ((c[1] - qx) ** 2
                                           + (c[2] - qy) ** 2, c[0]))[:4]
        num = den = 0
        for cid, cx, cy, v in nn:
            d2 = max((cx - qx) ** 2 + (cy - qy) ** 2, 1)
            num += int(v * 1e12 / d2 + 0.5)
            den += int(1e12 / d2 + 0.5)
        want = (4, num, den, int(num / den * 100 + 0.5))
        assert got[qid] == want, qid


def test_idw_coincident_point_dominates(spark):
    from cdap_geo_spark.operators.knn import idw_interpolate
    corpus = [(1, 50, 50, 777), (2, 900, 900, 1), (3, 901, 900, 2),
              (4, 900, 901, 3)]
    queries = [(0, 50, 50)]
    r = idw_interpolate(
        spark.createDataFrame(queries, "query_id long, x long, y long"),
        spark.createDataFrame(corpus, "doc_id long, x long, y long, v long"),
        k=4, level=5).collect()[0]
    assert r.n_nb == 4
    assert abs(r.est_centi - 77700) < 100  # coincident value dominates


def test_knn_classify_matches_bruteforce(spark):
    import random

    from pyspark.sql import functions as F
    from cdap_geo_spark.operators.knn import knn_classify

    rng = random.Random(61)
    corpus = [(i, rng.randrange(0, 1000), rng.randrange(0, 1000),
               f"L{i % 3}") for i in range(120)]
    queries = [(j, rng.randrange(0, 1000), rng.randrange(0, 1000))
               for j in range(8)]
    cdf = spark.createDataFrame(
        corpus, "doc_id long, x long, y long, label string")
    qdf = spark.createDataFrame(queries, "query_id long, x long, y long")
    got = {r.query_id: (r.label, r.votes) for r in
           knn_classify(qdf, cdf, k=5, level=6).collect()}
    want = {}
    for qid, qx, qy in queries:
        ranked = sorted(corpus,
                        key=lambda c: ((c[1] - qx) ** 2 + (c[2] - qy) ** 2,
                                       c[0]))[:5]
        from collections import Counter
        cnt = Counter(c[3] for c in ranked)
        best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want[qid] = best
    assert got == want


def test_knn_classify_tie_breaks_to_smallest_label(spark):
    from cdap_geo_spark.operators.knn import knn_classify

    # 4 neighbors, 2-2 label split at k=4: 'A' must win the tie
    corpus = [(1, 10, 0, "B"), (2, 0, 10, "A"),
              (3, 10, 10, "B"), (4, 5, 5, "A"),
              (5, 900, 900, "C")]
    queries = [(0, 0, 0)]
    cdf = spark.createDataFrame(
        corpus, "doc_id long, x long, y long, label string")
    qdf = spark.createDataFrame(queries, "query_id long, x long, y long")
    got = knn_classify(qdf, cdf, k=4, level=6).collect()
    assert [(r.query_id, r.label, r.votes) for r in got] == [(0, "A", 2)]


# --- ring route: far queries, box edges ---

def test_knn_far_query_rings_end_and_find_the_neighbour(spark):
    # level 16 (64 m cells), a 2-point corpus, one query 1,000 km away:
    # 15,625 cell rings separate it from the corpus, so the rings must
    # stay clipped to the corpus extent and the loop end by itself
    corpus = [("a", 0.0, 0.0), ("b", 500.0, 300.0)]
    queries = [("near", 100.0, 100.0), ("far", 1_000_000.0, 0.0)]
    q = _points(spark, queries).withColumnRenamed("gid", "query_id")
    c = _points(spark, corpus, parts=2).withColumnRenamed("gid", "doc_id")
    got = _rows(knn_join(q, c, k=1, level=16, broadcast_queries=False))
    assert got == _bruteforce(queries, corpus, 1)


def test_knn_dense_query_window_ignores_a_wide_extent(spark, monkeypatch):
    # level 16 (64 m cells): 300 points in a 1 km cluster, then the same
    # with two more points 800 km away, which widen the corpus extent to
    # 12,500 cells a side. The cluster queries' probe rows must follow
    # the cluster's density, not the extent, and the rows stay exact
    from cdap_geo_spark.operators import knn as K
    rng = np.random.RandomState(5)
    xy = rng.uniform(200_000, 201_000, (300, 2)).round(1)
    cluster = [(f"c{i:03d}", x, y) for i, (x, y) in enumerate(xy)]
    far = [("far1", 1_000_000.0, 900_000.0), ("far2", 1_000_000.0, 0.0)]
    queries = [(f"q{i}", 200_100.0 + 200 * i, 200_500.0) for i in range(5)]
    q = _points(spark, queries).withColumnRenamed("gid", "query_id")
    probes: list = []
    explode = K.explode_grid

    def counted(df, ranges, level):
        out = explode(df, ranges, level)
        if "query_id" in df.columns:
            probes.append(out.count())
        return out
    monkeypatch.setattr(K, "explode_grid", counted)
    for corpus in (cluster, cluster + far):
        c = _points(spark, corpus, parts=2).withColumnRenamed("gid", "doc_id")
        got = _rows(K.knn_join(q, c, k=5, level=16, broadcast_queries=False))
        assert got == _bruteforce(queries, corpus, 5)
    assert probes[1] <= 2 * probes[0], probes


def _box_rows(spark, rows):
    """(gid, geometry) frame from (id, minx, miny, maxx, maxy) rows; a
    row (id, wkb) keeps its raw WKB (or None)."""
    from cdap_geo_spark.core import wkb as W
    data = [(r[0], bytes(W.boxes_to_wkb([r[1]], [r[2]], [r[3]], [r[4]])[0]))
            if len(r) == 5 else r for r in rows]
    return spark.createDataFrame(spark.sparkContext.parallelize(data, 3),
                                 "gid string, geometry binary")


def _box_bruteforce(queries, corpus, k):
    """Sorted (query_id, rank, doc_id, dist) rows of the exact kNN under
    box-to-box distance, ranked by (dist, doc_id)."""
    out = []
    for qid, qx0, qy0, qx1, qy1 in (q for q in queries if len(q) == 5):
        ranked = []
        for cid, cx0, cy0, cx1, cy1 in (c for c in corpus if len(c) == 5):
            dx = max(qx0 - cx1, cx0 - qx1, 0.0)
            dy = max(qy0 - cy1, cy0 - qy1, 0.0)
            ranked.append((math.sqrt(dx * dx + dy * dy), cid))
        out += [(qid, i + 1, cid, d)
                for i, (d, cid) in enumerate(sorted(ranked)[:k])]
    return sorted(out)


@pytest.mark.parametrize("flag", [True, False])
def test_knn_box_edges_match_bruteforce(spark, flag):
    """Box mode vs the box-distance brute force, exact (rank, id,
    dist): boxes on cell edges (level 8: 16,384 m cells), boxes over
    many cells, zero-distance overlaps tied by id, negative
    coordinates, boxes beyond the world frame and null/empty
    geometries; probes broadcast or shuffled."""
    cs = 16384.0
    corpus = [
        ("e0", 0.0, 0.0, cs, cs), ("e1", cs, 0.0, 2 * cs, cs),
        ("e2", -2 * cs, -cs, -cs, 0.0), ("pt", cs, 2 * cs, cs, 2 * cs),
        ("big", -200_000.0, 100_000.0, 300_000.0, 150_000.0),
        ("o3", 50_000.0, 50_000.0, 70_000.0, 70_000.0),
        ("o1", 40_000.0, 40_000.0, 60_000.0, 60_000.0),
        ("o2", 45_000.0, 45_000.0, 55_000.0, 55_000.0),
        ("neg", -500_000.5, -300_000.25, -499_000.0, -299_500.0),
        ("out1", -1_200_000.0, 0.0, -1_100_000.0, 10.0),
        ("out2", 3_200_000.0, 3_300_000.0, 3_250_000.0, 3_400_000.0),
        ("null", None), ("pempty", POINT_EMPTY), ("cempty", COLLECTION_EMPTY),
    ]
    rng = np.random.RandomState(31)
    for i in range(40):
        x, y = rng.uniform(-600_000, 600_000, 2).round(2)
        w, h = rng.uniform(0, 3 * cs, 2).round(2)
        corpus.append((f"r{i:02d}", x, y, x + w, y + h))
    queries = [
        ("qa", 0.0, 0.0, cs, cs),
        ("qb", 50_000.0, 50_000.0, 50_000.0, 50_000.0),
        ("qc", -1_300_000.0, -1_300_000.0, -1_250_000.0, -1_250_000.0),
        ("qd", -100_000.0, -100_000.0, 400_000.0, 400_000.0),
        ("qe", -700_000.0, -50_000.0, -690_000.0, -40_000.0),
        ("qf", 2 * cs, 3 * cs, 2 * cs, 4 * cs),
        ("qg", 3_300_000.0, 3_500_000.0, 3_400_000.0, 3_600_000.0),
        ("qnull", None), ("qempty", POINT_EMPTY),
    ]
    q = _box_rows(spark, queries).withColumnRenamed("gid", "query_id")
    c = _box_rows(spark, corpus).withColumnRenamed("gid", "doc_id")
    want = _box_bruteforce(queries, corpus, 4)
    assert sum(r[3] == 0.0 for r in want) >= 8   # overlaps and ties
    got = _rows(knn_join(q, c, k=4, level=8, how="box",
                         broadcast_queries=flag))
    assert got == want


@pytest.mark.parametrize("level", [9, 12, 16])
@pytest.mark.parametrize("how", ["point", "box"])
@pytest.mark.parametrize("seed", [1, 2])
def test_knn_histogram_route_random_differential(spark, monkeypatch, seed,
                                                 how, level):
    """The histogram route against brute force on a random scene drawn
    in units of ``level`` cells, so every level sees the same shape:
    clusters of 8 rows (k 11 exceeds one), a few wide rows, a few rows
    beyond the world frame's left edge, and queries in the clusters,
    between them and outside the frame. The histogram's cell budget is
    cut so it is counted some shifts coarser than ``level``."""
    from cdap_geo_spark.core import cells as C
    from cdap_geo_spark.operators import knn as K
    monkeypatch.setattr(K, "HIST_CELLS", 16)
    shifts = []
    query_pass = K._query_pass

    def spied(k, level, box, schema, hist=None):
        shifts.append(None if hist is None else hist[3])
        return query_pass(k, level, box, schema, hist)
    monkeypatch.setattr(K, "_query_pass", spied)
    rng = np.random.RandomState(seed)
    k = 11 if seed == 1 else 4
    cs = C.cell_size(level)
    # the scene's origin lies 20 cells inside the frame's corner
    pts = np.r_[_clusters(rng, 0, 60, 6, 8, 2, 4),
                rng.uniform([-30, 0], [-21, 60], (3, 2))]
    qs = np.r_[pts[rng.randint(48, size=3)] + rng.normal(0, 1, (3, 2)),
               rng.uniform(0, 60, (3, 2)), [[-50, 30], [30, -70]],
               [[-500, -500]]]

    def world(xy, side):
        x0, y0 = (C.WORLD_X0 + 20 * cs + xy[:, 0] * cs,
                  C.WORLD_Y0 + 20 * cs + xy[:, 1] * cs)
        return [(x0[i], y0[i], x0[i] + side[i, 0] * cs,
                 y0[i] + side[i, 1] * cs) for i in range(len(xy))]
    if how == "point":
        corpus = [(f"c{i:02d}", b[0], b[1]) for i, b in
                  enumerate(world(pts, np.zeros((len(pts), 2))))]
        queries = [(f"q{i}", b[0], b[1]) for i, b in
                   enumerate(world(qs, np.zeros((len(qs), 2))))]
        q = _points(spark, queries).withColumnRenamed("gid", "query_id")
        c = _points(spark, corpus, parts=3).withColumnRenamed("gid", "doc_id")
        want = _bruteforce(queries, corpus, k)
    else:
        corpus = [(f"c{i:02d}", *b) for i, b in enumerate(
            world(pts, rng.uniform(0, 3, (len(pts), 2))))]
        queries = [(f"q{i}", *b) for i, b in enumerate(
            world(qs, rng.uniform(0, 2, (len(qs), 2))))]
        q = _box_rows(spark, queries).withColumnRenamed("gid", "query_id")
        c = _box_rows(spark, corpus).withColumnRenamed("gid", "doc_id")
        want = _box_bruteforce(queries, corpus, k)
    got = _rows(knn_join(q, c, k=k, level=level, how=how,
                         broadcast_queries=False))
    assert got == want
    assert shifts[-1] is not None and shifts[-1] > 0, shifts
