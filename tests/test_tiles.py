"""Operator tests: tile frame + tile assignment parity.

``split_grid`` boxes must match the reference's enumeration
(``cdap_geo/misc.py:6-17``: x-major then y, equal boxes); the
fixed-grid cover must reproduce
``bbox_index`` (``cdap_geo/index_bbox.py:15-30``) bit-for-bit.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdap_geo_spark import docs as D, fixtures, udfs
from cdap_geo_spark.core import wkb as W
from cdap_geo_spark.operators.sjoin import sjoin_pairs
from cdap_geo_spark.operators.tiles import assign_tiles, grid_cover_udf, split_grid

import oracle


def _reference_split_grid(bbox, splits):
    """Direct transcription of cdap_geo/misc.py:6-17 (minus shapely)."""
    x0, y0, x1, y1 = bbox
    dx, dy = (x1 - x0) / splits, (y1 - y0) / splits
    X = np.arange(x0, x1 + dx, dx)
    Y = np.arange(y0, y1 + dy, dy)
    return [
        (xmin, ymin, xmax, ymax)
        for (xmin, xmax) in zip(X[:-1], X[1:])
        for (ymin, ymax) in zip(Y[:-1], Y[1:])
    ]


def _reference_bbox_index(minx, miny, maxx, maxy, resolutions, limits):
    """Direct transcription of cdap_geo/index_bbox.py:15-30."""
    indexes = []
    for x in range(limits[0], limits[2], resolutions[0]):
        for y in range(limits[1], limits[3], resolutions[1]):
            if minx < x < maxx + resolutions[0] and miny < y < maxy + resolutions[1]:
                indexes.append(f"{x}-{y}")
    return indexes


def test_split_grid_matches_reference_enumeration(spark):
    bbox = (0.0, 0.0, 4000.0, 4000.0)
    got = split_grid(spark, bbox, 4).orderBy("tile_id").collect()
    want = _reference_split_grid(bbox, 4)
    got_boxes = sorted((r.minx, r.miny, r.maxx, r.maxy) for r in got)
    assert got_boxes == sorted(want)
    assert len(got) == 16
    # enumeration order (pre-sort) is x-major then y
    raw = split_grid(spark, bbox, 4).collect()
    assert [(r.minx, r.miny) for r in raw[:5]] == \
        [(0, 0), (0, 1000), (0, 2000), (0, 3000), (1000, 0)]
    # tile geometry is the box polygon
    g = oracle.parse(bytes(raw[0].geometry))
    assert oracle.area(g) == pytest.approx(1000.0 * 1000.0)


def test_grid_cover_reference_compat(spark):
    # random bboxes; engine O(covered) enumeration == reference O(grid) scan
    rng = np.random.RandomState(5)
    res = [100_000, 100_000]
    lim = [-500_000, -500_000, 1_500_000, 1_500_000]
    rows = []
    for _ in range(50):
        x0, y0 = rng.uniform(-400000, 1300000), rng.uniform(-400000, 1300000)
        rows.append((float(x0), float(y0),
                     float(x0 + rng.uniform(0, 300000)),
                     float(y0 + rng.uniform(0, 300000))))
    # grid-aligned edge cases
    rows += [(0.0, 0.0, 100000.0, 100000.0), (100000.0, 0.0, 100000.0, 0.0)]
    df = spark.createDataFrame(rows, "minx double, miny double, maxx double, maxy double")
    cov = grid_cover_udf(res, lim)
    got = df.select(cov("minx", "miny", "maxx", "maxy").alias("c")).collect()
    for row, g in zip(rows, got):
        want = _reference_bbox_index(*row, res, lim)
        assert sorted(g["c"]) == sorted(want), row


def test_assign_tiles_matches_box_oracle(spark):
    dd = fixtures.documents(spark, 200, partitions=2)
    dg = D.with_geometry(dd).cache()
    bbox = (0, 0, 700_000, 1_300_000)
    splits = 10  # 70km x 130km tiles
    got = set(map(tuple, assign_tiles(dg, bbox=bbox, splits=splits).collect()))
    # oracle: direct box-containment in pandas (FIXTURES.md oracle §1×§3)
    docs_pd = dg.select("doc_id", "geometry").toPandas()
    tiles = _reference_split_grid(bbox, splits)
    want = set()
    for i, blob in enumerate(docs_pd.geometry):
        g = oracle.parse(bytes(blob))
        for (mnx, mny, mxx, mxy) in tiles:
            tile = {"type": "Polygon", "rings": [[
                (mnx, mny), (mxx, mny), (mxx, mxy), (mnx, mxy), (mnx, mny)]]}
            if oracle.intersects(g, tile):
                want.add((docs_pd.doc_id[i], f"{int(mnx)}-{int(mny)}"))
    assert got == want


def test_assign_tiles_point_single_tile(spark):
    pts = spark.createDataFrame([("a", 5.0, 5.0), ("b", 1999.0, 1.0)],
                                "doc_id string, x double, y double")
    pts = pts.select("doc_id", udfs.st_point()(F.col("x"), F.col("y"))
                     .alias("geometry"))
    got = set(map(tuple, assign_tiles(pts, bbox=(0, 0, 2000, 2000),
                                      splits=2).collect()))
    assert got == {("a", "0-0"), ("b", "1000-0")}


#: case -> (bbox of a point or box geometry, tiles it must get) on the
#: frame (0, 0, 700000, 1300000) cut 10 x 10
_FRAME_CASES = {
    "west": ((-50_000, 100_000, -50_000, 100_000), set()),
    "north": ((350_000, 1_400_000, 350_000, 1_400_000), set()),
    "east": ((800_000, 50, 800_000, 50), set()),
    "east_box": ((710_000, 0, 720_000, 10_000), set()),
    "corner_touch": ((700_000, 1_300_000, 700_000, 1_300_000),
                     {"630000-1170000"}),
    "edge_straddle": ((690_000, -10_000, 710_000, 10_000), {"630000-0"}),
    # a NaN or infinite bound takes no part, as in the sjoin covers
    "inf_vertex": ((100_000, 100_000, float("inf"), 110_000), set()),
    "nan_vertex": ((100_000, 100_000, 110_000, float("nan")), set()),
}


@pytest.fixture(scope="module")
def frame_case_tiles(spark):
    """Tiles per case from assign_tiles and from the generic sjoin
    against the split_grid tile table (one run each for all cases)."""
    bbox, splits = (0, 0, 700_000, 1_300_000), 10
    rows = []
    for case, ((mnx, mny, mxx, mxy), _) in _FRAME_CASES.items():
        blob = (W.points_to_wkb([mnx], [mny]) if (mnx, mny) == (mxx, mxy)
                else W.boxes_to_wkb([mnx], [mny], [mxx], [mxy]))[0]
        rows.append((case, bytes(blob)))
    df = spark.createDataFrame(rows, "doc_id string, geometry binary")

    def by_case(out):
        got = {}
        for r in out.collect():
            got.setdefault(r.doc_id, set()).add(r.tile_id)
        return got
    return (by_case(assign_tiles(df, bbox=bbox, splits=splits)),
            by_case(sjoin_pairs(df, split_grid(spark, bbox, splits),
                                right_id="tile_id")))


@pytest.mark.parametrize("case", sorted(_FRAME_CASES))
def test_assign_tiles_out_of_frame_matches_sjoin(frame_case_tiles, case):
    """A geometry whose bbox lies strictly outside the tile frame gets
    no tile, not a clamped edge tile; one touching or straddling the
    frame edge keeps its edge tile. Both agree with the generic sjoin
    against the tile table."""
    fast, joined = frame_case_tiles
    want = _FRAME_CASES[case][1]
    assert fast.get(case, set()) == joined.get(case, set()) == want


def test_tile_rollup_matches_bruteforce(spark):
    import numpy as np
    from cdap_geo_spark.operators.tiles import tile_rollup
    rng = np.random.RandomState(11)
    xs = rng.uniform(0, 2000, 400)
    ys = rng.uniform(0, 2000, 400)
    pts = spark.createDataFrame(
        [(int(i), float(xs[i]), float(ys[i])) for i in range(400)],
        "doc_id long, x double, y double").select(
        "doc_id", udfs.st_point()(F.col("x"), F.col("y")).alias("geometry"))
    assigned = assign_tiles(pts, bbox=(0, 0, 2000, 2000), splits=8)
    got = tile_rollup(assigned, resolutions=(250, 250), factor=2) \
        .toPandas().set_index("parent_tile_id").sort_index()
    fine = {}
    for x, y in zip(xs, ys):
        fine.setdefault((int(x // 250) * 250, int(y // 250) * 250), 0)
        fine[(int(x // 250) * 250, int(y // 250) * 250)] += 1
    want = {}
    for (fx, fy), n in fine.items():
        key = f"{fx // 500 * 500}-{fy // 500 * 500}"
        tot, cnt, mx = want.get(key, (0, 0, 0))
        want[key] = (tot + n, cnt + 1, max(mx, n))
    assert set(got.index) == set(want)
    for key, (tot, cnt, mx) in want.items():
        assert got.loc[key, "n_rows"] == tot
        assert got.loc[key, "n_child_tiles"] == cnt
        assert got.loc[key, "max_child_rows"] == mx


def test_tile_rollup_negative_origins_and_precounted(spark):
    from cdap_geo_spark.operators.tiles import tile_rollup
    # ids with negative origins parse unambiguously ('-100-200')
    rows = [(1, "-100-200"), (2, "-100-200"), (3, "-200--100"),
            (4, "0-0"), (5, "100--100")]
    df = spark.createDataFrame(rows, "doc_id long, tile_id string")
    got = {r.parent_tile_id: (r.n_rows, r.n_child_tiles, r.max_child_rows)
           for r in tile_rollup(df, resolutions=(100, 100),
                                factor=2).collect()}
    assert got == {"-200-200": (2, 1, 2),      # x=-100 -> parent -200
                   "-200--200": (1, 1, 1),     # (-200,-100) -> (-200,-200)
                   "0-0": (1, 1, 1),
                   "0--200": (1, 1, 1)}        # (100,-100) -> (0,-200)
    # pre-aggregated count relation rolls up identically
    pre = df.groupBy("tile_id").count()
    got2 = {r.parent_tile_id: (r.n_rows, r.n_child_tiles, r.max_child_rows)
            for r in tile_rollup(pre, resolutions=(100, 100), factor=2,
                                 count_col="count").collect()}
    assert got2 == got


def test_tile_pyramid_level1_equals_rollup_and_bruteforce(spark):
    from cdap_geo_spark.operators.tiles import tile_pyramid, tile_rollup
    import random
    rng = random.Random(41)
    # tiles at resolution (10, 10), including negative origins
    rows = [(i, f"{rng.randrange(-5, 5) * 10}-{rng.randrange(-5, 5) * 10}")
            for i in range(300)]
    df = spark.createDataFrame(rows, "row_id long, tile_id string")
    pyr = tile_pyramid(df, resolutions=(10, 10), factor=2, levels=2)
    got = {(r.level, r.tile_id): (r.n_rows, r.n_child_tiles,
                                  r.max_child_rows)
           for r in pyr.collect()}

    # level 1 must equal a direct tile_rollup of the raw assignment
    direct = {("L1", r.parent_tile_id): (r.n_rows, r.n_child_tiles,
                                         r.max_child_rows)
              for r in tile_rollup(df, resolutions=(10, 10),
                                   factor=2).collect()}
    assert {k[1]: v for k, v in got.items() if k[0] == 1} == \
           {k[1]: v for k, v in direct.items()}

    # brute force both levels
    import collections
    fine = collections.Counter(t for _, t in rows)

    def parent(tid, res):
        import re
        m = re.match(r"^(-?\d+)-(-?\d+)$", tid)
        px = (int(m.group(1)) // res) * res
        py = (int(m.group(2)) // res) * res
        return f"{px}-{py}"

    for lvl, res in ((1, 20), (2, 40)):
        if lvl == 1:
            groups = collections.defaultdict(list)
            for t, n in fine.items():
                groups[parent(t, 20)].append(n)
            l1 = {t: (sum(v), len(v), max(v)) for t, v in groups.items()}
            assert {k[1]: v for k, v in got.items() if k[0] == 1} == l1
        else:
            groups = collections.defaultdict(list)
            for t, (n, _, _) in l1.items():
                groups[parent(t, 40)].append(n)
            l2 = {t: (sum(v), len(v), max(v)) for t, v in groups.items()}
            assert {k[1]: v for k, v in got.items() if k[0] == 2} == l2


def test_tile_pyramid_validates_levels(spark):
    import pytest
    from cdap_geo_spark.operators.tiles import tile_pyramid
    df = spark.createDataFrame([(1, "0-0")], "row_id long, tile_id string")
    with pytest.raises(ValueError):
        tile_pyramid(df, resolutions=(10, 10), factor=2, levels=0)


def test_adaptive_tiles_brute_force_and_invariants(spark):
    import random
    from cdap_geo_spark.operators.tiles import adaptive_tiles
    random.seed(47)
    # skewed cloud: hot blob + sparse background
    pts = [(random.randrange(5000), random.randrange(5000))
           for _ in range(900)]
    pts += [(random.randrange(1 << 21), random.randrange(1 << 21))
            for _ in range(300)]
    df = spark.createDataFrame(pts, "x long, y long")
    k, lo, hi, wb = 100, 5, 9, 21
    got = {(r.level, r.tx, r.ty): r.n
           for r in adaptive_tiles(df, max_per_tile=k, min_level=lo,
                                   max_level=hi,
                                   world_bits=wb).collect()}

    from collections import Counter
    fin = Counter(((x >> (wb - hi), y >> (wb - hi)) for x, y in pts))
    anc = {lvl: Counter() for lvl in range(lo, hi)}
    for (tx, ty), n in fin.items():
        for lvl in range(lo, hi):
            d = hi - lvl
            anc[lvl][(tx >> d, ty >> d)] += n
    want = Counter()
    for (tx, ty), n in fin.items():
        leaf = hi
        for lvl in range(lo, hi):
            d = hi - lvl
            if anc[lvl][(tx >> d, ty >> d)] <= k:
                leaf = lvl
                break
        d = hi - leaf
        want[(leaf, tx >> d, ty >> d)] += n
    assert got == dict(want)
    # invariants: conservation; bound respected above max_level;
    # the skew actually forced deep splits AND kept coarse tiles
    assert sum(got.values()) == len(pts)
    assert all(n <= k for (lvl, _, _), n in got.items() if lvl < hi)
    assert any(lvl == hi for lvl, _, _ in got)   # hot blob hit the floor
    assert any(lvl == lo for lvl, _, _ in got)   # sparse areas stayed coarse
    # disjointness: no leaf is an ancestor of another leaf
    leaves = list(got)
    anc_set = set()
    for lvl, tx, ty in leaves:
        for up in range(lo, lvl):
            anc_set.add((up, tx >> (lvl - up), ty >> (lvl - up)))
    assert not (set(leaves) & anc_set)


def test_adaptive_tiles_validates(spark):
    import pytest as _pt
    from cdap_geo_spark.operators.tiles import adaptive_tiles
    df = spark.createDataFrame([(1, 2)], "x long, y long")
    with _pt.raises(ValueError):
        adaptive_tiles(df, max_per_tile=0)
    with _pt.raises(ValueError):
        adaptive_tiles(df, max_per_tile=5, min_level=10, max_level=9)


# ---------------------------------------------------------------------------
# tiles assigned inside the broadcast sjoin pass vs the tiles' own pass
# ---------------------------------------------------------------------------

#: a frame around the sjoin edge set, cut into 250 km tiles
_EDGE_FRAME, _EDGE_SPLITS = (-1_000_000, -1_000_000, 1_000_000, 1_000_000), 8


def _tile_edge_world():
    """The sjoin edge set plus tile edges: a line through three of its
    four candidate tiles, the L as a doc (nine candidates, eight hit),
    and a point on the frame's far corner inside a region."""
    from test_sjoin import _EDGE_DOCS, _EDGE_REGIONS, _L_POLY, _box, _line, _pt
    docs = _EDGE_DOCS + [
        (20, _line((120_000, 120_000), (480_000, 280_000))),
        (21, _L_POLY),
        (22, _pt(1_000_000, 1_000_000)),
    ]
    regions = _EDGE_REGIONS + [(108, _box(990_000, 990_000, 1_000_000,
                                          1_000_000))]
    return docs, regions


def _half_open_tiles(docs, tiles_by_doc):
    """Drop the tiles a geometry only touches from their far side: a
    tile owns its west and south edges, not its east and north ones,
    except on the frame's east and north edges."""
    import re
    bounds = dict(zip([d for d, _ in docs],
                      W.parse_wkb([g for _, g in docs]).bounds()))
    x1, y1 = _EDGE_FRAME[2], _EDGE_FRAME[3]
    rx = (_EDGE_FRAME[2] - _EDGE_FRAME[0]) // _EDGE_SPLITS
    ry = (_EDGE_FRAME[3] - _EDGE_FRAME[1]) // _EDGE_SPLITS
    out = {}
    for d, tiles in tiles_by_doc.items():
        b = bounds[d]
        for t in tiles:
            tx, ty = map(int, re.fullmatch(r"(-?\d+)-(-?\d+)", t).groups())
            if ((b[0] == tx + rx and tx + rx != x1)
                    or (b[1] == ty + ry and ty + ry != y1)):
                continue
            out.setdefault(d, set()).add(t)
    return out


@pytest.mark.parametrize("keep", [("region_id",), ()],
                         ids=["keep_region", "no_keep"])
def test_tiles_in_the_sjoin_pass_match_both_references(spark, no_broadcast,
                                                       keep):
    """assign_tiles over the broadcast sjoin frame (one pass) returns the
    rows of assign_tiles over a copy of that frame (its own pass), row
    for row, and the pairs of the shuffle sjoin times the tiles the
    generic sjoin finds against the split_grid table."""
    from collections import Counter
    docs_rows, region_rows = _tile_edge_world()
    docs = spark.createDataFrame(docs_rows, "doc_id long, geometry binary") \
        .repartition(3)
    regions = spark.createDataFrame(region_rows,
                                    "region_id long, geometry binary")
    pairs = sjoin_pairs(docs, regions, level=7, broadcast=True, dedup=False,
                        keep_left_geom=True)
    args = dict(bbox=_EDGE_FRAME, splits=_EDGE_SPLITS, keep=keep)
    fused = assign_tiles(pairs, **args)
    own = assign_tiles(pairs.select("*"), **args)
    assert fused.schema == own.schema

    from test_plans import _python_nodes
    assert len(_python_nodes(fused)) == 1  # tiled in the sjoin pass
    assert len(_python_nodes(own)) == 2
    got = Counter(map(tuple, fused.collect()))
    assert got == Counter(map(tuple, own.collect()))

    matched = {tuple(r) for r in sjoin_pairs(
        docs, regions, level=7, broadcast=False).collect()}
    tiles_by_doc = {}
    for r in sjoin_pairs(docs, split_grid(spark, _EDGE_FRAME, _EDGE_SPLITS),
                         right_id="tile_id", level=7,
                         broadcast=False).collect():
        tiles_by_doc.setdefault(r.doc_id, set()).add(r.tile_id)
    tiles_by_doc = _half_open_tiles(docs_rows, tiles_by_doc)
    want = {(d, r, t) for d, r in matched for t in tiles_by_doc.get(d, ())}
    if not keep:
        want = {(d, t) for d, _, t in want}
    assert set(got) == want
    # the cases are there: multi-tile refines, tile and frame edges,
    # matched docs outside the frame, repeated and null ids
    assert tiles_by_doc[20] == {"0-0", "250000-0", "250000-250000"}
    assert len(tiles_by_doc[21]) == 8
    assert "500000-500000" not in tiles_by_doc[21]
    assert tiles_by_doc[8] == {"-500000--500000"}
    assert tiles_by_doc[2] == {"0-0"}
    assert tiles_by_doc[22] == {"750000-750000"}
    assert {(10, 102), (11, 103), (18, 101)} <= matched
    assert not {10, 11, 18} & set(tiles_by_doc)
    # non-finite vertices: no pair and no tile
    assert not {23, 24} & ({d for d, _ in matched} | set(tiles_by_doc))
    assert 109 not in {r for _, r in matched}
    assert got[(1, 100, "0-0") if keep else (1, "0-0")] > 1
    assert any(k[0] is None for k in got)


def test_multipart_doc_gets_the_tile_of_every_part(spark):
    """A MultiPolygon whose second part lies wholly inside a tile,
    touching none of its edges, gets that tile as well as its first
    part's, from assign_tiles on its own pass and inside the sjoin
    pass."""
    from test_plans import _python_nodes
    from test_sjoin import _box
    doc = W.multi_to_wkb(W.KIND_MULTIPOLYGON, [
        _box(1_000, 1_000, 2_000, 2_000),
        _box(150_000, 300_000, 151_000, 301_000)])
    docs = spark.createDataFrame([(1, bytes(doc))],
                                 "doc_id long, geometry binary")
    regions = spark.createDataFrame([(10, _box(0, 0, 5_000, 5_000))],
                                    "region_id long, geometry binary")
    args = dict(bbox=(0, 0, 700_000, 1_300_000), splits=10)
    pairs = sjoin_pairs(docs, regions, level=7, broadcast=True, dedup=False,
                        keep_left_geom=True)
    fused = assign_tiles(pairs, **args)
    assert len(_python_nodes(fused)) == 1
    want = {"0-0", "140000-260000"}
    assert {r.tile_id for r in assign_tiles(docs, **args).collect()} == want
    assert {r.tile_id for r in fused.collect()} == want
