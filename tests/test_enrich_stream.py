"""Stream-static spatial enrich: the streaming plan must return
exactly the batch sjoin pairs, preserve payload columns, and stay
append-mode across multi-file feeds."""

import os
import shutil
import struct
from collections import Counter

import pytest
from pyspark.sql import functions as F

from cdap_geo_spark import docs as D, fixtures
from cdap_geo_spark.core import wkb as W
from cdap_geo_spark.operators.sjoin import sjoin_pairs
from cdap_geo_spark.streaming.enrich import spatial_enrich_stream
from cdap_geo_spark.streaming.windows import stream_from_directory


def _points(spark, n=300):
    d = fixtures.documents(spark, n, partitions=4)
    return D.with_geometry(d).select(
        "doc_id", F.size("spans").alias("n_spans"), "geometry")


def _regions(spark, n=40):
    return fixtures.regions(spark, n).select("region_id", "geometry")


def _run_stream(spark, tmp_path, batches, regions, name, before_start=None):
    src = str(tmp_path / name)
    os.makedirs(src, exist_ok=True)
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(src)
    stream = stream_from_directory(spark, src, batches[0].schema)
    out = spatial_enrich_stream(stream, regions, level=8)
    if before_start is not None:
        before_start()
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    return spark.sql(f"select * from {name}").toPandas()


def test_enrich_stream_matches_batch_sjoin(spark, tmp_path):
    pts = _points(spark)
    regs = _regions(spark)
    got = _run_stream(spark, tmp_path, [pts], regs, "enr1")
    want = sjoin_pairs(pts, regs, left_id="doc_id",
                       right_id="region_id", level=8).toPandas()
    key = lambda p: sorted(map(tuple, p[["doc_id", "region_id"]]
                               .itertuples(index=False)))
    assert len(want) > 0
    assert key(got) == key(want)
    # payload columns ride along; no helper columns leak
    assert set(got.columns) == {"doc_id", "n_spans", "geometry",
                                "region_id"}


def test_enrich_stream_multi_batch_and_batch_twin(spark, tmp_path):
    pts = _points(spark, 240).cache()
    regs = _regions(spark)
    b1 = pts.filter(F.crc32(F.col("doc_id").cast("string")) % 2 == 0)
    b2 = pts.filter(F.crc32(F.col("doc_id").cast("string")) % 2 == 1)
    got = _run_stream(spark, tmp_path, [b1, b2], regs, "enr2")
    # the same function on a batch relation runs the identical plan
    twin = spatial_enrich_stream(pts, regs, level=8).toPandas()
    key = lambda p: sorted(map(tuple, p[["doc_id", "region_id"]]
                               .itertuples(index=False)))
    assert key(got) == key(twin)


def test_enrich_keeps_points_outside_the_world_frame(spark):
    """Points beyond the cell world are enriched with the regions around
    them, like the batch sjoin pairs them: a point takes the edge cell
    that region covers clamp into."""
    def box(x0, y0, x1, y1):
        return bytes(W.boxes_to_wkb([x0], [y0], [x1], [y1])[0])

    pts = spark.createDataFrame(
        [(1, bytes(W.point_to_wkb(-2_000_000.0, 0.0))),
         (2, bytes(W.point_to_wkb(5_000_000.0, 0.0))),
         (3, bytes(W.point_to_wkb(0.0, 0.0)))],
        "doc_id long, geometry binary")
    regs = spark.createDataFrame(
        [(10, box(-2_100_000, -10_000, -1_900_000, 10_000)),
         (20, box(4_900_000, -10_000, 5_100_000, 10_000)),
         (30, box(-10_000, -10_000, 10_000, 10_000))],
        "region_id long, geometry binary")
    want = {(1, 10), (2, 20), (3, 30)}
    for broadcast in (True, False):
        assert {tuple(r) for r in sjoin_pairs(
            pts, regs, left_id="doc_id", right_id="region_id", level=8,
            broadcast=broadcast).collect()} == want
    got = spatial_enrich_stream(pts, regs, level=8)
    assert {(r.doc_id, r.region_id) for r in got.collect()} == want


def test_enrich_stream_reads_the_regions_once(spark, tmp_path):
    """The regions are read and indexed when the stream is defined:
    deleting their parquet before the stream starts changes nothing."""
    pts = _points(spark)
    rpath = str(tmp_path / "regions")
    _regions(spark).write.parquet(rpath)
    regs = spark.read.parquet(rpath)
    want = sjoin_pairs(pts, regs, left_id="doc_id", right_id="region_id",
                       level=8).toPandas()
    got = _run_stream(spark, tmp_path, [pts], regs, "enr_once",
                      before_start=lambda: shutil.rmtree(rpath))
    key = lambda p: sorted(map(tuple, p[["doc_id", "region_id"]]
                               .itertuples(index=False)))
    assert len(want) > 0
    assert key(got) == key(want)


def _box(x0, y0, x1, y1):
    return bytes(W.boxes_to_wkb([x0], [y0], [x1], [y1])[0])


def _pt(x, y):
    return bytes(W.point_to_wkb(x, y))


def _line(*xy):
    return bytes(W.linestring_to_wkb(xy))


#: a polygon whose east edge dents in to x = 0.5 at y = 16000, just east
#: of the level-7 cell edge x = 0 (the cell west of it is marked inside)
_DENT = bytes(W.polygon_to_wkb([[
    [-40_000, -1_000], [100, -1_000], [0.5, 16_000], [100, 33_000],
    [-40_000, 33_000], [-40_000, -1_000]]]))

#: (doc_id, geometry) stream rows of every geometry type and edge
_EDGE_ROWS = [
    (1, None),
    (2, struct.pack("<BIdd", 1, 1, float("nan"), float("nan"))),  # empty
    (3, b"garbage!!"),
    (4, _pt(500, 500)),                          # inside A
    (5, _box(1_000, 0, 2_000, 1_000)),           # shares A's east edge
    (6, _pt(1_000, 1_000)),                      # on A's corner
    (7, _line((1_000, 1_000), (3_000, 3_000))),  # touches A's corner
    (8, _pt(-500_000, -300_000)),                # negative, inside B
    (9, _box(-450_000, -260_000, -440_000, -250_000)),  # touches B
    (10, _pt(-2_000_000, -2_000_000)),           # outside the world, in C
    (11, _pt(3_500_000, 0)),                     # outside the world, in D
    (12, _pt(-3_000_000, -2_000_000)),           # outside, clamped by C
    (13, _pt(0.7, 16_000)),                      # beside DENT's inside cell
    (14, _pt(0.3, 16_000)),                      # inside DENT
    (15, _pt(0, 20_000)),                        # on a cell edge, in DENT
    (16, bytes(W.polygon_to_wkb([[                # triangle across B's edge
        [-460_000, -300_000], [-400_000, -300_000], [-430_000, -200_000],
        [-460_000, -300_000]]]))),
    (17, _line((-50_000, 10_000), (50_000, 10_000))),  # crosses DENT, A's
    (18, W.multi_to_wkb(W.KIND_MULTIPOINT, [        # a part inside A
        _pt(900_000, 900_000), _pt(100, 900)])),
]
#: (region_id, geometry)
_EDGE_REGIONS = [
    (100, _box(0, 0, 1_000, 1_000)),                           # A
    (101, _box(-600_000, -400_000, -450_000, -250_000)),       # B
    (102, _box(-2_100_000, -2_100_000, -1_900_000, -1_900_000)),  # C
    (103, _box(3_400_000, -10_000, 3_600_000, 10_000)),        # D
    (104, _DENT),
    (105, None),
    (106, b"\x01\x03"),
]


@pytest.mark.parametrize("broadcast", [True, False],
                         ids=["broadcast", "shuffle"])
def test_enrich_matches_sjoin_pairs_on_edge_rows(spark, no_broadcast,
                                                 broadcast):
    """The enrich pass returns sjoin_pairs' rows on either route over
    null, empty and malformed WKB, touching edges, negative and
    out-of-world coordinates and every geometry type, and carries each
    row's payload (a binary column too) beside its region."""
    rows = [(d, bytes([d, 0, 255]), g) for d, g in _EDGE_ROWS]
    pts = spark.createDataFrame(
        rows, "doc_id long, payload binary, geometry binary").repartition(3)
    regs = spark.createDataFrame(_EDGE_REGIONS,
                                 "region_id long, geometry binary")
    got = spatial_enrich_stream(pts, regs, level=7)
    assert got.columns == ["doc_id", "payload", "geometry", "region_id"]
    got = got.collect()
    want = sjoin_pairs(pts, regs, left_id="doc_id", right_id="region_id",
                       level=7, broadcast=broadcast).collect()
    assert Counter((r.doc_id, r.region_id) for r in got) == \
        Counter(map(tuple, want))
    assert {(4, 100), (8, 101), (10, 102), (11, 103), (14, 104),
            (16, 101), (17, 104), (18, 100)} <= {tuple(r) for r in want}
    assert not {(12, 102), (13, 104)} & {tuple(r) for r in want}
    by_id = {d: (p, g) for d, p, g in rows}
    for r in got:
        assert (bytes(r.payload), bytes(r.geometry)) == by_id[r.doc_id]
