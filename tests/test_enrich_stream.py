"""Stream-static spatial enrich: the streaming plan must return
exactly the batch sjoin pairs, preserve payload columns, and stay
append-mode across multi-file feeds."""

import os

from pyspark.sql import functions as F

from cdap_geo_spark import docs as D, fixtures
from cdap_geo_spark.operators.sjoin import sjoin_pairs
from cdap_geo_spark.streaming.enrich import spatial_enrich_stream
from cdap_geo_spark.streaming.windows import stream_from_directory


def _points(spark, n=300):
    d = fixtures.documents(spark, n, partitions=4)
    return D.with_geometry(d).select(
        "doc_id", F.size("spans").alias("n_spans"), "geometry")


def _regions(spark, n=40):
    return fixtures.regions(spark, n).select("region_id", "geometry")


def _run_stream(spark, tmp_path, batches, regions, name):
    src = str(tmp_path / name)
    os.makedirs(src, exist_ok=True)
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(src)
    stream = stream_from_directory(spark, src, batches[0].schema)
    out = spatial_enrich_stream(stream, regions, level=8)
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
    from cdap_geo_spark.core import wkb as W

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
