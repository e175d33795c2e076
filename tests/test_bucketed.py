"""Bucketed co-located spatial join: result parity with sjoin_pairs
plus the structural property the layout buys — a join plan with ZERO
Exchange nodes (Catalyst proves co-partitioning from the catalog's
bucket spec, so neither side shuffles)."""

import pytest

from cdap_geo_spark import docs as D, fixtures
from cdap_geo_spark.operators.bucketed import (index_to_bucketed_table,
                                               plan_has_no_exchange,
                                               sjoin_bucketed)
from cdap_geo_spark.operators.sjoin import sjoin_pairs


@pytest.fixture(scope="module")
def bucketed_world(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bucketed")
    docs = D.with_geometry(fixtures.documents(spark, 250, partitions=4))
    regions = fixtures.regions(spark, 60)
    index_to_bucketed_table(
        docs, "bt_docs", id_col="doc_id", level=9, buckets=8,
        path=str(root / "docs"))
    index_to_bucketed_table(
        regions, "bt_regions", id_col="region_id", level=9, buckets=8,
        path=str(root / "regions"))
    yield docs, regions
    for t in ("bt_docs", "bt_regions"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def _pairs(df):
    return set(map(tuple, df.select("doc_id", "region_id").collect()))


def test_bucketed_join_matches_sjoin_pairs(spark, bucketed_world):
    docs, regions = bucketed_world
    want = _pairs(sjoin_pairs(docs, regions, left_id="doc_id",
                              right_id="region_id", level=9))
    got = _pairs(sjoin_bucketed(spark, "bt_docs", "bt_regions",
                                left_id="doc_id", right_id="region_id"))
    assert got == want and len(got) > 0


def test_bucketed_join_plan_has_no_exchange(spark, bucketed_world):
    # disable broadcast so Catalyst must pick sort-merge: the property
    # under test is that the bucketed layout alone removes the shuffle
    saved = [spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
             spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = sjoin_bucketed(spark, "bt_docs", "bt_regions",
                               left_id="doc_id", right_id="region_id",
                               dedup=False)
        assert plan_has_no_exchange(pairs)
        # sanity: the SAME join over unbucketed relations DOES shuffle
        docs, regions = bucketed_world
        shuffled = sjoin_pairs(docs, regions, left_id="doc_id",
                               right_id="region_id", level=9,
                               broadcast=False, dedup=False)
        assert not plan_has_no_exchange(shuffled)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved[0])
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
                       saved[1])


def test_bucketed_distance_predicate(spark, bucketed_world, tmp_path):
    # distance joins need the LEFT table written with dilate=d (the
    # same lossless cover dilation sjoin_pairs applies at plan time)
    d = 5_000.0
    docs, regions = bucketed_world
    want = set(map(tuple, sjoin_pairs(
        docs, regions, left_id="doc_id", right_id="region_id", level=9,
        predicate="distance", distance=d).select("doc_id", "region_id")
        .collect()))
    index_to_bucketed_table(docs, "bt_docs_dist", id_col="doc_id",
                            level=9, how="bbox", dilate=d, buckets=8,
                            path=str(tmp_path / "docs_dist"))
    index_to_bucketed_table(regions, "bt_regions_dist", id_col="region_id",
                            level=9, how="bbox", buckets=8,
                            path=str(tmp_path / "regions_dist"))
    try:
        got = set(map(tuple, sjoin_bucketed(
            spark, "bt_docs_dist", "bt_regions_dist",
            left_id="doc_id", right_id="region_id",
            predicate="distance", left_how="bbox", distance=d)
            .select("doc_id", "region_id").collect()))
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_docs_dist")
        spark.sql("DROP TABLE IF EXISTS bt_regions_dist")


def test_bucketed_bbox_predicate(spark, bucketed_world, tmp_path):
    docs, regions = bucketed_world
    want = _pairs(sjoin_pairs(docs, regions, left_id="doc_id",
                              right_id="region_id", level=9,
                              predicate="bbox"))
    # bbox tables: covers computed with how='bbox' on both sides
    index_to_bucketed_table(docs, "bt_docs_bbox", id_col="doc_id",
                            level=9, how="bbox", buckets=8,
                            path=str(tmp_path / "docs_bbox"))
    index_to_bucketed_table(regions, "bt_regions_bbox", id_col="region_id",
                            level=9, how="bbox", buckets=8,
                            path=str(tmp_path / "regions_bbox"))
    try:
        got = _pairs(sjoin_bucketed(spark, "bt_docs_bbox", "bt_regions_bbox",
                                    left_id="doc_id", right_id="region_id",
                                    predicate="bbox", left_how="bbox"))
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_docs_bbox")
        spark.sql("DROP TABLE IF EXISTS bt_regions_bbox")


def test_bucketed_layout_mismatch_raises(spark, bucketed_world, tmp_path):
    # round-5 ADVICE: a level-8 table joined to a level-9 table used
    # to silently return wrong pairs; recorded TBLPROPERTIES now make
    # it raise, as does contradicting the recorded left cover.
    docs, regions = bucketed_world
    index_to_bucketed_table(docs, "bt_docs_l8", id_col="doc_id",
                            level=8, buckets=8,
                            path=str(tmp_path / "docs_l8"))
    try:
        with pytest.raises(ValueError, match="level"):
            sjoin_bucketed(spark, "bt_docs_l8", "bt_regions",
                           left_id="doc_id", right_id="region_id")
        with pytest.raises(ValueError, match="left_how"):
            sjoin_bucketed(spark, "bt_docs", "bt_regions",
                           left_id="doc_id", right_id="region_id",
                           left_how="bbox")
        # distance join against a left table not dilated by d
        with pytest.raises(ValueError, match="dilate"):
            sjoin_bucketed(spark, "bt_docs", "bt_regions",
                           left_id="doc_id", right_id="region_id",
                           predicate="distance", distance=5_000.0)
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_docs_l8")


def test_bucketed_salt_layout_balances_hot_cell(spark, tmp_path):
    """Coordinated-salt skew layout: a layer whose rows pile into one
    cell (a) triggers the write-time census warning unsalted, and
    (b) written with salt=s (+ replicate_salt on the partner) spreads
    the hot cell across buckets — max bucket <= 4x mean instead of
    one bucket carrying ~everything — while the join stays
    exchange-free and returns sjoin_pairs-identical rows."""
    import warnings as W

    from pyspark.sql import functions as F

    # hot layer: ~5/6 of 360 docs in one tiny neighbourhood (one cell)
    docs = D.with_geometry(fixtures.documents(spark, 360, partitions=4))
    spot = bytes(docs.limit(1).collect()[0]["geometry"])
    hot = docs.withColumn(
        "geometry",
        F.when(F.crc32(F.col("doc_id")) % 6 != 0, F.lit(spot))
        .otherwise(F.col("geometry")))
    regions = fixtures.regions(spark, 40)

    with pytest.warns(RuntimeWarning, match="hottest cell"):
        stats = index_to_bucketed_table(
            hot, "bt_hot_plain", id_col="doc_id", level=9, buckets=8,
            path=str(tmp_path / "hot_plain"))
    assert stats["max_cell_rows"] > 8 * stats["mean_cell_rows"]

    S = 8
    with W.catch_warnings():
        W.simplefilter("ignore")               # salted: no census warn
        index_to_bucketed_table(
            hot, "bt_hot_salted", id_col="doc_id", level=9, buckets=8,
            salt=S, path=str(tmp_path / "hot_salted"))
    index_to_bucketed_table(
        regions, "bt_reg_repl", id_col="region_id", level=9, buckets=8,
        salt=S, replicate_salt=True, path=str(tmp_path / "reg_repl"))
    try:
        # (b1) bucket balance of the salted hot table
        per_bucket = (spark.table("bt_hot_salted")
                      .groupBy(F.regexp_extract(
                          F.input_file_name(), r"_(\d{5})\.", 1)
                          .alias("f"))
                      .count().select("count").collect())
        sizes = sorted(r[0] for r in per_bucket)
        assert max(sizes) <= 4 * (sum(sizes) / len(sizes))
        # unsalted control: one bucket holds the hot cell
        per_bucket0 = (spark.table("bt_hot_plain")
                       .groupBy(F.regexp_extract(
                           F.input_file_name(), r"_(\d{5})\.", 1)
                           .alias("f"))
                       .count().select("count").collect())
        sizes0 = sorted(r[0] for r in per_bucket0)
        assert max(sizes0) > 3 * (sum(sizes0) / len(sizes0))
        # (b2) join parity + still exchange-free
        want = _pairs(sjoin_pairs(hot, regions, left_id="doc_id",
                                  right_id="region_id", level=9))
        got_df = sjoin_bucketed(spark, "bt_hot_salted", "bt_reg_repl",
                                left_id="doc_id", right_id="region_id")
        assert _pairs(got_df) == want and len(want) > 0
        saved = [spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
                 spark.conf.get(
                     "spark.sql.adaptive.autoBroadcastJoinThreshold")]
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold",
                       "-1")
        try:
            nodedup = sjoin_bucketed(
                spark, "bt_hot_salted", "bt_reg_repl",
                left_id="doc_id", right_id="region_id", dedup=False)
            assert plan_has_no_exchange(nodedup)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           saved[0])
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", saved[1])
        # salt coordination is validated: salted x salted (no
        # replicated side) must raise
        with pytest.raises(ValueError, match="replicate_salt"):
            sjoin_bucketed(spark, "bt_hot_salted", "bt_hot_salted",
                           left_id="doc_id", right_id="doc_id")
    finally:
        for t in ("bt_hot_plain", "bt_hot_salted", "bt_reg_repl"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
