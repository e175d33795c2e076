"""Physical-plan regression tests: the plan shape IS the product at
100 TB, so pin it (SURVEY.md §4 / task brief: '.explain the plan and
iterate until it's the plan you'd want')."""

import uuid

import pytest
from pyspark.sql import functions as F

from cdap_geo_spark import docs as D, fixtures
from cdap_geo_spark.operators.sjoin import sjoin_pairs
from cdap_geo_spark.operators.tiles import assign_tiles


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_tile_assign_has_no_shuffle(spark):
    dd = D.with_geometry(fixtures.documents(spark, 50, partitions=2))
    plan = _plan(assign_tiles(dd, bbox=(0, 0, 700_000, 1_300_000), splits=10))
    # map-side only: no Exchange anywhere
    assert "Exchange" not in plan, plan


#: physical operators that run Python workers
_PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                 "BatchEvalPython", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "AggregateInPandas",
                 "WindowInPandas")


def _parquet_world(spark, tmp_path, n_docs=50, n_regions=20):
    """(docs with geometry, regions), both read back from parquet so the
    plans hold no fixture-generator Python nodes."""
    dp, rp = str(tmp_path / "docs"), str(tmp_path / "regions")
    fixtures.documents(spark, n_docs, partitions=2).write.parquet(dp)
    fixtures.regions(spark, n_regions).write.parquet(rp)
    return (D.with_geometry(spark.read.parquet(dp)),
            spark.read.parquet(rp).select("region_id", "geometry"))


def test_sjoin_broadcast_plan(spark, tmp_path):
    dd, rr = _parquet_world(spark, tmp_path)
    out = sjoin_pairs(dd, rr, left_id="doc_id", right_id="region_id",
                      level=7, broadcast=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    nodes = [ln for ln in plan.splitlines()
             if any(f"- {p} " in ln or ln.startswith(p + " ")
                    for p in _PYTHON_NODES)]
    # one Python pass, over the left side; no join, no refine UDF
    assert len(nodes) == 1 and "MapInArrow" in nodes[0], plan
    assert "doc_id" in nodes[0] and "geometry" in nodes[0], plan
    for absent in ("BroadcastHashJoin", "ArrowEvalPython", "MapInPandas",
                   "SortAggregate"):
        assert absent not in plan, plan
    # at most one shuffle: the narrow id-pair dedup
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def _python_nodes(df) -> list:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln for ln in plan.splitlines()
            if any(f"- {p} " in ln or ln.startswith(p + " ")
                   for p in _PYTHON_NODES)]


def test_sjoin_tile_pipeline_has_one_python_node(spark, tmp_path):
    """The headline sjoin_pairs -> assign_tiles -> dropDuplicates runs
    one Python node: the tiles are assigned inside the broadcast join's
    pass over the docs, which emits no geometry. A copy of the pairs
    frame (``select('*')``) keeps the tiles' own node."""
    dd, rr = _parquet_world(spark, tmp_path)
    pairs = sjoin_pairs(dd, rr, left_id="doc_id", right_id="region_id",
                        level=7, dedup=False, keep_left_geom=True)

    def headline(p):
        return assign_tiles(p, bbox=(0, 0, 700_000, 1_300_000), splits=10,
                            keep=("region_id",)).dropDuplicates(
            ["doc_id", "region_id", "tile_id"])
    nodes = _python_nodes(headline(pairs))
    assert len(nodes) == 1 and "MapInArrow" in nodes[0], nodes
    assert "region_id" in nodes[0] and "tile_id" in nodes[0], nodes
    assert len(_python_nodes(headline(pairs.select("*")))) == 2


def test_enrich_batch_twin_has_one_python_node_and_no_join(spark, tmp_path):
    """spatial_enrich_stream on a batch relation runs the plan of each
    micro-batch: one MapInArrow pass over the rows (payload included),
    no join and no exchange; the regions were indexed when it was
    called."""
    from cdap_geo_spark.streaming.enrich import spatial_enrich_stream
    dd, rr = _parquet_world(spark, tmp_path)
    out = spatial_enrich_stream(dd, rr, level=7)
    out.collect()
    nodes = _python_nodes(out)
    assert len(nodes) == 1 and "MapInArrow" in nodes[0], nodes
    assert "spans" in nodes[0] and "region_id" in nodes[0], nodes
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan


def _job_names(spark, fn):
    """(fn(), the names of the Spark jobs fn ran, in start order)."""
    sc = spark.sparkContext
    group = f"jobs_run_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    return out, [store.job(i).name() for i in ids]


def _jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    out, names = _job_names(spark, fn)
    return out, len(names)


def _caller_job_names(spark, fn):
    """``_job_names`` with the caller's call-site name set to 'caller',
    checking that fn leaves that name in place."""
    sc = spark.sparkContext
    sc.setLocalProperty("callSite.short", "caller")
    try:
        out, names = _job_names(spark, fn)
        assert sc.getLocalProperty("callSite.short") == "caller"
    finally:
        sc.setLocalProperty("callSite.short", None)
    return out, names


def test_broadcastable_known_size_runs_no_job(spark, tmp_path):
    from cdap_geo_spark.functions.relational import broadcastable
    p = str(tmp_path / "t")
    spark.range(100).write.parquet(p)
    df = spark.read.parquet(p)
    assert _jobs_run(spark, lambda: broadcastable(df)) == (True, 0)
    # size x fanout over the 64m threshold: shuffle, still no job
    assert _jobs_run(spark, lambda: broadcastable(df, 10 ** 9)) == (False, 0)


def test_broadcastable_threshold_off(spark, no_broadcast):
    from cdap_geo_spark.functions.relational import broadcastable
    assert broadcastable(spark.range(10)) is False


def test_broadcastable_unknown_size_probes_rows(spark):
    from cdap_geo_spark.functions.relational import (BROADCAST_PROBE_ROWS,
                                                     broadcastable,
                                                     sdf_memsize)
    fanout = BROADCAST_PROBE_ROWS // 2  # cap = 2 rows
    two = spark.createDataFrame([(1,), (2,)], "a int")
    three = spark.createDataFrame([(1,), (2,), (3,)], "a int")
    conf = spark._jsparkSession.sessionState().conf()
    # a local Python list is RDD-backed: Catalyst has no size for it
    assert sdf_memsize(two) >= conf.defaultSizeInBytes()
    ok, jobs = _jobs_run(spark, lambda: broadcastable(two, fanout))
    assert ok is True and jobs > 0
    ok, jobs = _jobs_run(spark, lambda: broadcastable(three, fanout))
    assert ok is False and jobs > 0


def test_sjoin_auto_broadcast_reads_regions_in_one_job(spark, tmp_path):
    """broadcast='auto' over file-backed inputs decides from the
    optimizer's size estimate (no probe job) and takes the broadcast
    route: the one job at call time is the labelled region read, and
    the caller's own call-site name is restored after it."""
    dd, rr = _parquet_world(spark, tmp_path)
    pairs, names = _caller_job_names(spark, lambda: sjoin_pairs(
        dd, rr, left_id="doc_id", right_id="region_id", level=7,
        broadcast="auto"))
    assert names == ["sjoin.regions"]
    plan = _plan(pairs)
    assert "MapInArrow" in plan and "BroadcastHashJoin" not in plan


def test_box_pairs_native_probe_is_labelled(spark):
    """box_pairs_native over an RDD-backed right side, which has no
    size estimate: the planner's bounded row probe is the only job the
    call runs, and it is named."""
    from cdap_geo_spark.operators.sjoin import box_pairs_native
    cols = "id string, minx double, miny double, maxx double, maxy double"
    left = spark.createDataFrame([("a", 0.0, 0.0, 10.0, 10.0)], cols)
    right = spark.createDataFrame(spark.sparkContext.parallelize(
        [("b", 5.0, 5.0, 20.0, 20.0)], 1), cols)
    pairs, names = _caller_job_names(spark, lambda: box_pairs_native(
        left, right.withColumnRenamed("id", "rid"), left_id="id",
        right_id="rid"))
    assert names and set(names) == {"sjoin.broadcast_probe"}, names
    assert [tuple(r) for r in pairs.collect()] == [("a", "b")]


def test_sjoin_tile_pipeline_runs_bounded_labelled_jobs(spark, tmp_path):
    """sjoin_pairs -> assign_tiles -> dropDuplicates -> count() on
    parquet inputs: a bounded number of jobs, each the labelled region
    read or the caller's action."""
    dd, rr = _parquet_world(spark, tmp_path, n_docs=400, n_regions=40)

    def run():
        pairs = sjoin_pairs(dd, rr, left_id="doc_id", right_id="region_id",
                            level=7, dedup=False, keep_left_geom=True)
        tiled = assign_tiles(pairs, bbox=(0, 0, 700_000, 1_300_000),
                             splits=10, keep=("region_id",))
        return tiled.dropDuplicates(["doc_id", "region_id",
                                     "tile_id"]).count()
    n, names = _caller_job_names(spark, run)
    assert n > 0
    assert names[0] == "sjoin.regions" and len(names) <= 4, names
    assert set(names[1:]) == {"caller"}, names


def test_manifest_write_jobs_are_labelled(spark, tmp_path):
    from cdap_geo_spark.plans.manifest import Manifest
    _, names = _caller_job_names(spark, lambda: Manifest(
        spark, str(tmp_path / "m")).run_stage(
            "ids", "fp1", lambda: spark.range(10)))
    assert names and set(names) == {"manifest.write[ids]"}, names


def test_knn_auto_runs_constant_jobs(spark, tmp_path):
    """knn_join on parquet-backed points takes the broadcast route with
    no planning job: the call runs two Spark jobs, each named after its
    step, and the caller's collect() runs none — the result is a local
    relation, with no Exchange, Window or checkpoint RDD in its plan.
    The caller's own call-site name is restored after."""
    from cdap_geo_spark.operators.knn import knn_join
    qp, cp = str(tmp_path / "q"), str(tmp_path / "c")
    fixtures.knn_queries(spark, 40).select("query_id", "geometry") \
        .write.parquet(qp)
    fixtures.knn_queries(spark, 3000).select(
        F.col("query_id").alias("doc_id"), "geometry") \
        .repartition(4).write.parquet(cp)
    queries, corpus = spark.read.parquet(qp), spark.read.parquet(cp)
    sc = spark.sparkContext
    sc.setLocalProperty("callSite.short", "caller")
    try:
        res, names = _job_names(spark, lambda: knn_join(
            queries, corpus, k=5, broadcast_queries="auto"))
        assert sc.getLocalProperty("callSite.short") == "caller"
    finally:
        sc.setLocalProperty("callSite.short", None)
    rows, more = _job_names(spark, res.collect)
    assert len(rows) == 40 * 5
    assert names == ["knn.queries", "knn.local_topk"], names
    assert more == [], more
    plan = res._jdf.queryExecution().executedPlan().toString()
    for absent in ("Exchange", "Window", "ExistingRDD"):
        assert absent not in plan, plan


def _knn_points(spark, rows, id_col):
    from cdap_geo_spark import udfs
    return spark.createDataFrame(
        rows, f"{id_col} string, x double, y double").select(
        id_col, udfs.st_point()("x", "y").alias("geometry"))


def _knn_world(spark, tmp_path):
    """40 query points and 3,000 corpus points, read back from parquet
    so the plans hold no fixture-generator Python nodes."""
    qp, cp = str(tmp_path / "q"), str(tmp_path / "c")
    fixtures.knn_queries(spark, 40).select("query_id", "geometry") \
        .write.parquet(qp)
    fixtures.knn_queries(spark, 3000).select(
        F.col("query_id").alias("doc_id"), "geometry") \
        .repartition(4).write.parquet(cp)
    return spark.read.parquet(qp), spark.read.parquet(cp)


@pytest.mark.parametrize("kw", [{"broadcast_queries": False},
                                {"how": "box"}], ids=["point", "box"])
def test_knn_histogram_route_runs_two_labelled_steps(spark, tmp_path, kw):
    """A non-broadcast knn_join runs its two call-time steps, the stats
    aggregate and the corpus histogram, and returns a lazy plan whose
    only Python nodes are the two decodes (the corpus ``_bounds`` UDF,
    the queries' window pass), joined once on the cell, with no bound
    table, checkpoint or cached relation in it."""
    from cdap_geo_spark.operators.knn import knn_join
    queries, corpus = _knn_world(spark, tmp_path)
    res, names = _job_names(spark, lambda: knn_join(queries, corpus, k=5,
                                                    **kw))
    assert names == ["knn.stats"] * 2 + ["knn.histogram"] * 2, names
    nodes = sorted(_python_nodes(res))
    assert len(nodes) == 2, nodes
    assert "ArrowEvalPython" in nodes[0] and "_bounds" in nodes[0], nodes
    assert "MapInArrow" in nodes[1] and "_w" in nodes[1], nodes
    plan = res._jdf.queryExecution().executedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "Join " in ln]
    assert len(joins) == 1 and "cell_id" in joins[0], joins
    for absent in ("LocalTableScan", "ExistingRDD", "InMemoryTableScan"):
        assert absent not in plan, plan
    assert res.count() == 40 * 5


def test_knn_histogram_route_far_query_k_over_corpus(spark):
    """k exceeds the corpus and one query lies 1,000 km away at level
    16: no histogram can bound a window, so the call runs the stats
    step alone and every query searches the corpus's whole extent."""
    from cdap_geo_spark.operators.knn import knn_join
    corpus = _knn_points(spark, [("a", 0.0, 0.0), ("b", 500.0, 300.0)],
                         "doc_id")
    queries = _knn_points(spark, [("near", 100.0, 100.0),
                                  ("far", 1_000_000.0, 0.0)], "query_id")
    res, names = _job_names(spark, lambda: knn_join(
        queries, corpus, k=3, level=16, broadcast_queries=False))
    assert names == ["knn.stats"] * 2, names
    assert len(res.collect()) == 4


def test_sjoin_column_pruning(spark):
    # payload (spans) must not be scanned on the pairs-only path
    import os
    import tempfile
    with tempfile.TemporaryDirectory() as tmp:
        p = os.path.join(tmp, "docs")
        fixtures.documents(spark, 50, partitions=2).write.parquet(p)
        docs = D.with_geometry(spark.read.parquet(p))
        rr = fixtures.regions(spark, 20)
        pairs = sjoin_pairs(docs, rr, left_id="doc_id",
                            right_id="region_id", level=7)
        plan = _plan(pairs)
        # the parquet scan of docs reads doc_id + spans (geometry is
        # derived from spans) — but bounds/cells columns never hit disk,
        # and the payload never crosses a shuffle: the only exchange
        # carries just the id pair
        assert "PushedFilters" in plan or "ReadSchema" in plan


def test_sjoin_shuffle_route_runs_no_job_before_the_action(spark, tmp_path):
    """broadcast=False plans the cell equi-join without a Spark job:
    no hot-cell census runs at call time (AQE splits hot cells)."""
    dd, rr = _parquet_world(spark, tmp_path, n_docs=400, n_regions=40)
    pairs, jobs = _jobs_run(spark, lambda: sjoin_pairs(
        dd, rr, left_id="doc_id", right_id="region_id", level=7,
        broadcast=False))
    assert jobs == 0
    assert pairs.count() > 0


def test_sdf_autopartition_widens_not_shrinks(spark):
    from cdap_geo_spark.functions.relational import sdf_autopartition
    # already-wide tiny frame: every target <= current -> unchanged
    # (the thread term alone is parallelism*1.5 = 12 on the test session)
    small = spark.range(10).repartition(16)
    assert sdf_autopartition(small).rdd.getNumPartitions() == 16
    # 1-partition frame widens to >= thread_ratio * parallelism
    one = spark.range(1_000_000).coalesce(1)
    out = sdf_autopartition(one)
    par = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() >= round(par * 1.5)


def test_sdf_autopartition_partition_by(spark):
    from pyspark.sql import functions as F
    from cdap_geo_spark.functions.relational import sdf_autopartition
    df = spark.range(1_000_000).withColumn("k", F.col("id") % 7).coalesce(1)
    out = sdf_autopartition(df, partition_by="k")
    assert out.rdd.getNumPartitions() > 1


def test_similarity_ops_have_no_single_partition_exchange(spark):
    # round-2 regression class: ngram_jaccard's dictionary encoding ran
    # a global no-partition window = one SinglePartition exchange = one
    # task owning the whole corpus. Pin ALL similarity pipelines to
    # zero single-partition exchanges.
    from cdap_geo_spark.operators.dedup import (minhash_lsh_pairs,
                                                ngram_jaccard_pairs,
                                                simhash_pairs)
    df = spark.createDataFrame(
        [(i, f"doc number {i} alpha bravo charlie") for i in range(30)],
        "doc_id long, text string").repartition(4)
    # allpairs=False pins the DISTRIBUTED regime: on a 30-doc corpus
    # the bitset regime legitimately plans a 1-row block-pair grid
    # (the corpus travels via broadcast, not the exchange) — that
    # SinglePartition carries one grid row, not the corpus, and has
    # its own scaling pin (test_allpairs_grid_exchange_scales).
    for out in (ngram_jaccard_pairs(df, k=3, threshold_pct=40,
                                    allpairs=False),
                minhash_lsh_pairs(df, threshold=0.5),
                simhash_pairs(df, max_hamming=3)):
        plan = _plan(out)
        assert "SinglePartition" not in plan, plan[:2000]


def test_allpairs_grid_exchange_scales(spark, monkeypatch):
    # the bitset regime's only exchange is the block-pair grid; pin
    # that it widens with the block count (no single-task bottleneck
    # once the corpus spans multiple blocks)
    from cdap_geo_spark.operators import dedup as DD
    monkeypatch.setattr(DD, "_ALLPAIRS_BLOCK", 4)
    df = spark.createDataFrame(
        [(i, f"doc number {i} alpha bravo charlie") for i in range(30)],
        "doc_id long, text string").repartition(4)
    out = DD.ngram_jaccard_pairs(df, k=3, threshold_pct=40, allpairs=True)
    plan = _plan(out)
    assert "SinglePartition" not in plan, plan[:2000]
    # 30 docs / block 4 -> 8 blocks -> 36 grid pairs, capped at 2x par
    assert out.rdd.getNumPartitions() == min(
        36, spark.sparkContext.defaultParallelism * 2)


def test_sdf_unique_memsize_print_stats(spark, capsys):
    from cdap_geo_spark.functions.relational import (
        sdf_memsize, sdf_print_stats, sdf_unique)
    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")],
                               "id long, k string")
    vals = sorted(r.k for r in sdf_unique(df, "k"))
    assert vals == ["a", "b"]
    assert sdf_memsize(df) > 0
    out = sdf_print_stats(df, name="t")
    assert out is df
    printed = capsys.readouterr().out
    assert "t:  Count=3," in printed and "Parts=" in printed


def test_apply_changelog_upserts_deletes_and_passthrough(spark):
    from pyspark.sql import functions as F

    from cdap_geo_spark.functions.relational import apply_changelog

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, val string")
    changes = spark.createDataFrame(
        [(2, 1, "U", "b2"),    # update
         (3, 1, "D", None),    # delete
         (5, 1, "U", "e"),     # insert of a new key
         (4, 1, "U", "d2"),    # update...
         (4, 2, "D", None)],   # ...then delete at a later version
        "id long, version long, op string, val string")
    got = {(r.id, r.val) for r in
           apply_changelog(base, changes, key="id").collect()}
    assert got == {(1, "a"), (2, "b2"), (5, "e")}
    # plan: one exchange for the window, no join of base x changes
    plan = apply_changelog(base, changes, key="id") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    del F


def test_scd2_build_intervals(spark):
    from cdap_geo_spark.functions.relational import scd2_build

    changes = spark.createDataFrame(
        [(1, 0, "U", "a"),      # created, updated, still current
         (1, 3, "U", "a2"),
         (2, 0, "U", "b"),      # created then deleted
         (2, 5, "D", None),
         (3, 2, "U", "c"),      # single still-current row
         (4, 1, "D", None)],    # delete with no prior upsert: no rows
        "id long, version long, op string, val string")
    got = sorted(tuple(r) for r in scd2_build(changes, key="id").collect())
    assert got == [
        (1, "a", 0, 3, 0),
        (1, "a2", 3, None, 1),
        (2, "b", 0, 5, 0),
        (3, "c", 2, None, 1),
    ]
    # one keyed window, never a self-join of the log
    plan = scd2_build(changes, key="id") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_scd2_current_rows_match_apply_changelog(spark):
    # the SCD2 history's is_current slice must equal the merged
    # snapshot (minus deleted keys) — the two operators are views of
    # the same log
    import random

    from pyspark.sql import functions as F

    from cdap_geo_spark.functions.relational import (apply_changelog,
                                                     scd2_build)

    rng = random.Random(3)
    base_rows = [(k, f"v{k}") for k in range(30)]
    ch_rows = []
    for k in range(30):
        for v in range(1, rng.randrange(0, 4) + 1):
            op = "D" if rng.random() < 0.25 else "U"
            ch_rows.append((k, v, op, f"v{k}.{v}" if op == "U" else None))
    base = spark.createDataFrame(base_rows, "id long, val string")
    changes = spark.createDataFrame(
        ch_rows, "id long, version long, op string, val string")
    log = base.select("id", F.lit(0).cast("long").alias("version"),
                      F.lit("U").alias("op"), "val").unionByName(changes)
    cur = {(r.id, r.val) for r in
           scd2_build(log, key="id").where("is_current = 1").collect()}
    snap = {(r.id, r.val) for r in
            apply_changelog(base, changes, key="id").collect()}
    assert cur == snap


def test_pivot_counts_bruteforce_and_zeros(spark):
    from cdap_geo_spark.functions.relational import pivot_counts

    rows = [(1, "a", 10), (1, "a", 20), (1, "b", 5),
            (2, "b", 7), (3, "c", 1)]
    df = spark.createDataFrame(rows, "g long, cat string, v long")
    got = {r.g: (r.a, r.b) for r in
           pivot_counts(df, group_col="g", pivot_col="cat",
                        values=["a", "b"]).collect()}
    # category 'c' not in the explicit list -> ignored; absent
    # categories count 0, never NULL
    assert got == {1: (2, 1), 2: (0, 1), 3: (0, 0)}
    sums = {r.g: (r.a, r.b) for r in
            pivot_counts(df, group_col="g", pivot_col="cat",
                         values=["a", "b"], value_col="v").collect()}
    assert sums == {1: (30, 5), 2: (0, 7), 3: (0, 0)}
    import pytest as _pt
    with _pt.raises(ValueError):
        pivot_counts(df, group_col="g", pivot_col="cat", values=[])


def test_profile_columns_values_and_validation(spark):
    import pytest as _pt
    from cdap_geo_spark.functions.relational import profile_columns
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "a", 30), (4, None, 30)],
        "id long, s string, v long")
    got = {r.column: (r.n_rows, r.n_nulls, r.n_distinct, r.min_s, r.max_s)
           for r in profile_columns(df, ["id", "s", "v"]).collect()}
    assert got["id"] == (4, 0, 4, "1", "4")
    assert got["s"] == (4, 1, 2, "a", "b")
    assert got["v"] == (4, 1, 2, "10", "30")
    with _pt.raises(ValueError):
        profile_columns(df, [])


def test_dq_check_values(spark):
    import pytest as _pt
    from pyspark.sql import functions as F
    from cdap_geo_spark.functions.relational import dq_check
    df = spark.createDataFrame(
        [(1, "en", 5), (2, "xx", -1), (3, None, 7), (3, "en", None)],
        "id long, lang string, n long")
    got = {r.rule: (r.n_rows, r.n_violations) for r in dq_check(
        df, {"n_nonneg": F.col("n") >= 0,
             "lang_known": F.col("lang").isin("en", "de")},
        unique_cols=["id"]).collect()}
    # NULL rule results are violations; id=3 duplicated once
    assert got == {"n_nonneg": (4, 2), "lang_known": (4, 2),
                   "unique:id": (4, 1)}
    with _pt.raises(ValueError):
        dq_check(df, {})


def test_benford_deviation_brute_force(spark):
    """benford_deviation == python brute force, including zero-count
    digits (they still contribute (0-e)^2/e to chi2) and the
    zero/NULL-value exclusions."""
    import math
    from cdap_geo_spark.functions.relational import benford_deviation
    vals = ([1.23] * 30 + [19.9] * 18 + [2.5] * 11 + [33.0] * 7
            + [4.04] * 5 + [0.0] * 4 + [None] * 3 + [91.0] * 2)
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    rows = {r.digit: r for r in
            benford_deviation(df, value_col="value").collect()}
    assert set(rows) == set(range(1, 10))
    obs = {d: 0 for d in range(1, 10)}
    for v in vals:
        if v is None:
            continue
        s = round(abs(v) * 100)
        if s > 0:
            obs[int(str(s)[0])] += 1
    n = sum(obs.values())
    chi2 = 0.0
    for d in range(1, 10):  # digit-ordered left fold, like the engine
        e = n * math.log10(1 + 1 / d)
        chi2 += (obs[d] - e) ** 2 / e
    for d in range(1, 10):
        e = n * math.log10(1 + 1 / d)
        assert rows[d].n_obs == obs[d]
        assert rows[d].exp_u == round(1e6 * e)
        assert rows[d].chi2_u == round(1e6 * chi2)
    assert rows[5].n_obs == 0  # a genuinely absent digit was exercised


def test_k_anonymity_counts(spark):
    from cdap_geo_spark.functions.relational import k_anonymity
    rows = ([("a", 1)] * 6 + [("a", 2)] * 2 + [("b", 1)] * 1
            + [(None, 1)] * 3)  # NULL is its own class
    df = spark.createDataFrame(rows, "qa string, qb int")
    (r,) = k_anonymity(df, quasi_cols=["qa", "qb"], k=5).collect()
    assert (r.n_rows, r.n_classes, r.n_violating_classes,
            r.rows_at_risk, r.min_class_size) == (12, 4, 3, 6, 1)
    import pytest as _pt
    with _pt.raises(ValueError):
        k_anonymity(df, quasi_cols=[], k=5)
    with _pt.raises(ValueError):
        k_anonymity(df, quasi_cols=["qa"], k=1)


def test_ab_test_brute_force_and_degenerate(spark):
    """ab_test == python brute force over the md5 arm rule; degenerate
    configurations yield NULL z but exact counts."""
    import hashlib
    from pyspark.sql import functions as F
    from cdap_geo_spark.operators.timeseries import ab_test
    from cdap_geo_spark.operators.text import hash_split_cuts
    cut = hash_split_cuts({"A": 0.5, "B": 0.5})[0]
    rows = []
    for u in range(1, 120):
        conv = u % 7 == 0  # converted users
        rows.append((u, "purchase" if conv else "view"))
        rows.append((u, "click"))  # second event, same user
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    (r,) = ab_test(df, convert=(F.col("event_type") == "purchase")) \
        .collect()

    def arm(u):
        h = int(hashlib.md5(f"{u}:17".encode()).hexdigest()[:15], 16)
        return "A" if h < cut else "B"

    want = {"A": [0, 0], "B": [0, 0]}
    for u in range(1, 120):
        a = arm(u)
        want[a][0] += 1
        want[a][1] += int(u % 7 == 0)
    assert (r.n_a, r.conv_a, r.n_b, r.conv_b) == (
        want["A"][0], want["A"][1], want["B"][0], want["B"][1])
    pa, pb = r.conv_a / r.n_a, r.conv_b / r.n_b
    pp = (r.conv_a + r.conv_b) / (r.n_a + r.n_b)
    z = (pa - pb) / ((pp * (1 - pp) * (1 / r.n_a + 1 / r.n_b)) ** 0.5)
    assert r.z_u == round(1e6 * z)
    # degenerate: nobody converts -> NULL z, counts still exact
    (r0,) = ab_test(df, convert=(F.col("event_type") == "nope")).collect()
    assert r0.z_u is None and r0.n_a + r0.n_b == 119
