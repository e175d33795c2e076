"""Manifest/resume tests (SURVEY.md §5.5): re-run skips completed
stages; upstream fingerprint change invalidates; metrics recorded."""

import json
import os

import pytest
from pyspark.sql import functions as F

from cdap_geo_spark import fixtures
from cdap_geo_spark.io import cell_range_filter, ingest, with_cell_id
from cdap_geo_spark.plans.manifest import Manifest, fingerprint


def test_stage_runs_once_then_skips(spark, tmp_path):
    man = Manifest(spark, str(tmp_path))
    calls = []

    def build():
        calls.append(1)
        return spark.range(100).withColumn("v", F.col("id") * 2)

    fp = fingerprint("s1", 1)
    r1 = man.run_stage("s1", fp, build)
    assert not r1.skipped and r1.rows == 100 and len(calls) == 1
    r2 = man.run_stage("s1", fp, build)
    assert r2.skipped and r2.rows == 100 and len(calls) == 1
    # data readable and identical
    assert man.read("s1").count() == 100
    # manifest has per-file metrics
    info = man.stage_info("s1")
    assert info["total_rows"] == 100
    assert all(f["rows"] >= 0 and f["bytes"] > 0 for f in info["partitions"])


def test_fingerprint_change_reruns(spark, tmp_path):
    man = Manifest(spark, str(tmp_path))
    calls = []

    def build():
        calls.append(1)
        return spark.range(10)

    man.run_stage("s2", fingerprint("a"), build)
    man.run_stage("s2", fingerprint("b"), build)  # new upstream → rerun
    assert len(calls) == 2


def test_crash_before_commit_reruns(spark, tmp_path):
    man = Manifest(spark, str(tmp_path))
    fp = fingerprint("x")
    man.run_stage("s3", fp, lambda: spark.range(5))
    # simulate a crash that wiped the commit point but left data
    os.remove(os.path.join(str(tmp_path), "s3", "manifest.json"))
    r = man.run_stage("s3", fp, lambda: spark.range(5))
    assert not r.skipped  # no manifest → stage re-ran idempotently
    assert man.read("s3").count() == 5


def test_failed_rebuild_uncommits_the_stage(spark, tmp_path):
    """Commit fingerprint A; a rebuild with fingerprint B fails part-way
    through its overwrite; a run with A again must rebuild the stage,
    not report the deleted data as committed."""
    man = Manifest(spark, str(tmp_path))
    fa, fb = fingerprint("a"), fingerprint("b")
    assert not man.run_stage("s", fa, lambda: spark.range(100)).skipped

    def failing():
        return spark.range(0, 100, 1, 4).select(
            F.when(F.col("id") == 90, F.raise_error(F.lit("injected crash")))
            .otherwise(F.col("id")).alias("id"))
    with pytest.raises(Exception, match="injected crash"):
        man.run_stage("s", fb, failing)
    assert man.stage_info("s") is None
    again = man.run_stage("s", fa, lambda: spark.range(100))
    assert not again.skipped and again.rows == 100
    assert man.read("s").count() == 100


def test_ingest_clusters_and_resumes(spark, tmp_path):
    from cdap_geo_spark import docs as D
    dd = D.with_geometry(fixtures.documents(spark, 300, partitions=4))
    out = ingest(spark, dd, str(tmp_path), level=8, partitions=4)
    assert out.count() == 300
    info = Manifest(spark, str(tmp_path)).stage_info("ingest")
    # resume: second call must not rewrite (same committed_at)
    before = info["committed_at"]
    out2 = ingest(spark, dd, str(tmp_path), level=8, partitions=4)
    assert out2.count() == 300
    assert Manifest(spark, str(tmp_path)).stage_info("ingest")["committed_at"] == before
    # cell-window pruning returns exactly the rows in the window
    sub = cell_range_filter(out, 0, 0, 100_000, 100_000, level=8)
    full = with_cell_id(dd, level=8)
    assert sub.count() == cell_range_filter(full, 0, 0, 100_000, 100_000,
                                            level=8).count()
    # ...and the predicate reaches the parquet SCAN (PushedFilters), so
    # on the range-clustered layout the reader skips row groups via
    # footer min/max stats instead of filtering post-scan
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters:", 1)[1].split("]", 1)[0]
    assert "cell_id" in pushed


def _docs(spark, n):
    from cdap_geo_spark import docs as D
    return D.with_geometry(fixtures.documents(spark, n, partitions=2))


def test_ingest_of_a_different_frame_rebuilds(spark, tmp_path):
    """The ingest fingerprint covers its input: a 10-row frame ingested
    into the root of a 100-row one is not served the 100 rows."""
    root = str(tmp_path / "out")
    assert ingest(spark, _docs(spark, 100), root, level=8).count() == 100
    assert ingest(spark, _docs(spark, 10), root, level=8).count() == 10


def test_ingest_rebuilds_after_an_engine_change(spark, tmp_path,
                                                monkeypatch):
    """Same frame into the same root: the second ingest resumes, but a
    changed engine identity (new package sources) re-runs the stage."""
    import cdap_geo_spark.io as io
    root, dd = str(tmp_path / "out"), _docs(spark, 20)
    man = Manifest(spark, root)
    ingest(spark, dd, root, level=8)
    fp = man.stage_info("ingest")["fingerprint"]
    calls = []
    build = Manifest.run_stage

    def counted(self, name, fp, fn):
        res = build(self, name, fp, fn)
        calls.append(res.skipped)
        return res
    monkeypatch.setattr(Manifest, "run_stage", counted)
    ingest(spark, dd, root, level=8)
    monkeypatch.setattr(io, "engine_identity", lambda: "changed")
    assert ingest(spark, dd, root, level=8).count() == 20
    assert calls == [True, False]
    assert man.stage_info("ingest")["fingerprint"] != fp


def test_ingest_of_a_parquet_input_rewritten_in_place_rebuilds(spark,
                                                               tmp_path):
    """Same path, same schema, new files: the input's file identity
    changes, so the stage re-runs."""
    src, root = str(tmp_path / "src"), str(tmp_path / "out")
    _docs(spark, 100).write.parquet(src)
    assert ingest(spark, spark.read.parquet(src), root,
                  level=8).count() == 100
    _docs(spark, 10).write.mode("overwrite").parquet(src)
    assert ingest(spark, spark.read.parquet(src), root,
                  level=8).count() == 10
