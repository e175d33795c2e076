"""Deployment-path tests: the sjoin+tile job as a spark-submit unit.

Covers the north rule's deployment clause end-to-end: packaging
(--py-files zip importability), the job's manifest-resume contract
(second run skips every stage, a removed manifest re-runs exactly that
stage), the span-sequence invariant on the output, and one REAL
``spark-submit --py-files`` subprocess run.
"""

import json
import os
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def job_inputs(spark, tmp_path_factory):
    from cdap_geo_spark import fixtures
    root = tmp_path_factory.mktemp("jobdata")
    docs = str(root / "documents")
    regs = str(root / "regions")
    fixtures.documents(spark, 2_000, partitions=4) \
        .write.mode("overwrite").parquet(docs)
    fixtures.regions(spark, 60).write.mode("overwrite").parquet(regs)
    return docs, regs


def test_job_runs_resumes_and_preserves_spans(spark, job_inputs, tmp_path):
    from cdap_geo_spark.jobs.sjoin_tile import run
    docs, regs = job_inputs
    out = str(tmp_path / "out")

    s1 = run(spark, docs=docs, regions=regs, out=out)
    assert s1["rows"] > 0
    assert s1["span_invariant_violations"] == 0
    assert [st["skipped"] for st in s1["stages"]] == [False, False]
    first = sorted(map(tuple, spark.read.parquet(
        os.path.join(out, "enriched", "data"))
        .select("doc_id", "region_id", "tile_id").collect()))

    # identical params -> every stage skips, output unchanged
    s2 = run(spark, docs=docs, regions=regs, out=out)
    assert [st["skipped"] for st in s2["stages"]] == [True, True]
    assert s2["rows"] == s1["rows"]

    # losing one stage's manifest re-runs exactly that stage
    os.remove(os.path.join(out, "enriched", "manifest.json"))
    s3 = run(spark, docs=docs, regions=regs, out=out)
    assert [st["skipped"] for st in s3["stages"]] == [True, False]
    again = sorted(map(tuple, spark.read.parquet(
        os.path.join(out, "enriched", "data"))
        .select("doc_id", "region_id", "tile_id").collect()))
    assert again == first

    # changed params -> new fingerprint -> full re-run
    s4 = run(spark, docs=docs, regions=regs, out=out, splits=5)
    assert [st["skipped"] for st in s4["stages"]] == [False, False]

    # per-partition lineage metrics present and consistent
    with open(os.path.join(out, "pairs_tiled", "manifest.json")) as f:
        man = json.load(f)
    assert man["total_rows"] == sum(p["rows"] for p in man["partitions"])
    assert all(p["bytes"] > 0 for p in man["partitions"])


def test_job_rebuilds_after_an_input_is_rewritten_in_place(spark, job_inputs,
                                                           tmp_path):
    """Rewriting the regions parquet at the same path between two runs
    re-runs ``pairs_tiled`` with the new regions; the old output is not
    resumed."""
    from pyspark.sql import functions as F
    from cdap_geo_spark import fixtures
    from cdap_geo_spark.jobs.sjoin_tile import run
    docs, _ = job_inputs
    regs, out = str(tmp_path / "regions"), str(tmp_path / "out")
    fixtures.regions(spark, 60).write.parquet(regs)
    s1 = run(spark, docs=docs, regions=regs, out=out,
             check_invariant=False)
    assert s1["rows"] > 0

    fixtures.regions(spark, 60).withColumn(
        "region_id", F.concat(F.lit("new_"), "region_id")) \
        .write.mode("overwrite").parquet(regs)
    s2 = run(spark, docs=docs, regions=regs, out=out,
             check_invariant=False)
    assert [st["skipped"] for st in s2["stages"]] == [False, False]
    ids = {r[0] for r in spark.read.parquet(
        os.path.join(out, "pairs_tiled", "data"))
        .select("region_id").distinct().collect()}
    assert ids and all(i.startswith("new_") for i in ids)


def test_job_rebuilds_after_an_engine_change(spark, job_inputs, tmp_path,
                                             monkeypatch):
    """Same inputs and params: the second run resumes, but a changed
    engine identity (new package sources) re-runs every stage."""
    from cdap_geo_spark.jobs.sjoin_tile import run
    from cdap_geo_spark.plans import manifest
    docs, regs = job_inputs
    out = str(tmp_path / "out")
    run(spark, docs=docs, regions=regs, out=out, check_invariant=False)
    s2 = run(spark, docs=docs, regions=regs, out=out, check_invariant=False)
    assert [st["skipped"] for st in s2["stages"]] == [True, True]
    monkeypatch.setattr(manifest, "engine_identity", lambda: "changed")
    s3 = run(spark, docs=docs, regions=regs, out=out, check_invariant=False)
    assert [st["skipped"] for st in s3["stages"]] == [False, False]


def test_engine_identity_hashes_the_package_sources(tmp_path):
    """The identity read from the --py-files zip equals the one read
    from the source tree, and a changed module changes it."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import package as pkg
    finally:
        sys.path.pop(0)
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from cdap_geo_spark.plans.manifest import engine_identity; "
            "print(engine_identity())")

    def identity(path):
        return subprocess.run([sys.executable, "-c", code, path], check=True,
                              capture_output=True, text=True,
                              cwd=str(tmp_path)).stdout.strip()
    zpath = pkg.build(str(tmp_path / "a.zip"))
    assert identity(zpath) == identity(REPO)
    with zipfile.ZipFile(zpath) as src, \
            zipfile.ZipFile(str(tmp_path / "b.zip"), "w") as dst:
        for name in src.namelist():
            data = src.read(name)
            if name.endswith("operators/knn.py"):
                data += b"\n# changed\n"
            dst.writestr(name, data)
    assert identity(str(tmp_path / "b.zip")) != identity(zpath)


def test_package_zip_is_importable_and_deterministic(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import package as pkg
    finally:
        sys.path.pop(0)
    z1 = pkg.build(str(tmp_path / "a.zip"))
    z2 = pkg.build(str(tmp_path / "b.zip"))
    assert open(z1, "rb").read() == open(z2, "rb").read()  # deterministic
    names = zipfile.ZipFile(z1).namelist()
    assert "cdap_geo_spark/jobs/sjoin_tile.py" in names
    assert not any("__pycache__" in n for n in names)
    # the zip alone resolves the whole package in a fresh interpreter
    probe = subprocess.run(
        [sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]); "
         "import cdap_geo_spark.jobs.sjoin_tile as j; "
         "import cdap_geo_spark.operators.sjoin; print(j.main.__name__)",
         z1],
        capture_output=True, text=True, timeout=120)
    assert probe.returncode == 0, probe.stderr
    assert probe.stdout.strip() == "main"


def test_real_spark_submit_py_files(job_inputs, tmp_path):
    """One genuine ``spark-submit --py-files`` run: driver file outside
    the zip, package resolved from the zip, local[2] master, manifest
    output + span invariant verified by the job itself."""
    import pyspark
    submit = os.path.join(os.path.dirname(pyspark.__file__),
                          "bin", "spark-submit")
    if not os.path.exists(submit):
        pytest.skip("no spark-submit binary in this pyspark install")
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import package as pkg
    finally:
        sys.path.pop(0)
    zpath = pkg.build(str(tmp_path / "cdap_geo_spark.zip"))
    docs, regs = job_inputs
    out = str(tmp_path / "out")
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    proc = subprocess.run(
        [submit, "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zpath,
         os.path.join(REPO, "scripts", "submit_sjoin_tile.py"),
         "--docs", docs, "--regions", regs, "--out", out],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=str(tmp_path))  # cwd outside the repo: the zip must resolve
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["rows"] > 0
    assert summary["span_invariant_violations"] == 0
    assert os.path.exists(os.path.join(out, "enriched", "manifest.json"))
