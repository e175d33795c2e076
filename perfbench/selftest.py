"""Self-test of the benchmark at tiny scale (about four minutes).

    python3 perfbench/selftest.py

Checks that seed 0 reproduces the fixture module's tables row for row,
that every metric named in BENCHMARK.json is printed with its unit by
the run of its kind, that a deliberately wrong expected fingerprint
counts as a failure, and that the benchmark refuses to run without the
program beside it. Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run as R  # noqa: E402

TINY = {"docs": 2_000, "regions": 40, "queries": 20}


def require(ok: bool, what) -> None:
    if not ok:
        raise AssertionError(what)


def check_seed_zero(work: str) -> None:
    """Seed 0's documents and queries equal fixtures.documents /
    fixtures.knn_queries."""
    from cdap_geo_spark import fixtures
    from perfbench import inputs as I
    spark = R.start_session(work, 2)
    try:
        inp = I.write(spark, os.path.join(work, "inputs"), 0,
                      I.Sizes(**TINY))
        for mine, theirs, key in (
                (inp.docs_path, fixtures.documents(spark, TINY["docs"]),
                 "doc_id"),
                (inp.queries_path,
                 fixtures.knn_queries(spark, TINY["queries"]), "query_id")):
            a = spark.read.parquet(mine).orderBy(key).collect()
            b = theirs.orderBy(key).collect()
            require([r.asDict(True) for r in a] == [r.asDict(True) for r in b],
                    f"seed 0 differs from the fixture module: {mine}")
    finally:
        R.stop_jvm(spark)


def run_tiny(name: str, trace: bool, work: str, expect=None) -> dict:
    from perfbench.inputs import Sizes
    os.makedirs(work, exist_ok=True)
    try:
        return R.run(name, 0, 1.0, trace, Sizes(**TINY), work, expect)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def check_metrics(result: dict, spec: list) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    require(got == want, f"metrics differ from BENCHMARK.json: {got}")
    require(result["correct"] and result["failed"] == 0, result)


def check_refuses_without_program(work: str) -> None:
    bare = os.path.join(work, "bare")
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sjoin_tile",
         "--seed", "0", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=170)
    require(p.returncode != 0 and not p.stdout.strip(), p)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    require({m["name"]: m["unit"] for m in spec["end_to_end"]}
            == R.END_TO_END, "end_to_end differs from run.END_TO_END")
    require({m["name"]: m["unit"] for m in spec["per_layer"]}
            == R.PER_LAYER, "per_layer differs from run.PER_LAYER")
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    R.configure_env(work)
    try:
        check_refuses_without_program(work)
        check_seed_zero(os.path.join(work, "seed0"))
        for name in R.WORKLOAD_NAMES:
            check_metrics(run_tiny(name, False, os.path.join(work, name)),
                          spec["end_to_end"])
        check_metrics(run_tiny("knn", True, os.path.join(work, "trace")),
                      spec["per_layer"])
        wrong = run_tiny("sjoin_tile", False, os.path.join(work, "wrong"),
                         expect="0:0:0")
        require(wrong["failed"] > 0 and not wrong["correct"], wrong)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
