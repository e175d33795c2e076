"""The repository benchmark: one closed-loop client, one Spark job at a time.

    python3 perfbench/run.py --workload sjoin_tile --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Workloads (``workloads.py``):
``sjoin_tile`` (the BASELINE headline), ``knn`` (iterative kNN rounds)
and ``sjoin_job`` (the checkpointed job plus its resume). Each run sets
up ``SETUP_REPS`` times (session, seeded inputs, one untimed iteration)
and reports the median, then repeats the workload back to back for
``--seconds`` (and at least MIN_ITERATIONS times) and checks every
output.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` spends half
of ``--seconds`` untraced and half traced, probes once every layer the
workload's own loop does not call, and prints the per-layer metrics,
including the tracing overhead. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: 0.5% of the sf0.1 headline's 600k docs and 5,000 regions (ratio
#: kept): at this size one iteration costs ~2-5 s on 4 cores, so a run
#: holds several iterations and the median steadies
SIZES = {"docs": 30_000, "regions": 250, "queries": 200}
SETUP_REPS = 2
#: a median of three is robust to one slow iteration; a median of two,
#: which 10 s of knn (~5 s per iteration) would give, is their mean
MIN_ITERATIONS = 3
#: BENCHMARK.json lists the first two; sjoin_job runs on request and,
#: in every traced run, once as the probe of the manifest layer
WORKLOAD_NAMES = ("sjoin_tile", "knn", "sjoin_job")
#: below this host's 15 GB (session.get_spark defaults to 24g)
DRIVER_MEMORY = "2g"
RECORDS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "expected.json")

END_TO_END = {"wall_s": "s", "rows_per_s": "rows/s", "setup_s": "s",
              "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "fixtures.gen_s": "s",
    "docs.extract_s": "s", "docs.invariant_s": "s",
    "docs.violations": "count",
    "wkb.parse_us_per_geom": "us",
    "cells.cover_us_per_geom": "us", "cells.cells_per_geom": "count",
    "geom.intersect_us_per_pair": "us",
    "udfs.arrow_bytes_sent": "B", "udfs.arrow_bytes_received": "B",
    "udfs.python_rows": "count", "udfs.worker_init_s": "s",
    "udfs.worker_run_s": "s",
    "sjoin.plan_s": "s", "sjoin.plan_jobs": "count", "sjoin.pairs_s": "s",
    "sjoin.candidates": "count", "sjoin.matches": "count",
    "sjoin.refine_yield": "ratio",
    "tiles.assign_s": "s", "tiles.rows_out": "count",
    "knn.loop_s": "s", "knn.final_s": "s", "knn.jobs": "count",
    "manifest.pairs_tiled_s": "s", "manifest.enriched_s": "s",
    "manifest.resume_s": "s", "manifest.files": "count",
    "manifest.bytes": "B", "manifest.bytes_per_row": "B/row",
    "spark.jobs": "count", "spark.tasks": "count", "spark.run_s": "s",
    "spark.cpu_s": "s", "spark.gc_s": "s", "spark.idle_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "bench.self_s": "s",
    "trace.untraced_wall_s": "s", "trace.wall_s": "s",
    "trace.overhead_share": "ratio",
}

# span name -> per-layer metric of its self time
SPAN_TIMES = {"sjoin.plan": "sjoin.plan_s", "sjoin.pairs": "sjoin.pairs_s",
              "tiles.assign": "tiles.assign_s", "knn.loop": "knn.loop_s",
              "knn.final": "knn.final_s", "jobs.resume": "manifest.resume_s",
              "docs.extract": "docs.extract_s",
              "docs.invariant": "docs.invariant_s"}
# (span name, field the benchmark stored on it) -> per-layer metric
SPAN_FIELDS = {("sjoin.pairs", "matches"): "sjoin.matches",
               ("tiles.assign", "rows"): "tiles.rows_out",
               ("docs.invariant", "violations"): "docs.violations",
               ("sjoin.candidates", "candidates"): "sjoin.candidates"}


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and put the checkout on the Python workers' path. Must run before
    the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str, cores: int):
    from cdap_geo_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    spark = get_spark(app="perfbench", cores=cores, extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        # replaces the engine's option string, so it repeats its GC choice
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job of the run back at its end
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited
    (it exits on EOF of its stdin, taking Spark's Python workers)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Tally:
    """Operations attempted and failed; a failed output check counts."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def outcome(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"FAILED: {p}", file=sys.stderr)


def timed_loop(wl, seconds: float, tr, expected: str,
               tally: Tally) -> list[dict]:
    """Closed loop: the next iteration starts when the previous one has
    returned, until ``seconds`` have passed and at least MIN_ITERATIONS
    have run."""
    results = []
    deadline = time.perf_counter() + seconds
    while len(results) < MIN_ITERATIONS or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        try:
            if tr is None:
                res = wl.iterate()
            else:
                with tr.span(f"workload.{wl.name}") as root:
                    res = wl.iterate(tr)
                    root["result"] = res
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            results.append({"wall": time.perf_counter() - t0, "rows": 0})
            tally.outcome([f"{wl.name}: iteration raised"])
            continue
        problems = wl.iteration_problems(res)
        if res["fp"] != expected:
            problems.append(f"{wl.name}: fingerprint {res['fp']} != "
                            f"expected {expected}")
        tally.outcome(problems)
        results.append(res)
    return results


def setup(name: str, seed: int, sizes, work: str, cores: int):
    """SETUP_REPS set-ups of (session, inputs, warm-up iteration). The
    first launches the JVM; later ones get the running session back, so
    with two the median is the mean of a cold and a warm set-up."""
    from perfbench import inputs as I
    from perfbench.workloads import WORKLOADS, Ctx
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        t1 = time.perf_counter()
        inp = I.write(spark, os.path.join(work, "inputs"), seed, sizes)
        t2 = time.perf_counter()
        ctx = Ctx(spark, inp, work)
        wl = WORKLOADS[name](ctx)
        warm = wl.iterate()
        t3 = time.perf_counter()
        reps.append({"start": t1 - t0, "gen": t2 - t1, "total": t3 - t0})
        print(f"perfbench set-up: {reps[-1]}", file=sys.stderr)
    return spark, ctx, wl, reps, warm


def expected_fingerprint(name: str, seed: int, sizes, warm: dict) -> str:
    """The seed's recorded sjoin_tile fingerprint when there is one,
    else the warm-up's (later iterations must reproduce it)."""
    if name == "sjoin_tile" and os.path.exists(RECORDS):
        with open(RECORDS) as f:
            rec = json.load(f).get(sizes_key(sizes), {})
        if str(seed) in rec:
            return rec[str(seed)]
    return warm["fp"]


def sizes_key(sizes) -> str:
    return f"docs={sizes.docs},regions={sizes.regions},queries={sizes.queries}"


def layer_metrics(tr, counters: dict, name: str, reps: list, untraced: list,
                  traced: list, micro: dict, cores: int) -> dict:
    vals: dict[str, list] = {}

    def add(metric, v):
        vals.setdefault(metric, []).append(v)

    for rec in tr.spans:
        if rec["name"] in SPAN_TIMES:
            add(SPAN_TIMES[rec["name"]], tr.self_time(rec))
        for (span, field), metric in SPAN_FIELDS.items():
            if rec["name"] == span and field in rec:
                add(metric, rec[field])
        if rec["name"] == "sjoin.plan":
            add("sjoin.plan_jobs", counters.get(rec["group"], {}).get("jobs", 0))
        if "result" not in rec:
            continue
        sub = tr.subtree(rec)
        res = rec["result"]
        if rec["name"].endswith(".knn"):
            add("knn.jobs", sum(counters.get(s["group"], {}).get("jobs", 0)
                                for s in sub if s["name"].startswith("knn.")))
        if rec["name"].endswith(".sjoin_job"):
            add("manifest.pairs_tiled_s", res["stage_s"]["pairs_tiled"])
            add("manifest.enriched_s", res["stage_s"]["enriched"])
            add("manifest.files", res["files"])
            add("manifest.bytes", res["bytes"])
            add("manifest.bytes_per_row", res["bytes"] / max(res["rows"], 1))
        if rec["name"] != f"workload.{name}":
            continue
        add("bench.self_s", tr.self_time(rec))
        total: dict[str, float] = {}
        for s in sub:
            for k, v in counters.get(s["group"], {}).items():
                total[k] = total.get(k, 0.0) + v
        for k in ("jobs", "tasks", "run_s", "cpu_s", "gc_s",
                  "shuffle_write_bytes", "spill_bytes"):
            add(f"spark.{k}", total.get(k, 0.0))
        add("spark.idle_s", cores * rec["dur"] - total.get("run_s", 0.0))
        for k in ("arrow_bytes_sent", "arrow_bytes_received", "python_rows",
                  "worker_init_s", "worker_run_s"):
            add(f"udfs.{k}", total.get(k, 0.0))

    out = {k: median(v) for k, v in vals.items()}
    if "sjoin.matches" in out and out.get("sjoin.candidates"):
        out["sjoin.refine_yield"] = (out["sjoin.matches"]
                                     / out["sjoin.candidates"])
    out["session.start_s"] = reps[0]["start"]  # JVM launch + context
    out["fixtures.gen_s"] = median([r["gen"] for r in reps])
    out.update(micro)
    untraced_wall = median([r["wall"] for r in untraced])
    traced_wall = median([r["wall"] for r in traced])
    out["trace.untraced_wall_s"] = untraced_wall
    out["trace.wall_s"] = traced_wall
    out["trace.overhead_share"] = (traced_wall - untraced_wall) / untraced_wall
    return out


def attempt(tally: Tally, what: str, fn):
    """Run one checked operation; an exception counts as a failure.
    ``fn`` returns its list of problems (empty when it passed)."""
    try:
        problems = fn()
    except Exception:  # a failed operation is counted, not fatal
        traceback.print_exc()
        problems = [f"{what} raised"]
    tally.outcome(problems)


def measure(wl, seconds: float, expected: str, tally: Tally, reps: list):
    """The untraced run: end-to-end metrics plus summary-only extras."""
    from perfbench.trace import RssSampler
    with RssSampler() as rss:
        results = timed_loop(wl, seconds, None, expected, tally)
    attempt(tally, f"{wl.name} checks", wl.final_checks)
    wall = median([r["wall"] for r in results])
    metrics = {
        "wall_s": wall,
        "rows_per_s": median([r["rows"] for r in results]) / wall,
        "setup_s": median([r["total"] for r in reps]),
        "peak_rss_mb": rss.peak / 2**20,
    }
    extra = {"iterations": len(results),
             "walls": [r["wall"] for r in results]}
    done = [r for r in results if "resume" in r]
    if done:
        extra["resume_s"] = median([r["resume"] for r in done])
        extra["stored_bytes_per_row"] = median(
            [r["bytes"] / r["rows"] for r in done])
    return metrics, extra


def measure_traced(ctx, wl, seconds: float, expected: str, tally: Tally,
                   reps: list, cores: int):
    """The traced run: half untraced, half traced, then one probe of
    each layer the workload's loop does not call."""
    from perfbench.trace import Tracer, spark_counters
    from perfbench.workloads import (WORKLOADS, candidates_probe,
                                     docs_probe, kernel_micro)
    untraced = timed_loop(wl, seconds / 2, None, expected, tally)
    tr = Tracer(ctx.spark)
    traced = timed_loop(wl, seconds / 2, tr, expected, tally)
    attempt(tally, f"{wl.name} checks", wl.final_checks)
    owned = set(wl.layers)
    for other in WORKLOADS.values():
        if owned.issuperset(other.layers):
            continue
        owned.update(other.layers)

        def probe(other=other):
            p = other(ctx)
            with tr.span(f"probe.{other.name}") as root:
                root["result"] = p.iterate(tr)
            return p.iteration_problems(root["result"])
        attempt(tally, f"probe {other.name}", probe)
    attempt(tally, "docs probe", lambda: docs_probe(ctx, tr))
    attempt(tally, "candidates probe", lambda: candidates_probe(ctx, tr))
    micro = kernel_micro(ctx, wl.name)
    metrics = layer_metrics(tr, spark_counters(ctx.spark), wl.name, reps,
                            untraced, traced, micro, cores)
    return metrics, {"iterations": len(untraced) + len(traced),
                     "walls": [r["wall"] for r in untraced + traced]}


def run(name: str, seed: int, seconds: float, trace: bool, sizes,
        work: str, expect: str | None = None) -> dict:
    cores = len(os.sched_getaffinity(0))
    spark, ctx, wl, reps, warm = setup(name, seed, sizes, work, cores)
    tally = Tally()
    try:
        expected = expect or expected_fingerprint(name, seed, sizes, warm)
        if trace:
            metrics, extra = measure_traced(ctx, wl, seconds, expected,
                                            tally, reps, cores)
            units = PER_LAYER
        else:
            metrics, extra = measure(wl, seconds, expected, tally, reps)
            units = END_TO_END
    finally:
        stop_jvm(spark)
    missing = sorted(set(units) - set(metrics))
    if missing:
        tally.outcome([f"metrics not measured: {missing}"])
    report = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
              for k, u in units.items()}
    share = tally.failed / max(tally.attempted, 1)
    walls = extra.pop("walls")
    summary = [f"{k}={v['value']:.6g} {v['unit']}" for k, v in report.items()]
    summary.append(f"fail_share={share:.6g} ratio "
                   f"({tally.failed} of {tally.attempted})")
    summary += [f"{k}={v:.6g}" + {"resume_s": " s",
                                  "stored_bytes_per_row": " B/row"}.get(k, "")
                for k, v in extra.items()]
    summary.append("iteration_walls_s=" + ",".join(f"{w:.3f}" for w in walls))
    print(f"perfbench {name} seed={seed}: " + " ".join(summary))
    return {"correct": tally.failed == 0, "attempted": tally.attempted,
            "failed": tally.failed, "metrics": report}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cdap_geo_spark")):
        print("perfbench: no cdap_geo_spark package beside perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    configure_env(work)
    from perfbench.inputs import Sizes
    try:
        result = run(args.workload, args.seed, args.seconds,
                     bool(args.trace), Sizes(**SIZES), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
