"""Profile sjoin_pip at the bench sf: per-stage wall/task metrics.

Usage: python scripts/profile_sjoin.py [variant ...]
variants: default | shuffle | broadcast
Writes a per-stage summary parsed from the Spark event log.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
EVDIR = "/tmp/spark-events"


def run_variant(spark, variant: str) -> dict:
    from pyspark.sql import functions as F

    from cdap_geo_spark import docs as D
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R

    docs = D.with_geometry(R.interleaved_docs(spark, SF_DIR))
    regions = R.region_boxes(spark, SF_DIR).select("region_id", "geometry")
    kw = dict(left_id="doc_id", right_id="region_id", level=8)
    if variant == "shuffle":
        kw.update(broadcast=False)
    elif variant == "broadcast":
        kw.update(broadcast=True)
    out = sjoin_pairs(docs, regions, **kw)
    out = out.select(F.col("doc_id").cast("long"),
                     F.col("region_id").cast("long"))
    t0 = time.time()
    out.write.format("noop").mode("overwrite").save()
    return {"variant": variant, "wall": round(time.time() - t0, 2)}


def parse_events(path: str):
    stages = {}
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                dur = (si.get("Completion Time", 0)
                       - si.get("Submission Time", 0)) / 1000.0
                stages[sid] = {
                    "name": si["Stage Name"].split("\n")[0][:70],
                    "tasks": si["Number of Tasks"],
                    "wall_s": round(dur, 2),
                }
            elif ev.get("Event") == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(sid, {})
                st["cpu_s"] = st.get("cpu_s", 0) + m.get(
                    "Executor CPU Time", 0) / 1e9
                st["run_s"] = st.get("run_s", 0) + m.get(
                    "Executor Run Time", 0) / 1e3
                st["gc_s"] = st.get("gc_s", 0) + m.get(
                    "JVM GC Time", 0) / 1e3
    return stages


def main():
    os.makedirs(EVDIR, exist_ok=True)
    from cdap_geo_spark.session import get_spark
    spark = get_spark(app="profile", cores=CPUS, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": EVDIR,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    variants = sys.argv[1:] or ["default", "shuffle", "broadcast"]
    results = []
    for v in variants:
        results.append(run_variant(spark, v))
        print(json.dumps(results[-1]), flush=True)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(2)
    path = os.path.join(EVDIR, app_id)
    if not os.path.exists(path):  # rolling v2 layout: a directory
        d = os.path.join(EVDIR, f"eventlog_v2_{app_id}")
        cand = [os.path.join(d, f) for f in os.listdir(d)
                if f.startswith("events_")]
        path = sorted(cand)[0]
    stages = parse_events(path)
    for sid in sorted(stages):
        s = stages[sid]
        if s.get("wall_s", 0) > 0.5:
            print(f"stage {sid:4d} wall={s.get('wall_s', 0):8.2f} "
                  f"tasks={s.get('tasks', 0):4d} "
                  f"run_total={s.get('run_s', 0):9.1f} "
                  f"cpu_total={s.get('cpu_s', 0):9.1f} "
                  f"gc_total={s.get('gc_s', 0):7.1f}  {s.get('name', '')}")


if __name__ == "__main__":
    main()
