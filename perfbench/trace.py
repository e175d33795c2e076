"""Tracing for the benchmark: spans, Spark's own counters, process RSS.

A span wraps one call the benchmark makes into a layer's public
function. Spans stay in memory; each carries a unique Spark job group,
so after the run one read of Spark's status REST API (the pattern of
``bench_extra.py --jobs``) attributes every job, stage and SQL Python
node to the span that caused it. Untraced runs never touch this module
except for the RSS sampler.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "id": len(self.spans),
               "parent": self._stack[-1]["id"] if self._stack else None,
               "group": f"perfbench-span-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], rec["group"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            self._stack.pop()
            if self._stack:
                g = self._stack[-1]["group"]
                self.sc.setJobGroup(g, g)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the time its child spans cover."""
        return rec["dur"] - sum(c["dur"] for c in self.spans
                                if c["parent"] == rec["id"])

    def subtree(self, rec: dict) -> list[dict]:
        out = [rec]
        for c in self.spans:
            if c["parent"] is not None and any(c["parent"] == o["id"]
                                               for o in out):
                out.append(c)
        return out


# --- Spark status REST API -------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_METRICS = {
    "data sent to Python workers": "arrow_bytes_sent",
    "data returned from Python workers": "arrow_bytes_received",
    "number of output rows": "python_rows",
    "time to initialize Python workers": "worker_init_s",
    "time to run Python workers": "worker_run_s",
}
COUNTERS = ("jobs", "tasks", "run_s", "cpu_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes", *_PY_METRICS.values())


def _metric_value(text: str) -> float:
    """Total of a formatted SQL metric: '1,038', '54.7 KiB', or
    'total (min, med, max ...)\\n8.5 s (...)'."""
    head = text.split("\n")[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([\d,.]+)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def spark_counters(spark) -> dict:
    """Counters per job group, from one read of the status REST API
    after Spark's listener bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def rest(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.loads(r.read())

    out: dict[str, dict] = {}

    def acc(group):
        return out.setdefault(group, dict.fromkeys(COUNTERS, 0.0))

    for j in rest("/jobs"):
        if j.get("jobGroup"):
            acc(j["jobGroup"])["jobs"] += 1
    for s in rest("/stages"):
        if s.get("status") != "COMPLETE" or not s.get("description"):
            continue
        c = acc(s["description"])
        c["tasks"] += s["numCompleteTasks"]
        c["run_s"] += s["executorRunTime"] / 1e3
        c["cpu_s"] += s["executorCpuTime"] / 1e9
        c["gc_s"] += s["jvmGcTime"] / 1e3
        c["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        c["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
    for e in rest("/sql?details=true&planDescription=false"
                  "&offset=0&length=1000000"):
        if not e.get("description"):
            continue
        c = acc(e["description"])
        for node in e.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node["metrics"]}
            if "data sent to Python workers" not in metrics:
                continue
            for name, key in _PY_METRICS.items():
                if name in metrics:
                    c[key] += _metric_value(metrics[name])
    return out


# --- peak RSS of the process tree ------------------------------------

def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1]) * page
        except OSError:  # process ended while we looked
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo += children.get(p, [])
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (driver
    Python, the JVM, Spark's Python workers) until stopped."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
