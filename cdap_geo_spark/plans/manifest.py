"""Checkpoint manifest: per-stage lineage + per-partition metrics + resume.

The north rule requires every partition to write lineage and row-count
metrics to a checkpoint manifest so any stage resumes idempotently.
The reference approximates this with an after-the-fact stats pass that
rewrites a parquet footer (``cdap_geo/write.py:35-78``) and ad-hoc
stats printing (``cdap_geo/utils.py:71-78``); here it is a first-class
commit protocol:

* a stage = (name, input fingerprint, build function -> DataFrame);
* output is written to ``<root>/<name>/data`` parquet, then the
  manifest ``<root>/<name>/manifest.json`` is written LAST (the commit
  point — a crash before it leaves no manifest, so the stage re-runs;
  after it, re-runs are no-ops). A re-run that rebuilds a committed
  stage removes its manifest before the overwrite deletes the data;
* per-partition metrics (rows, bytes per output file) come from the
  parquet footers — no second scan of the data;
* fingerprints chain: a stage's fingerprint hashes its params + its
  parents' fingerprints, so upstream changes invalidate downstream
  checkpoints automatically (lineage);
* an input enters a fingerprint as its :func:`input_identity` (the
  files under it, with size and mtime), not its bare path, so an input
  rewritten in place re-runs the stages that read it; the engine
  enters as its :func:`engine_identity`, so changed engine code re-runs
  them too.

On a 1000-executor cluster the same layout works on any shared
filesystem/object store with atomic rename; the manifest JSON is tiny
(one entry per output file).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from cdap_geo_spark.session import job_label


def fingerprint(*parts) -> str:
    """Stable hex fingerprint of params and parent fingerprints."""
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def input_identity(path: str) -> list:
    """Sorted ``(relative path, size, mtime)`` of every file under
    ``path`` (the file itself when ``path`` is one), listed through the
    Hadoop FileSystem API of the active session, so it works on any
    store Spark reads. Hash it with :func:`fingerprint`."""
    sc = SparkSession.active().sparkContext
    root = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    prefix = fs.makeQualified(root).toString().rstrip("/")
    out = []
    files = fs.listFiles(root, True)
    while files.hasNext():
        st = files.next()
        rel = st.getPath().toString()[len(prefix):].lstrip("/")
        out.append((rel, st.getLen(), st.getModificationTime()))
    return sorted(out)


@functools.cache
def engine_identity() -> str:
    """Hash of the ``cdap_geo_spark`` package's module sources, read
    through its loader (a source tree or a ``--py-files`` zip), once
    per process. A stage fingerprinted with it re-runs after any change
    to the package, whether or not the stage uses the changed code."""
    from importlib.resources import files

    h = hashlib.sha256()

    def walk(d, rel: str):
        for e in sorted(d.iterdir(), key=lambda e: e.name):
            if e.is_dir() and e.name != "__pycache__":
                walk(e, rel + e.name + "/")
            elif e.name.endswith(".py"):
                h.update((rel + e.name).encode() + b"\x00")
                h.update(e.read_bytes() + b"\x00")
    walk(files("cdap_geo_spark"), "")
    return h.hexdigest()[:16]


@dataclass
class StageResult:
    name: str
    path: str
    fingerprint: str
    skipped: bool
    rows: int
    wall_ms: int
    files: list = field(default_factory=list)


class Manifest:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _paths(self, name: str):
        stage_dir = os.path.join(self.root, name)
        return stage_dir, os.path.join(stage_dir, "data"), \
            os.path.join(stage_dir, "manifest.json")

    def read(self, name: str) -> DataFrame:
        _, data_dir, _ = self._paths(name)
        return self.spark.read.parquet(data_dir)

    def stage_info(self, name: str) -> dict | None:
        _, _, mpath = self._paths(name)
        if not os.path.exists(mpath):
            return None
        with open(mpath) as f:
            return json.load(f)

    def run_stage(self, name: str, fp: str, build) -> StageResult:
        """Run (or resume-skip) one checkpointed stage.

        ``build`` is a zero-arg callable returning the stage DataFrame.
        Identical (name, fingerprint) with an existing manifest ->
        skipped, output read back from the checkpoint.
        """
        stage_dir, data_dir, mpath = self._paths(name)
        info = self.stage_info(name)
        if info is not None and info.get("fingerprint") == fp:
            return StageResult(name, data_dir, fp, True,
                               info["total_rows"], 0, info["partitions"])
        t0 = time.time()
        df = build()
        # the overwrite deletes the committed data first: uncommit it,
        # so a write that fails part-way cannot be resumed as committed
        if info is not None:
            os.remove(mpath)
        with job_label(self.spark, f"manifest.write[{name}]"):
            df.write.mode("overwrite").parquet(data_dir)
        files = self._collect_metrics(data_dir)
        total = sum(f["rows"] for f in files)
        wall_ms = int((time.time() - t0) * 1000)
        manifest = {
            "stage": name,
            "fingerprint": fp,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "wall_ms": wall_ms,
            "total_rows": total,
            "num_files": len(files),
            "partitions": files,
        }
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, mpath)  # the commit point
        return StageResult(name, data_dir, fp, False, total, wall_ms, files)

    def _collect_metrics(self, data_dir: str) -> list:
        """Per-output-file (rows, bytes) from parquet footers only."""
        import pyarrow.parquet as pq
        out = []
        for dirpath, _, names in os.walk(data_dir):
            for fn in sorted(names):
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                md = pq.ParquetFile(full).metadata
                out.append({
                    "file": os.path.relpath(full, data_dir),
                    "rows": md.num_rows,
                    "bytes": os.path.getsize(full),
                    "row_groups": md.num_row_groups,
                })
        return out

