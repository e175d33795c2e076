"""Probe traffic of ``knn_join``'s histogram route on seeded inputs.

Usage: python3 scripts/knn_windows.py [--cases NAME ...] [--reps R]

Each case writes a corpus and a query set of points to parquet in a
temporary directory, then runs ``knn_join(..., k=5,
broadcast_queries=False)`` on a ``local[4]`` session (8 shuffle
partitions) and prints one JSON line:

* ``shift``, ``cells``: the histogram's shift below ``level`` and its
  occupied cells (null when no histogram bounds the windows);
* ``probe_rows``: rows of the query-side ``explode_grid``, the cells
  the queries probe, counted in a separate call;
* ``pass_s``, ``pass_nohist_s``: median wall time of the query pass
  alone with that histogram and without one; the difference is the
  cost of the windows' ``batch_topk`` inside Spark;
* ``call_jobs``: Spark jobs the call runs before it returns;
* ``wall_s``: call + ``count()`` of the result, one value per
  repetition after a warm-up call.

Corpus and queries are written as 4 parquet files each.

The inputs (seed 1, 2,000 queries): 50,000 corpus points, 90% in 20
Gaussian clusters (sigma 3 km) and 10% uniform over a 1,000 km square
inside the world frame. Queries ``in_clusters`` are drawn from the
clusters; queries ``near_points`` are corpus points moved by a 100 m
Gaussian step. ``near_points_400k_l12`` has a 400,000-point corpus.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import uuid

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

#: name -> (corpus points, query placement, level)
CASES = {
    "in_clusters_l16": (50_000, "in_clusters", 16),
    "near_points_l16": (50_000, "near_points", 16),
    "near_points_l12": (50_000, "near_points", 12),
    "near_points_l9": (50_000, "near_points", 9),
    "near_points_400k_l12": (400_000, "near_points", 12),
}
K, N_QUERIES, SEED = 5, 2_000, 1


def inputs(n_corpus: int, placement: str):
    """(corpus, queries) as (n, 2) coordinate arrays."""
    rng = np.random.RandomState(SEED)
    centres = rng.uniform(0, 1_000_000, (20, 2))
    n_clustered = int(0.9 * n_corpus)
    corpus = np.r_[centres[rng.randint(20, size=n_clustered)]
                   + rng.normal(0, 3_000, (n_clustered, 2)),
                   rng.uniform(0, 1_000_000, (n_corpus - n_clustered, 2))]
    if placement == "in_clusters":
        queries = centres[rng.randint(20, size=N_QUERIES)] \
            + rng.normal(0, 3_000, (N_QUERIES, 2))
    else:
        queries = corpus[rng.randint(n_corpus, size=N_QUERIES)] \
            + rng.normal(0, 100, (N_QUERIES, 2))
    return corpus, queries


def write_points(path: str, id_col: str, xy: np.ndarray, files: int):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from cdap_geo_spark.core import wkb as W
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(xy)), files)):
        pq.write_table(pa.table({
            id_col: pa.array(part, pa.int64()),
            "geometry": pa.array(W.points_to_wkb(xy[part, 0], xy[part, 1]),
                                 pa.binary())}),
            os.path.join(path, f"part-{i:03d}.parquet"))


def job_count(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"knn_windows_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def observe(knn, call) -> dict:
    """Probe rows, histogram shift and occupied cells of one call: the
    query-side ``explode_grid`` result is counted, and the arguments
    of the query pass that carries the histogram are kept."""
    seen = {"shift": None, "cells": None, "probe_rows": 0}
    explode, query_pass = knn.explode_grid, knn._query_pass

    def counted(df, ranges, level):
        out = explode(df, ranges, level)
        if "query_id" in df.columns:
            seen["probe_rows"] += out.count()
        return out

    def spied(k, level, box, schema, hist=None):
        if hist is not None:
            seen.update(shift=int(hist[3]), cells=len(hist[0]),
                        args=(k, level, box, schema, hist))
        return query_pass(k, level, box, schema, hist)
    knn.explode_grid, knn._query_pass = counted, spied
    try:
        call()
    finally:
        knn.explode_grid, knn._query_pass = explode, query_pass
    return seen


def pass_seconds(knn, q, args, reps: int) -> list:
    """Median wall time of the query pass alone (``count()`` over its
    ``mapInArrow``), with the call's histogram and without one: the
    difference is what computing the windows costs inside Spark."""
    from pyspark.sql.pandas.types import from_arrow_schema
    k, level, box, schema, hist = args
    out = []
    for h in (hist, None):
        body = knn._query_pass(k, level, box, schema, h)
        df = q.mapInArrow(body, from_arrow_schema(schema))
        df.count()  # warm-up
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df.count()
            walls.append(time.perf_counter() - t0)
        out.append(round(sorted(walls)[len(walls) // 2], 2))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cases", nargs="*", default=list(CASES),
                    choices=list(CASES))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args(argv)

    from cdap_geo_spark.operators import knn
    from cdap_geo_spark.session import get_spark
    spark = get_spark(cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="knn_windows_")
    try:
        for name in args.cases:
            n_corpus, placement, level = CASES[name]
            corpus, queries = inputs(n_corpus, placement)
            cp, qp = (os.path.join(work, name, s) for s in ("c", "q"))
            write_points(cp, "doc_id", corpus, 4)
            write_points(qp, "query_id", queries, 4)
            c, q = spark.read.parquet(cp), spark.read.parquet(qp)

            def call():
                return knn.knn_join(q, c, k=K, level=level,
                                      broadcast_queries=False)
            call().count()  # warm-up
            walls, jobs = [], None
            for _ in range(args.reps):
                t0 = time.perf_counter()
                res, jobs = job_count(spark, call)
                res.count()
                walls.append(round(time.perf_counter() - t0, 2))
            seen = observe(knn, call)
            args_ = seen.pop("args", None)
            if args_ is not None:
                seen["pass_s"], seen["pass_nohist_s"] = pass_seconds(
                    knn, q, args_, args.reps)
            print(json.dumps({"case": name, "level": level,
                              "corpus": n_corpus, "queries": N_QUERIES,
                              "k": K, **seen, "call_jobs": jobs,
                              "wall_s": walls}), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
