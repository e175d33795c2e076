"""The fixed cost of one Python node, measured on the benchmark's docs.

Usage: python3 scripts/boundary_cost.py [--seed N] [--repeats R]

Writes the seed's perfbench documents (30,000 docs), then times four
plans over ``(doc_id, geometry)`` of those docs, each written to the
``noop`` sink: the bare scan, the scan through one identity
``mapInArrow``, through two chained ones, and through one
``mapInArrow`` that decodes each batch's WKB (``parse_wkb`` and
``bounds()``) and passes the batch on. The plans run in rounds of one
each, after one warm-up round, and the script prints the median wall
time of each. The differences are what one Python node costs before
it computes anything, and what the decode adds to it. The identity
function imports the package in the worker, as every node of the
library does. The session
is perfbench's: ``local[nproc]``, a 2 GB driver, scratch files in a
temporary directory that is removed at the end.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def identity(batches):
    import cdap_geo_spark  # noqa: F401  (as in every node of the library)
    yield from batches


def decode(batches):
    from cdap_geo_spark.core import wkb as W
    for b in batches:
        W.parse_wkb(b.column(1)).bounds()
        yield b


def plans(spark, docs_path: str) -> dict:
    from cdap_geo_spark import docs as D
    scan = D.with_geometry(spark.read.parquet(docs_path)) \
        .select("doc_id", "geometry")
    one = scan.mapInArrow(identity, scan.schema)
    return {"scan": scan, "one_node": one,
            "two_nodes": one.mapInArrow(identity, scan.schema),
            "decode": scan.mapInArrow(decode, scan.schema)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeats", type=int, default=7)
    args = ap.parse_args(argv)

    from perfbench import inputs as I
    from perfbench import run as R
    work = tempfile.mkdtemp(prefix="boundary_cost_")
    try:
        R.configure_env(work)
        cores = len(os.sched_getaffinity(0))
        spark = R.start_session(work, cores)
        try:
            inp = I.write(spark, os.path.join(work, "inputs"), args.seed,
                          I.Sizes(**R.SIZES))
            runs = plans(spark, inp.docs_path)
            times = {name: [] for name in runs}
            for round_ in range(args.repeats + 1):
                for name, df in runs.items():
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    if round_:
                        times[name].append(time.perf_counter() - t0)
        finally:
            R.stop_jvm(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"local[{cores}], seed {args.seed}, {R.SIZES['docs']} docs, "
          f"median of {args.repeats}:")
    for name, ts in times.items():
        print(f"  {name:10s} {median(ts):.3f} s")
    extra = median(times["decode"]) - median(times["one_node"])
    print(f"  decode - one_node {extra:+.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
