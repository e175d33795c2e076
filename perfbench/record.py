"""Record the sjoin_tile fingerprint of a range of seeds.

    python3 perfbench/record.py FIRST LAST

For each seed in [FIRST, LAST] this builds the seed's inputs at the
benchmark's size, runs the sjoin_tile pipeline once, checks it against
the brute-force oracle, and stores (rows:digest) in expected.json. A
benchmark run on a recorded seed compares every iteration with it; an
unrecorded seed is compared with its own warm-up and the oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run as R  # noqa: E402


def main(argv: list[str]) -> int:
    first, last = int(argv[0]), int(argv[1])
    from perfbench import inputs as I
    from perfbench.workloads import Ctx, SjoinTile
    sizes = I.Sizes(**R.SIZES)
    work = os.path.join(R.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    R.configure_env(work)
    records = {}
    if os.path.exists(R.RECORDS):
        with open(R.RECORDS) as f:
            records = json.load(f)
    mine = records.setdefault(R.sizes_key(sizes), {})
    spark = R.start_session(work, len(os.sched_getaffinity(0)))
    try:
        for seed in range(first, last + 1):
            inp = I.write(spark, os.path.join(work, "inputs"), seed, sizes)
            wl = SjoinTile(Ctx(spark, inp, work))
            res = wl.iterate()
            problems = wl.iteration_problems(res)
            if problems:
                raise RuntimeError(f"seed {seed}: {problems}")
            mine[str(seed)] = res["fp"]
            print(seed, res["fp"], flush=True)
    finally:
        R.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        with open(R.RECORDS, "w") as f:
            json.dump(records, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
