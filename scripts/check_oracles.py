"""Local replica of the driver's correctness harness: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.01,
compare row count + order-insensitive values."""

import os
import sys
import time
from pathlib import Path

# this checkout's package, wherever the script is run from: in the
# driver, and in the Python workers, which take the environment's path
ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import duckdb
import pandas as pd

import __spark_entry__ as E
from cdap_geo_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
# data-adapted oracles (trained IVF centroids) sample the compared SF
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    spark = get_spark(cores=8, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    qs, os_ = E.queries(), E.oracle_sql()
    failures = 0
    only = sys.argv[2:] or list(qs)
    from cdap_geo_spark.core.lifetime import checkpoint_scope
    for name in only:
        fn = qs[name]
        t0 = time.time()
        # release each query's checkpoint blocks once toPandas lands —
        # a 34-query sweep otherwise holds every fingerprint relation
        # until driver GC
        with checkpoint_scope():
            got = fn(spark, SF_DIR).toPandas()
        t1 = time.time()
        if name not in os_:
            print(f"{name}: rows={len(got)} (rows-only) {t1-t0:.1f}s")
            continue
        want = con.execute(os_[name]).df()
        g, w = normalize(got), normalize(want)
        ok_rows = len(g) == len(w)
        ok_cols = list(g.columns) == list(w.columns)
        ok_vals = ok_rows and ok_cols and g.equals(w.astype(g.dtypes.to_dict()))
        status = "OK" if (ok_rows and ok_cols and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{name}: {status} rows={len(g)}/{len(w)} cols={ok_cols} "
              f"vals={ok_vals} {t1-t0:.1f}s")
        if status == "FAIL" and ok_cols:
            merged = g.merge(w, how="outer", indicator=True)
            print(merged[merged._merge != "both"].head(8))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
