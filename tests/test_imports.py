"""The engine's Arrow boundary imports no pandas: its UDFs and passes
take and return pyarrow arrays, so a fresh driver or Python worker
that loads the headline modules never pays for the pandas import."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENGINE_MODULES = ("cdap_geo_spark.udfs", "cdap_geo_spark.operators.sjoin",
                  "cdap_geo_spark.operators.tiles",
                  "cdap_geo_spark.operators.knn",
                  "cdap_geo_spark.streaming.enrich", "cdap_geo_spark.io")


def test_engine_modules_import_no_pandas():
    code = ("import importlib, sys\n"
            f"for m in {ENGINE_MODULES!r}:\n"
            "    importlib.import_module(m)\n"
            "print(sorted(m for m in sys.modules\n"
            "             if m == 'pandas' or m.startswith('pandas.')))\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "[]", out
