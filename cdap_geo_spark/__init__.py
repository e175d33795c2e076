"""cdap_geo_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of the reference toolkit
(``aw-west-defra/cdap_geo``, surveyed in SURVEY.md) as an idiomatic
Spark 4.x engine:

* geometry travels as WKB in ``BinaryType`` columns (reference
  convention, ``cdap_geo/index_bbox.py:35``) and is decoded ONLY inside
  Arrow UDFs and ``mapInArrow`` passes, from the Arrow buffers of each
  batch, by NumPy kernels (no per-row Python, no shapely);
* spatial indexing is an int64 hierarchical Z-order cell scheme
  (H3/S2-style parent/child/k-ring algebra) replacing the reference's
  string cell ids (``cdap_geo/index_bbox.py:23``,
  ``cdap_geo/_indexing.py:105``);
* the spatial join is cell-cover → explode →
  broadcast-or-shuffle equi-join → bbox prefilter → exact
  point-in-polygon/intersects refinement (the ``bbox_intersects``
  contract, ``cdap_geo/index_bbox.py:32-76``);
* inputs are interleaved text+media document tables
  (``doc_id, spans:array<struct<kind,text,media_ref,offset>>``) whose
  geometry spans carry hex WKB; the span sequence is preserved
  bit-for-bit through every stage.

Submodules import lazily so the pure-NumPy kernel layer
(``cdap_geo_spark.core``) stays usable without a JVM. Imported in a
Spark Python worker, the package stops the worker re-reading unchanged
zip archives before every task (:mod:`cdap_geo_spark.zipcache`).
"""

import importlib
import sys

__version__ = "0.1.0"

_LAZY = {
    "cells": "cdap_geo_spark.core.cells",
    "geom": "cdap_geo_spark.core.geom",
    "wkb": "cdap_geo_spark.core.wkb",
    "udfs": "cdap_geo_spark.udfs",
    "docs": "cdap_geo_spark.docs",
    "fixtures": "cdap_geo_spark.fixtures",
    "sjoin": "cdap_geo_spark.operators.sjoin",
    "tiles": "cdap_geo_spark.operators.tiles",
    "knn": "cdap_geo_spark.operators.knn",
    "manifest": "cdap_geo_spark.plans.manifest",
}

if "pyspark.worker" in sys.modules:
    from cdap_geo_spark import zipcache as _zipcache
    _zipcache.install()


def __getattr__(name):
    if name in _LAZY:
        return importlib.import_module(_LAZY[name])
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
