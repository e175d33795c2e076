"""Arrow-vectorized pandas UDF factories over the NumPy kernels.

Geometry bytes cross the JVM<->Python boundary only as Arrow batches:
through these column UDFs, or through the operators' own
``mapInArrow`` passes over whole batches (the broadcast sjoin probe,
the broadcast kNN top-k, stream enrichment). Engine contract: no
per-row Python — the reference's 11 per-row ``F.udf`` sites,
SURVEY.md §2.10, all collapse into these factories and passes.
Parameterized UDFs follow the reference's currying pattern (closure
captures level/how/resolution, ``cdap_geo/functions.py:20-24``).

Pair predicates factorize the right-hand Series first
(``pd.factorize`` on the raw WKB bytes) so each distinct geometry is
parsed once per batch and its edge tables are reused across all its
pairs — the Arrow-batch analogue of shapely prepared geometries
(``cdap_geo/_indexing.py:253-254``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T
from pyspark.sql.functions import pandas_udf

from cdap_geo_spark.core import cells as C, geom as G, wkb as W

BOUNDS_FIELDS = [
    T.StructField("minx", T.DoubleType()),
    T.StructField("miny", T.DoubleType()),
    T.StructField("maxx", T.DoubleType()),
    T.StructField("maxy", T.DoubleType()),
]
BOUNDS_TYPE = T.StructType(BOUNDS_FIELDS)


def _to_blob_list(s: pd.Series) -> list:
    return [None if v is None else bytes(v) for v in s]


# ---------------------------------------------------------------------------
# Decode / bounds / index
# ---------------------------------------------------------------------------

def st_bounds():
    """binary WKB -> struct<minx,miny,maxx,maxy> (null geometry -> nulls).

    Reference: ``bounds`` UDF + array indexing, ``cdap_geo/functions.py:26-28``,
    ``cdap_geo/index_bbox.py:6-13`` — named struct fields instead of
    positional array access.
    """
    @pandas_udf(BOUNDS_TYPE)
    def _bounds(s: pd.Series) -> pd.DataFrame:
        b = W.parse_wkb(_to_blob_list(s)).bounds()
        return pd.DataFrame(b, columns=["minx", "miny", "maxx", "maxy"])
    return _bounds


def st_cells(level: int, how: str = "bbox", pad: float = 1.0):
    """binary WKB -> array<long> cell cover only."""
    @pandas_udf(T.ArrayType(T.LongType()))
    def _cells(s: pd.Series) -> pd.Series:
        batch = W.parse_wkb(_to_blob_list(s))
        off, cc, _ = C.cover_batch(batch, level, how=how, pad=pad)
        return pd.Series([cc[off[i]:off[i + 1]] for i in range(len(batch))])
    return _cells


def st_cell_point(level: int):
    """binary WKB point -> single int64 cell id (no straddle; for
    storage layout / range partitioning keys). A point outside the
    world frame gets the nearest edge cell (``cells.point_grid``), the
    cell a region cover clamps to. Null for invalid."""
    @pandas_udf(T.LongType())
    def _cell(s: pd.Series) -> pd.Series:
        b = W.parse_wkb(_to_blob_list(s)).bounds()
        bad = np.isnan(b[:, 0]) | np.isnan(b[:, 1])
        xi, yi = C.point_grid(np.nan_to_num(b[:, 0]),
                              np.nan_to_num(b[:, 1]), level)
        out = pd.Series(C.encode(level, xi, yi).astype(object))
        out[bad] = None
        return out
    return _cell


# ---------------------------------------------------------------------------
# Scalar geometry functions
# ---------------------------------------------------------------------------

def st_area():
    """binary -> double (``cdap_geo/functions.py:12-14``, float->double)."""
    @pandas_udf(T.DoubleType())
    def _area(s: pd.Series) -> pd.Series:
        return pd.Series(G.area(W.parse_wkb(_to_blob_list(s))))
    return _area


def st_length():
    """binary -> double boundary length (polygon perimeter incl. holes,
    line length, point 0 — PostGIS ``ST_Perimeter``/``ST_Length``
    semantics; the reference reads ``shapely .length`` on flattened
    parts). Vectorized batch kernel, no per-row Python."""
    @pandas_udf(T.DoubleType())
    def _len(s: pd.Series) -> pd.Series:
        return pd.Series(G.length(W.parse_wkb(_to_blob_list(s))))
    return _len


def st_num_points():
    """binary -> long vertex count (``cdap_geo/misc.py:30-32``) — the
    engine's skew/cost signal."""
    @pandas_udf(T.LongType())
    def _n(s: pd.Series) -> pd.Series:
        return pd.Series(G.vertex_counts(W.parse_wkb(_to_blob_list(s))))
    return _n


def st_point():
    """(x: double, y: double) -> binary WKB point (vectorized emit)."""
    @pandas_udf(T.BinaryType())
    def _pt(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(W.points_to_wkb(x.to_numpy(np.float64),
                                         y.to_numpy(np.float64)))
    return _pt


def st_box():
    """(minx,miny,maxx,maxy) -> binary WKB box polygon."""
    @pandas_udf(T.BinaryType())
    def _box(minx: pd.Series, miny: pd.Series,
             maxx: pd.Series, maxy: pd.Series) -> pd.Series:
        return pd.Series(W.boxes_to_wkb(minx.to_numpy(np.float64),
                                        miny.to_numpy(np.float64),
                                        maxx.to_numpy(np.float64),
                                        maxy.to_numpy(np.float64)))
    return _box


def st_centroid():
    """binary -> binary WKB centroid point (highest-dimension rule:
    polygon area-weighted / line length-weighted / point mean — see
    :func:`cdap_geo_spark.core.geom.centroid`). NULL/empty -> NULL.
    The recommended pointifier for feeding extended geometries into
    point-mode ``knn_join``."""
    @pandas_udf(T.BinaryType())
    def _cent(s: pd.Series) -> pd.Series:
        c = G.centroid(W.parse_wkb(_to_blob_list(s)))
        bad = np.isnan(c[:, 0])
        blobs = W.points_to_wkb(np.nan_to_num(c[:, 0]),
                                np.nan_to_num(c[:, 1]))
        out = pd.Series(blobs)
        out[bad] = None
        return out
    return _cent


def st_centroid_xy():
    """binary -> struct<x: double, y: double> centroid coordinates
    (same kernel as :func:`st_centroid`, no re-encode)."""
    out_t = T.StructType([T.StructField("x", T.DoubleType()),
                          T.StructField("y", T.DoubleType())])

    @pandas_udf(out_t)
    def _cent(s: pd.Series) -> pd.DataFrame:
        c = G.centroid(W.parse_wkb(_to_blob_list(s)))
        return pd.DataFrame({"x": c[:, 0], "y": c[:, 1]})
    return _cent


# ---------------------------------------------------------------------------
# Pair predicates (the refinement pass)
# ---------------------------------------------------------------------------

#: Cache-sized kernel slices, NOT whole-batch: a 64k-pair gather
#: touches tens of MB (coords + edge tables + masks); at 32 concurrent
#: workers that working set thrashes the shared LLC and the per-pair
#: cost exploded 13x (measured 313 us/pair vs 23 us/pair at 2 workers,
#: BENCH/BASELINE.md). 2k-pair slices keep each worker's active set
#: ~L2-sized: same-window A/B at sf0.1/local[32] cut the refine stage
#: 110 s -> 24-44 s and per-pair kernel CPU 313 -> 29 us, and even the
#: 2-worker run improved (117.8 -> 89.9 s). Arrow batches stay large
#: (65536) — IPC amortization and cache behavior are decoupled by
#: slicing in :func:`pair_kernel_chunked`. A value <= 0 runs the whole
#: batch as one slice.
KERNEL_CHUNK = 2048


def pair_kernel_chunked(kernel, lb, rb, li: np.ndarray, ri: np.ndarray,
                        out_dtype) -> np.ndarray:
    """``kernel(lb, rb, li, ri)`` run over :data:`KERNEL_CHUNK`-pair
    slices of the candidate pairs; the one slicing loop shared by the
    refine UDFs and the broadcast sjoin pass."""
    out = np.zeros(len(li), out_dtype)
    chunk = KERNEL_CHUNK if KERNEL_CHUNK > 0 else max(len(li), 1)
    for s in range(0, len(li), chunk):
        out[s:s + chunk] = kernel(lb, rb, li[s:s + chunk], ri[s:s + chunk])
    return out


def bbox_overlap(lb: np.ndarray, rb: np.ndarray,
                 margin: float = 0.0) -> np.ndarray:
    """Row-wise bbox-overlap prefilter of (n,4) bounds pairs, each left
    box grown by ``margin`` (the distance-join dilation). The NumPy
    twin of the Catalyst filter in
    :func:`cdap_geo_spark.operators.sjoin.refine_candidates`: strict
    inequalities, so touching boxes stay candidates."""
    return ~((lb[:, 0] - margin > rb[:, 2]) | (lb[:, 1] - margin > rb[:, 3])
             | (lb[:, 2] + margin < rb[:, 0]) | (lb[:, 3] + margin < rb[:, 1]))


def _pair_kernel(kernel, out_dtype):
    """Factorize BOTH sides: candidates repeat each doc ~once per
    overlapping region and each region across many docs, so parsing
    unique blobs only cuts WKB decode work by the duplication factor."""
    def run(l: pd.Series, r: pd.Series) -> np.ndarray:
        lcodes, lunique = pd.factorize(l, use_na_sentinel=True)
        rcodes, runique = pd.factorize(r, use_na_sentinel=True)
        lb = W.parse_wkb(_to_blob_list(pd.Series(lunique)))
        rb = W.parse_wkb(_to_blob_list(pd.Series(runique)))
        li = lcodes.astype(np.int64)
        ri = rcodes.astype(np.int64)
        vi = np.flatnonzero((ri >= 0) & (li >= 0))
        out = np.zeros(len(l), out_dtype)
        out[vi] = pair_kernel_chunked(kernel, lb, rb, li[vi], ri[vi],
                                      out_dtype)
        return out
    return run


def st_intersects():
    """(l_wkb, r_wkb) -> bool exact intersects — the refinement predicate
    (``cdap_geo/functions.py:72-78``; boundary touch counts)."""
    run = _pair_kernel(G.pairs_intersect, bool)

    @pandas_udf(T.BooleanType())
    def _its(l: pd.Series, r: pd.Series) -> pd.Series:
        return pd.Series(run(l, r))
    return _its


def st_distance():
    """(l_wkb, r_wkb) -> double euclidean distance (0 when intersecting;
    the ``st_join(distance=d)`` refinement predicate,
    ``cdap_geo/sedona.py:136-141``)."""
    run = _pair_kernel(G.pairs_distance, np.float64)

    @pandas_udf(T.DoubleType())
    def _dist(l: pd.Series, r: pd.Series) -> pd.Series:
        return pd.Series(run(l, r))
    return _dist


def st_intersection_area():
    """(l_wkb, r_wkb) -> double area of overlap, fused in one kernel like
    the reference's ``intersection_area`` (``cdap_geo/functions.py:37-39``,
    README.md:27). v1: right side must be a convex polygon/box."""
    run = _pair_kernel(G.pairs_intersection_area, np.float64)

    @pandas_udf(T.DoubleType())
    def _ia(l: pd.Series, r: pd.Series) -> pd.Series:
        return pd.Series(run(l, r))
    return _ia
