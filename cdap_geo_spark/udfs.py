"""Arrow UDF factories over the NumPy kernels.

Geometry bytes cross the JVM<->Python boundary only as Arrow batches:
through these column UDFs (``arrow_udf``: each call gets and returns
pyarrow arrays, and :func:`~cdap_geo_spark.core.wkb.parse_wkb` decodes
the binary column from its buffers), or through the operators' own
``mapInArrow`` passes over whole batches (the broadcast sjoin probe,
the broadcast kNN top-k, stream enrichment). Engine contract: no
per-row Python — the reference's 11 per-row ``F.udf`` sites,
SURVEY.md §2.10, all collapse into these factories and passes.
Parameterized UDFs follow the reference's currying pattern (closure
captures level/how/resolution, ``cdap_geo/functions.py:20-24``).

Pair predicates dictionary-encode both blob columns first
(``pyarrow.compute.dictionary_encode`` on the raw WKB bytes) so each
distinct geometry is parsed once per batch and its edge tables are
reused across all its pairs — the Arrow-batch analogue of shapely
prepared geometries (``cdap_geo/_indexing.py:253-254``).

A NaN in a double result is returned as null.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F, types as T
from pyspark.sql.functions import arrow_udf

from cdap_geo_spark.core import cells as C, geom as G, wkb as W

BOUNDS_FIELDS = [
    T.StructField("minx", T.DoubleType()),
    T.StructField("miny", T.DoubleType()),
    T.StructField("maxx", T.DoubleType()),
    T.StructField("maxy", T.DoubleType()),
]
BOUNDS_TYPE = T.StructType(BOUNDS_FIELDS)


def _doubles(x) -> pa.Array:
    """A float64 result column, NaN as null."""
    return pa.array(x, pa.float64(), from_pandas=True)


def _floats(a: pa.Array) -> np.ndarray:
    """A float64 argument column as NumPy, null as NaN."""
    return a.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)


def _struct(cols: dict) -> pa.StructArray:
    """A struct result column of float64 fields, NaN as null."""
    return pa.StructArray.from_arrays([_doubles(v) for v in cols.values()],
                                      names=list(cols))


# ---------------------------------------------------------------------------
# Decode / bounds / index
# ---------------------------------------------------------------------------

def st_bounds():
    """binary WKB -> struct<minx,miny,maxx,maxy> (null geometry -> nulls).

    Reference: ``bounds`` UDF + array indexing, ``cdap_geo/functions.py:26-28``,
    ``cdap_geo/index_bbox.py:6-13`` — named struct fields instead of
    positional array access.
    """
    @arrow_udf(BOUNDS_TYPE)
    def _bounds(s: pa.Array) -> pa.Array:
        b = W.parse_wkb(s).bounds()
        return _struct({"minx": b[:, 0], "miny": b[:, 1],
                        "maxx": b[:, 2], "maxy": b[:, 3]})
    return _bounds


def st_cells(level: int, how: str = "bbox", pad: float = 1.0):
    """binary WKB -> array<long> cell cover only."""
    @arrow_udf(T.ArrayType(T.LongType()))
    def _cells(s: pa.Array) -> pa.Array:
        off, cc, _ = C.cover_batch(W.parse_wkb(s), level, how=how, pad=pad)
        return pa.ListArray.from_arrays(pa.array(off, pa.int32()),
                                        pa.array(cc, pa.int64()))
    return _cells


def st_cell_point(level: int):
    """binary WKB point -> single int64 cell id (no straddle; for
    storage layout / range partitioning keys). A point outside the
    world frame gets the nearest edge cell (``cells.point_grid``), the
    cell a region cover clamps to. Null for invalid."""
    @arrow_udf(T.LongType())
    def _cell(s: pa.Array) -> pa.Array:
        b = W.parse_wkb(s).bounds()
        bad = np.isnan(b[:, 0]) | np.isnan(b[:, 1])
        xi, yi = C.point_grid(np.nan_to_num(b[:, 0]),
                              np.nan_to_num(b[:, 1]), level)
        return pa.array(C.encode(level, xi, yi), pa.int64(), mask=bad)
    return _cell


# ---------------------------------------------------------------------------
# Scalar geometry functions
# ---------------------------------------------------------------------------

def st_area():
    """binary -> double (``cdap_geo/functions.py:12-14``, float->double)."""
    @arrow_udf(T.DoubleType())
    def _area(s: pa.Array) -> pa.Array:
        return _doubles(G.area(W.parse_wkb(s)))
    return _area


def st_length():
    """binary -> double boundary length (polygon perimeter incl. holes,
    line length, point 0 — PostGIS ``ST_Perimeter``/``ST_Length``
    semantics; the reference reads ``shapely .length`` on flattened
    parts). Vectorized batch kernel, no per-row Python."""
    @arrow_udf(T.DoubleType())
    def _len(s: pa.Array) -> pa.Array:
        return _doubles(G.length(W.parse_wkb(s)))
    return _len


def st_num_points():
    """binary -> long vertex count (``cdap_geo/misc.py:30-32``) — the
    engine's skew/cost signal."""
    @arrow_udf(T.LongType())
    def _n(s: pa.Array) -> pa.Array:
        return pa.array(G.vertex_counts(W.parse_wkb(s)), pa.int64())
    return _n


def st_point():
    """(x: double, y: double) -> binary WKB point (vectorized emit)."""
    @arrow_udf(T.BinaryType())
    def _pt(x: pa.Array, y: pa.Array) -> pa.Array:
        return pa.array(W.points_to_wkb(_floats(x), _floats(y)), pa.binary())
    return _pt


def st_box():
    """(minx,miny,maxx,maxy) -> binary WKB box polygon."""
    @arrow_udf(T.BinaryType())
    def _box(minx: pa.Array, miny: pa.Array,
             maxx: pa.Array, maxy: pa.Array) -> pa.Array:
        return pa.array(W.boxes_to_wkb(_floats(minx), _floats(miny),
                                       _floats(maxx), _floats(maxy)),
                        pa.binary())
    return _box


def st_centroid():
    """binary -> binary WKB centroid point (highest-dimension rule:
    polygon area-weighted / line length-weighted / point mean — see
    :func:`cdap_geo_spark.core.geom.centroid`). NULL/empty -> NULL.
    The recommended pointifier for feeding extended geometries into
    point-mode ``knn_join``."""
    @arrow_udf(T.BinaryType())
    def _cent(s: pa.Array) -> pa.Array:
        c = G.centroid(W.parse_wkb(s))
        blobs = W.points_to_wkb(np.nan_to_num(c[:, 0]),
                                np.nan_to_num(c[:, 1]))
        return pa.array(blobs, pa.binary(), mask=np.isnan(c[:, 0]))
    return _cent


def st_centroid_xy():
    """binary -> struct<x: double, y: double> centroid coordinates
    (same kernel as :func:`st_centroid`, no re-encode)."""
    out_t = T.StructType([T.StructField("x", T.DoubleType()),
                          T.StructField("y", T.DoubleType())])

    @arrow_udf(out_t)
    def _cent(s: pa.Array) -> pa.Array:
        c = G.centroid(W.parse_wkb(s))
        return _struct({"x": c[:, 0], "y": c[:, 1]})
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
    def run(l: pa.Array, r: pa.Array) -> np.ndarray:
        ld, rd = pc.dictionary_encode(l), pc.dictionary_encode(r)
        lb, rb = W.parse_wkb(ld.dictionary), W.parse_wkb(rd.dictionary)
        li = ld.indices.fill_null(-1).to_numpy().astype(np.int64)
        ri = rd.indices.fill_null(-1).to_numpy().astype(np.int64)
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

    @arrow_udf(T.BooleanType())
    def _its(l: pa.Array, r: pa.Array) -> pa.Array:
        return pa.array(run(l, r), pa.bool_())
    return _its


def st_distance():
    """(l_wkb, r_wkb) -> double euclidean distance (0 when intersecting;
    the ``st_join(distance=d)`` refinement predicate,
    ``cdap_geo/sedona.py:136-141``)."""
    run = _pair_kernel(G.pairs_distance, np.float64)

    @arrow_udf(T.DoubleType())
    def _dist(l: pa.Array, r: pa.Array) -> pa.Array:
        return _doubles(run(l, r))
    return _dist


def st_intersection_area():
    """(l_wkb, r_wkb) -> double area of overlap, fused in one kernel like
    the reference's ``intersection_area`` (``cdap_geo/functions.py:37-39``,
    README.md:27). v1: right side must be a convex polygon/box."""
    run = _pair_kernel(G.pairs_intersection_area, np.float64)

    @arrow_udf(T.DoubleType())
    def _ia(l: pa.Array, r: pa.Array) -> pa.Array:
        return _doubles(run(l, r))
    return _ia
