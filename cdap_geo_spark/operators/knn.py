"""k-nearest-neighbour join of point queries over a point corpus
(absent in the reference — SURVEY.md §2.3 notes nearest-neighbour is
only approximable there via ``st_join(distance=d)``,
``cdap_geo/sedona.py:136-141``; the north rule mandates a true kNN
operator).

:func:`knn_join` returns ``(query_id, doc_id, dist, rank <= k)``,
ranked by ``(dist, corpus_id)`` — ties broken deterministically by
corpus id. It has two routes to the same rows.

**Broadcast route** (point mode, query set small enough to broadcast):

1. the query ids and geometries are collected, and the geometries
   decoded, in the driver (one small job, no Python UDF);
2. one ``mapInArrow`` pass decodes each corpus row once and keeps,
   per corpus partition, every query's exact top-k among that
   partition's points (:func:`batch_topk`: the batch's points are
   bucketed by cell and every query expands cell rings at once);
   the driver collects these lists as Arrow (one job);
3. the driver merges them under the same (dist, corpus_id) order
   (:func:`_topk_rows`) and returns the result as a local relation.
   The union of exact per-partition top-k lists under one total order
   contains the global top-k, so nothing needs certifying.

That is two Spark jobs, both run by the call, whatever the data (plus
the planner's bounded row probe when the optimizer has no size
estimate for the queries); the caller's action on the result runs
none.

**Histogram route** (box mode, or a query set too large to broadcast)
— bound each query's search window first, then one lazy join planned
by Catalyst (no Python after the one decode per side: ``st_bounds``
for the corpus, a ``mapInArrow`` pass for the queries). The corpus
rows whose min corner lies inside the world frame are counted (a row
clamped into an edge cell is found, but bounds nothing; a box is no
farther from a query than its min corner):

1. ``knn.stats``: one aggregate over both decoded sides — row counts,
   the extents ``require_points`` checks, the corpus's grid extent,
   and the counted rows' occupied cells at each shift of ``level``;
2. ``knn.histogram`` (skipped when fewer than k rows count): the
   counted rows per cell at the finest shift s whose occupied cells
   fit ``HIST_CELLS``, collected to the driver;
3. the query pass carries the histogram and bounds each query by D
   (:func:`_reach`): the distance from its min corner to the centre of
   the j-th nearest occupied cell plus half a cell diagonal, j the
   fewest nearest cells whose rows reach k — near its k-th distance in
   a dense area, however wide the extent. A row within D lies fewer
   than W = D/cellsize + 1 cells from the query's grid range
   (:func:`~cdap_geo_spark.operators.sjoin.grid_range`), its probe
   window (the whole extent when fewer than k rows count);
4. the query explodes its range widened by W, clipped to the corpus's
   grid extent, and equi-joins the corpus indexed under every cell of
   its range (broadcast if the index rows the stats count fit the
   broadcast threshold). A join row is kept only at the corpus row's
   cover cell nearest the query's range, so each pair is found once,
   and one ``row_number() over (partition by query order by dist,
   corpus_id)`` keeps the first k, the broadcast route's order.

The result is a lazy frame with no checkpoint or cache behind it — the
summary-then-replicate-once plan of Lu et al., *Efficient Processing
of k Nearest Neighbor Joins using MapReduce* (PVLDB 2012).

Both routes put points outside the world frame into the nearest edge
cell (:func:`cells.point_grid`), which keeps the cell-distance bounds
sound.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F, types as T

from cdap_geo_spark import udfs
from cdap_geo_spark.core import cells as C, wkb as W
from cdap_geo_spark.functions.relational import broadcastable
from cdap_geo_spark.operators.sjoin import explode_grid, grid_range
from cdap_geo_spark.session import job_label

#: density seeding: size the FIRST annulus so its inscribed disk is
#: expected to hold ``SEED_SAFETY x k`` corpus points — then d_k <=
#: hi*cellsize certifies most queries in ONE round instead of the
#: guaranteed-wasted ``[0,0]`` round (whose certification bound is
#: d_k <= 0, unsatisfiable for a non-coincident neighbour).
SEED_SAFETY = 4.0
#: seed-radius ceiling in cells: (2*hi+1)^2 ring cells per pending
#: query is the probe fan-out, so an ultra-sparse corpus caps the
#: seed and pays extra (geometrically growing) rounds instead of a
#: quadratic first-round probe.
MAX_SEED_RADIUS = 16
#: cell budget of the histogram route: its collected histogram's
#: occupied cells
HIST_CELLS = 1 << 18
#: element budget of one vectorised step of :func:`batch_topk`:
#: (query, cell) probes and (query, point) pairs are built in blocks
#: of at most this many, whatever the batch or query-set size
BLOCK = 1 << 16


def _annulus_cells(lo: int, hi: int) -> int:
    """Cell count of the Chebyshev annulus [lo, hi] around one cell."""
    outer = (2 * hi + 1) ** 2
    inner = (2 * lo - 1) ** 2 if lo > 0 else 0
    return outer - inner


def _seed_radius(n_corpus: int, area: float, k: int, cellsize: float) -> int:
    """Initial Chebyshev radius (in cells) for ring expansion.

    Uniform-density estimate: the inscribed disk of the annulus
    ``[0, hi]`` has radius ``hi*cellsize``; choose the smallest ``hi``
    whose disk is expected to hold ``SEED_SAFETY*k`` points, so the
    round-1 certification test (``d_k`` within ``hi*cellsize``) usually
    passes. A skewed corpus only costs extra rounds for sparse-area
    queries — the certification bound itself is density-free, so
    correctness never depends on this estimate.
    """
    if n_corpus <= 0 or area <= 0 or cellsize <= 0:
        return 0
    density = n_corpus / area
    r_needed = math.sqrt(SEED_SAFETY * max(k, 1) / (math.pi * density))
    return int(min(MAX_SEED_RADIUS, math.ceil(r_needed / cellsize)))


# ---------------------------------------------------------------------------
# Broadcast route: exact per-partition top-k (NumPy, inside the workers)
# ---------------------------------------------------------------------------

def _group_pos(qs: np.ndarray) -> np.ndarray:
    """Each row's position within its run of equal values of the
    sorted ``qs``."""
    first = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
    return np.arange(len(qs)) - np.repeat(first,
                                          np.diff(np.r_[first, len(qs)]))


def _topk_rows(q: np.ndarray, d: np.ndarray, tie: np.ndarray,
               k: int) -> np.ndarray:
    """Indices of each query's first k rows under (d, tie), in
    (q, d, tie) order."""
    order = np.lexsort((tie, d, q))
    return order[_group_pos(q[order]) < k]


def _kth(q: np.ndarray, d: np.ndarray, n_q: int, k: int) -> np.ndarray:
    """Per query, the largest of its kept distances if it holds k of
    them, else inf (rows hold at most k per query)."""
    kth = np.full(n_q, -np.inf)
    np.maximum.at(kth, q, d)
    kth[np.bincount(q, minlength=n_q) < k] = np.inf
    return kth


def _ring_probes(qgx, qgy, active, lo, hi, side, cell_key):
    """(query, occupied cell) pairs of the Chebyshev annulus [lo, hi]
    around each active query's cell, in blocks of <= BLOCK probes."""
    r = np.arange(-hi, hi + 1)
    dx, dy = (a.ravel() for a in np.meshgrid(r, r, indexing="ij"))
    ring = np.maximum(np.abs(dx), np.abs(dy)) >= lo
    dx, dy = dx[ring], dy[ring]
    step = max(1, BLOCK // len(dx))
    for s in range(0, len(active), step):
        a = active[s:s + step]
        x = qgx[a, None] + dx
        y = qgy[a, None] + dy
        key = x * side + y
        pos = np.minimum(np.searchsorted(cell_key, key), len(cell_key) - 1)
        hit = ((x >= 0) & (x < side) & (y >= 0) & (y < side)
               & (cell_key[pos] == key))
        qi, oi = np.nonzero(hit)
        yield a[qi], pos[qi, oi]


def _rest_probes(qgx, qgy, active, lo, ux, uy):
    """(query, occupied cell) pairs of every occupied cell at Chebyshev
    distance >= lo, in blocks of <= BLOCK probes."""
    step = max(1, BLOCK // len(ux))
    for s in range(0, len(active), step):
        a = active[s:s + step]
        cheb = np.maximum(np.abs(qgx[a, None] - ux), np.abs(qgy[a, None] - uy))
        qi, ci = np.nonzero(cheb >= lo)
        yield a[qi], ci


def _probe_pairs(pq, pc, start, count):
    """Expand (query, cell) probes into (query, sorted point position)
    pairs, in blocks of <= BLOCK pairs."""
    cnt = count[pc]
    ends = np.cumsum(cnt)
    total = int(ends[-1]) if len(ends) else 0
    for s in range(0, total, BLOCK):
        flat = np.arange(s, min(s + BLOCK, total))
        j = np.searchsorted(ends, flat, side="right")
        yield pq[j], start[pc[j]] + flat - (ends[j] - cnt[j])


def batch_topk(qx: np.ndarray, qy: np.ndarray, px: np.ndarray,
               py: np.ndarray, tie: np.ndarray, k: int, level: int,
               bound: np.ndarray):
    """Each query's exact k nearest points of one batch under
    (distance, ``tie``) — the per-partition step of the broadcast route.

    The points are bucketed by their ``level`` cell and all queries
    expand Chebyshev rings together on a density-seeded schedule
    (:func:`_seed_radius`, then ``[hi+1, 2*hi+2]``). A query stops once
    its k-th candidate lies within ``hi*cellsize`` (every unexplored
    point is farther), once ``bound[q]`` — the k-th distance it already
    holds from earlier batches, inf if it holds fewer — does, or once
    its rings cover every occupied cell. The first annulus with more
    cells than the batch has occupied cells is replaced by a direct
    pass over the remaining occupied cells, which ends the search.
    Points farther than ``bound[q]`` are skipped: they cannot enter the
    query's top k. Distances are ``sqrt(dx*dx + dy*dy)``, bit-identical
    to the histogram route's native box distance over degenerate boxes.

    Returns ``(query index, point index, distance)`` arrays, at most k
    rows per query.
    """
    n_q, n = len(qx), len(px)
    cq = cp = np.empty(0, np.int64)
    cd = np.empty(0, np.float64)
    if n_q == 0 or n == 0 or k <= 0:
        return cq, cp, cd
    cs = C.cell_size(level)
    side = 1 << level
    qgx, qgy = C.point_grid(qx, qy, level)
    gx, gy = C.point_grid(px, py, level)
    key = gx * side + gy
    order = np.argsort(key, kind="stable")
    cell_key, start, count = np.unique(key[order], return_index=True,
                                       return_counts=True)
    ux, uy = cell_key // side, cell_key % side
    reach = np.max([np.abs(qgx - ux.min()), np.abs(qgx - ux.max()),
                    np.abs(qgy - uy.min()), np.abs(qgy - uy.max())], axis=0)
    sx, sy, stie = px[order], py[order], tie[order]
    kth = np.full(n_q, np.inf)
    area = max(np.ptp(px) * np.ptp(py), cs * cs)
    lo, hi = 0, _seed_radius(n, area, k, cs)
    active = np.arange(n_q)
    while len(active):
        last = _annulus_cells(lo, hi) >= len(cell_key)
        probes = (_rest_probes(qgx, qgy, active, lo, ux, uy) if last else
                  _ring_probes(qgx, qgy, active, lo, hi, side, cell_key))
        for pq, pc in probes:
            for bq, bp in _probe_pairs(pq, pc, start, count):
                dx = qx[bq] - sx[bp]
                dy = qy[bq] - sy[bp]
                d = np.sqrt(dx * dx + dy * dy)
                keep = d <= np.minimum(bound[bq], kth[bq])
                if not keep.any():
                    continue
                cq = np.r_[cq, bq[keep]]
                cp = np.r_[cp, bp[keep]]
                cd = np.r_[cd, d[keep]]
                sel = _topk_rows(cq, cd, stie[cp], k)
                cq, cp, cd = cq[sel], cp[sel], cd[sel]
                kth = _kth(cq, cd, n_q, k)
        r = hi * cs
        done = (last | (hi >= reach[active]) | (bound[active] <= r)
                | (kth[active] <= r))
        active = active[~done]
        lo, hi = hi + 1, 2 * hi + 2
    return cq, order[cp], cd


def _tie_keys(ids) -> np.ndarray:
    """Dense ranks of an Arrow id array in Spark's ascending order
    (nulls first; strings and binary by bytes)."""
    import pyarrow.compute as pc
    return pc.rank(ids, sort_keys="ascending", null_placement="at_start",
                   tiebreaker="dense").to_numpy()


def _partition_topk(qx, qy, k: int, level: int, schema):
    """``mapInArrow`` body over (corpus id, WKB) batches: per partition,
    each query's exact top-k rows ``(query index, corpus_id, _dist,
    null)``, then one sentinel row ``(null, null, null, max bounds
    extent)``. Rows whose bounds are null, empty or non-finite take
    no part.

    Arrow keeps the ids as Spark sent them (a nullable long id never
    round-trips through float64) and ranks them in Spark's order."""
    def run(batches):
        import pyarrow as pa
        keep_q = np.empty(0, np.int64)
        keep_d = np.empty(0, np.float64)
        keep_id = pa.array([], schema.field(1).type)
        ext = 0.0
        for b in batches:
            bounds = W.parse_wkb(b.column(1)).bounds()
            ok = np.flatnonzero(np.isfinite(bounds).all(axis=1))
            if not len(ok):
                continue
            bb = bounds[ok]
            ext = max(ext, float(np.max(bb[:, 2] - bb[:, 0]
                                        + bb[:, 3] - bb[:, 1])))
            ids = b.column(0).take(ok).cast(keep_id.type)
            q, p, d = batch_topk(qx, qy, bb[:, 0], bb[:, 1], _tie_keys(ids),
                                 k, level, _kth(keep_q, keep_d, len(qx), k))
            q = np.r_[keep_q, q]
            d = np.r_[keep_d, d]
            ids = pa.concat_arrays([keep_id, ids.take(p)])
            sel = _topk_rows(q, d, _tie_keys(ids), k)
            keep_q, keep_d, keep_id = q[sel], d[sel], ids.take(sel)
        n = len(keep_q)
        yield pa.RecordBatch.from_arrays(
            [pa.array(keep_q, pa.int64()), keep_id,
             pa.array(keep_d, pa.float64()), pa.nulls(n, pa.float64())],
            schema=schema)
        yield pa.RecordBatch.from_arrays(
            [pa.nulls(1, f.type) for f in schema][:3]
            + [pa.array([ext], pa.float64())], schema=schema)
    return run


# ---------------------------------------------------------------------------
# knn_join
# ---------------------------------------------------------------------------

def _non_point(side: str, ext: float) -> ValueError:
    if side == "queries":
        return ValueError(
            "knn_join queries contain non-point geometries "
            f"(max bounds extent {ext:.3g}): see the corpus message — "
            "same contract")
    return ValueError(
        "knn_join corpus contains non-point geometries "
        f"(max bounds extent {ext:.3g}): kNN ranks point-to-point "
        "distance only — pointify/centroid the corpus first, or pass "
        "require_points=False to accept min-corner distance semantics")


def _num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``'s planned RDD, without running a job.
    A plan with an exchange runs adaptively, and planning its RDD would
    run its shuffle stages, so it reports its planned output
    partitioning instead (the shuffle-partition setting if unknown)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        n = plan.inputPlan().outputPartitioning().numPartitions()
        return n if n > 0 else int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return plan.execute().getNumPartitions()


def knn_join(queries: DataFrame, corpus: DataFrame, *, k: int,
             level: int = 9,
             query_id: str = "query_id", corpus_id: str = "doc_id",
             query_geom: str = "geometry", corpus_geom: str = "geometry",
             broadcast_queries: bool | str = "auto",
             require_points: bool = True,
             how: str = "point") -> DataFrame:
    """(query_id, doc_id, dist, rank<=k) for point queries over a point
    corpus. Exact, deterministic ties (by corpus id).

    **Route** (module docstring): point mode takes the broadcast route
    when ``broadcast_queries`` is True, or when it is ``'auto'``
    (default) and
    :func:`~cdap_geo_spark.functions.relational.broadcastable` says
    the query set, fanned out ``k x`` the corpus partition count (the
    driver's merge receives at most k rows per query from each
    partition), fits the broadcast threshold — from the optimizer's
    estimate, with no job for file-backed queries. Box mode,
    ``broadcast_queries=False``, a large query set, or
    ``spark.sql.autoBroadcastJoinThreshold < 0`` take the histogram
    route, whose join Spark plans by its own size rules. Both routes
    return the same rows. Jobs are named after their step:
    ``knn.plan``, ``knn.queries``, ``knn.local_topk``; ``knn.stats``
    and ``knn.histogram`` on the histogram route.

    **Cost of a histogram-route query**: it explodes its range widened
    by its window W, clipped to the corpus's grid extent. W follows the
    distance to the query's nearest occupied histogram cells, so one
    query in a sparse part of a wide extent at a fine level can still
    emit up to that extent's area in cells: at level 16 (64 m cells) a
    1,000 km extent is 15,625 cells a side, about 2.4e8 probe rows for
    that one query. Its query pass also runs :func:`batch_topk` over
    the histogram's cell centres, once per Arrow batch of queries.

    **Input contract**: both sides must be POINTS — the ranking is
    point-to-point distance; a box/polygon would silently rank by its
    bounds' min corner. ``require_points=True`` (default) raises
    ``ValueError`` at call time on any non-degenerate extent (queries
    checked first); ``require_points=False`` opts into the
    corner-distance semantics (e.g. tiny boxes from a lossy decode).
    Rows with a null or empty geometry, or a NaN or infinite bound,
    take no part, on either side and on both routes.

    **``how='box'``**: exact kNN under bounding-box distance (box-to-box
    min Euclidean distance; exact for axis-aligned boxes, a bbox
    approximation for general polygons). Always the histogram route,
    with full boxes instead of min corners; ``require_points`` is
    ignored.

    **Driver memory**: the broadcast route merges up to queries x k x
    corpus partitions rows in the driver — the fan-out ``'auto'``
    checks, but ``broadcast_queries=True`` holds it whatever its size;
    the histogram route collects at most about ``HIST_CELLS`` cells
    (about 6 MB) and ships them again in its query pass's closure,
    which PySpark broadcasts to the executors.
    Neither result has a checkpoint or cache behind it: a local
    relation, or a lazy plan over the inputs.
    """
    if how not in ("point", "box"):
        raise ValueError(f"knn_join how must be 'point' or 'box': {how!r}")
    spark = queries.sparkSession
    args = dict(k=k, level=level, query_id=query_id, corpus_id=corpus_id,
                query_geom=query_geom, corpus_geom=corpus_geom)
    if how == "point":
        if broadcast_queries == "auto":
            with job_label(spark, "knn.plan"):
                fast = broadcastable(
                    queries, fanout=k * max(1, _num_partitions(corpus)))
        else:
            fast = bool(broadcast_queries)
        if fast:
            return _knn_broadcast(queries, corpus,
                                  require_points=require_points, **args)
    return _knn_histogram(queries, corpus, require_points=require_points,
                          box=how == "box", **args)


def _knn_broadcast(queries: DataFrame, corpus: DataFrame, *, k, level,
                   query_id, corpus_id, query_geom, corpus_geom,
                   require_points) -> DataFrame:
    """The broadcast route: collect the queries, collect one corpus
    pass of exact per-partition top-k, merge them in the driver."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    spark = queries.sparkSession
    with job_label(spark, "knn.queries"):
        table = queries.select(query_id, query_geom).toArrow()
    # decoded here: a broadcastable query set is small, and a Python
    # UDF job would cost more than the decode
    bounds = W.parse_wkb(table.column(1)).bounds()
    ok = np.flatnonzero(np.isfinite(bounds).all(axis=1))
    bounds = bounds[ok]
    if require_points and len(ok):
        ext = float(np.max(bounds[:, 2] - bounds[:, 0]
                           + bounds[:, 3] - bounds[:, 1]))
        if ext > 0:
            raise _non_point("queries", ext)
    id_type = corpus.schema[corpus_id].dataType
    partial = T.StructType([
        T.StructField("_q", T.LongType()),
        T.StructField(corpus_id, id_type),
        T.StructField("_dist", T.DoubleType()),
        T.StructField("_ext", T.DoubleType()),
    ])
    topk = _partition_topk(bounds[:, 0], bounds[:, 1], k, level,
                           to_arrow_schema(partial))
    with job_label(spark, "knn.local_topk"):
        part = corpus.select(corpus_id, corpus_geom) \
            .mapInArrow(topk, partial).toArrow()
    if require_points:
        ext = pc.max(part["_ext"]).as_py() or 0.0
        if ext > 0:
            raise _non_point("corpus", ext)
    # the union of exact per-partition top-k lists under one total
    # order holds the global top-k: merged here, it is at most
    # queries x k x partitions rows, the fan-out the planner admitted
    part = part.filter(pc.is_null(part["_ext"]))
    q = part["_q"].to_numpy()
    ids, dist = (part[c].combine_chunks() for c in (corpus_id, "_dist"))
    sel = _topk_rows(q, dist.to_numpy(), _tie_keys(ids), k)
    schema = T.StructType([
        T.StructField(query_id, queries.schema[query_id].dataType),
        T.StructField(corpus_id, id_type),
        T.StructField("dist", T.DoubleType()),
        T.StructField("rank", T.IntegerType(), nullable=False),
    ])
    arrow_schema = to_arrow_schema(schema)
    qids = table.column(0).combine_chunks().take(ok) \
        .cast(arrow_schema.field(0).type)
    out = pa.table([qids.take(q[sel]), ids.take(sel), dist.take(sel),
                    pa.array(_group_pos(q[sel]) + 1, pa.int32())],
                   schema=arrow_schema)
    # a local relation: the caller's action runs no Spark job
    return spark.createDataFrame(out, schema)


def _reach(qx: np.ndarray, qy: np.ndarray, hx: np.ndarray, hy: np.ndarray,
           n: np.ndarray, s: int, k: int, level: int) -> np.ndarray:
    """Per query (qx, qy), a distance D within which k counted rows lie,
    from a count histogram ``s`` shifts coarser than ``level`` with
    occupied cells (hx, hy), n rows each, k in all. A counted row's min
    corner lies within half a cell diagonal of its cell's centre: D is
    the distance to the j-th nearest centre plus that, j the fewest
    nearest cells whose rows reach k — among each query's min(k, cells)
    nearest (:func:`batch_topk`, cell index as tie)."""
    cs = C.cell_size(level - s)
    q, p, d = batch_topk(qx, qy, C.WORLD_X0 + (hx + 0.5) * cs,
                         C.WORLD_Y0 + (hy + 0.5) * cs, np.arange(len(hx)),
                         k, level - s, np.full(len(qx), np.inf))
    sel = _topk_rows(q, d, p, k)
    m = min(k, len(hx))
    d, rows = d[sel].reshape(-1, m), n[p[sel]].reshape(-1, m).cumsum(1)
    return d[np.arange(len(d)), np.argmax(rows >= k, axis=1)] \
        + math.sqrt(0.5) * cs


def _query_pass(k: int, level: int, box: bool, schema, hist=None):
    """``mapInArrow`` body over (query id, WKB) batches: each query
    with finite bounds as ``(id, minx, miny, maxx, maxy, ext, _w)`` —
    in point mode a degenerate box at the bounds' min corner — and its
    window W = ceil(D/cellsize) + 1 (the extra cell absorbs rounding),
    D from :func:`_reach` over ``hist``, a histogram's ``(hx, hy, n,
    s)``; without one, W spans the whole grid."""
    def run(batches):
        import pyarrow as pa
        for b in batches:
            bb = W.parse_wkb(b.column(1)).bounds()
            ok = np.flatnonzero(np.isfinite(bb).all(axis=1))
            bb = bb[ok]
            d = np.full(len(ok), np.inf)
            if hist is not None and len(ok):
                d = _reach(bb[:, 0], bb[:, 1], *hist, k, level)
            win = np.minimum(np.ceil(d / C.cell_size(level)) + 1,
                             1 << level).astype(np.int64)
            cols = np.ascontiguousarray(np.c_[
                bb[:, :2], bb[:, 2:] if box else bb[:, :2],
                bb[:, 2] - bb[:, 0] + bb[:, 3] - bb[:, 1]].T)
            yield pa.RecordBatch.from_arrays(
                [b.column(0).take(ok).cast(schema.field(0).type),
                 *map(pa.array, cols), pa.array(win)], schema=schema)
    return run


def _in_frame(x: str, y: str):
    """The point (x, y) lies inside the world frame of the cell grid."""
    return ((F.col(x) >= C.WORLD_X0) & (F.col(x) < C.WORLD_X0 + C.WORLD_SIZE)
            & (F.col(y) >= C.WORLD_Y0)
            & (F.col(y) < C.WORLD_Y0 + C.WORLD_SIZE))


def _knn_histogram(queries: DataFrame, corpus: DataFrame, *, k, level,
                   query_id, corpus_id, query_geom, corpus_geom,
                   require_points, box) -> DataFrame:
    """The histogram route: bound each query's window from a corpus
    cell-count histogram, then one lazy join (module docstring)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    spark = queries.sparkSession
    cols = ("minx", "miny", "ext", "x0", "y0", "x1", "y1")
    edges = ("minx", "miny", "maxx", "maxy")

    def with_range(df: DataFrame, p: str) -> DataFrame:
        rng = grid_range(*(p + c for c in edges), level)
        return df.select("*", *(c.alias(p + n) for c, n in
                                zip(rng, ("x0", "y0", "x1", "y1"))))

    qschema = T.StructType(
        [queries.schema[query_id]]
        + [T.StructField("_q" + c, T.DoubleType()) for c in edges + ("ext",)]
        + [T.StructField("_w", T.LongType())])

    def decoded_queries(hist=None) -> DataFrame:
        body = _query_pass(k, level, box, to_arrow_schema(qschema), hist)
        return with_range(queries.select(query_id, query_geom)
                          .mapInArrow(body, qschema), "_q")

    # (id, bounds, extent, grid range) per corpus geometry with finite
    # bounds; in point mode a degenerate box at the bounds' min corner.
    # A nondeterministic decode is a barrier to Catalyst: no filter or
    # join key is pushed into it, so each row is decoded once
    b = corpus.select(F.col(corpus_id), udfs.st_bounds().asNondeterministic()(
        F.col(corpus_geom)).alias("_b"))
    finite = F.col("_b.minx").isNotNull()
    for n in edges:
        c = F.col("_b." + n)
        finite &= ~F.isnan(c) & (F.abs(c) != F.lit(float("inf")))
    corp = with_range(b.where(finite).select(
        corpus_id, *(F.col("_b." + c).alias("_c" + n) for c, n in zip(
            edges if box else edges[:2] * 2, edges)),
        (F.col("_b.maxx") - F.col("_b.minx") + F.col("_b.maxy")
         - F.col("_b.miny")).alias("_cext")), "_c")

    q = decoded_queries()
    both = q.select(F.lit(True).alias("_isq"),
                    *(F.col("_q" + c).alias(c) for c in cols)).unionByName(
        corp.select(F.lit(False).alias("_isq"),
                    *(F.col("_c" + c).alias(c) for c in cols)))
    isq = F.col("_isq")
    # rows clamped into an edge cell are found, but count for no window
    counted = ~isq & _in_frame("minx", "miny")

    def of(rows, c: str):
        return F.when(rows, F.col(c))
    with job_label(spark, "knn.stats"):
        st = both.agg(
            F.count(of(isq, "minx")).alias("nq"),
            F.max(of(isq, "ext")).alias("qext"),
            F.count(of(~isq, "minx")).alias("nc"),
            F.max(of(~isq, "ext")).alias("cext"),
            F.min(of(~isq, "x0")).alias("gx0"),
            F.min(of(~isq, "y0")).alias("gy0"),
            F.max(of(~isq, "x1")).alias("gx1"),
            F.max(of(~isq, "y1")).alias("gy1"),
            F.count(of(counted, "minx")).alias("nh"),
            F.sum(F.when(~isq, (F.col("x1") - F.col("x0") + 1)
                         * (F.col("y1") - F.col("y0") + 1))).alias("ncells"),
            # occupied cells at each shift of ``level``, to find the
            # finest histogram within the cell budget: a rough estimate
            # will do, and a small sketch keeps the aggregate cheap
            *(F.approx_count_distinct(F.when(counted, F.shiftright(
                "x0", t) * (1 << level) + F.shiftright("y0", t)), 0.3)
              .alias(f"occ{t}") for t in range(level + 1))).first()
    if require_points and not box:
        for what, ext in (("queries", st["qext"]), ("corpus", st["cext"])):
            if ext is not None and ext > 0:
                raise _non_point(what, ext)
    # fewer than k counted rows: every query searches the whole extent
    if st["nh"] >= k and st["nq"]:
        s = next(t for t in range(level + 1)
                 if st[f"occ{t}"] <= HIST_CELLS)
        with job_label(spark, "knn.histogram"):
            hist = corp.where(_in_frame("_cminx", "_cminy")).groupBy(
                F.shiftright("_cx0", s).alias("hx"),
                F.shiftright("_cy0", s).alias("hy")).count().toArrow()
        hist = [hist[c].to_numpy() for c in ("hx", "hy", "count")] + [s]
        # the histogram's own total, not the stats': a source read
        # twice may not return the same rows
        if hist[2].sum() >= k:
            q = decoded_queries(hist)

    # each query's range widened by its window, clipped to the corpus's
    # grid extent
    probes = explode_grid(
        q.select(query_id, "_qminx", "_qminy", "_qmaxx", "_qmaxy",
                 "_qx0", "_qy0", "_qx1", "_qy1", "_w"),
        (F.greatest(F.col("_qx0") - F.col("_w"), F.lit(st["gx0"])),
         F.greatest(F.col("_qy0") - F.col("_w"), F.lit(st["gy0"])),
         F.least(F.col("_qx1") + F.col("_w"), F.lit(st["gx1"])),
         F.least(F.col("_qy1") + F.col("_w"), F.lit(st["gy1"]))), level) \
        .drop("_gx", "_gy", "_w")
    index = explode_grid(corp, (F.col("_cx0"), F.col("_cy0"),
                                F.col("_cx1"), F.col("_cy1")), level)
    # the optimizer sizes the probes without their explode: broadcast
    # the index if its rows fit at Spark's row-size estimate, else merge
    size = (st["ncells"] or 0) * (8 + index._jdf.schema().defaultSize())
    conf = spark._jsparkSession.sessionState().conf()
    index = (F.broadcast(index) if size <= conf.autoBroadcastJoinThreshold()
             else index.hint("merge"))
    # a pair is kept only at the corpus row's cover cell nearest the
    # query's range, so each (query, corpus) pair is found once
    nearest = (
        (F.col("_gx") == F.least(F.greatest("_cx0", "_qx0"), "_cx1"))
        & (F.col("_gy") == F.least(F.greatest("_cy0", "_qy0"), "_cy1")))
    dx = F.greatest(F.col("_qminx") - F.col("_cmaxx"),
                    F.col("_cminx") - F.col("_qmaxx"), F.lit(0.0))
    dy = F.greatest(F.col("_qminy") - F.col("_cmaxy"),
                    F.col("_cminy") - F.col("_qmaxy"), F.lit(0.0))
    rank = F.row_number().over(
        Window.partitionBy(query_id).orderBy("dist", corpus_id))
    out = probes.join(index, "cell_id").where(nearest) \
        .select(query_id, corpus_id, F.sqrt(dx * dx + dy * dy).alias("dist")) \
        .withColumn("rank", rank).where(F.col("rank") <= k)
    if not st["nq"] or not st["nc"]:
        return spark.createDataFrame([], out.schema)  # no neighbour exists
    return out


def idw_interpolate(queries: DataFrame, corpus: DataFrame, *, k: int = 5,
                    value_col: str = "v",
                    query_id: str = "query_id", corpus_id: str = "doc_id",
                    x_col: str = "x", y_col: str = "y",
                    level: int = 8, weight_scale: float = 1e12) -> DataFrame:
    """Inverse-distance-weighted interpolation (kriging-lite): estimate
    a value at each query point as the 1/d² weighted mean of its k
    nearest corpus values. Inputs are integer-coordinate relations
    (``x_col``/``y_col``; geometries are built internally), corpus
    carries ``value_col``.

    Composes over :func:`knn_join` (certified exact neighbor sets),
    then recomputes EXACT integer squared distances from the
    coordinates for the weights. Cross-engine hashable by the repo's
    float discipline: each neighbor's numerator/denominator term is
    one double expression over exact integers, rounded to BIGINT and
    summed (order-independent); the estimate is one final double over
    the two sums, emitted in centi-units. A coincident point (d² = 0)
    clamps to d² = 1 — at integer coordinates that makes it dominate
    by ``weight_scale``, the documented intent.

    Returns ``(query_id, n_nb, num, den, est_centi)``.
    """
    q = queries.select(
        F.col(query_id), F.col(x_col).cast("long").alias("_qx"),
        F.col(y_col).cast("long").alias("_qy"),
        udfs.st_point()(F.col(x_col).cast("double"),
                        F.col(y_col).cast("double")).alias("geometry"))
    c = corpus.select(
        F.col(corpus_id), F.col(x_col).cast("long").alias("_cx"),
        F.col(y_col).cast("long").alias("_cy"),
        F.col(value_col).cast("long").alias("_v"),
        udfs.st_point()(F.col(x_col).cast("double"),
                        F.col(y_col).cast("double")).alias("geometry"))
    nn = knn_join(q.select(query_id, "geometry"),
                  c.select(corpus_id, "geometry"),
                  k=k, level=level, query_id=query_id, corpus_id=corpus_id)
    j = (nn.select(query_id, corpus_id)
         .join(q.select(query_id, "_qx", "_qy"), query_id)
         .join(c.select(corpus_id, "_cx", "_cy", "_v"), corpus_id))
    d2 = ((F.col("_qx") - F.col("_cx")) * (F.col("_qx") - F.col("_cx"))
          + (F.col("_qy") - F.col("_cy")) * (F.col("_qy") - F.col("_cy")))
    d2g = F.greatest(d2, F.lit(1)).cast("double")
    ws = float(weight_scale)
    num_t = F.round(F.col("_v").cast("double") * ws / d2g).cast("long")
    den_t = F.round(F.lit(ws) / d2g).cast("long")
    agg = (j.groupBy(query_id)
           .agg(F.count(F.lit(1)).alias("n_nb"),
                F.sum(num_t).alias("num"), F.sum(den_t).alias("den")))
    est = F.round(F.col("num").cast("double")
                  / F.col("den").cast("double") * 100.0).cast("long")
    return agg.select(query_id, F.col("n_nb").cast("long"),
                      "num", "den", est.alias("est_centi"))


def knn_classify(queries: DataFrame, corpus: DataFrame, *, k: int = 5,
                 label_col: str = "label",
                 query_id: str = "query_id", corpus_id: str = "doc_id",
                 x_col: str = "x", y_col: str = "y",
                 level: int = 8) -> DataFrame:
    """Majority-vote kNN classification — the sibling of
    :func:`idw_interpolate` for CATEGORICAL targets: each query point
    takes the most frequent label among its k nearest corpus points
    (ties to the lexicographically smallest label, so the result is a
    total function of the certified neighbor set). Returns
    ``(query_id, label, votes)`` — votes exact BIGINT, no float
    anywhere beyond the certified kNN itself.

    Plan: :func:`knn_join` produces the exact neighbor relation
    (query·k rows); labels ride back on one corpus-id equi-join (AQE
    broadcasts the neighbor side when small); the vote is a keyed
    count plus a ranking window over the votes relation (queries ×
    distinct labels — dimension-sized, never corpus-sized).
    """
    q = queries.select(
        F.col(query_id),
        udfs.st_point()(F.col(x_col).cast("double"),
                        F.col(y_col).cast("double")).alias("geometry"))
    c = corpus.select(
        F.col(corpus_id), F.col(label_col).alias("_lbl"),
        udfs.st_point()(F.col(x_col).cast("double"),
                        F.col(y_col).cast("double")).alias("geometry"))
    nn = knn_join(q.select(query_id, "geometry"),
                  c.select(corpus_id, "geometry"),
                  k=k, level=level, query_id=query_id, corpus_id=corpus_id)
    votes = (nn.select(query_id, corpus_id)
             .join(c.select(corpus_id, "_lbl"), corpus_id)
             .groupBy(query_id, "_lbl")
             .agg(F.count(F.lit(1)).cast("long").alias("votes")))
    w = Window.partitionBy(query_id).orderBy(
        F.col("votes").desc(), F.col("_lbl").asc())
    return (votes.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(query_id, F.col("_lbl").alias(label_col), "votes"))
