"""The spatial join planner — cell index probe + exact refinement.

Re-expresses the reference's ``bbox_join``/``bbox_intersects``
(``cdap_geo/index_bbox.py:32-76``) and ``bng_join``
(``cdap_geo/index_bng.py:16-36``) as one Spark-first operator,
:func:`sjoin_pairs`, with two routes to the same pairs.

**Broadcast route** (the right side is small — regions, tiles):

    collect (right_id, right_geom)   (1 JVM-only job, ``sjoin.regions``)
      -> decode + cover + sort the cells, in the driver  (RegionIndex)
    left: 1 mapInArrow pass per batch:
      decode -> cover -> probe the sorted cells (np.searchsorted)
      -> per-batch (left row, region) dedup -> bbox prefilter
      -> exact refine against the regions decoded once
    -> dropDuplicates([l_id, r_id])   (narrow, only with dedup=True)

One Python boundary; each left geometry is decoded once, each region
once per call. No join and no shuffle except the optional id-pair
dedup. With ``dedup=False`` and the left geometry kept, the returned
frame carries its :class:`BroadcastPass`: ``assign_tiles`` over that
frame tiles each matched left row in the same pass and emits
``(left_id, right_id, tile_id)``, so the headline sjoin -> tiles ->
dedup plan keeps one Python boundary.
:func:`~cdap_geo_spark.streaming.enrich.spatial_enrich_stream` runs the
same pass over each micro-batch of a stream.

**Shuffle route** (the right side does not fit, or ``broadcast=False``):

    decode+bounds+cells   (1 fused Arrow PUDF per side)
      -> explode cells    (Generate)
      -> equi-join on cell_id  (shuffle-hash or sort-merge)
      -> native bbox-overlap prefilter  (pure Catalyst, codegen'd)
      -> exact intersects refinement    (1 Arrow PUDF)
      -> dropDuplicates([l_id, r_id])   (narrow id pairs)

vs the reference's ~4 shuffles + 3 Python round-trips (SURVEY.md §3.1):
this plan is 1-2 shuffles and 3 Arrow boundaries.

The plan follows from the inputs and the predicate; there is nothing
to tune:

* **Route.** ``broadcast='auto'`` (default) takes the broadcast route
  when :func:`~cdap_geo_spark.functions.relational.broadcastable` says
  the right side fits: its optimizer size estimate is within
  ``spark.sql.autoBroadcastJoinThreshold`` (zero jobs), with a bounded
  row probe only for RDD-backed frames whose size is unknown.
* **Covers.** ``'intersects'`` covers the left side with the cells its
  geometry touches and the right side with ``how='marked'``, which
  flags cells wholly inside a polygon (``cdap_geo/_indexing.py:290-304``):
  a candidate from such a cell skips the exact kernel (cell box ⊆
  polygon and left ∩ cell box ≠ ∅ ⟹ intersects), on both routes.
  ``'bbox'`` and ``'distance'`` cover both sides by their bounding
  boxes (the left one dilated by the distance), so every bbox-overlap
  pair shares a cell. Every cover pads by :data:`PAD`.
* **Skew.** A hot cell (a dense geography) on the shuffle route is
  one skewed join partition; AQE's skew join
  (``spark.sql.adaptive.skewJoin.enabled``, on in
  :data:`~cdap_geo_spark.session.ENGINE_CONF`) splits it at run time
  and the plan shows ``SortMergeJoin(skew=true)``. No census job runs
  before the action.

The reference's ``monotonically_increasing_id`` + cache pitfall
(``cdap_geo/index_bbox.py:36-43``: ids stable only while cached) is
avoided: callers supply stable content keys (``doc_id``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from cdap_geo_spark import udfs
from cdap_geo_spark.core import cells as C, geom as G, wkb as W
from cdap_geo_spark.functions.relational import broadcastable
from cdap_geo_spark.session import job_label

DEFAULT_LEVEL = C.LEVEL_100KM  # ~131 km cells ≈ the reference's 100 km grid
#: cover pad (m): a geometry within this of a cell edge also covers
#: the neighbouring cell (``cdap_geo/_indexing.py:116-127``)
PAD = 1.0


def _index_side(df: DataFrame, id_col: str, geom_col: str, level: int,
                how: str, pad: float, keep_geom: bool,
                dilate: float = 0.0) -> DataFrame:
    """Narrow (id, bounds, cell_id, inside[, geometry]) index relation.

    ONE fused ``mapInArrow`` pass: WKB decode + bounds + cell cover +
    explode all happen inside a single Arrow batch in NumPy (the
    explode is a ``take`` of the repeated row indices), emitting flat
    primitive columns only.
    This replaces the reference's three per-row UDF passes + Spark-side
    explode (``cdap_geo/index_bbox.py:8,15-30,45-50``) and avoids
    shipping nested array<struct> columns through Arrow.

    Project-early: only id + geometry enter the kernel; the payload
    (e.g. the spans array) never travels through the cell explode /
    shuffle — the reference's drop-columns-then-fetch-back advice
    (README.md:64-67) built into the plan.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    src = df.select(F.col(id_col), F.col(geom_col))
    id_field = src.schema[id_col]
    geom_field = src.schema[geom_col]
    out_fields = [id_field]
    if keep_geom:
        out_fields.append(geom_field)
    out_schema = T.StructType(out_fields + [
        T.StructField("_minx", T.DoubleType()),
        T.StructField("_miny", T.DoubleType()),
        T.StructField("_maxx", T.DoubleType()),
        T.StructField("_maxy", T.DoubleType()),
        T.StructField("cell_id", T.LongType()),
        T.StructField("_inside", T.BooleanType()),
    ])

    arrow_schema = to_arrow_schema(out_schema)

    def gen(batches):
        for b in batches:
            batch = W.parse_wkb(b.column(1))
            off, cc, inside = C.cover_batch(batch, level, how=how, pad=pad,
                                            dilate=dilate)
            owner = np.repeat(np.arange(b.num_rows), np.diff(off))
            cols = [b.column(0).take(owner)]
            if keep_geom:
                cols.append(b.column(1).take(owner))
            # NaN bounds (null or empty geometry) as nulls
            cols += [pa.array(v, from_pandas=True)
                     for v in batch.bounds()[owner].T]
            yield _record_batch(cols + [pa.array(cc), pa.array(inside)],
                                arrow_schema)

    return src.mapInArrow(gen, schema=out_schema)


def sjoin_pairs(left: DataFrame, right: DataFrame, *,
                left_id: str = "doc_id", right_id: str = "region_id",
                left_geom: str = "geometry", right_geom: str = "geometry",
                level: int = DEFAULT_LEVEL,
                predicate: str = "intersects",
                broadcast: bool | str = "auto",
                dedup: bool = True,
                distance: float | None = None,
                keep_distance: bool = False,
                keep_left_geom: bool = False) -> DataFrame:
    """Candidate-generate + refine; returns (left_id, right_id) pairs.

    predicate: 'intersects' (exact, ``bbox_intersects`` semantics,
    ``cdap_geo/index_bbox.py:73-76``), 'bbox' (every pair whose
    bounding boxes overlap or touch — the ``bbox_join`` contract,
    ``:32-71``), or 'distance' (pairs within ``distance`` metres —
    ``st_join(distance=d)`` semantics, ``cdap_geo/sedona.py:136-147`` —
    via cell-dilated covers + exact distance refinement, never a
    nested-loop join). The cell covers of both sides follow from the
    predicate (module docstring).

    Output columns: ``left_id``, ``right_id``, then ``geometry`` (the
    left geometry; intersects with ``keep_left_geom``) or ``dist``
    (distance with ``keep_distance``). Both routes (module docstring)
    return this schema and, with ``dedup=True``, the same rows.

    ``broadcast``: True takes the broadcast route, False the shuffle
    route; 'auto' takes the broadcast route when
    :func:`~cdap_geo_spark.functions.relational.broadcastable` says
    the right side fits. The broadcast route reads the right side
    once, here, in one Spark job (``sjoin.regions``); later changes
    to the right side's source are not seen by the returned frame.
    The shuffle route runs no job before the action; AQE splits hot
    cells.

    ``dedup=False`` skips the id-pair shuffle and leaves repeats in:
    the broadcast route emits a pair at most once per left ROW (a
    repeated left id repeats it), the shuffle route once per cell the
    two covers share. Compare the two as sets. On the broadcast route
    with ``dedup=False`` and ``keep_left_geom=True``,
    :func:`~cdap_geo_spark.operators.tiles.assign_tiles` over the
    returned frame runs inside its pass.
    """
    if predicate not in ("intersects", "bbox", "distance"):
        raise ValueError(f"unknown predicate {predicate!r}")
    if predicate == "distance" and distance is None:
        raise ValueError("distance predicate needs distance=")
    # bbox and distance pairs need no shared touched cell, only
    # overlapping (dilated) boxes: both sides take bbox covers. The
    # LEFT cover is dilated by the distance, so everything within d of
    # the left geometry lies inside it and the probe loses no pair.
    lh, rh = (("intersects", "marked") if predicate == "intersects"
              else ("bbox", "bbox"))
    dilate = float(distance) if predicate == "distance" else 0.0

    if broadcast == "auto":
        with job_label(left.sparkSession, "sjoin.broadcast_probe"):
            broadcast = broadcastable(right)
    if broadcast is True:
        return _sjoin_broadcast(
            left, right, left_id=left_id, right_id=right_id,
            left_geom=left_geom, right_geom=right_geom, level=level,
            predicate=predicate, lh=lh, rh=rh, dilate=dilate,
            distance=distance, dedup=dedup,
            keep_distance=keep_distance, keep_left_geom=keep_left_geom)

    l = _index_side(left, left_id, left_geom, level, lh, PAD,
                    keep_geom=(predicate != "bbox"), dilate=dilate)
    r = _index_side(right, right_id, right_geom, level, rh, PAD,
                    keep_geom=(predicate != "bbox"))

    l = l.withColumnsRenamed({
        "_minx": "_lminx", "_miny": "_lminy",
        "_maxx": "_lmaxx", "_maxy": "_lmaxy", "_inside": "_linside"})
    if left_geom == right_geom and predicate != "bbox":
        l = l.withColumnRenamed(left_geom, "_lgeom")
        left_geom_c = "_lgeom"
    else:
        left_geom_c = left_geom
    r = r.withColumnsRenamed({
        "_minx": "_rminx", "_miny": "_rminy",
        "_maxx": "_rmaxx", "_maxy": "_rmaxy", "_inside": "_rinside"})

    return refine_candidates(
        l.join(r, on="cell_id", how="inner"), left_id=left_id,
        right_id=right_id, predicate=predicate, distance=distance,
        left_geom_c=left_geom_c, right_geom=right_geom,
        fast_path_ok=(predicate == "intersects"), dedup=dedup,
        keep_distance=keep_distance, keep_left_geom=keep_left_geom)


class RegionIndex:
    """The broadcast route's right side, built in the driver: the
    decoded regions, their bounds and ids, and their cell cover as a
    cell-sorted table (``cells[i]`` is covered by region
    ``region[i]``; ``inside[i]`` marks a cell wholly inside it)."""

    def __init__(self, ids, blobs, level: int, how: str, pad: float):
        self.ids = ids
        self.batch = W.parse_wkb(blobs)
        self.bounds = self.batch.bounds()
        off, cells, inside = C.cover_batch(self.batch, level, how=how,
                                           pad=pad)
        owner = np.repeat(np.arange(len(blobs)), np.diff(off))
        order = np.argsort(cells, kind="stable")
        self.cells = cells[order]
        self.region = owner[order]
        self.inside = inside[order]

    @classmethod
    def collect(cls, right: DataFrame, right_id: str, right_geom: str,
                level: int, how: str) -> "RegionIndex":
        """Read ``(right_id, right_geom)`` in one Spark job
        (``sjoin.regions``) and index it here, in the driver."""
        with job_label(right.sparkSession, "sjoin.regions"):
            table = right.select(right_id, right_geom).toArrow()
        return cls(table.column(0).combine_chunks(), table.column(1),
                   level, how, PAD)

    def probe(self, cells: np.ndarray, owner: np.ndarray):
        """(left row, region, any shared cell inside) for every
        distinct (left row, region) pair whose covers share a cell;
        ``cells[i]`` is covered by left row ``owner[i]``."""
        lo = np.searchsorted(self.cells, cells, "left")
        cnt = np.searchsorted(self.cells, cells, "right") - lo
        n = int(cnt.sum())
        pos = np.arange(n) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
        key = (np.repeat(owner, cnt) * len(self.bounds)
               + self.region[pos])
        key, inv = np.unique(key, return_inverse=True)
        inside = np.zeros(len(key), bool)
        inside[inv[self.inside[pos]]] = True
        return key // len(self.bounds), key % len(self.bounds), inside


def batch_pairs(index: RegionIndex, lb, *, level: int, how: str,
                pad: float, dilate: float, predicate: str,
                distance: float | None):
    """Matching (left row, region[, distance]) of one decoded left
    batch against the region index: cover, probe, bbox prefilter, then
    the exact kernel — the broadcast route's per-batch work. A marked
    inside cell accepts an intersects pair without the kernel only when
    the left cover ``how`` is exact (``'intersects'``)."""
    off, cells, _ = C.cover_batch(lb, level, how=how, pad=pad,
                                  dilate=dilate)
    li, ri, inside = index.probe(
        cells, np.repeat(np.arange(len(lb)), np.diff(off)))
    margin = float(distance) if predicate == "distance" else 0.0
    keep = udfs.bbox_overlap(lb.bounds()[li], index.bounds[ri], margin)
    li, ri, inside = li[keep], ri[keep], inside[keep]
    if predicate == "bbox":
        return li, ri, None
    if predicate == "distance":
        d = udfs.pair_kernel_chunked(G.pairs_distance, lb, index.batch,
                                     li, ri, np.float64)
        hit = d <= distance
        return li[hit], ri[hit], d[hit]
    hit = inside if how == "intersects" else np.zeros(len(li), bool)
    todo = np.flatnonzero(~hit)
    hit[todo] = udfs.pair_kernel_chunked(G.pairs_intersect, lb, index.batch,
                                         li[todo], ri[todo], bool)
    return li[hit], ri[hit], None


class BroadcastPass:
    """The broadcast route's pass over the left side, kept on the frame
    the route returns with ``dedup=False`` and the left geometry:
    ``src`` is ``(left_id, left_geom)``, ``index`` the driver-built
    regions and ``kw`` the :func:`batch_pairs` options."""

    def __init__(self, src: DataFrame, index: RegionIndex, kw: dict,
                 left_id: str, right_id: str):
        self.src, self.index, self.kw = src, index, kw
        self.left_id, self.right_id = left_id, right_id

    def with_tiles(self, tile_cover, schema: T.StructType) -> DataFrame:
        """The same pass emitting ``(left_id[, right_id], tile_id)`` per
        matched pair and tile of its left geometry, for
        :func:`~cdap_geo_spark.operators.tiles.assign_tiles`.
        ``tile_cover(batch, rows)`` gives ``(owner, names, inv)`` as
        :func:`~cdap_geo_spark.operators.tiles.tile_cover` does; each
        matched left row is tiled once, from the batch already
        decoded."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        index, kw = self.index, self.kw
        arrow_schema = to_arrow_schema(schema)
        keep_right = len(schema) == 3

        def run(batches):
            for b in batches:
                lb = W.parse_wkb(b.column(1))
                li, ri, _ = batch_pairs(index, lb, **kw)
                rows, at = np.unique(li, return_inverse=True)
                owner, names, inv = tile_cover(lb, rows)
                # the tiles of rows[k] are tile rows start[k]:start[k+1]
                start = np.searchsorted(owner, np.arange(len(rows) + 1))
                n = start[at + 1] - start[at]
                pair = np.repeat(np.arange(len(li)), n)
                tile = np.arange(int(n.sum())) + np.repeat(
                    start[at] - (np.cumsum(n) - n), n)
                cols = [b.column(0).take(li[pair])]
                if keep_right:
                    cols.append(index.ids.take(ri[pair]))
                cols.append(pa.array(names, pa.string()).take(inv[tile]))
                yield _record_batch(cols, arrow_schema)

        return self.src.mapInArrow(run, schema)


def _record_batch(cols, arrow_schema):
    import pyarrow as pa
    return pa.RecordBatch.from_arrays(
        [c.cast(f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)


def _sjoin_broadcast(left: DataFrame, right: DataFrame, *, left_id,
                     right_id, left_geom, right_geom, level, predicate, lh,
                     rh, dilate, distance, dedup, keep_distance,
                     keep_left_geom) -> DataFrame:
    """The broadcast route: collect and index the right side here, then
    one ``mapInArrow`` pass over the left side."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    index = RegionIndex.collect(right, right_id, right_geom, level, rh)
    keep_geom = keep_left_geom and predicate == "intersects"
    keep_dist = keep_distance and predicate == "distance"
    schema = T.StructType(
        [T.StructField(left_id, left.schema[left_id].dataType),
         T.StructField(right_id, right.schema[right_id].dataType)]
        + ([T.StructField("geometry", left.schema[left_geom].dataType)]
           if keep_geom else [])
        + ([T.StructField("dist", T.DoubleType())] if keep_dist else []))
    arrow_schema = to_arrow_schema(schema)
    kw = dict(level=level, how=lh, pad=PAD, dilate=dilate,
              predicate=predicate, distance=distance)

    def run(batches):
        for b in batches:
            geoms = b.column(1)
            li, ri, d = batch_pairs(index, W.parse_wkb(geoms), **kw)
            cols = [b.column(0).take(li), index.ids.take(ri)]
            if keep_geom:
                cols.append(geoms.take(li))
            if keep_dist:
                cols.append(pa.array(d, pa.float64()))
            yield _record_batch(cols, arrow_schema)

    src = left.select(left_id, left_geom)
    out = src.mapInArrow(run, schema)
    if dedup:
        return out.dropDuplicates([left_id, right_id])
    if keep_geom:
        # tiles.assign_tiles over exactly this frame runs in this pass
        out._broadcast_pass = BroadcastPass(src, index, kw, left_id,
                                            right_id)
    return out


def refine_candidates(cand: DataFrame, *, left_id: str, right_id: str,
                      predicate: str, distance: float | None,
                      left_geom_c: str, right_geom: str,
                      fast_path_ok: bool, dedup: bool,
                      keep_distance: bool = False,
                      keep_left_geom: bool = False) -> DataFrame:
    """Prefilter + exact refinement over a cell-joined candidate
    relation (shared by :func:`sjoin_pairs` and the bucketed join in
    :mod:`cdap_geo_spark.operators.bucketed` — both produce the same
    candidate schema: ids, ``_l*``/``_r*`` bounds, ``_rinside``,
    geometry blobs)."""
    # bbox-overlap prefilter — native, codegen'd; strict inequalities
    # exactly as the reference (touching bboxes remain candidates,
    # cdap_geo/index_bbox.py:56-61). For distance joins the test is
    # dilated by d: bboxes further apart than d can't contain a pair.
    margin = F.lit(float(distance)) if predicate == "distance" else F.lit(0.0)
    cand = cand.filter(
        ~((F.col("_lminx") - margin > F.col("_rmaxx")) |
          (F.col("_lminy") - margin > F.col("_rmaxy")) |
          (F.col("_lmaxx") + margin < F.col("_rminx")) |
          (F.col("_lmaxy") + margin < F.col("_rminy")))
    )

    # Refine BEFORE dedup: refinement is map-side (no shuffle after
    # the join), so running it on per-cell candidate copies
    # costs only duplicate kernel work for multi-cell geometries, while
    # the dedup shuffle shrinks from (ids + 2 WKB blobs + flags) rows —
    # which Spark sort-aggregates because binary columns aren't
    # hash-aggregatable — to narrow id pairs. The reference dedups
    # first with a full-row .distinct() (cdap_geo/index_bbox.py:53);
    # the result set is identical either way.
    if predicate == "bbox":
        out = cand.select(left_id, right_id)
        return out.dropDuplicates([left_id, right_id]) if dedup else out

    if predicate == "intersects":
        pred = udfs.st_intersects()(F.col(left_geom_c), F.col(right_geom))
        if fast_path_ok:
            pred = F.col("_rinside") | pred
        cols = [left_id, right_id]
        if keep_left_geom:
            cols.append(F.col(left_geom_c).alias("geometry"))
        out = cand.filter(pred).select(*cols)
        if dedup:
            out = out.dropDuplicates([left_id, right_id])
        return out

    if predicate == "distance":
        d = udfs.st_distance()(F.col(left_geom_c), F.col(right_geom))
        refined = cand.withColumn("_dist", d) \
                      .filter(F.col("_dist") <= F.lit(distance))
        cols = [left_id, right_id] + (["_dist"] if keep_distance else [])
        out = refined.select(*cols)
        if dedup:
            out = out.dropDuplicates([left_id, right_id])
        return out.withColumnRenamed("_dist", "dist") if keep_distance else out

    raise ValueError(f"unknown predicate {predicate!r}")


def grid_range(minx: str, miny: str, maxx: str, maxy: str,
               level: int) -> tuple:
    """Inclusive grid ranges ``(x0, y0, x1, y1)`` (bigint Columns) of
    the cells a box's bounds columns touch at ``level``: per bound
    ``floor((v - WORLD_X0) / cellsize)``, clamped into
    ``[0, 2**level - 1]`` — for a point, exactly
    :func:`cells.point_grid`. The map is monotone, so any point two
    boxes share lies in a cell of both ranges; and a box whose range
    is ``g >= 1`` cells (Chebyshev) from another's lies more than
    ``(g - 1) * cellsize`` from it, also beyond the world frame."""
    cs = C.cell_size(level)
    top = F.lit((1 << level) - 1)

    def cell(v: str, origin: float):
        return F.least(F.greatest(F.floor((F.col(v) - origin) / cs),
                                  F.lit(0)), top)
    return (cell(minx, C.WORLD_X0), cell(miny, C.WORLD_Y0),
            cell(maxx, C.WORLD_X0), cell(maxy, C.WORLD_Y0))


def explode_grid(df: DataFrame, ranges: tuple, level: int) -> DataFrame:
    """``df`` with one row per cell of its inclusive grid ``ranges``
    (``(x0, y0, x1, y1)`` Columns), the cell in ``_gx``, ``_gy`` and
    ``cell_id = _gx * 2**level + _gy``. An empty range (start > stop)
    emits no row."""
    x0, y0, x1, y1 = ranges

    def cells(a, b):
        # sequence counts down when a > b
        return F.explode(F.when(a <= b, F.sequence(a, b)))
    return (df.select("*", cells(x0, x1).alias("_gx"))
              .select("*", cells(y0, y1).alias("_gy"))
              .withColumn("cell_id",
                          F.col("_gx") * (1 << level) + F.col("_gy")))


def box_pairs_native(left: DataFrame, right: DataFrame, *,
                     left_id: str, right_id: str,
                     bounds: tuple[str, str, str, str] =
                     ("minx", "miny", "maxx", "maxy"),
                     level: int = DEFAULT_LEVEL,
                     broadcast: bool | str = "auto",
                     dedup: bool = True) -> DataFrame:
    """bbox-overlap pairs of two axis-aligned BOX relations that
    already carry native bounds columns — the same candidate-generate
    + refine plan (and provably the same result rows) as
    ``sjoin_pairs(predicate='bbox')``, with the WKB encode/decode
    Python boundaries removed (guide §4: the geometry here is four
    doubles the relation already has, so round-tripping them through
    a WKB blob and two Arrow kernels buys nothing).

    Losslessness of the native cover: each side covers its inclusive
    :func:`grid_range`, whose cell map is monotone, so boxes that
    overlap OR touch share a cell, at negative coordinates and beyond
    the world frame too. The exact strict-inequality bbox test then
    decides, exactly as :func:`refine_candidates` does for the decoded
    path.

    Scale: identical to the WKB path — map-side cell fan-out bounded
    by box size / cell size, one equi-join sized by the same broadcast
    planner, one narrow id-pair dedup exchange.
    """
    mnx, mny, mxx, mxy = bounds

    def indexed(df: DataFrame, id_col: str, p: str) -> DataFrame:
        b = df.select(
            F.col(id_col),
            F.col(mnx).alias(p + "minx"), F.col(mny).alias(p + "miny"),
            F.col(mxx).alias(p + "maxx"), F.col(mxy).alias(p + "maxy"))
        rng = grid_range(p + "minx", p + "miny", p + "maxx", p + "maxy",
                         level)
        return explode_grid(b, rng, level).drop("_gx", "_gy")

    if broadcast == "auto":
        with job_label(left.sparkSession, "sjoin.broadcast_probe"):
            broadcast = broadcastable(right)

    l = indexed(left, left_id, "_l")
    r = indexed(right, right_id, "_r")
    rside = F.broadcast(r) if broadcast is True else r
    cand = l.join(rside, "cell_id")
    cand = cand.filter(
        ~((F.col("_lminx") > F.col("_rmaxx")) |
          (F.col("_lminy") > F.col("_rmaxy")) |
          (F.col("_lmaxx") < F.col("_rminx")) |
          (F.col("_lmaxy") < F.col("_rminy"))))
    out = cand.select(left_id, right_id)
    return out.dropDuplicates([left_id, right_id]) if dedup else out


def sjoin(left: DataFrame, right: DataFrame, *,
          left_id: str = "doc_id", right_id: str = "region_id",
          lsuffix: str = "", rsuffix: str = "_right",
          **kwargs) -> DataFrame:
    """Full spatial join: pairs + payload fetch-back.

    The reference re-attaches payload by joining candidates back to the
    cached inputs (``cdap_geo/index_bbox.py:67-70``). Same shape here,
    but against the original (uncached) relations keyed by stable ids,
    with colliding columns suffix-renamed like ``st_join``
    (``cdap_geo/sedona.py:122-125``).
    """
    pairs = sjoin_pairs(left, right, left_id=left_id, right_id=right_id,
                        **kwargs)
    lcols = set(left.columns)
    collisions = [c for c in right.columns if c in lcols and c != right_id]
    r = right
    for c in collisions:
        r = r.withColumnRenamed(c, c + rsuffix)
    l = left
    if lsuffix:
        for c in collisions:
            l = l.withColumnRenamed(c, c + lsuffix)
    return pairs.join(l, on=left_id).join(r, on=right_id)
