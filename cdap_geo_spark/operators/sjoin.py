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

**Shuffle route** (the right side does not fit, or ``broadcast=False``):

    decode+bounds+cells   (1 fused Arrow PUDF per side)
      -> explode cells    (Generate)
      -> equi-join on cell_id  (shuffle-hash or sort-merge, optional salt)
      -> native bbox-overlap prefilter  (pure Catalyst, codegen'd)
      -> exact intersects refinement    (1 Arrow PUDF)
      -> dropDuplicates([l_id, r_id])   (narrow id pairs)

vs the reference's ~4 shuffles + 3 Python round-trips (SURVEY.md §3.1):
this plan is 1-2 shuffles and 3 Arrow boundaries.

Scale levers (all explicit parameters, chosen by the caller or the
planner heuristics — no Catalyst extension needed):

* ``broadcast=True`` takes the broadcast route; ``'auto'`` (default)
  takes it when
  :func:`~cdap_geo_spark.functions.relational.broadcastable` says the
  right side fits: its optimizer size estimate is within
  ``spark.sql.autoBroadcastJoinThreshold`` (zero jobs), with a bounded
  row probe only for RDD-backed frames whose size is unknown;
* ``salt=k`` spreads hot cells (dense geographies) over k shuffle
  keys: the left side gets a deterministic salt from its id, the right
  side is replicated k ways — result set is provably salt-invariant
  (property-tested). ``salt='auto'`` (default) runs a bounded
  hot-cell census (:func:`_auto_salt`) on the shuffle route and
  picks ``ceil(hot_share * parallelism)`` itself — no hand tuning;
* ``how='marked'`` on a polygon right side flags cells wholly inside
  the polygon (``cdap_geo/_indexing.py:290-304``): candidates produced
  by such cells skip the exact-refinement kernel when the left cover
  is exact (cell box ⊆ polygon and left ∩ cell box ≠ ∅ ⟹ intersects),
  on both routes.

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

#: ``salt='auto'`` (the default) censuses the hottest cell on a
#: bounded sample of the indexed LEFT side when the join is NOT
#: broadcast; the sample never exceeds this many indexed rows.
#: Round 6: 100k -> 32k and per-partition oversample 8 -> 2. The old
#: budget decoded up to oversample x sample ~ 800k rows — MORE than
#: the whole sf0.1 left side, i.e. the census cost a full extra decode
#: pass (the round-5 sjoin_pip_salted regression). 32k samples resolve
#: a hot-cell share of 1/32 (the smallest worth salting at this
#: parallelism) with ~1000 expected hits — ample for ceil(share x
#: parallelism).
SALT_SAMPLE_ROWS = 32_000
#: replication factor ceiling — salting replicates the right side
#: ``salt``-fold, so unbounded salts would trade skew for volume.
MAX_AUTO_SALT = 32


def _census_sample(l_indexed: DataFrame,
                   sample_rows: int = SALT_SAMPLE_ROWS) -> DataFrame:
    """Scattered bounded sample of ``cell_id`` for the hot-cell census.

    A ``limit(N)`` draws rows from whichever partitions Spark scans
    first — on the engine's OWN recommended at-rest layout (``ingest``
    range-clusters on cell_id, ``io.py``) that is one geographic
    corner, so the census either sees one cell at ~100% share
    (over-salts) or misses the true hot cell entirely. Instead take an
    equal quota of rows from EVERY partition: a mapInPandas generator
    consumes up to ``OVERSAMPLE x quota`` rows per partition (a few
    Arrow batches — the lazy iterator never pulls the rest of the
    upstream decode, bounded even against a 100 TB left side) and
    yields a seeded uniform subsample of ``quota`` of them, so the
    within-partition sort order (clustering puts equal cells in runs)
    doesn't bias the sample toward partition prefixes.

    Residual bias, stated honestly: a hot run confined entirely to the
    unread tail of one partition is still invisible — but on a
    range-clustered layout a cell with share >= 1/num_partitions spans
    a partition boundary (so some partition STARTS inside it), and
    cells below that share don't need salting in the first place.
    """
    import pandas as pd

    # quota sized by defaultParallelism, not the exact partition count:
    # the former .rdd.getNumPartitions() touch dragged the whole plan
    # through the RDD conversion path (round-5 VERDICT #9) for a number
    # that only scales the per-partition quota — any same-order proxy
    # serves, and the total read stays bounded per partition either way
    n_parts = max(1, l_indexed.sparkSession.sparkContext
                  .defaultParallelism)
    quota = max(64, sample_rows // n_parts)
    oversample = 2

    def take_quota(batches):
        rng = np.random.RandomState(0xC3115)
        chunks, seen = [], 0
        for pdf in batches:
            chunks.append(pdf["cell_id"])
            seen += len(pdf)
            if seen >= oversample * quota:
                break
        if not chunks:
            return
        cells = pd.concat(chunks, ignore_index=True)
        if len(cells) > quota:
            cells = cells.iloc[rng.choice(len(cells), quota, replace=False)]
        yield pd.DataFrame({"cell_id": cells.to_numpy()})

    return l_indexed.select("cell_id").mapInPandas(
        take_quota, schema="cell_id long")


def _auto_salt(l_indexed: DataFrame, parallelism: int,
               sample_rows: int = SALT_SAMPLE_ROWS) -> int:
    """Pick the salt factor from a bounded hot-cell census.

    The shuffle join partitions by ``cell_id``; one dense-geography
    cell holding share ``s`` of the left rows caps speed-up at ``1/s``
    regardless of cluster size. Salting the left id across ``k`` keys
    splits that cell's rows ``k`` ways, so the smallest sufficient
    ``k`` is ``ceil(s * parallelism)`` (hot cell back under one
    healthy partition's share). ``s`` comes from a per-partition-quota
    sample of the already-indexed relation (:func:`_census_sample`) —
    same idea as :func:`hot_cells`, but reusing the join's own cell
    cover, never scanning the full input, and unbiased under
    range-clustered layouts (the round-3 ``limit()`` census provably
    mis-estimated on exactly the ``ingest`` layout).
    """
    import math
    stats = (_census_sample(l_indexed, sample_rows)
             .groupBy("cell_id").count()
             .agg(F.max("count").alias("mx"), F.sum("count").alias("n"))
             .first())
    if not stats or not stats.n:
        return 1
    share = stats.mx / stats.n
    return int(min(MAX_AUTO_SALT, max(1, math.ceil(share * parallelism))))


def _index_side(df: DataFrame, id_col: str, geom_col: str, level: int,
                how: str, pad: float, keep_geom: bool,
                dilate: float = 0.0) -> DataFrame:
    """Narrow (id, bounds, cell_id, inside[, geometry]) index relation.

    ONE fused ``mapInPandas`` pass: WKB decode + bounds + cell cover +
    explode all happen inside a single Arrow batch in NumPy (the
    explode is a ``np.repeat``), emitting flat primitive columns only.
    This replaces the reference's three per-row UDF passes + Spark-side
    explode (``cdap_geo/index_bbox.py:8,15-30,45-50``) and avoids
    shipping nested array<struct> columns through Arrow.

    Project-early: only id + geometry enter the kernel; the payload
    (e.g. the spans array) never travels through the cell explode /
    shuffle — the reference's drop-columns-then-fetch-back advice
    (README.md:64-67) built into the plan.
    """
    import pandas as pd

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

    def gen(batches):
        for pdf in batches:
            blobs = [None if v is None else bytes(v) for v in pdf[geom_col]]
            batch = W.parse_wkb(blobs)
            b = batch.bounds()
            off, cc, inside = C.cover_batch(batch, level, how=how, pad=pad,
                                            dilate=dilate)
            counts = off[1:] - off[:-1]
            owner = np.repeat(np.arange(len(pdf)), counts)
            out = {id_col: pdf[id_col].to_numpy()[owner]}
            if keep_geom:
                out[geom_col] = pdf[geom_col].to_numpy()[owner]
            out["_minx"] = b[owner, 0]
            out["_miny"] = b[owner, 1]
            out["_maxx"] = b[owner, 2]
            out["_maxy"] = b[owner, 3]
            out["cell_id"] = cc
            out["_inside"] = inside
            yield pd.DataFrame(out)

    return src.mapInPandas(gen, schema=out_schema)


def sjoin_pairs(left: DataFrame, right: DataFrame, *,
                left_id: str = "doc_id", right_id: str = "region_id",
                left_geom: str = "geometry", right_geom: str = "geometry",
                level: int = DEFAULT_LEVEL,
                predicate: str = "intersects",
                left_how: str | None = None, right_how: str | None = None,
                pad: float = 1.0,
                broadcast: bool | str = "auto",
                salt: int | str = "auto",
                dedup: bool = True,
                distance: float | None = None,
                keep_distance: bool = False,
                keep_left_geom: bool = False) -> DataFrame:
    """Candidate-generate + refine; returns (left_id, right_id) pairs.

    predicate: 'intersects' (exact, ``bbox_intersects`` semantics,
    ``cdap_geo/index_bbox.py:73-76``), 'bbox' (bbox-overlap only —
    the ``bbox_join`` contract, ``:32-71``), or 'distance' (pairs
    within ``distance`` metres — ``st_join(distance=d)`` semantics,
    ``cdap_geo/sedona.py:136-147`` — via cell-dilated covers + exact
    distance refinement, never a nested-loop join).

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

    ``dedup=False`` skips the id-pair shuffle and leaves repeats in:
    the broadcast route emits a pair at most once per left ROW (a
    repeated left id repeats it), the shuffle route once per cell the
    two covers share. Compare the two as sets. On the broadcast route
    with ``dedup=False`` and ``keep_left_geom=True``,
    :func:`~cdap_geo_spark.operators.tiles.assign_tiles` over the
    returned frame runs inside its pass.
    """
    dilate_l = 0.0
    if predicate not in ("intersects", "bbox", "distance"):
        raise ValueError(f"unknown predicate {predicate!r}")
    if predicate == "distance":
        if distance is None:
            raise ValueError("distance predicate needs distance=")
        # dilate the LEFT cover by the distance: everything within d of
        # the left geometry lies inside its dilated cover, so the cell
        # probe loses no candidates.
        dilate_l = float(distance)

    lh = left_how or ("intersects" if predicate != "distance" else "bbox")
    rh = right_how or ("marked" if predicate == "intersects" else "bbox")
    # exact-cover fast path is only sound when the left cover is exact
    fast_path_ok = (predicate == "intersects" and lh == "intersects")

    spark = left.sparkSession
    if broadcast == "auto":
        with job_label(spark, "sjoin.broadcast_probe"):
            broadcast = broadcastable(right)
    if broadcast is True:
        return _sjoin_broadcast(
            left, right, left_id=left_id, right_id=right_id,
            left_geom=left_geom, right_geom=right_geom, level=level,
            predicate=predicate, lh=lh, rh=rh, pad=pad, dilate=dilate_l,
            distance=distance, fast_path_ok=fast_path_ok, dedup=dedup,
            keep_distance=keep_distance, keep_left_geom=keep_left_geom)

    l = _index_side(left, left_id, left_geom, level, lh, pad,
                    keep_geom=(predicate != "bbox"), dilate=dilate_l)
    r = _index_side(right, right_id, right_geom, level, rh, pad,
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

    if salt == "auto":
        # the bounded hot-cell census picks the factor (round-2 left
        # this knob manual — the planner now closes the loop itself)
        with job_label(spark, "sjoin.salt_census"):
            salt = _auto_salt(l, spark.sparkContext.defaultParallelism)

    join_keys = ["cell_id"]
    if salt > 1:
        l = l.withColumn("_salt", F.pmod(F.xxhash64(F.col(left_id)),
                                         F.lit(salt)).cast("int"))
        r = r.withColumn("_salt",
                         F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        join_keys = ["cell_id", "_salt"]

    cand = l.join(r, on=join_keys, how="inner")
    return refine_candidates(
        cand, left_id=left_id, right_id=right_id, predicate=predicate,
        distance=distance, left_geom_c=left_geom_c, right_geom=right_geom,
        fast_path_ok=fast_path_ok, dedup=dedup,
        keep_distance=keep_distance, keep_left_geom=keep_left_geom)


class RegionIndex:
    """The broadcast route's right side, built in the driver: the
    decoded regions, their bounds and ids, and their cell cover as a
    cell-sorted table (``cells[i]`` is covered by region
    ``region[i]``; ``inside[i]`` marks a cell wholly inside it)."""

    def __init__(self, ids, blobs: list, level: int, how: str, pad: float):
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
                distance: float | None, fast_path_ok: bool):
    """Matching (left row, region[, distance]) of one decoded left
    batch against the region index: cover, probe, bbox prefilter, then
    the exact kernel — the broadcast route's per-batch work."""
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
    hit = inside if fast_path_ok else np.zeros(len(li), bool)
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
                lb = W.parse_wkb(b.column(1).to_pylist())
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
                     rh, pad, dilate, distance, fast_path_ok, dedup,
                     keep_distance, keep_left_geom) -> DataFrame:
    """The broadcast route: collect and index the right side here, then
    one ``mapInArrow`` pass over the left side."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    with job_label(left.sparkSession, "sjoin.regions"):
        rows = right.select(right_id, right_geom).collect()
    keep_geom = keep_left_geom and predicate == "intersects"
    keep_dist = keep_distance and predicate == "distance"
    schema = T.StructType(
        [T.StructField(left_id, left.schema[left_id].dataType),
         T.StructField(right_id, right.schema[right_id].dataType)]
        + ([T.StructField("geometry", left.schema[left_geom].dataType)]
           if keep_geom else [])
        + ([T.StructField("dist", T.DoubleType())] if keep_dist else []))
    arrow_schema = to_arrow_schema(schema)
    index = RegionIndex(
        pa.array([r[0] for r in rows], arrow_schema.field(1).type),
        [None if r[1] is None else bytes(r[1]) for r in rows],
        level, rh, pad)
    kw = dict(level=level, how=lh, pad=pad, dilate=dilate,
              predicate=predicate, distance=distance,
              fast_path_ok=fast_path_ok)

    def run(batches):
        for b in batches:
            geoms = b.column(1)
            li, ri, d = batch_pairs(index, W.parse_wkb(geoms.to_pylist()),
                                    **kw)
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


#: cell-key packing for :func:`box_pairs_native`: ``cx * 2^32 + cy``.
#: With a negative ``cy`` two cells can share a key; a shared key only
#: adds candidates, which the exact bbox test removes.
_CELL_PACK = 1 << 32


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

    Losslessness of the native cover: each side covers the INCLUSIVE
    integer cell range ``c(min) .. c(max)`` per axis, with
    ``c(v) = CAST(v AS BIGINT) DIV cs``. ``c`` truncates toward zero,
    so the cells next to the axes are twice as wide, but it is
    monotone: any point ``p`` of the region two boxes share has
    ``c(p)`` inside both ranges, so boxes that overlap OR touch share a
    cell, at negative coordinates too. The exact strict-inequality
    bbox test then decides, exactly as :func:`refine_candidates` does
    for the decoded path.

    Scale: identical to the WKB path — map-side cell fan-out bounded
    by box size / cell size, one equi-join sized by the same broadcast
    planner, one narrow id-pair dedup exchange.
    """
    mnx, mny, mxx, mxy = bounds
    cs = int(C.cell_size(level))

    def indexed(df: DataFrame, id_col: str, p: str) -> DataFrame:
        b = df.select(
            F.col(id_col),
            F.col(mnx).alias(p + "minx"), F.col(mny).alias(p + "miny"),
            F.col(mxx).alias(p + "maxx"), F.col(mxy).alias(p + "maxy"))
        cx = F.explode(F.sequence(
            F.expr(f"CAST({p}minx AS BIGINT) DIV {cs}"),
            F.expr(f"CAST({p}maxx AS BIGINT) DIV {cs}"))).alias("_cx")
        out = b.select("*", cx)
        cy = F.explode(F.sequence(
            F.expr(f"CAST({p}miny AS BIGINT) DIV {cs}"),
            F.expr(f"CAST({p}maxy AS BIGINT) DIV {cs}"))).alias("_cy")
        out = out.select("*", cy)
        return out.select(
            id_col, p + "minx", p + "miny", p + "maxx", p + "maxy",
            (F.col("_cx") * F.lit(_CELL_PACK) + F.col("_cy"))
            .alias("cell_id"))

    if broadcast == "auto":
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


def hot_cells(df: DataFrame, geom_col: str = "geometry",
              level: int = DEFAULT_LEVEL, threshold: int = 100_000) -> DataFrame:
    """Cell census for skew planning: cells whose row count exceeds
    ``threshold``. Persisted by callers into the manifest so repeated
    joins reuse the census instead of re-scanning (SURVEY.md §4 skew
    row)."""
    cov = df.select(udfs.st_cells(level)(F.col(geom_col)).alias("_cells"))
    return (cov.select(F.explode("_cells").alias("cell_id"))
            .groupBy("cell_id").count()
            .filter(F.col("count") > threshold))
