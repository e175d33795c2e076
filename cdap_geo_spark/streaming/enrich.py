"""Stream-static spatial enrichment — the streaming twin of the batch
sjoin (``operators/sjoin.py``), for the production shape the reference
never had: a live document/point stream tagged with the region(s) it
falls in, at line rate.

Plan (entirely map-side per micro-batch — no stream-stream join, no
streaming shuffle, no state store):

    static regions --_index_side--> (region_id, bounds, cell_id,
                                     inside, geometry)   [built ONCE]
    stream points  --one Arrow PUDF--> (payload..., x, y, cell_id)
      -> stream-static equi-join on cell_id (broadcast by default, so
         the join is a map-only stage of the stream)
      -> native bbox-containment prefilter (codegen'd)
      -> exact point-in-region refinement (Arrow PUDF), skipped for
         cells marked fully-inside (the sjoin fast path)

Correctness note: a point lies in exactly ONE grid cell (floor on
both axes); the region cover (``how='marked'``, padded by the batch
planner's :data:`~cdap_geo_spark.operators.sjoin.PAD`) contains every
cell the region touches, so any point intersecting the region shares
its cell with one cover row — the equi-join loses no matches. Output
rows are unique per (point, region): each point carries one cell, and
per-cell cover rows are distinct per region, so no post-join dedup (a
streaming-hostile wide aggregation) is needed.

At scale: the static index is regions x cells-per-region rows; keep it
under the broadcast budget (the default asks the batch planner's
:func:`~cdap_geo_spark.functions.relational.broadcastable` about the
raw regions) or pass ``broadcast=False`` to shuffle the stream side on
cell_id instead (stream-static non-broadcast join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cdap_geo_spark import udfs
from cdap_geo_spark.functions.relational import broadcastable
from cdap_geo_spark.operators.sjoin import DEFAULT_LEVEL, PAD, _index_side


def spatial_enrich_stream(points: DataFrame, regions: DataFrame, *,
                          region_id: str = "region_id",
                          point_geom: str = "geometry",
                          level: int = DEFAULT_LEVEL,
                          region_geom: str = "geometry",
                          broadcast: bool | str = "auto") -> DataFrame:
    """Enrich a streaming point relation with the regions it falls in.

    ``points``: streaming DataFrame with a WKB ``point_geom`` column
    (all payload columns are preserved). ``regions``: STATIC
    DataFrame of (region_id, WKB geometry). Returns the stream's
    columns + ``region_id``, one row per (point, intersecting
    region); points in no region are dropped (inner semantics — the
    only join shape that stays append-mode and map-side; compute
    misses with the batch planner on backfill).

    Works identically on a batch ``points`` DataFrame (useful for
    backfilling with the exact plan the stream runs).
    """
    r = _index_side(regions, region_id, region_geom, level,
                    "marked", PAD, keep_geom=True)
    r = r.withColumnsRenamed({
        "_minx": "_rminx", "_miny": "_rminy",
        "_maxx": "_rmaxx", "_maxy": "_rmaxy", "_inside": "_rinside"})
    if region_geom == point_geom:
        r = r.withColumnRenamed(region_geom, "_rgeom")
        region_geom_c = "_rgeom"
    else:
        region_geom_c = region_geom

    if broadcast == "auto":
        # decided on the raw regions, like the batch planner: the
        # probe fallback on the indexed side would run its cover kernel
        broadcast = broadcastable(regions)

    pb = udfs.st_bounds()(F.col(point_geom))
    pts = points.withColumn("_px", pb["minx"]).withColumn("_py", pb["miny"]) \
        .withColumn("cell_id",
                    udfs.st_cell_point(level)(F.col(point_geom)))

    rside = F.broadcast(r) if broadcast else r
    joined = pts.join(rside, "cell_id")

    inside_bbox = ((F.col("_px") >= F.col("_rminx"))
                   & (F.col("_px") <= F.col("_rmaxx"))
                   & (F.col("_py") >= F.col("_rminy"))
                   & (F.col("_py") <= F.col("_rmaxy")))
    exact = F.col("_rinside") | udfs.st_intersects()(
        F.col(point_geom), F.col(region_geom_c))
    out = joined.filter(inside_bbox & exact)

    drop = ["cell_id", "_px", "_py", "_rminx", "_rminy", "_rmaxx",
            "_rmaxy", "_rinside", region_geom_c]
    return out.drop(*[c for c in drop if c in out.columns])
