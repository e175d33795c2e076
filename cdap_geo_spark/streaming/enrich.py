"""Stream-static spatial enrichment — the streaming twin of the batch
sjoin (``operators/sjoin.py``), for the production shape the reference
never had: a live document/point stream tagged with the region(s) it
falls in, at line rate.

It runs the sjoin broadcast route's pass:

    static regions  --collect + index, ONCE, when the stream is defined
                      (one Spark job, ``sjoin.regions``; RegionIndex)
    each micro-batch: 1 mapInArrow pass over the stream rows:
      decode each row once -> exact cover -> probe the sorted region
      cells -> bbox prefilter -> exact refine (skipped for cells marked
      wholly inside a region) -> the row's own columns + region_id

No join, no exchange, no state store, and nothing of the regions is
re-read or re-indexed per micro-batch. Output rows are unique per
(stream row, region): the probe pairs each row with each region at
most once.

The regions are a driver-small static dimension read once, when
:func:`spatial_enrich_stream` is called, as ``geofence_stream``'s
fences are: later changes to their source are not seen by the stream.
A region layer too large for the driver is the batch planner's job:
backfill with :func:`~cdap_geo_spark.operators.sjoin.sjoin_pairs`,
which shuffles it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

from cdap_geo_spark.core import wkb as W
from cdap_geo_spark.operators.sjoin import (DEFAULT_LEVEL, PAD, RegionIndex,
                                            batch_pairs)


def spatial_enrich_stream(points: DataFrame, regions: DataFrame, *,
                          region_id: str = "region_id",
                          point_geom: str = "geometry",
                          level: int = DEFAULT_LEVEL,
                          region_geom: str = "geometry") -> DataFrame:
    """Enrich a streaming relation with the regions its rows intersect.

    ``points``: streaming DataFrame with a WKB ``point_geom`` column of
    any geometry type (all payload columns are preserved). ``regions``:
    STATIC DataFrame of (region_id, WKB geometry), read and indexed
    here, once. Returns the stream's columns + ``region_id``, one row
    per (stream row, intersecting region) — the pairs of
    ``sjoin_pairs(predicate='intersects')``; rows in no region are
    dropped (inner semantics — the only join shape that stays
    append-mode and map-side; compute misses with the batch planner on
    backfill).

    Works identically on a batch ``points`` DataFrame (useful for
    backfilling with the exact plan the stream runs).
    """
    import pyarrow as pa

    index = RegionIndex.collect(regions, region_id, region_geom, level,
                                "marked")
    schema = T.StructType(points.schema.fields + [regions.schema[region_id]])
    g = points.columns.index(point_geom)
    kw = dict(level=level, how="intersects", pad=PAD, dilate=0.0,
              predicate="intersects", distance=None)

    def run(batches):
        for b in batches:
            li, ri, _ = batch_pairs(index, W.parse_wkb(b.column(g)), **kw)
            yield pa.RecordBatch.from_arrays(
                b.take(li).columns + [index.ids.take(ri)],
                names=schema.names)

    return points.mapInArrow(run, schema)
