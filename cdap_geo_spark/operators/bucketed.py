"""Bucketed at-rest layout -> exchange-free repeated spatial joins.

The cell equi-join in :mod:`cdap_geo_spark.operators.sjoin` shuffles
both indexed sides on ``cell_id`` every time it runs. For the 100 TB
workload pattern — the same big reference layer (parcels, tiles,
admin boundaries) joined against many incoming datasets, or two big
layers joined repeatedly — that shuffle is the dominant cost and it
is *reproducible work*: the cell cover of a static layer never
changes. Spark's answer is bucketing: persist each side's indexed
relation ``bucketBy(n, cell_id)`` + ``sortBy(cell_id)``; two tables
bucketed the same way sort-merge join with **zero Exchange** (and no
re-sort when each bucket is a single file), so the join's only cost
is the scan + the refine kernel.

This is the Spark-first upgrade of the reference's at-rest story: the
reference repartitions on its BNG index before writing
(``cdap_geo/read.py:120-160``) but the layout is lost on read — every
join still shuffles. A bucketed data-source table keeps the layout in
the catalog, so Catalyst *proves* both sides are co-partitioned and
drops the Exchange at plan time.

**The index parameters are part of the layout contract** (round 5):
two tables only join correctly when they were written on the same
grid (``level``/``pad``), the declared left cover is what was
actually written (``how`` gates the exact-cover fast path), and a
distance join's left table was pre-dilated by exactly the join
distance. :func:`index_to_bucketed_table` therefore records every
index parameter in the table's TBLPROPERTIES, and
:func:`sjoin_bucketed` VALIDATES them — a level-8 table joined to a
level-9 table, or ``predicate='distance'`` against an undilated left
table, raises instead of silently returning wrong pairs.

Scale notes:

* bucket count is the join's parallelism floor AND file count — pick
  ~2-4x the executor-core count at the target scale (e.g. 4096 for a
  1000-executor run), NOT the local default;
* a hot cell lands in one bucket, and AQE's skew-join splitting
  cannot help (it needs an Exchange to re-plan). The write-time
  census (``census=True``) measures the hot share and warns; the
  layout-level answer is **coordinated salting**: write the skewed
  side with ``salt=s`` (its rows spread over ``(cell_id, salt)``)
  and the other side with ``salt=s, replicate_salt=True`` (each row
  written once per salt value). Both sides bucket on
  ``(cell_id, _salt)``, so the join is still exchange-free and the
  hot cell's work spreads over ``s`` buckets — what AQE's skew-join
  split does at run time on ``sjoin_pairs``'s shuffle route, fixed
  in the layout. Storage cost: the replicated side is written ``s``×;
* both tables MUST be written with the same bucket count — Spark
  only elides both Exchanges when the bucket counts match (one-side
  multiples re-shuffle the other side).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdap_geo_spark.operators import sjoin as SJ

#: TBLPROPERTIES namespace for recorded index parameters
_PROP = "cdap_geo_spark.index."
#: census warning threshold: warn when the hottest cell carries more
#: than this multiple of the mean rows-per-cell
HOT_FACTOR = 8.0


def index_to_bucketed_table(df: DataFrame, table: str, *,
                            id_col: str, geom_col: str = "geometry",
                            level: int = SJ.DEFAULT_LEVEL,
                            how: str = "marked", pad: float = 1.0,
                            dilate: float = 0.0,
                            buckets: int = 32,
                            salt: int = 1,
                            replicate_salt: bool = False,
                            census: bool = True,
                            path: str | None = None,
                            mode: str = "overwrite") -> dict:
    """Persist ``df``'s cell-indexed relation as a bucketed table.

    One fused Arrow pass (decode + bounds + cell cover + explode,
    :func:`sjoin._index_side`) then ``bucketBy(buckets, cell_id[,
    _salt])`` + matching ``sortBy`` into the session catalog. ``path``
    makes the table external (data at ``path``, metadata in the
    catalog). Returns the census stats dict (empty when
    ``census=False``).

    ``how``/``pad``/``level`` must match across the tables you intend
    to join (same grid = same join keys) — they are recorded in
    TBLPROPERTIES and enforced by :func:`sjoin_bucketed`. The default
    cover is ``'marked'``: the same cells as ``'intersects'`` (so it
    is an exact cover on the left side of a join) plus the
    wholly-inside flag that lets the right side skip the refine
    kernel — one layout serves both sides of an intersects join at
    full speed. For distance joins pre-dilate the LEFT table's cover
    with ``dilate=d`` (metres) — the same lossless dilation
    :func:`sjoin.sjoin_pairs` applies at plan time.

    ``salt``/``replicate_salt`` implement the coordinated-salt skew
    layout described in the module docstring; ``census=True`` (one
    groupBy over the indexed relation, at write time only) measures
    cell skew and warns with the measured hot share when the hottest
    cell exceeds ``HOT_FACTOR``× the mean, recommending a salt.
    """
    if salt < 1:
        raise ValueError(f"salt must be >= 1: {salt}")
    indexed = SJ._index_side(df, id_col, geom_col, level, how, pad,
                             keep_geom=True, dilate=dilate)
    if salt > 1:
        if replicate_salt:
            # one copy of every row per salt value: meets each salted
            # partner row exactly once in the (cell_id, _salt) join
            indexed = indexed.withColumn(
                "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        else:
            indexed = indexed.withColumn(
                "_salt", F.pmod(F.hash(F.col(id_col)), F.lit(salt)))
        bucket_cols = ["cell_id", "_salt"]
    else:
        bucket_cols = ["cell_id"]

    stats: dict = {}
    if census:
        row = (indexed.groupBy("cell_id").count()
               .agg(F.max("count").alias("mx"),
                    F.avg("count").alias("mean"),
                    F.count("*").alias("cells"),
                    F.sum("count").alias("rows")).collect()[0])
        stats = {"max_cell_rows": row.mx, "mean_cell_rows": row.mean,
                 "cells": row.cells, "rows": row.rows}
        if row.mx is not None and row.mean and row.mx > HOT_FACTOR * row.mean \
                and salt == 1:
            warnings.warn(
                f"bucketed layout '{table}': hottest cell carries "
                f"{row.mx} rows ({row.mx / row.mean:.1f}x the mean "
                f"{row.mean:.1f}) — that cell's join work lands in ONE "
                f"bucket and AQE cannot split it. Consider salt=s here "
                f"plus salt=s, replicate_salt=True on the partner "
                f"table, a finer level, or the shuffle path "
                f"(sjoin_pairs(broadcast=False), where AQE splits the "
                f"hot cell).",
                RuntimeWarning, stacklevel=2)

    # one exchange keyed exactly like the bucket hash BEFORE the write:
    # a bucketed write never shuffles, so each of the N upstream tasks
    # otherwise emits its own file per bucket (N x buckets small files
    # — measured 512 at the bench shape; guide §6 small-files). After
    # this repartition every task holds exactly one bucket and writes
    # one file; paying the exchange at write time IS the layout's
    # documented contract (the joins it serves are exchange-free).
    indexed = indexed.repartition(buckets,
                                  *[F.col(c) for c in bucket_cols])
    w = (indexed.write.format("parquet").mode(mode)
         .bucketBy(buckets, *bucket_cols).sortBy(*bucket_cols))
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)

    spark = df.sparkSession
    props = {"level": level, "how": how, "pad": pad, "dilate": dilate,
             "buckets": buckets, "salt": salt,
             "replicate_salt": replicate_salt}
    kv = ", ".join(f"'{_PROP}{k}'='{v}'" for k, v in props.items())
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")
    return stats


def table_index_props(spark: SparkSession, table: str) -> dict:
    """The recorded index parameters of a bucketed index table
    (empty dict for tables written before round 5 recorded them)."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    out = {}
    for r in rows:
        if r.key.startswith(_PROP):
            out[r.key[len(_PROP):]] = r.value
    return out


def _check_props(lp: dict, rp: dict, left_table: str, right_table: str,
                 predicate: str, distance: float | None,
                 left_how: str | None) -> str:
    """Validate the two tables' recorded layouts; returns the
    effective left cover ``how``. Tables without recorded properties
    fall back to the docstring contract with a warning."""
    if not lp or not rp:
        warnings.warn(
            f"bucketed join {left_table} x {right_table}: index "
            f"parameters not recorded on "
            f"{'both tables' if not (lp or rp) else (left_table if not lp else right_table)}"
            f" — cannot validate level/how/pad/dilate compatibility "
            f"(tables written by an older index_to_bucketed_table?). "
            f"Proceeding on the documented contract.",
            RuntimeWarning, stacklevel=3)
        return left_how or "intersects"
    for key in ("level", "pad", "buckets"):
        if lp.get(key) != rp.get(key):
            raise ValueError(
                f"bucketed join {left_table} x {right_table}: {key} "
                f"mismatch ({lp.get(key)} vs {rp.get(key)}) — the "
                f"tables are on different grids/layouts; rewrite one "
                f"side with matching parameters")
    if lp.get("salt") != rp.get("salt"):
        raise ValueError(
            f"bucketed join {left_table} x {right_table}: salt "
            f"mismatch ({lp.get('salt')} vs {rp.get('salt')}) — "
            f"coordinated salting needs the same salt on both sides "
            f"(one written with replicate_salt=True)")
    if int(lp.get("salt", 1)) > 1:
        la = lp.get("replicate_salt") == "True"
        ra = rp.get("replicate_salt") == "True"
        if la == ra:
            raise ValueError(
                f"bucketed join {left_table} x {right_table}: with "
                f"salt>1 exactly ONE side must be written with "
                f"replicate_salt=True (got replicate_salt={la} on "
                f"both)")
    eff_left_how = left_how if left_how is not None else lp.get("how")
    if left_how is not None and left_how != lp.get("how"):
        raise ValueError(
            f"bucketed join: left_how='{left_how}' contradicts "
            f"{left_table}'s recorded cover how='{lp.get('how')}'")
    if predicate == "distance":
        if float(lp.get("dilate", 0.0)) != float(distance):
            raise ValueError(
                f"bucketed distance join needs the LEFT table "
                f"pre-dilated by the join distance: {left_table} was "
                f"written with dilate={lp.get('dilate')}, join asked "
                f"distance={distance}")
    return eff_left_how


def sjoin_bucketed(spark: SparkSession, left_table: str, right_table: str, *,
                   left_id: str, right_id: str,
                   left_geom: str = "geometry", right_geom: str = "geometry",
                   predicate: str = "intersects",
                   left_how: str | None = None,
                   distance: float | None = None,
                   dedup: bool = True,
                   keep_distance: bool = False,
                   keep_left_geom: bool = False) -> DataFrame:
    """Spatial join of two bucketed index tables — no shuffle of
    either side (verified by the ``test_bucketed`` no-Exchange plan
    assertion); same result rows as
    :func:`~cdap_geo_spark.operators.sjoin.sjoin_pairs` on the
    original inputs.

    The recorded TBLPROPERTIES of both tables are validated (grid,
    layout, salt coordination, distance dilation — see module
    docstring); ``left_how`` defaults to the LEFT table's recorded
    cover, and passing it explicitly only double-checks the record.
    The exact-cover fast path fires for ``'intersects'`` and
    ``'marked'`` left covers (same cells — both exact).
    """
    if predicate == "distance" and distance is None:
        raise ValueError("distance predicate needs distance=")
    lp = table_index_props(spark, left_table)
    rp = table_index_props(spark, right_table)
    eff_left_how = _check_props(lp, rp, left_table, right_table,
                                predicate, distance, left_how)
    fast_path_ok = (predicate == "intersects"
                    and eff_left_how in ("intersects", "marked"))

    l = spark.table(left_table).withColumnsRenamed({
        "_minx": "_lminx", "_miny": "_lminy",
        "_maxx": "_lmaxx", "_maxy": "_lmaxy", "_inside": "_linside"})
    r = spark.table(right_table).withColumnsRenamed({
        "_minx": "_rminx", "_miny": "_rminy",
        "_maxx": "_rmaxx", "_maxy": "_rmaxy", "_inside": "_rinside"})
    if left_geom == right_geom and predicate != "bbox":
        l = l.withColumnRenamed(left_geom, "_lgeom")
        left_geom_c = "_lgeom"
    else:
        left_geom_c = left_geom

    join_cols = ["cell_id"]
    if int(lp.get("salt", 1) or 1) > 1:
        join_cols.append("_salt")

    # plain equi-join on the bucket column(s): Catalyst sees matching
    # HashPartitioning on both scans and plans a sort-merge join with
    # no Exchange on either side. No F.broadcast here — a broadcast
    # would *discard* the co-location we paid for.
    cand = l.join(r, on=join_cols, how="inner")
    return SJ.refine_candidates(
        cand, left_id=left_id, right_id=right_id, predicate=predicate,
        distance=distance, left_geom_c=left_geom_c, right_geom=right_geom,
        fast_path_ok=fast_path_ok, dedup=dedup,
        keep_distance=keep_distance, keep_left_geom=keep_left_geom)


def plan_has_no_exchange(df: DataFrame) -> bool:
    """True when the physical plan contains no Exchange at all — the
    property the bucketed layout exists to deliver. Assert it on a
    ``dedup=False`` join (the optional pair-dedup above the join adds
    an inherent narrow shuffle that would mask the signal)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" not in plan
