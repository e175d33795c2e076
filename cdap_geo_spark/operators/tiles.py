"""Tile frame generation + raster<->vector tile assignment.

The reference's "raster" side is a grid of equal boxes: ``split_grid``
cuts a bbox into splits² boxes (``cdap_geo/misc.py:6-17``, x-major
then y) and its XYZ tile source addresses tiles as z/x/y
(``cdap_geo/os.py:46``). Tile ids follow the ``'{x}-{y}'`` naming of
the reference's fixed-grid cells (``cdap_geo/index_bbox.py:23``: the
cell ORIGIN coordinates joined by '-').

Tile assignment is deliberately NOT a generic join when the tile frame
is a regular grid: a regular grid is addressable by floor arithmetic,
so assignment is a map-side cell cover at the tile resolution — zero
shuffle, no tile table scan. The generic sjoin path stays available
for irregular tile sets.

:func:`tile_cover` is the one tile rule, in NumPy. :func:`assign_tiles`
runs it in a ``mapInArrow`` pass of its own, or, over the frame the
broadcast sjoin route returned, inside that route's pass over the left
side (one Python node for sjoin + tiles).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.functions import arrow_udf

from cdap_geo_spark import udfs
from cdap_geo_spark.core import geom as G, wkb as W


def split_grid(spark: SparkSession, bbox: tuple, splits: int,
               z: int = 0) -> DataFrame:
    """Tile table: splits² equal boxes of ``bbox``.

    Columns (tile_id, z, minx, miny, maxx, maxy, geometry); enumeration
    order x-major then y, matching the reference's loop
    (``cdap_geo/misc.py:13-16``). Built from ``spark.range`` + closed-form
    box arithmetic — fully native except the WKB emit UDF.
    """
    x0, y0, x1, y1 = (float(v) for v in bbox)
    dx, dy = (x1 - x0) / splits, (y1 - y0) / splits
    df = spark.range(splits * splits)
    df = df.select(
        (F.col("id") / splits).cast("long").alias("_xi"),
        F.pmod(F.col("id"), F.lit(splits)).cast("long").alias("_yi"),
    )
    df = df.select(
        F.lit(z).alias("z"),
        (F.lit(x0) + F.col("_xi") * F.lit(dx)).alias("minx"),
        (F.lit(y0) + F.col("_yi") * F.lit(dy)).alias("miny"),
        (F.lit(x0) + (F.col("_xi") + 1) * F.lit(dx)).alias("maxx"),
        (F.lit(y0) + (F.col("_yi") + 1) * F.lit(dy)).alias("maxy"),
    )
    tile_id = F.concat_ws(
        "-",
        F.col("minx").cast("long").cast("string"),
        F.col("miny").cast("long").cast("string"),
    )
    return df.select(
        tile_id.alias("tile_id"), "z", "minx", "miny", "maxx", "maxy",
        udfs.st_box()(F.col("minx"), F.col("miny"),
                      F.col("maxx"), F.col("maxy")).alias("geometry"),
    )


def grid_cover_udf(resolutions, limits):
    """Fixed-grid cover -> array<string> of '{x}-{y}' ids.

    Reproduces the reference's ``bbox_index`` formula verbatim
    (``cdap_geo/index_bbox.py:15-30``): keep origins (x, y) stepping
    ``resolutions`` across ``limits`` where
    ``minx < x < maxx+res and miny < y < maxy+res``. Note this is
    shifted one cell positive of the true geometric cover — the quirk
    is harmless for self-joins (both sides shift identically, so the
    equi-join result equals the true-cover join) but must be
    reproduced bit-for-bit for id parity with the reference.
    """
    rx, ry = int(resolutions[0]), int(resolutions[1])
    lx0, ly0, lx1, ly1 = (int(v) for v in limits)

    @arrow_udf(T.ArrayType(T.StringType()))
    def _cover(minx: pa.Array, miny: pa.Array,
               maxx: pa.Array, maxy: pa.Array) -> pa.Array:
        mnx, mny, mxx, mxy = (
            np.asarray(c.to_numpy(zero_copy_only=False), np.float64)
            for c in (minx, miny, maxx, maxy))
        out = []
        for a, b, c, d in zip(mnx, mny, mxx, mxy):
            if np.isnan(a):
                out.append([])
                continue
            # O(cells covered) enumeration of the same set the
            # reference scans O(grid) for — anchored at limits[0]
            # exactly like the reference's range(limits[0], ...)
            # (``cdap_geo/index_bbox.py:20-21``), so non-aligned
            # limits still produce identical ids
            k0 = int(np.floor((a - lx0) / rx)) + 1
            xs = lx0 + rx * np.arange(max(k0, 0),
                                      max(int(np.ceil((min(c + rx, lx1)
                                                       - lx0) / rx)), 0))
            xs = xs[(xs > a) & (xs < min(c + rx, lx1))].astype(np.int64)
            k0 = int(np.floor((b - ly0) / ry)) + 1
            ys = ly0 + ry * np.arange(max(k0, 0),
                                      max(int(np.ceil((min(d + ry, ly1)
                                                       - ly0) / ry)), 0))
            ys = ys[(ys > b) & (ys < min(d + ry, ly1))].astype(np.int64)
            out.append([f"{x}-{y}" for x in xs for y in ys])
        return pa.array(out, pa.list_(pa.string()))
    return _cover


def tile_cover(batch: W.GeomBatch, rows: np.ndarray, grid: tuple,
               exact: bool = True):
    """Tiles of the grid ``(x0, y0, x1, y1, rx, ry)`` (frame and tile
    size) that each geometry ``batch[rows[k]]`` intersects — the one
    tile rule of :func:`assign_tiles`, in NumPy.

    Returns ``(owner, names, inv)``: tile row ``j`` belongs to
    ``rows[owner[j]]`` (``owner`` ascending) and is named
    ``names[inv[j]]``, ``'{x}-{y}'`` of the tile origin, each distinct
    tile named once.
    """
    x0, y0, x1, y1, rx, ry = grid
    lx0, ly0, lx1, ly1 = int(x0), int(y0), int(x1), int(y1)
    b = batch.bounds()[rows]
    # candidate tiles: floor-arithmetic cover of the bbox
    with np.errstate(invalid="ignore"):
        xi0 = np.floor(b[:, 0] / rx).astype(np.float64)
        yi0 = np.floor(b[:, 1] / ry).astype(np.float64)
        xi1 = np.floor(b[:, 2] / rx).astype(np.float64)
        yi1 = np.floor(b[:, 3] / ry).astype(np.float64)
    # a bbox strictly outside the frame (the sjoin bbox prefilter's
    # test) intersects no tile; clamping it would invent an edge tile.
    # Frame-edge touches keep theirs. A NaN or infinite bound gets none.
    outside = ((b[:, 0] > x1) | (b[:, 1] > y1)
               | (b[:, 2] < x0) | (b[:, 3] < y0))
    bad = ~np.isfinite(b).all(axis=1) | outside
    xi0 = np.clip(np.nan_to_num(xi0), lx0 // rx, lx1 // rx - 1).astype(np.int64)
    yi0 = np.clip(np.nan_to_num(yi0), ly0 // ry, ly1 // ry - 1).astype(np.int64)
    xi1 = np.clip(np.nan_to_num(xi1), lx0 // rx, lx1 // rx - 1).astype(np.int64)
    yi1 = np.clip(np.nan_to_num(yi1), ly0 // ry, ly1 // ry - 1).astype(np.int64)
    nx = np.where(bad, 0, xi1 - xi0 + 1)
    ny = np.where(bad, 0, yi1 - yi0 + 1)
    counts = nx * ny
    owner = np.repeat(np.arange(len(rows)), counts)
    total = int(counts.sum())
    local = np.arange(total) - np.repeat(
        np.concatenate(([0], np.cumsum(counts)[:-1])), counts)
    tx = xi0[owner] + local // np.maximum(ny[owner], 1)
    ty = yi0[owner] + local % np.maximum(ny[owner], 1)
    keep = np.ones(total, bool)
    if exact and total:
        sel = np.flatnonzero(counts[owner] > 1)
        if len(sel):
            # refine candidates against the tile boxes in-batch
            tb = W.boxes_batch(tx[sel] * rx, ty[sel] * ry,
                               (tx[sel] + 1) * rx, (ty[sel] + 1) * ry)
            keep[sel] = G.pairs_intersect(batch, tb, rows[owner[sel]],
                                          np.arange(len(sel)))
    tiles, inv = np.unique(np.stack([tx[keep], ty[keep]]), axis=1,
                           return_inverse=True)
    names = np.array([f"{x * rx}-{y * ry}" for x, y in tiles.T],
                     dtype=object)
    return owner[keep], names, inv.reshape(-1)


def _is_cached(df: DataFrame) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk or level.useOffHeap


def assign_tiles(df: DataFrame, *, bbox: tuple, splits: int,
                 geom_col: str = "geometry", id_col: str = "doc_id",
                 exact: bool = True, keep: tuple = ()) -> DataFrame:
    """(id_col, tile_id) for every tile of the regular grid the geometry
    intersects — map-side only, no join, no shuffle.

    Candidate tiles come from the geometry bbox by floor arithmetic
    ('exact' cover mode); ``exact=True`` refines candidates with the
    exact intersects kernel against the tile box (only needed for
    non-rectangular geometries spanning multiple tiles; points are
    exact already). :func:`tile_cover` is the rule.

    Over the frame that the broadcast route of
    :func:`~cdap_geo_spark.operators.sjoin.sjoin_pairs` returned with
    ``dedup=False`` and ``keep_left_geom=True`` — that object itself,
    not cached, with ``id_col`` its left id and ``keep`` at most its
    right id — the tiles are assigned inside the join's own pass over
    the left side: one Python node, each matched left row tiled once,
    and the left geometry never leaves it. Any other frame gets a
    ``mapInArrow`` pass of its own. Both give the same rows.
    """
    x0, y0, x1, y1 = (float(v) for v in bbox)
    dx = (x1 - x0) / splits
    dy = (y1 - y0) / splits
    if not (float(dx).is_integer() and float(dy).is_integer()
            and float(x0).is_integer() and float(y0).is_integer()):
        raise ValueError("regular-grid fast path needs integral tile frame")
    grid = (x0, y0, x1, y1, int(dx), int(dy))
    keep = [c for c in keep if c != id_col]
    src = df.select(F.col(id_col), *[F.col(c) for c in keep],
                    F.col(geom_col))
    out_schema = T.StructType([src.schema[id_col]]
                              + [src.schema[c] for c in keep]
                              + [T.StructField("tile_id", T.StringType())])

    joined = vars(df).get("_broadcast_pass")
    if (joined is not None and geom_col == "geometry"
            and id_col == joined.left_id
            and set(keep) <= {joined.right_id} and not _is_cached(df)):
        return joined.with_tiles(
            lambda batch, rows: tile_cover(batch, rows, grid, exact),
            out_schema)

    def gen(batches):
        for b in batches:
            g = b.num_columns - 1
            owner, names, inv = tile_cover(W.parse_wkb(b.column(g)),
                                           np.arange(b.num_rows), grid, exact)
            cols = [b.column(i).take(owner) for i in range(g)]
            cols.append(pa.array(names, pa.string()).take(inv))
            yield pa.RecordBatch.from_arrays(cols, names=out_schema.names)

    return src.mapInArrow(gen, schema=out_schema)


def tile_rollup(assigned: DataFrame, *, resolutions, factor: int,
                tile_col: str = "tile_id",
                count_col: str | None = None) -> DataFrame:
    """Tile-pyramid rollup: aggregate per-tile row counts one zoom
    level up (the hypertable-rollup shape over the ``'{x}-{y}'`` grid
    of ``assign_tiles`` / the reference's fixed-grid ids,
    cdap_geo/index_bbox.py:23).

    ``assigned`` is any (row, tile_id) relation at resolution
    ``resolutions=(rx, ry)``; the parent grid is ``(rx*factor,
    ry*factor)`` with origins snapped by floor division so negative
    coordinates land in the correct parent (arithmetic on the PARSED
    origin, not string prefixes — ids like '-100-200' make prefix
    tricks ambiguous).

    Plan: groupBy(tile) with map-side partial aggregation collapses
    the first exchange to one row per tile per task, and the rollup
    exchange carries one row per FINE tile — the relation is bounded
    by the tile frame, not the data, so the rollup cost is constant
    in corpus size. Output per parent tile: total rows, number of
    occupied child tiles, max child count (all ``long``).

    ``count_col``: roll up a pre-aggregated per-tile count relation
    instead of raw assignment rows (for incremental pyramids).
    """
    rx, ry = int(resolutions[0]), int(resolutions[1])
    if factor < 1 or rx <= 0 or ry <= 0:
        raise ValueError("factor >= 1 and positive resolutions required")
    px, py = rx * factor, ry * factor

    if count_col is None:
        fine = assigned.groupBy(tile_col).agg(
            F.count(F.lit(1)).cast("long").alias("_n"))
    else:
        fine = assigned.select(F.col(tile_col),
                               F.col(count_col).cast("long").alias("_n"))

    ox = F.regexp_extract(F.col(tile_col),
                          r"^(-?\d+)-(-?\d+)$", 1).cast("long")
    oy = F.regexp_extract(F.col(tile_col),
                          r"^(-?\d+)-(-?\d+)$", 2).cast("long")
    parent = F.concat_ws(
        "-",
        (F.floor(ox / F.lit(px)) * px).cast("long").cast("string"),
        (F.floor(oy / F.lit(py)) * py).cast("long").cast("string"))

    return (fine.select(parent.alias("parent_tile_id"), "_n")
            .groupBy("parent_tile_id")
            .agg(F.sum("_n").cast("long").alias("n_rows"),
                 F.count(F.lit(1)).cast("long").alias("n_child_tiles"),
                 F.max("_n").cast("long").alias("max_child_rows")))


def tile_pyramid(assigned: DataFrame, *, resolutions, factor: int,
                 levels: int, tile_col: str = "tile_id") -> DataFrame:
    """Full tile pyramid: :func:`tile_rollup` applied ``levels`` times,
    all levels returned in ONE relation —
    ``(level:int, tile_id:string, n_rows, n_child_tiles,
    max_child_rows)`` with level 1 the first rollup of the input grid
    (resolution ``resolutions * factor``) and level k at
    ``resolutions * factor^k``.

    Each level rolls up the PREVIOUS level's count relation (the
    ``count_col`` incremental path), so the raw assignment rows are
    aggregated exactly once and every later exchange carries one row
    per occupied tile of the finer level — the whole pyramid above the
    base costs O(occupied tiles), constant in corpus size. The final
    union is a no-shuffle concatenation.
    """
    if levels < 1:
        raise ValueError("tile_pyramid: levels >= 1 required")
    rx, ry = int(resolutions[0]), int(resolutions[1])
    cur = assigned.groupBy(tile_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"))
    out = None
    for lvl in range(1, levels + 1):
        up = tile_rollup(cur, resolutions=(rx, ry), factor=factor,
                         tile_col=tile_col if lvl == 1
                         else "parent_tile_id",
                         count_col="n_rows")
        tier = up.select(F.lit(lvl).cast("int").alias("level"),
                         F.col("parent_tile_id").alias("tile_id"),
                         "n_rows", "n_child_tiles", "max_child_rows")
        out = tier if out is None else out.unionByName(tier)
        rx, ry = rx * factor, ry * factor
        cur = up
    return out


def adaptive_tiles(points: DataFrame, *, max_per_tile: int,
                   min_level: int = 5, max_level: int = 9,
                   world_bits: int = 21,
                   x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Adaptive quadtree tiling: recursively split tiles until no tile
    holds more than ``max_per_tile`` points (or ``max_level`` is
    reached) — the BALANCED write/partition layout a fixed grid cannot
    give over skewed data (dense cities split fine, empty ocean stays
    one coarse tile). Returns the leaf tiles ``(level, tx, ty, n)``.

    Leaf rule (deterministic, schedule-independent): a point's leaf is
    the SHALLOWEST level in ``[min_level, max_level]`` whose ancestor
    tile count is ≤ ``max_per_tile``, else its ``max_level`` tile. All
    siblings under a qualifying ancestor pick that same ancestor, so
    leaves partition the point set exactly (pytest-pinned: Σn
    conserved, tiles are disjoint by construction, every leaf above
    ``max_level`` respects the bound).

    Tile addressing is pure bit arithmetic on a ``2^world_bits`` grid:
    ``tx = x >> (world_bits - level)`` — the quadtree the int64 cell
    scheme (``core/cells.py``) addresses by Morton id, kept here as
    (level, tx, ty) for the oracle twin.

    Plan: ONE finest-level count aggregation (the only exchange that
    sees point volume), then the per-level ancestor counts roll up
    from the finest relation (occupied-cell-sized groupBys, the
    tile_pyramid discipline) and join back on ancestor ids — all
    relations bounded by occupied tiles, never by points.
    """
    if not (0 < min_level <= max_level <= world_bits):
        raise ValueError("adaptive_tiles: need 0 < min_level <= "
                         "max_level <= world_bits")
    if max_per_tile < 1:
        raise ValueError("adaptive_tiles: max_per_tile must be >= 1")
    shift = world_bits - max_level
    fin = (points
           .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
           .select(F.shiftrightunsigned(F.col(x_col).cast("long"), shift)
                   .alias("tx"),
                   F.shiftrightunsigned(F.col(y_col).cast("long"), shift)
                   .alias("ty"))
           .groupBy("tx", "ty")
           .agg(F.count(F.lit(1)).cast("long").alias("n")))
    cur = fin
    for lvl in range(min_level, max_level):
        d = max_level - lvl
        anc = (fin.groupBy(
                F.shiftrightunsigned(F.col("tx"), d).alias("atx"),
                F.shiftrightunsigned(F.col("ty"), d).alias("aty"))
               .agg(F.sum("n").cast("long").alias(f"_n{lvl}")))
        cur = (cur.join(anc,
                        (F.shiftrightunsigned(F.col("tx"), d)
                         == F.col("atx"))
                        & (F.shiftrightunsigned(F.col("ty"), d)
                           == F.col("aty")))
               .drop("atx", "aty"))
    leaf = None
    for lvl in range(min_level, max_level):
        cond = F.col(f"_n{lvl}") <= max_per_tile
        leaf = F.when(cond, lvl) if leaf is None else leaf.when(cond, lvl)
    leaf = (leaf.otherwise(max_level) if leaf is not None
            else F.lit(max_level))
    assigned = (cur.withColumn("level", leaf.cast("long"))
                .select("level",
                        F.expr(f"shiftrightunsigned(tx, {max_level} "
                               "- CAST(level AS INT))").alias("ltx"),
                        F.expr(f"shiftrightunsigned(ty, {max_level} "
                               "- CAST(level AS INT))").alias("lty"),
                        "n"))
    return (assigned.groupBy("level", F.col("ltx").alias("tx"),
                             F.col("lty").alias("ty"))
            .agg(F.sum("n").cast("long").alias("n")))


def adaptive_tiles_oracle_sql(points_sql: str, *, max_per_tile: int,
                              min_level: int = 5, max_level: int = 9,
                              world_bits: int = 21) -> str:
    """ANSI/DuckDB twin of :func:`adaptive_tiles` — identical shifts,
    identical leaf rule. ``points_sql`` must yield (x, y) BIGINTs."""
    shift = world_bits - max_level
    anc_ctes, joins, sel = [], [], []
    for lvl in range(min_level, max_level):
        d = max_level - lvl
        anc_ctes.append(
            f"a{lvl} AS (SELECT tx >> {d} AS atx, ty >> {d} AS aty,"
            f" CAST(SUM(n) AS BIGINT) AS n{lvl}"
            f" FROM fin GROUP BY 1, 2)")
        joins.append(
            f"JOIN a{lvl} ON fin.tx >> {d} = a{lvl}.atx"
            f" AND fin.ty >> {d} = a{lvl}.aty")
        sel.append(f"n{lvl}")
    case = " ".join(
        f"WHEN n{lvl} <= {max_per_tile} THEN {lvl}"
        for lvl in range(min_level, max_level))
    return f"""
      WITH p AS ({points_sql}),
      fin AS (
        SELECT x >> {shift} AS tx, y >> {shift} AS ty,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM p WHERE x IS NOT NULL AND y IS NOT NULL
        GROUP BY 1, 2
      ),
      {", ".join(anc_ctes)},
      chain AS (
        SELECT fin.tx, fin.ty, fin.n, {", ".join(sel)}
        FROM fin {" ".join(joins)}
      ),
      leafed AS (
        SELECT CASE {case} ELSE {max_level} END AS level, tx, ty, n
        FROM chain
      )
      SELECT CAST(level AS BIGINT) AS level,
             CAST(tx >> ({max_level} - level) AS BIGINT) AS tx,
             CAST(ty >> ({max_level} - level) AS BIGINT) AS ty,
             CAST(SUM(n) AS BIGINT) AS n
      FROM leafed GROUP BY 1, 2, 3
    """
