"""Zonal statistics: per-zone aggregates over spatially contained rows.

The classic raster/vector analytics op (per-polygon count / sum / max of
a point-attached measure). The reference (cdap_geo) stops at the join
itself (``sjoin`` / ``bbox_intersects``, cdap_geo/index_bbox.py:32-76)
and leaves aggregation to the caller; this names the composed operator
and keeps the wide value payload OUT of the spatial shuffle:

1. the spatial join runs on the narrow ``(id, geometry)`` projection
   only (:func:`cdap_geo_spark.operators.sjoin.sjoin_pairs` — cell-cover
   equi-join + exact refinement, broadcast decided there);
2. the measure column joins back by id AFTER the pair relation exists
   (AQE picks broadcast vs shuffle — the payload never rides the
   cell-exploded candidate relation);
3. the aggregate shuffles one row per (zone, matched row) into a
   partial-agg ``groupBy`` — map-side combine collapses it to one row
   per zone per task before the exchange.

At 100 TB the expensive relation is the cell-exploded candidate set;
keeping it to ``(id-pair)`` width is what makes the plan survive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cdap_geo_spark.operators.sjoin import sjoin_pairs


def zonal_stats(rows: DataFrame, zones: DataFrame, *,
                value_col: str,
                left_id: str = "doc_id", right_id: str = "region_id",
                left_geom: str = "geometry", right_geom: str = "geometry",
                level: int = 8,
                predicate: str = "intersects",
                include_empty: bool = True,
                **sjoin_kwargs) -> DataFrame:
    """Per-zone ``(n_rows, sum_value, max_value)`` over the rows whose
    geometry satisfies ``predicate`` against the zone geometry.

    ``include_empty=True`` (default) keeps zones with no matching rows
    (count 0, sum 0, max 0) — the zonal-raster convention; ``False``
    drops them (inner-join semantics).

    Integer-typed outputs so results are bit-comparable across engines:
    ``sum``/``max`` are emitted as ``long`` when the input measure is
    integral (callers with float measures get doubles unchanged).
    """
    pairs = sjoin_pairs(
        rows.select(F.col(left_id), F.col(left_geom)),
        zones.select(F.col(right_id), F.col(right_geom)),
        left_id=left_id, right_id=right_id,
        left_geom=left_geom, right_geom=right_geom,
        level=level, predicate=predicate, **sjoin_kwargs)

    vals = rows.select(F.col(left_id), F.col(value_col).alias("_v"))
    hit = pairs.join(vals, left_id)

    agg = hit.groupBy(right_id).agg(
        F.count(F.col(left_id)).cast("long").alias("n_rows"),
        F.sum("_v").alias("_sum"),
        F.max("_v").alias("_max"))

    if include_empty:
        base = zones.select(F.col(right_id)).distinct()
        agg = base.join(agg, right_id, "left")

    integral = dict(rows.dtypes)[value_col] in (
        "tinyint", "smallint", "int", "bigint")
    sum_t, max_t = ("long", "long") if integral else ("double", "double")
    return agg.select(
        F.col(right_id),
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
        F.coalesce(F.col("_sum"), F.lit(0)).cast(sum_t).alias("sum_value"),
        F.coalesce(F.col("_max"), F.lit(0)).cast(max_t).alias("max_value"))


def areal_interpolate(src: DataFrame, tgt: DataFrame, *,
                      value_col: str,
                      left_id: str = "doc_id",
                      right_id: str = "region_id",
                      left_geom: str = "geometry",
                      right_geom: str = "geometry",
                      level: int = 8, scale: int = 1_000_000,
                      **sjoin_kwargs) -> DataFrame:
    """Areal (area-weighted) interpolation — the population-downscaling
    op: each source geometry's ``value_col`` is apportioned to target
    zones proportionally to clipped area, and targets sum their
    shares: ``est(t) = Σ_s value_s · area(s ∩ t) / area(s)``.

    Exactness: for integer-coordinate geometries both areas are exact
    integers (the fused clip kernel), so each pair's share is ONE
    double divide of two exact BIGINT products, rounded to
    ``scale``-units and SUMMED AS BIGINT — the order-independent float
    discipline of ``char_entropy``/``bm25``. Emitted as ``est_scaled``
    (value × 1e6 units) with ``n_src`` contributing sources.

    Plan (the zonal_stats discipline): the spatial candidate join runs
    on narrow (id, geometry) projections only; the VALUE payload joins
    back by id after the pair relation exists; clip area + share are
    map-side kernel work; the final aggregate shuffles one partial row
    per (task, target). Pairs whose boxes merely touch contribute an
    exact zero and are kept (targets covered only by touches report 0).
    """
    from cdap_geo_spark import udfs
    pairs = sjoin_pairs(
        src.select(F.col(left_id), F.col(left_geom)),
        tgt.select(F.col(right_id), F.col(right_geom)),
        left_id=left_id, right_id=right_id, level=level,
        predicate="bbox", **sjoin_kwargs)
    s = src.select(F.col(left_id), F.col(left_geom).alias("_lg"),
                   F.col(value_col).cast("long").alias("_v"))
    t = tgt.select(F.col(right_id), F.col(right_geom).alias("_rg"))
    j = pairs.join(s, left_id).join(t, right_id)
    ia = udfs.st_intersection_area()(F.col("_lg"), F.col("_rg")) \
        .cast("long")
    sa = udfs.st_area()(F.col("_lg")).cast("long")
    contrib = F.round((F.col("_v") * ia).cast("double")
                      / sa.cast("double") * float(scale)).cast("long")
    return (j.select(F.col(right_id), contrib.alias("_c"))
            .groupBy(right_id)
            .agg(F.sum("_c").alias("est_scaled"),
                 F.count(F.lit(1)).alias("n_src")))


def morans_i(values: DataFrame, edges: DataFrame, *,
             id_col: str = "id", value_col: str = "x",
             src: str = "a", dst: str = "b") -> DataFrame:
    """Global Moran's I spatial autocorrelation of ``value_col`` under
    binary adjacency weights (``edges`` = ordered neighbor pairs, both
    directions for symmetric adjacency):
    ``I = (n / W) · (Σ_ij z_i z_j) / (Σ z_i²)`` with
    ``z_i = x_i − x̄``.

    Integer-centered variant (the cross-engine-exactness trade
    documented): the mean is the exact floor ``S DIV n``, so every
    ``z_i`` — and therefore the numerator and denominator Σs — is an
    exact BIGINT (order-independent; magnitude contract: ``Σ|z_i z_j|``
    within int64, i.e. centered values ≤ ~3e9 at a million adjacency
    pairs). The statistic itself is ONE double expression over those
    exact integers, rounded to micro-units. Returns one row:
    ``(n, w_pairs, num, den, i_micro)``.

    Plan: the value relation aggregates once (1-row broadcast back for
    centering); the numerator is the edge relation equi-joined to the
    centered values on each endpoint — two AQE-sized joins and one
    map-side-partial sum; nothing quadratic, nothing driver-side.
    """
    vals = values.select(F.col(id_col).alias("_id"),
                         F.col(value_col).cast("long").alias("_x"))
    stat = vals.agg(F.count(F.lit(1)).alias("_n"),
                    F.sum("_x").alias("_s"))
    z = (vals.crossJoin(F.broadcast(stat))
         .select("_id", (F.col("_x") - F.expr("_s DIV _n")).alias("_z"),
                 "_n"))
    zi = z.select(F.col("_id").alias(src), F.col("_z").alias("_zi"))
    zj = z.select(F.col("_id").alias(dst), F.col("_z").alias("_zj"))
    e = edges.select(F.col(src), F.col(dst))
    num_w = (e.join(zi, src).join(zj, dst)
             .agg(F.sum(F.col("_zi") * F.col("_zj")).alias("num"),
                  F.count(F.lit(1)).alias("w_pairs")))
    den_n = z.agg(F.sum(F.col("_z") * F.col("_z")).alias("den"),
                  F.max("_n").alias("n"))
    i = F.round((F.col("n") * F.col("num")).cast("double")
                / (F.col("w_pairs") * F.col("den")).cast("double")
                * 1000000.0).cast("long")
    return (den_n.crossJoin(num_w)
            .select(F.col("n").cast("long"),
                    F.col("w_pairs").cast("long"),
                    F.col("num").cast("long"), F.col("den").cast("long"),
                    i.alias("i_micro")))


def gearys_c(values: DataFrame, edges: DataFrame, *,
             id_col: str = "id", value_col: str = "x",
             src: str = "a", dst: str = "b") -> DataFrame:
    """Global Geary's C — the local-contiguity twin of :func:`morans_i`
    (C < 1 positive autocorrelation, C > 1 negative):
    ``C = ((n-1) / (2W)) · (Σ_ij w_ij (x_i - x_j)²) / (Σ z_i²)``.

    Same exactness scheme as Moran's I: the numerator needs no
    centering at all ((x_i − x_j)² is exact BIGINT directly), the
    denominator uses the integer-centered z (mean = S DIV n), and the
    statistic is one double over exact integers, micro-rounded.
    Same magnitude contract; same two-equi-join plan.
    """
    vals = values.select(F.col(id_col).alias("_id"),
                         F.col(value_col).cast("long").alias("_x"))
    stat = vals.agg(F.count(F.lit(1)).alias("_n"),
                    F.sum("_x").alias("_s"))
    z = (vals.crossJoin(F.broadcast(stat))
         .select("_id", "_x",
                 (F.col("_x") - F.expr("_s DIV _n")).alias("_z"),
                 "_n"))
    xi = z.select(F.col("_id").alias(src), F.col("_x").alias("_xi"))
    xj = z.select(F.col("_id").alias(dst), F.col("_x").alias("_xj"))
    e = edges.select(F.col(src), F.col(dst))
    num_w = (e.join(xi, src).join(xj, dst)
             .agg(F.sum((F.col("_xi") - F.col("_xj"))
                        * (F.col("_xi") - F.col("_xj"))).alias("num"),
                  F.count(F.lit(1)).alias("w_pairs")))
    den_n = z.agg(F.sum(F.col("_z") * F.col("_z")).alias("den"),
                  F.max("_n").alias("n"))
    c = F.round(((F.col("n") - 1) * F.col("num")).cast("double")
                / (2 * F.col("w_pairs") * F.col("den")).cast("double")
                * 1000000.0).cast("long")
    return (den_n.crossJoin(num_w)
            .select(F.col("n").cast("long"),
                    F.col("w_pairs").cast("long"),
                    F.col("num").cast("long"), F.col("den").cast("long"),
                    c.alias("c_micro")))


def cell_coverage(boxes: DataFrame, *, cell: int,
                  minx: str = "minx", miny: str = "miny",
                  maxx: str = "maxx", maxy: str = "maxy") -> DataFrame:
    """Exact rasterization of axis-aligned boxes onto a regular grid:
    for every grid cell touched by at least one box, the number of
    covering boxes and the SUMMED overlap area — the coverage /
    density raster (heat-map precursor, zonal denominator), computed
    with ZERO floats: coordinates are integer-valued, the clip of two
    axis-aligned rectangles is ``(min(maxx, (cx+1)·cell) − max(minx,
    cx·cell)) × (…y…)`` in exact BIGINTs, and the per-cell sum is
    order-independent. Returns ``(cx, cy, n_boxes, covered)``.

    Contrast with :func:`cdap_geo_spark.operators.cluster.grid_heatmap`
    (point counts under a smoothing kernel): this is AREA-exact over
    extended geometries, the fractional-coverage analogue of a
    touches-count raster.

    Scale: the cell fan-out is map-side (``F.sequence`` over each
    box's cell range — bounded by box size / cell, a data contract the
    caller owns); the ONLY exchange is the final (cx, cy) keyed
    aggregation with map-side partials. Coordinates must be
    non-negative integers (Spark ``div`` truncates toward zero;
    documented like :func:`grid_cluster`'s contract).
    """
    if cell < 1:
        raise ValueError("cell_coverage: cell must be >= 1")
    b = boxes.select(
        F.col(minx).cast("long").alias("_x0"),
        F.col(miny).cast("long").alias("_y0"),
        F.col(maxx).cast("long").alias("_x1"),
        F.col(maxy).cast("long").alias("_y1"))
    cx = F.explode(F.sequence(F.expr(f"_x0 div {cell}"),
                              F.expr(f"_x1 div {cell}"))).alias("cx")
    e1 = b.select("_x0", "_y0", "_x1", "_y1", cx)
    cy = F.explode(F.sequence(F.expr(f"_y0 div {cell}"),
                              F.expr(f"_y1 div {cell}"))).alias("cy")
    e2 = e1.select("_x0", "_y0", "_x1", "_y1", "cx", cy)
    w = (F.least(F.col("_x1"), (F.col("cx") + 1) * cell)
         - F.greatest(F.col("_x0"), F.col("cx") * cell))
    h = (F.least(F.col("_y1"), (F.col("cy") + 1) * cell)
         - F.greatest(F.col("_y0"), F.col("cy") * cell))
    clipped = (e2.withColumn("_w", w).withColumn("_h", h)
               .where((F.col("_w") > 0) & (F.col("_h") > 0)))
    return (clipped.groupBy("cx", "cy")
            .agg(F.count(F.lit(1)).cast("long").alias("n_boxes"),
                 F.sum(F.col("_w") * F.col("_h")).cast("long")
                  .alias("covered")))


def marching_squares(grid: DataFrame, *, iso: int,
                     x_col: str = "cx", y_col: str = "cy",
                     v_col: str = "v") -> DataFrame:
    """Marching-squares contour-cell extraction over a SPARSE integer
    raster: for every 2×2 corner block that the iso-line at level
    ``iso`` crosses, the block's marching-squares case index and its
    contour-segment count. Returns ``(bx, by, case_id, n_segs)`` —
    (bx, by) is the block's lower-left corner cell; cases 0 and 15
    (no crossing) are omitted. The vector side of the raster↔vector
    bridge: raster_line / cell covers rasterize vectors, this
    vectorizes a raster.

    Case bits (the standard convention): bit0 = lower-left ≥ iso,
    bit1 = lower-right, bit2 = upper-right, bit3 = upper-left; cases
    5 and 10 are the two-segment saddles. Absent cells are value 0
    (sparse-raster semantics) — candidate blocks are generated ONLY
    around present cells, so an all-absent block never appears (it
    would be case 0 anyway when iso ≥ 1).

    Everything is exact integer comparison — no floats at all.

    Plan: each raster cell fans out map-side to the ≤4 blocks it
    corners (an explode of 4 literal offsets); ONE (bx, by) exchange
    aggregates the four corner values by position (map-side partials).
    At 100 TB the exchange is bounded by 4× occupied cells.
    """
    if iso < 1:
        raise ValueError("marching_squares: iso must be >= 1 "
                         "(absent cells are value 0)")
    contrib = (grid.select(
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
        F.col(v_col).cast("long").alias("_v"))
        .select(F.explode(F.array(*[
            F.struct((F.col("_x") - ix).alias("bx"),
                     (F.col("_y") - iy).alias("by"),
                     F.lit(ix).alias("ix"), F.lit(iy).alias("iy"),
                     F.col("_v").alias("v"))
            for ix, iy in ((0, 0), (1, 0), (0, 1), (1, 1))]))
            .alias("c"))
        .select("c.bx", "c.by", "c.ix", "c.iy", "c.v"))
    corner = [F.coalesce(F.max(F.when((F.col("ix") == ix)
                                      & (F.col("iy") == iy),
                                      F.col("v"))), F.lit(0))
              for ix, iy in ((0, 0), (1, 0), (1, 1), (0, 1))]
    blocks = (contrib.groupBy("bx", "by")
              .agg(*[c.alias(f"_c{i}") for i, c in enumerate(corner)]))
    case_id = sum((F.col(f"_c{i}") >= iso).cast("long") * (1 << i)
                  for i in range(4))
    n_segs = (F.when(case_id.isin(0, 15), 0)
              .when(case_id.isin(5, 10), 2).otherwise(1))
    return (blocks.select("bx", "by", case_id.alias("case_id"),
                          n_segs.cast("long").alias("n_segs"))
            .where(~F.col("case_id").isin(0, 15)))


def marching_squares_oracle_sql(grid_sql: str, *, iso: int) -> str:
    """ANSI/DuckDB twin of :func:`marching_squares` — same 4-offset
    block generation (UNION ALL arms), same bit order, pure integer.
    ``grid_sql`` must yield (cx, cy, v) BIGINTs."""
    arms = "\n        UNION ALL\n".join(
        f"        SELECT cx - {ix} AS bx, cy - {iy} AS by,"
        f" {ix} AS ix, {iy} AS iy, v FROM g"
        for ix, iy in ((0, 0), (1, 0), (0, 1), (1, 1)))
    return f"""
      WITH g AS ({grid_sql}),
      contrib AS (
{arms}
      ),
      blocks AS (
        SELECT bx, by,
               COALESCE(MAX(CASE WHEN ix = 0 AND iy = 0 THEN v END), 0)
                 AS c0,
               COALESCE(MAX(CASE WHEN ix = 1 AND iy = 0 THEN v END), 0)
                 AS c1,
               COALESCE(MAX(CASE WHEN ix = 1 AND iy = 1 THEN v END), 0)
                 AS c2,
               COALESCE(MAX(CASE WHEN ix = 0 AND iy = 1 THEN v END), 0)
                 AS c3
        FROM contrib GROUP BY 1, 2
      ),
      cased AS (
        SELECT bx, by,
               (CASE WHEN c0 >= {iso} THEN 1 ELSE 0 END)
               + (CASE WHEN c1 >= {iso} THEN 2 ELSE 0 END)
               + (CASE WHEN c2 >= {iso} THEN 4 ELSE 0 END)
               + (CASE WHEN c3 >= {iso} THEN 8 ELSE 0 END) AS case_id
        FROM blocks
      )
      SELECT CAST(bx AS BIGINT) AS bx, CAST(by AS BIGINT) AS by,
             CAST(case_id AS BIGINT) AS case_id,
             CAST(CASE WHEN case_id IN (0, 15) THEN 0
                       WHEN case_id IN (5, 10) THEN 2
                       ELSE 1 END AS BIGINT) AS n_segs
      FROM cased WHERE case_id NOT IN (0, 15)
    """


def knox_pairs(events: DataFrame, *, delta: int, tau_us: int,
               id_col: str = "event_id", ts_col: str = "ts",
               x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Knox space–time interaction statistic (the classic epidemiology
    / incident-analysis test: do events cluster in space AND time
    together more than marginally?). Returns ONE row ``(n_events,
    n_space_pairs, n_time_pairs, n_both_pairs, knox_u)`` where pairs
    are unordered, space-close means ``d² ≤ delta²`` (exact BIGINT),
    time-close means ``|dt| ≤ tau_us`` micros (exact BIGINT), and
    ``knox_u`` is the micro-rounded ratio
    ``n_both · C(n,2) / (n_space · n_time)`` (NULL when degenerate).

    The counting is NEVER all-pairs:

    - space-close pairs: the left side replicates to its 3×3 neighbor
      cells at cell size ``delta`` (any pair within ``delta`` must sit
      in adjacent cells), the right side stays in its home cell, and
      ``a < b`` keeps each unordered pair exactly once — an equi-join
      whose fanout is events-per-cell², the usual salt-able term;
    - time-close pairs are counted WITHOUT enumerating same-bin pairs:
      with bins of width ``tau_us``, every same-bin pair qualifies
      (max in-bin spread < tau), so same-bin pairs are the
      combinatorial ``Σ n_b·(n_b−1)/2`` over bin COUNTS; only
      adjacent-bin pairs need a join (bin b × b+1, dt ≤ tau re-check;
      bins ≥ 2 apart can never qualify);
    - both-close pairs ride the already-built space relation (it
      carries both timestamps) — no third join.

    Plan: one cell equi-join, one bin equi-join, three 1-row
    aggregates cross-joined at the end. All counts exact BIGINT; the
    single ratio is a fixed-shape IEEE expression, micro-rounded.
    """
    if delta < 1:
        raise ValueError("knox_pairs: delta must be >= 1")
    if tau_us < 1:
        raise ValueError("knox_pairs: tau_us must be >= 1")
    base = (events
            .where(F.col(ts_col).isNotNull() & F.col(x_col).isNotNull()
                   & F.col(y_col).isNotNull())
            .select(F.col(id_col).cast("long").alias("_id"),
                    F.unix_micros(F.col(ts_col).cast("timestamp"))
                    .alias("_t"),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y")))
    nrow = base.agg(F.count(F.lit(1)).cast("long").alias("n_events"))

    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    left = (base.select(F.col("_id").alias("a"), F.col("_t").alias("ta"),
                        F.col("_x").alias("ax"), F.col("_y").alias("ay"),
                        F.expr(f"_x DIV {delta}").alias("_cx"),
                        F.expr(f"_y DIV {delta}").alias("_cy"))
            .withColumn("_ox", off).withColumn("_oy", off)
            .select("a", "ta", "ax", "ay",
                    (F.col("_cx") + F.col("_ox")).alias("cx"),
                    (F.col("_cy") + F.col("_oy")).alias("cy")))
    right = base.select(F.col("_id").alias("b"), F.col("_t").alias("tb"),
                        F.col("_x").alias("bx"), F.col("_y").alias("by"),
                        F.expr(f"_x DIV {delta}").alias("cx"),
                        F.expr(f"_y DIV {delta}").alias("cy"))
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    close = (left.join(right, ["cx", "cy"])
             .where((F.col("a") < F.col("b"))
                    & (d2 <= F.lit(delta * delta))))
    sp = close.agg(
        F.count(F.lit(1)).cast("long").alias("n_space_pairs"),
        F.coalesce(
            F.sum(F.when(F.abs(F.col("ta") - F.col("tb")) <= tau_us, 1)
                  .otherwise(0)), F.lit(0))
         .cast("long").alias("n_both_pairs"))

    binned = (base.select(F.expr(f"_t DIV {tau_us}").alias("bin"))
              .groupBy("bin")
              .agg(F.count(F.lit(1)).cast("long").alias("nb")))
    same = binned.agg(
        F.coalesce(F.sum(F.expr("nb * (nb - 1) DIV 2")), F.lit(0))
        .cast("long").alias("n_same"))
    t1 = base.select(F.col("_t").alias("t1"),
                     F.expr(f"_t DIV {tau_us}").alias("bin"))
    t2 = base.select(F.col("_t").alias("t2"),
                     (F.expr(f"_t DIV {tau_us}") - 1).alias("bin"))
    adj = (t1.join(t2, "bin")
           .where(F.col("t2") - F.col("t1") <= tau_us)
           .agg(F.count(F.lit(1)).cast("long").alias("n_adj")))

    out = (nrow.crossJoin(sp).crossJoin(same).crossJoin(adj)
           .withColumn("n_time_pairs",
                       (F.col("n_same") + F.col("n_adj")).cast("long")))
    npairs = (F.col("n_events") * (F.col("n_events") - 1)).cast("double") \
        / F.lit(2.0)
    knox = (F.col("n_both_pairs").cast("double") * npairs) \
        / (F.col("n_space_pairs").cast("double")
           * F.col("n_time_pairs").cast("double"))
    ok = (F.col("n_space_pairs") > 0) & (F.col("n_time_pairs") > 0)
    return out.select(
        "n_events", "n_space_pairs", "n_time_pairs", "n_both_pairs",
        F.when(ok, F.round(F.lit(1_000_000.0) * knox).cast("long"))
         .alias("knox_u"))


def ripley_k(points: DataFrame, *, radii: list, area: int,
             id_col: str = "id", x_col: str = "x",
             y_col: str = "y") -> DataFrame:
    """Ripley's K point-pattern statistic (border-uncorrected
    estimator — the standard large-window analytics form) at a fixed
    ladder of radii: ``K̂(r) = A · Σ_{i≠j} 1[d_ij ≤ r] / (n·(n−1))``
    plus the variance-stabilized ``L(r) = sqrt(K/π)`` (clustered ⇢
    L(r) > r, dispersed ⇢ L(r) < r). Returns one row per radius:
    ``(r, n_pairs, k_micro, l_micro)`` with ``n_pairs`` the ORDERED
    i≠j count (2× the unordered join output — exact BIGINT).

    Never all-pairs: ONE cell equi-join at cell size ``max(radii)``
    (left replicates to its 3×3 neighbors, right stays home, ``a < b``
    keeps each unordered pair once — any pair within r_max sits in
    adjacent cells), then every radius is a conditional sum over the
    SAME pair relation (one aggregate, no per-radius rescan), stacked
    to rows map-side. d² and all counts are exact BIGINTs; K and L are
    fixed-shape IEEE expressions over exact integers, micro-rounded.

    At 10^12 points the candidate relation is events-per-cell² — the
    usual salt-able cell-join term; the aggregate collapses it to ONE
    row before any further exchange.
    """
    rs = sorted(int(r) for r in radii)
    if not rs or rs[0] < 1:
        raise ValueError("ripley_k: radii must be positive ints")
    if int(area) < 1:
        raise ValueError("ripley_k: area must be >= 1")
    rmax = rs[-1]
    base = (points
            .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
            .select(F.col(id_col).cast("long").alias("_id"),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y")))
    nrow = base.agg(F.count(F.lit(1)).cast("long").alias("_n"))

    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    left = (base.select(F.col("_id").alias("a"), F.col("_x").alias("ax"),
                        F.col("_y").alias("ay"),
                        F.expr(f"_x DIV {rmax}").alias("_cx"),
                        F.expr(f"_y DIV {rmax}").alias("_cy"))
            .withColumn("_ox", off).withColumn("_oy", off)
            .select("a", "ax", "ay",
                    (F.col("_cx") + F.col("_ox")).alias("cx"),
                    (F.col("_cy") + F.col("_oy")).alias("cy")))
    right = base.select(F.col("_id").alias("b"), F.col("_x").alias("bx"),
                        F.col("_y").alias("by"),
                        F.expr(f"_x DIV {rmax}").alias("cx"),
                        F.expr(f"_y DIV {rmax}").alias("cy"))
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    pairs = (left.join(right, ["cx", "cy"])
             .where((F.col("a") < F.col("b"))
                    & (d2 <= F.lit(rmax * rmax)))
             .select(d2.alias("_d2")))
    counts = pairs.agg(*[
        F.coalesce(F.sum(F.when(F.col("_d2") <= r * r, 1).otherwise(0)),
                   F.lit(0)).cast("long").alias(f"_c{i}")
        for i, r in enumerate(rs)])
    stack = ", ".join(f"{r}L, _c{i}" for i, r in enumerate(rs))
    per_r = counts.selectExpr(
        f"stack({len(rs)}, {stack}) as (r, _cnt)")
    out = per_r.crossJoin(F.broadcast(nrow))
    npairs = (F.lit(2) * F.col("_cnt")).cast("long")
    kd = (F.lit(float(area)) * npairs.cast("double")
          / (F.col("_n") * (F.col("_n") - 1)).cast("double"))
    ok = F.col("_n") > 1
    pi = 3.141592653589793
    return out.select(
        F.col("r").cast("long"), npairs.alias("n_pairs"),
        F.when(ok, F.round(kd * 1000000.0).cast("long"))
         .alias("k_micro"),
        F.when(ok, F.round(F.sqrt(kd / F.lit(pi)) * 1000000.0)
               .cast("long")).alias("l_micro"))


def variogram(points: DataFrame, *, h_max: int, n_bins: int,
              id_col: str = "id", x_col: str = "x", y_col: str = "y",
              value_col: str = "z") -> DataFrame:
    """Empirical semivariogram (Matheron estimator) — the
    geostatistics structure function behind kriging/IDW parameter
    fits: ``γ(h) = Σ_{|d_ij|∈bin h} (z_i − z_j)² / (2·N(h))`` over
    unordered pairs binned by EXACT euclidean distance into
    ``n_bins`` equal lags of width ``h_max / n_bins``. Returns one
    row per occupied lag: ``(bin, lo, hi, n_pairs, gamma_micro)``.

    Exactness: the lag index needs ``floor(|d| / width)`` — float
    sqrt alone can misround at bin boundaries, so the integer sqrt is
    computed as ``floor(sqrt(d²))`` plus a two-comparison integer
    fix-up (``(s+1)² ≤ d² → s+1``, ``s² > d² → s−1``), making the bin
    assignment exact integer arithmetic in both engines. The squared
    increment sum and pair count are exact BIGINTs; γ is ONE
    fixed-shape double per bin, micro-rounded.

    Plan: the usual 3×3-neighbor cell equi-join at cell size
    ``h_max`` (left replicates, right home, a<b — never all-pairs),
    then ONE bin-keyed partial aggregate; candidate volume is
    points-per-cell², the salt-able term.
    """
    if h_max < 1 or n_bins < 1 or h_max % n_bins:
        raise ValueError("variogram: need h_max >= n_bins >= 1 with "
                         "n_bins dividing h_max (exact lag widths)")
    width = h_max // n_bins
    base = (points
            .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
                   & F.col(value_col).isNotNull())
            .select(F.col(id_col).cast("long").alias("_id"),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y"),
                    F.col(value_col).cast("long").alias("_z")))
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    left = (base.select(F.col("_id").alias("a"), F.col("_x").alias("ax"),
                        F.col("_y").alias("ay"), F.col("_z").alias("za"),
                        F.expr(f"_x DIV {h_max}").alias("_cx"),
                        F.expr(f"_y DIV {h_max}").alias("_cy"))
            .withColumn("_ox", off).withColumn("_oy", off)
            .select("a", "ax", "ay", "za",
                    (F.col("_cx") + F.col("_ox")).alias("cx"),
                    (F.col("_cy") + F.col("_oy")).alias("cy")))
    right = base.select(F.col("_id").alias("b"), F.col("_x").alias("bx"),
                        F.col("_y").alias("by"), F.col("_z").alias("zb"),
                        F.expr(f"_x DIV {h_max}").alias("cx"),
                        F.expr(f"_y DIV {h_max}").alias("cy"))
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    dz = F.col("za") - F.col("zb")
    pairs = (left.join(right, ["cx", "cy"])
             .where((F.col("a") < F.col("b"))
                    & (d2 < F.lit(h_max * h_max)))
             .select(d2.alias("_d2"), (dz * dz).alias("_dz2")))
    s = F.floor(F.sqrt(F.col("_d2").cast("double"))).cast("long")
    isqrt = s + (F.when((s + 1) * (s + 1) <= F.col("_d2"), 1)
                 .when(s * s > F.col("_d2"), -1).otherwise(0))
    binned = (pairs.select(isqrt.alias("_is"), "_dz2")
              .selectExpr(f"_is DIV {width} AS bin", "_dz2")
              .groupBy("bin")
              .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                   F.sum("_dz2").cast("long").alias("_num")))
    gamma = F.round(F.col("_num").cast("double")
                    / (F.lit(2) * F.col("n_pairs")).cast("double")
                    * 1000000.0).cast("long")
    return binned.select(
        "bin", (F.col("bin") * width).cast("long").alias("lo"),
        ((F.col("bin") + 1) * width).cast("long").alias("hi"),
        "n_pairs", gamma.alias("gamma_micro"))


def colocation(points: DataFrame, *, dist: int,
               id_col: str = "id", x_col: str = "x", y_col: str = "y",
               type_col: str = "t") -> DataFrame:
    """Co-location pattern mining (Shekhar–Huang participation
    index) — which FEATURE TYPES occur near each other more than
    their own abundance explains: for every unordered type pair
    (A, B), ``pr(A→B)`` = fraction of A instances with ≥1 B neighbor
    within ``dist``, and ``PI = min(pr(A→B), pr(B→A))``. Returns one
    row per type pair with at least one cross-type neighbor pair:
    ``(type_a, type_b, n_a, n_b, n_a_near_b, n_b_near_a, pi_micro)``
    with ``type_a < type_b``.

    Exactness: all counts are exact BIGINTs; WHICH ratio is the
    minimum is decided by the exact integer cross-comparison
    ``nab·nb ≤ nba·na`` (no float min of two divisions), so the only
    float is ONE division with a fixed shape, micro-rounded.

    Plan: one 3×3-neighbor cell equi-join at cell size ``dist``
    (a<b unordered, exact d²), the pair relation fans to its two
    directed readings map-side, ONE distinct-participant aggregate
    per (type, type), then two small joins against the per-type
    counts (broadcast — the type dimension is tiny by construction).
    Never all-pairs; candidate volume is points-per-cell².
    """
    if dist < 1:
        raise ValueError("colocation: dist must be >= 1")
    base = (points
            .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
                   & F.col(type_col).isNotNull())
            .select(F.col(id_col).cast("long").alias("_id"),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y"),
                    F.col(type_col).cast("string").alias("_t")))
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    left = (base.select(F.col("_id").alias("a"), F.col("_x").alias("ax"),
                        F.col("_y").alias("ay"), F.col("_t").alias("ta"),
                        F.expr(f"_x DIV {dist}").alias("_cx"),
                        F.expr(f"_y DIV {dist}").alias("_cy"))
            .withColumn("_ox", off).withColumn("_oy", off)
            .select("a", "ax", "ay", "ta",
                    (F.col("_cx") + F.col("_ox")).alias("cx"),
                    (F.col("_cy") + F.col("_oy")).alias("cy")))
    right = base.select(F.col("_id").alias("b"), F.col("_x").alias("bx"),
                        F.col("_y").alias("by"), F.col("_t").alias("tb"),
                        F.expr(f"_x DIV {dist}").alias("cx"),
                        F.expr(f"_y DIV {dist}").alias("cy"))
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    pairs = (left.join(right, ["cx", "cy"])
             .where((F.col("a") < F.col("b"))
                    & (d2 <= F.lit(dist * dist))
                    & (F.col("ta") != F.col("tb")))
             .select("a", "ta", "b", "tb"))
    directed = pairs.select(F.col("a").alias("i"),
                            F.col("ta").alias("ti"),
                            F.col("tb").alias("tj")).unionByName(
        pairs.select(F.col("b").alias("i"), F.col("tb").alias("ti"),
                     F.col("ta").alias("tj")))
    part = (directed.groupBy("ti", "tj")
            .agg(F.countDistinct("i").cast("long").alias("n_with")))
    counts = (base.groupBy(F.col("_t").alias("t"))
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    ab = part.select(F.col("ti").alias("type_a"),
                     F.col("tj").alias("type_b"),
                     F.col("n_with").alias("n_a_near_b"))
    ba = part.select(F.col("tj").alias("type_a"),
                     F.col("ti").alias("type_b"),
                     F.col("n_with").alias("n_b_near_a"))
    out = (ab.join(ba, ["type_a", "type_b"])
           .where(F.col("type_a") < F.col("type_b"))
           .join(F.broadcast(counts.select(
               F.col("t").alias("type_a"), F.col("n").alias("n_a"))),
               "type_a")
           .join(F.broadcast(counts.select(
               F.col("t").alias("type_b"), F.col("n").alias("n_b"))),
               "type_b"))
    a_min = (F.col("n_a_near_b") * F.col("n_b")
             <= F.col("n_b_near_a") * F.col("n_a"))
    pi = F.when(a_min,
                F.round(F.col("n_a_near_b").cast("double")
                        / F.col("n_a").cast("double") * 1000000.0)) \
          .otherwise(
                F.round(F.col("n_b_near_a").cast("double")
                        / F.col("n_b").cast("double") * 1000000.0)) \
          .cast("long")
    return out.select("type_a", "type_b", "n_a", "n_b",
                      "n_a_near_b", "n_b_near_a", pi.alias("pi_micro"))


def quadrat_test(points: DataFrame, *, width: int, height: int,
                 gx: int, gy: int, x_col: str = "x",
                 y_col: str = "y") -> DataFrame:
    """Quadrat test of complete spatial randomness — the classic
    χ²-over-grid-counts companion to :func:`ripley_k`: the domain
    ``[0,width)×[0,height)`` splits into ``gx·gy`` equal quadrats and
    ``χ² = Σ_c (obs_c − n/k)² / (n/k)`` (df = k−1) plus the
    variance/mean ratio (clustered ⇢ VMR > 1). Returns ONE row:
    ``(n, k, occupied, chi2_micro, vmr_micro)``.

    Float-free until the last step: multiply through by k —
    ``χ² = Σ_c (k·obs_c − n)² / (n·k)`` — so the numerator is an
    exact BIGINT sum; EMPTY quadrats never materialize (each
    contributes exactly n², added in closed form as
    ``(k − occupied)·n²``). χ² and VMR = num/(n·k·(k−1)) are each ONE
    fixed-shape division, micro-rounded. Magnitude contract:
    ``(k·max_obs)²·occupied`` within int64.

    Plan: ONE quadrat-keyed partial-agg exchange over the point
    volume, then a 1-row combine. Points outside the domain raise at
    runtime via the bin bounds check (callers pre-filter).
    """
    if width < gx or height < gy or width % gx or height % gy:
        raise ValueError("quadrat_test: gx/gy must evenly divide "
                         "width/height")
    if gx * gy < 2:
        raise ValueError("quadrat_test: need at least 2 quadrats")
    cw, ch = width // gx, height // gy
    k = gx * gy
    base = points.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
        & (F.col(x_col) >= 0) & (F.col(x_col) < width)
        & (F.col(y_col) >= 0) & (F.col(y_col) < height)) \
        .selectExpr(f"CAST({x_col} AS BIGINT) DIV {cw} AS _qx",
                    f"CAST({y_col} AS BIGINT) DIV {ch} AS _qy")
    cells = (base.groupBy("_qx", "_qy")
             .agg(F.count(F.lit(1)).cast("long").alias("_obs")))
    tot = cells.agg(F.sum("_obs").cast("long").alias("n"),
                    F.count(F.lit(1)).cast("long").alias("occupied"))
    joined = cells.crossJoin(F.broadcast(tot))
    dev = (F.lit(k) * F.col("_obs") - F.col("n"))
    num_occ = joined.agg(
        F.sum(dev * dev).cast("long").alias("_num_occ"),
        F.max("n").alias("n"), F.max("occupied").alias("occupied"))
    num = (F.col("_num_occ")
           + (F.lit(k) - F.col("occupied")) * F.col("n") * F.col("n")) \
        .cast("long")
    chi2 = F.round(num.cast("double")
                   / (F.col("n") * F.lit(k)).cast("double")
                   * 1000000.0).cast("long")
    vmr = F.round(num.cast("double")
                  / (F.col("n") * F.lit(k) * F.lit(k - 1))
                  .cast("double") * 1000000.0).cast("long")
    ok = F.col("n") > 0
    return num_occ.select(
        "n", F.lit(k).cast("long").alias("k"), "occupied",
        F.when(ok, chi2).alias("chi2_micro"),
        F.when(ok, vmr).alias("vmr_micro"))


def location_quotient(rows: DataFrame, *, region_col: str = "region",
                      type_col: str = "t") -> DataFrame:
    """Location quotient — the regional-concentration measure from
    economic geography: ``LQ(r,t) = (n_rt / n_r) / (n_t / n)``, > 1
    where type t is over-represented in region r relative to its
    global share. Returns one row per occupied (region, type):
    ``(region, t, n_rt, n_r, n_t, lq_micro)``.

    Float-free core: ``LQ = n_rt·n / (n_r·n_t)`` — all four counts
    exact BIGINTs from partial-agg exchanges, ONE fixed-shape
    division micro-rounded (magnitude contract: ``n_rt·n`` within
    int64). Plan: one (region, type) partial agg over the data
    volume; region totals roll up FROM that relation (occupied-cell
    sized, no second data pass); type totals and the grand total ride
    tiny broadcasts.
    """
    base = rows.where(F.col(region_col).isNotNull()
                      & F.col(type_col).isNotNull()) \
        .select(F.col(region_col).alias("_r"),
                F.col(type_col).cast("string").alias("_t"))
    rt = (base.groupBy("_r", "_t")
          .agg(F.count(F.lit(1)).cast("long").alias("n_rt")))
    r = rt.groupBy("_r").agg(F.sum("n_rt").cast("long").alias("n_r"))
    t = rt.groupBy("_t").agg(F.sum("n_rt").cast("long").alias("n_t"))
    n = rt.agg(F.sum("n_rt").cast("long").alias("n"))
    out = (rt.join(r, "_r").join(F.broadcast(t), "_t")
           .crossJoin(F.broadcast(n)))
    lq = F.round((F.col("n_rt") * F.col("n")).cast("double")
                 / (F.col("n_r") * F.col("n_t")).cast("double")
                 * 1000000.0).cast("long")
    return out.select(F.col("_r").alias(region_col),
                      F.col("_t").alias(type_col),
                      "n_rt", "n_r", "n_t", lq.alias("lq_micro"))


def join_counts(values: DataFrame, edges: DataFrame, *,
                id_col: str = "id", flag_col: str = "is_b",
                src: str = "a", dst: str = "b") -> DataFrame:
    """Cliff–Ord join-count statistics — categorical spatial
    autocorrelation (the binary-map analogue of :func:`morans_i`):
    over unordered adjacency pairs, count BB / BW / WW joins and
    compare each against its nonfree-sampling expectation
    ``E[BB] = W·n_b(n_b−1)/(n(n−1))``, ``E[BW] = 2W·n_b·n_w/(n(n−1))``,
    ``E[WW] = W·n_w(n_w−1)/(n(n−1))``. Returns ONE row: ``(n, n_b,
    w_pairs, bb, bw, ww, bb_ratio_micro, bw_ratio_micro,
    ww_ratio_micro)`` — ratio > 1e6 means more same-color (or
    cross-color) joins than chance.

    ``edges`` carries each unordered pair ONCE (``a < b`` — pass a
    deduplicated pair relation, e.g. a cell-join output). The flag
    must be 0/1. Every count and every expectation NUMERATOR is an
    exact BIGINT (magnitude contract: ``W·n_b²`` within int64); each
    obs/exp ratio is ONE fixed-shape division of exact integers,
    micro-rounded, NULL when the expectation is 0.

    Plan: two endpoint equi-joins attach flags to the pair relation
    (same shape as :func:`morans_i`'s numerator), one 1-row combine.
    """
    vals = values.select(F.col(id_col).alias("_id"),
                         F.col(flag_col).cast("long").alias("_f"))
    stat = vals.agg(F.count(F.lit(1)).cast("long").alias("_n"),
                    F.sum("_f").cast("long").alias("_nb"))
    fa = vals.select(F.col("_id").alias(src), F.col("_f").alias("_fa"))
    fb = vals.select(F.col("_id").alias(dst), F.col("_f").alias("_fb"))
    e = edges.select(F.col(src), F.col(dst))
    obs = (e.join(fa, src).join(fb, dst)
           .agg(F.count(F.lit(1)).cast("long").alias("w_pairs"),
                F.sum(F.col("_fa") * F.col("_fb")).cast("long")
                .alias("bb"),
                F.sum((1 - F.col("_fa")) * (1 - F.col("_fb")))
                .cast("long").alias("ww")))
    out = obs.crossJoin(F.broadcast(stat))
    nw = F.col("_n") - F.col("_nb")
    bw = (F.col("w_pairs") - F.col("bb") - F.col("ww")).cast("long")
    nn1 = F.col("_n") * (F.col("_n") - 1)

    def ratio(o, exp_num):
        return F.when(exp_num > 0,
                      F.round((o * nn1).cast("double")
                              / exp_num.cast("double")
                              * 1000000.0).cast("long"))

    return out.select(
        F.col("_n").alias("n"), F.col("_nb").alias("n_b"),
        "w_pairs", "bb", bw.alias("bw"), "ww",
        ratio(F.col("bb"), F.col("w_pairs") * F.col("_nb")
              * (F.col("_nb") - 1)).alias("bb_ratio_micro"),
        ratio(bw, F.lit(2) * F.col("w_pairs") * F.col("_nb") * nw)
        .alias("bw_ratio_micro"),
        ratio(F.col("ww"), F.col("w_pairs") * nw * (nw - 1))
        .alias("ww_ratio_micro"))


def mann_kendall(values: DataFrame, *, key_cols: list,
                 period_col: str = "p", value_col: str = "c",
                 missing_as_zero: bool = True) -> DataFrame:
    """Mann–Kendall monotone-trend test per key — the statistic
    behind "emerging hotspot" analysis (per-cell trend of a
    space–time cube): ``S = Σ_{i<j} sgn(x_j − x_i)`` over the GLOBAL
    period range [min, max] (shared by all keys — that is what makes
    cells comparable), with the tie-corrected variance
    ``Var·18 = T(T−1)(2T+5) − Σ_g t_g(t_g−1)(2t_g+5)`` and the
    continuity-corrected z. Returns one row per key:
    ``(*key_cols, t_periods, occ, s, var18, trend, z_micro)`` with
    trend = rising/falling/flat by the exact sign of S.

    ``missing_as_zero=True`` (the space–time-cube reading): periods
    absent for a key count as value 0 — handled in CLOSED FORM, never
    materialized: their pairwise contribution per occupied row is
    ``zeros_before − zeros_after`` (observed values are > 0 by
    construction then, enforced), and the zero tie-group enters the
    variance as ``(T−occ)``. With ``False`` only observed periods
    pair up (T per key = occ).

    Everything through S and Var·18 is exact BIGINT (sgn = two
    integer comparisons); z is ONE fixed-shape IEEE expression over
    exact integers, micro-rounded, NULL when Var = 0.

    Plan: the occupied relation is one partial agg; S_occ is a
    per-key self-join bounded by occ ≤ T (the period count — a
    constant, so the fanout is T² per key, not data²); window
    row-numbers give the zero terms; the global range is a 1-row
    broadcast. At 10^12 rows the only data-volume exchange is the
    (key, period) histogram feeding this.
    """
    from pyspark.sql import Window
    keys = list(key_cols)
    if not keys:
        raise ValueError("mann_kendall: key_cols must be non-empty")
    base = values.select(
        *[F.col(k) for k in keys],
        F.col(period_col).cast("long").alias("_p"),
        F.col(value_col).cast("long").alias("_c"))
    if missing_as_zero:
        neg = base.where(F.col("_c") <= 0).limit(1).count()
        if neg:
            raise ValueError(
                "mann_kendall(missing_as_zero=True): observed values "
                "must be > 0 (zeros are the MISSING periods)")
    rng = base.agg(F.min("_p").alias("_pmin"),
                   F.max("_p").alias("_pmax"))
    w = Window.partitionBy(*keys).orderBy("_p")
    occ = (base.crossJoin(F.broadcast(rng))
           .select(*keys, "_p", "_c", "_pmin", "_pmax",
                   F.row_number().over(w).alias("_rn"),
                   F.count(F.lit(1)).over(
                       Window.partitionBy(*keys)).alias("_nocc")))
    t_global = (F.col("_pmax") - F.col("_pmin") + 1)
    if missing_as_zero:
        zeros_before = (F.col("_p") - F.col("_pmin")
                        - (F.col("_rn") - 1))
        zeros_after = (F.col("_pmax") - F.col("_p")
                       - (F.col("_nocc") - F.col("_rn")))
        szero_col = (zeros_before - zeros_after)
    else:
        szero_col = F.lit(0)
    per_key = (occ.groupBy(*keys)
               .agg(F.max("_nocc").cast("long").alias("occ"),
                    F.max(t_global if missing_as_zero
                          else F.col("_nocc")).cast("long")
                    .alias("t_periods"),
                    F.sum(szero_col).cast("long").alias("_szero")))
    a = occ.select(*keys, F.col("_p").alias("_pa"),
                   F.col("_c").alias("_ca"))
    b = occ.select(*keys, F.col("_p").alias("_pb"),
                   F.col("_c").alias("_cb"))
    socc = (a.join(b, keys)
            .where(F.col("_pa") < F.col("_pb"))
            .groupBy(*keys)
            .agg(F.sum(F.when(F.col("_cb") > F.col("_ca"), 1)
                       .when(F.col("_cb") < F.col("_ca"), -1)
                       .otherwise(0)).cast("long").alias("_socc")))
    ties = (occ.groupBy(*keys, "_c")
            .agg(F.count(F.lit(1)).cast("long").alias("_t"))
            .groupBy(*keys)
            .agg(F.sum(F.col("_t") * (F.col("_t") - 1)
                       * (2 * F.col("_t") + 5)).cast("long")
                 .alias("_tie")))
    out = (per_key
           .join(socc, keys, "left")
           .join(ties, keys, "left")
           .na.fill({"_socc": 0, "_tie": 0}))
    s = (F.col("_socc") + F.col("_szero")).cast("long")
    tt = F.col("t_periods")
    z0 = tt - F.col("occ")
    zero_tie = F.when(F.lit(missing_as_zero),
                      z0 * (z0 - 1) * (2 * z0 + 5)).otherwise(0)
    var18 = (tt * (tt - 1) * (2 * tt + 5) - F.col("_tie") - zero_tie) \
        .cast("long")
    trend = (F.when(s > 0, "rising").when(s < 0, "falling")
             .otherwise("flat"))
    zexpr = F.when(var18 <= 0, F.lit(None).cast("long")) \
        .when(s > 0, F.round((s - 1).cast("double")
                             / F.sqrt(var18.cast("double") / 18.0)
                             * 1000000.0).cast("long")) \
        .when(s < 0, F.round((s + 1).cast("double")
                             / F.sqrt(var18.cast("double") / 18.0)
                             * 1000000.0).cast("long")) \
        .otherwise(F.lit(0).cast("long"))
    return out.select(*keys, "t_periods", "occ", s.alias("s"),
                      var18.alias("var18"), trend.alias("trend"),
                      zexpr.alias("z_micro"))


def huff_model(demand: DataFrame, stores: DataFrame, *,
               dx_col: str = "x", dy_col: str = "y",
               demand_keys: list = ("x", "y"),
               store_id: str = "store_id", sx_col: str = "sx",
               sy_col: str = "sy",
               attract_col: str = "a") -> DataFrame:
    """Huff probabilistic catchment model — which store captures each
    demand point: ``P(i→s) = (A_s/(d²_is+1)) / Σ_s' (A_s'/(d²+1))``
    over the GLOBAL store choice set (the textbook form; +1 keeps
    co-located pairs defined, same convention as
    :func:`cdap_geo_spark.operators.timeseries.gravity_model`).
    Returns one row per demand point: ``(*demand_keys, sum_w_micro,
    best_store, best_w_micro, best_p_micro)`` — the captured store,
    its weight and its capture probability.

    Exactness: per-(point, store) weight ``w = A·1e6/(d²+1)`` is ONE
    fixed-shape division micro-rounded to BIGINT; the denominator is
    an order-independent BIGINT sum of those; the winner is the exact
    integer argmax (ties → smallest store id); the probability is one
    final fixed-shape division. Magnitude contract: ``A·1e6`` within
    double's exact-integer range, ``Σw`` within int64.

    Plan: the store dimension BROADCASTS (choice sets are
    dimension-sized by definition — thousands, not billions); demand
    stays partitioned, every (point, store) weight is map-side, and
    ONE per-point aggregate (max_by + sum partials) produces the
    result. No shuffle grows with stores × demand.
    """
    keys = list(demand_keys)
    d = demand.select(*[F.col(k) for k in keys],
                      F.col(dx_col).cast("long").alias("_px"),
                      F.col(dy_col).cast("long").alias("_py"))
    s = stores.select(F.col(store_id).cast("long").alias("_sid"),
                      F.col(sx_col).cast("long").alias("_sx"),
                      F.col(sy_col).cast("long").alias("_sy"),
                      F.col(attract_col).cast("long").alias("_a"))
    j = d.crossJoin(F.broadcast(s))
    d2p1 = ((F.col("_px") - F.col("_sx")) * (F.col("_px") - F.col("_sx"))
            + (F.col("_py") - F.col("_sy"))
            * (F.col("_py") - F.col("_sy")) + 1)
    w = F.round(F.col("_a").cast("double") * 1000000.0
                / d2p1.cast("double")).cast("long")
    j = j.select(*keys, F.col("_sid"), w.alias("_w"))
    out = (j.groupBy(*keys)
           .agg(F.sum("_w").cast("long").alias("sum_w_micro"),
                F.max(F.struct(F.col("_w"),
                               (-F.col("_sid")).alias("_nid")))
                .alias("_best")))
    best_w = F.col("_best._w")
    best_id = (-F.col("_best._nid")).cast("long")
    p = F.when(F.col("sum_w_micro") > 0,
               F.round(best_w.cast("double") * 1000000.0
                       / F.col("sum_w_micro").cast("double"))
               .cast("long"))
    return out.select(*keys, "sum_w_micro",
                      best_id.alias("best_store"),
                      best_w.cast("long").alias("best_w_micro"),
                      p.alias("best_p_micro"))


def catchment_2sfca(demand: DataFrame, supply: DataFrame, *,
                    d0: int, demand_keys: list = ("x", "y"),
                    dx_col: str = "x", dy_col: str = "y",
                    pop_col: str = "pop",
                    supply_id: str = "site_id", sx_col: str = "sx",
                    sy_col: str = "sy",
                    cap_col: str = "cap") -> DataFrame:
    """Two-step floating catchment area (2SFCA) accessibility — the
    health-geography standard (Luo & Wang 2003): step 1 gives every
    supply site a supply-to-demand ratio over the population within
    ``d0`` (``R_s = cap_s / Σ_i pop_i``), step 2 sums those ratios
    over the sites within ``d0`` of each demand point
    (``A_i = Σ_s R_s``). Returns one row per demand point WITH ≥1
    reachable site: ``(*demand_keys, n_sites, access_micro)``.

    Exactness: catchment populations are exact BIGINT sums;
    ``R_s`` is ONE fixed-shape division micro-rounded to BIGINT
    (sites whose catchment population is 0 get R = NULL and drop —
    no demand, no ratio, the documented convention); ``A_i`` is an
    order-independent BIGINT sum of those micro-ratios.

    Plan: BOTH steps are the same 3×3-neighbor cell equi-join at
    cell size ``d0`` (demand replicates to neighbor cells, supply
    stays home — built once, reused for both directions), each
    followed by ONE keyed partial agg. Candidate volume is the usual
    per-cell product, salt-able; nothing quadratic in sites ×
    demand.
    """
    if d0 < 1:
        raise ValueError("catchment_2sfca: d0 must be >= 1")
    keys = list(demand_keys)
    dem = demand.select(*[F.col(k) for k in keys],
                        F.col(dx_col).cast("long").alias("_px"),
                        F.col(dy_col).cast("long").alias("_py"),
                        F.col(pop_col).cast("long").alias("_pop"))
    sup = supply.select(F.col(supply_id).cast("long").alias("_sid"),
                        F.col(sx_col).cast("long").alias("_sx"),
                        F.col(sy_col).cast("long").alias("_sy"),
                        F.col(cap_col).cast("long").alias("_cap"))
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    dget = (dem.select(*keys, "_px", "_py", "_pop",
                       F.expr(f"_px DIV {d0}").alias("_cx"),
                       F.expr(f"_py DIV {d0}").alias("_cy"))
            .withColumn("_ox", off).withColumn("_oy", off)
            .select(*keys, "_px", "_py", "_pop",
                    (F.col("_cx") + F.col("_ox")).alias("cx"),
                    (F.col("_cy") + F.col("_oy")).alias("cy")))
    sget = sup.select("_sid", "_sx", "_sy", "_cap",
                      F.expr(f"_sx DIV {d0}").alias("cx"),
                      F.expr(f"_sy DIV {d0}").alias("cy"))
    d2 = ((F.col("_px") - F.col("_sx")) * (F.col("_px") - F.col("_sx"))
          + (F.col("_py") - F.col("_sy"))
          * (F.col("_py") - F.col("_sy")))
    reach = (dget.join(sget, ["cx", "cy"])
             .where(d2 <= F.lit(d0 * d0))
             .select(*keys, "_pop", "_sid", "_cap"))
    r_s = (reach.groupBy("_sid")
           .agg(F.max("_cap").alias("_c"),
                F.sum("_pop").cast("long").alias("_p"))
           .where(F.col("_p") > 0)
           .select("_sid",
                   F.round(F.col("_c").cast("double") * 1000000.0
                           / F.col("_p").cast("double")).cast("long")
                   .alias("_r")))
    return (reach.select(*keys, "_sid").join(r_s, "_sid")
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).cast("long").alias("n_sites"),
                 F.sum("_r").cast("long").alias("access_micro")))


def slope_aspect(grid: DataFrame, *, cell: int,
                 x_col: str = "cx", y_col: str = "cy",
                 z_col: str = "z") -> DataFrame:
    """Horn's-method focal slope + aspect octant over a sparse
    integer raster (absent cell = 0, the :func:`marching_squares`
    convention) — the terrain-analysis primitive applied to any
    cell-gridded surface (density, cost, elevation): per occupied
    cell, the 3×3 finite-difference gradients
    ``gx·8 = Σ east column·(1,2,1) − Σ west column·(1,2,1)`` and
    ``gy·8 = Σ north row·(1,2,1) − Σ south row·(1,2,1)``
    (x increasing east, y increasing north), the slope magnitude
    ``sqrt(gx8² + gy8²)/(8·cell)`` and the downhill-independent
    ASPECT OCTANT. Returns ``(cx, cy, z, gx8, gy8, slope_micro,
    octant)``.

    Exactness: gradients are exact BIGINTs (integer weighted sums);
    slope is ONE fixed-shape expression (sqrt is IEEE
    correctly-rounded) micro-rounded; the octant is a pure integer
    rule — E/W when ``2|gy8| ≤ |gx8|``, N/S when ``2|gx8| ≤ |gy8|``,
    the diagonal otherwise, 'flat' at zero gradient (boundaries at
    atan(1/2) ≈ 26.6°, the documented integer-exact approximation of
    the 22.5° split; no trig crosses an engine boundary).

    Plan: each occupied cell fans its value to its 8 neighbors'
    target positions with the Horn coefficient decided by the
    RELATIVE position (coeff_x = rx·(2−|ry|), coeff_y = ry·(2−|rx|))
    — a literal 8-fanout, ONE target-keyed partial-agg exchange
    bounded by 8× occupied cells, then an inner join back to the
    occupied relation (only occupied cells are emitted — the sparse
    contract).
    """
    if cell < 1:
        raise ValueError("slope_aspect: cell must be >= 1")
    base = grid.select(F.col(x_col).cast("long").alias("_x"),
                       F.col(y_col).cast("long").alias("_y"),
                       F.col(z_col).cast("long").alias("_z"))
    dirs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)]
    fan = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in dirs])).alias("_d")
    contrib = base.select("_x", "_y", "_z", fan).select(
        (F.col("_x") + F.col("_d.dx")).alias("tx"),
        (F.col("_y") + F.col("_d.dy")).alias("ty"),
        # relative position of the SOURCE w.r.t. the target
        (-F.col("_d.dx")).alias("_rx"), (-F.col("_d.dy")).alias("_ry"),
        "_z") \
        .select("tx", "ty",
                (F.col("_z") * F.col("_rx")
                 * (2 - F.abs(F.col("_ry")))).alias("_cx8"),
                (F.col("_z") * F.col("_ry")
                 * (2 - F.abs(F.col("_rx")))).alias("_cy8"))
    grads = (contrib.groupBy("tx", "ty")
             .agg(F.sum("_cx8").cast("long").alias("gx8"),
                  F.sum("_cy8").cast("long").alias("gy8")))
    out = base.join(grads, (base["_x"] == grads["tx"])
                    & (base["_y"] == grads["ty"]), "left")
    gx = F.coalesce(F.col("gx8"), F.lit(0))
    gy = F.coalesce(F.col("gy8"), F.lit(0))
    mag2 = gx * gx + gy * gy
    slope = F.round(F.sqrt(mag2.cast("double"))
                    / F.lit(float(8 * cell)) * 1000000.0).cast("long")
    ax, ay = F.abs(gx), F.abs(gy)
    ew = F.when(gx > 0, "E").otherwise("W")
    ns = F.when(gy > 0, "N").otherwise("S")
    octant = (F.when((gx == 0) & (gy == 0), "flat")
              .when(2 * ay <= ax, ew)
              .when(2 * ax <= ay, ns)
              .otherwise(F.concat(ns, ew)))
    return out.select(F.col("_x").alias(x_col),
                      F.col("_y").alias(y_col),
                      F.col("_z").alias(z_col),
                      gx.cast("long").alias("gx8"),
                      gy.cast("long").alias("gy8"),
                      slope.alias("slope_micro"),
                      octant.alias("octant"))


def clark_evans(points: DataFrame, *, area: int, d_max: int,
                id_col: str = "id", x_col: str = "x",
                y_col: str = "y") -> DataFrame:
    """Clark–Evans nearest-neighbor index — the third classic CSR
    test next to :func:`ripley_k` / :func:`quadrat_test`:
    ``R = mean(d_NN) / (0.5/sqrt(n/A))`` (R < 1 clustered, R > 1
    dispersed). Returns ONE row: ``(n, n_censored, sum_nn_micro,
    r_micro)``.

    The nearest neighbor comes from the 3×3 cell join at ``d_max``
    (ONE exchange; points whose nearest neighbor is farther than
    ``d_max`` are CENSORED — counted, excluded from the mean, the
    documented trade every bounded-radius NN scan makes; size d_max
    ≫ the expected NN distance 0.5/sqrt(λ) so censoring is rare).

    Exactness: per-point min d² is an exact integer argmin; each
    point's NN distance is the exact integer sqrt (float floor + the
    :func:`variogram` two-comparison fix-up) micro-scaled and summed
    as BIGINT; R is ONE fixed-shape expression over (sum, counts,
    area), micro-rounded.
    """
    if d_max < 1 or area < 1:
        raise ValueError("clark_evans: need d_max >= 1 and area >= 1")
    base = (points
            .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
            .select(F.col(id_col).cast("long").alias("_id"),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y")))
    nrow = base.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    left = (base.select(F.col("_id").alias("a"), F.col("_x").alias("ax"),
                        F.col("_y").alias("ay"),
                        F.expr(f"_x DIV {d_max}").alias("_cx"),
                        F.expr(f"_y DIV {d_max}").alias("_cy"))
            .withColumn("_ox", off).withColumn("_oy", off)
            .select("a", "ax", "ay",
                    (F.col("_cx") + F.col("_ox")).alias("cx"),
                    (F.col("_cy") + F.col("_oy")).alias("cy")))
    right = base.select(F.col("_id").alias("b"), F.col("_x").alias("bx"),
                        F.col("_y").alias("by"),
                        F.expr(f"_x DIV {d_max}").alias("cx"),
                        F.expr(f"_y DIV {d_max}").alias("cy"))
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    nn = (left.join(right, ["cx", "cy"])
          .where((F.col("a") != F.col("b"))
                 & (d2 <= F.lit(d_max * d_max)))
          .groupBy("a")
          .agg(F.min(d2).alias("_d2")))
    s = F.floor(F.sqrt(F.col("_d2").cast("double"))).cast("long")
    isqrt = s + (F.when((s + 1) * (s + 1) <= F.col("_d2"), 1)
                 .when(s * s > F.col("_d2"), -1).otherwise(0))
    agg = nn.agg(F.count(F.lit(1)).cast("long").alias("_nnn"),
                 F.sum(isqrt * 1000000).cast("long")
                 .alias("sum_nn_micro"))
    out = agg.crossJoin(F.broadcast(nrow))
    # R = (sum/k) / (0.5 / sqrt(n/A)) = sum * 2 * sqrt(n/A) / k
    r = F.when((F.col("_nnn") > 0) & (F.col("_n") > 0),
               F.round(F.col("sum_nn_micro").cast("double") / 1000000.0
                       * 2.0
                       * F.sqrt(F.col("_n").cast("double")
                                / F.lit(float(area)))
                       / F.col("_nnn").cast("double")
                       * 1000000.0).cast("long"))
    return out.select(
        F.col("_n").alias("n"),
        (F.col("_n") - F.col("_nnn")).cast("long").alias("n_censored"),
        "sum_nn_micro", r.alias("r_micro"))


def centrography(points: DataFrame, *, group_col: str = "g",
                 x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Centrographic statistics per group — the ESDA summary every
    point layer gets first (mean center, standard distance, and the
    standard-deviational-ellipse ORIENTATION): returns one row per
    group: ``(group, n, mcx_micro, mcy_micro, sdist_micro,
    ell_num, ell_den)`` where the ellipse angle satisfies
    ``tan(2θ) = ell_num / ell_den`` with
    ``ell_num = 2·(n·Σxy − Σx·Σy)`` and
    ``ell_den = n·Σx² − (Σx)² − (n·Σy² − (Σy)²)``.

    Exactness: the five moment sums are exact BIGINTs from ONE
    map-side-combining pass (the :func:`grouped_corr` shape); the
    mean center and the standard distance
    ``sqrt((n·Σx²−(Σx)² + n·Σy²−(Σy)²)) / n`` are single fixed-shape
    expressions micro-rounded; the ellipse orientation is emitted as
    the EXACT INTEGER PAIR (num, den) rather than an atan2 — no trig
    crosses the engine boundary, and callers get the full-precision
    angle via atan2(num, den)/2 locally. Magnitude contract:
    ``n·Σx²`` within int64.
    """
    base = points.where(F.col(x_col).isNotNull()
                        & F.col(y_col).isNotNull()) \
        .select(F.col(group_col).alias("_g"),
                F.col(x_col).cast("long").alias("_x"),
                F.col(y_col).cast("long").alias("_y"))
    agg = base.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_x").cast("long").alias("_sx"),
        F.sum("_y").cast("long").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("_sxy"))
    n = F.col("n")
    vx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    cxy = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    mcx = F.round(F.col("_sx").cast("double") / n.cast("double")
                  * 1000000.0).cast("long")
    mcy = F.round(F.col("_sy").cast("double") / n.cast("double")
                  * 1000000.0).cast("long")
    sdist = F.round(F.sqrt((vx + vy).cast("double"))
                    / n.cast("double") * 1000000.0).cast("long")
    return agg.select(F.col("_g").alias(group_col), "n",
                      mcx.alias("mcx_micro"), mcy.alias("mcy_micro"),
                      sdist.alias("sdist_micro"),
                      (2 * cxy).cast("long").alias("ell_num"),
                      (vx - vy).cast("long").alias("ell_den"))


def segregation(rows: DataFrame, *, region_col: str = "region",
                flag_col: str = "is_b") -> DataFrame:
    """Two-group residential-segregation indices — the classic pair
    from urban geography: the dissimilarity index
    ``D = ½ Σ_r |b_r/B − w_r/W|`` (share of either group that would
    need to move for an even distribution) and Theil's
    information-theory index
    ``H = 1 − Σ_r t_r·E_r / (T·E)`` (entropy-based evenness).
    Returns ONE row: ``(n_regions, b_total, w_total, d_micro,
    h_micro)``.

    Exactness: D is FULLY exact in cross-multiplied form —
    ``Σ_r |b_r·W − w_r·B| / (2·B·W)``, an exact BIGINT numerator and
    ONE division (magnitude contract ``b_r·W`` within int64). H uses
    the :func:`theil_decomposition` discipline: each region's
    ``t_r·E_r`` term is ONE fixed-shape expression over exact
    integers (``t·ln t − b·ln b − w·ln w`` with the 0·ln 0 = 0 cases
    as CASE branches), micro-rounded, summed as BIGINT; the global
    ``T·E`` uses the same shape; the final H is one expression.
    NULL H when the global entropy is 0 (a one-group universe).

    Plan: ONE (region) partial agg over the data volume, then a
    1-row combine — nothing else.
    """
    base = rows.where(F.col(region_col).isNotNull()) \
        .select(F.col(region_col).alias("_r"),
                F.col(flag_col).cast("long").alias("_f"))
    reg = base.groupBy("_r").agg(
        F.sum("_f").cast("long").alias("_b"),
        F.sum(1 - F.col("_f")).cast("long").alias("_w"))
    tot = reg.agg(F.sum("_b").cast("long").alias("_bt"),
                  F.sum("_w").cast("long").alias("_wt"))
    j = reg.crossJoin(F.broadcast(tot))

    def xlnx(c):
        return F.when(c > 0, c.cast("double")
                      * F.log(c.cast("double"))).otherwise(F.lit(0.0))

    t_r = F.col("_b") + F.col("_w")
    ent_term = F.round(
        (xlnx(t_r) - xlnx(F.col("_b")) - xlnx(F.col("_w")))
        * 1000000.0).cast("long")
    dnum = F.abs(F.col("_b") * F.col("_wt")
                 - F.col("_w") * F.col("_bt"))
    agg = j.agg(F.count(F.lit(1)).cast("long").alias("n_regions"),
                F.sum(dnum).cast("long").alias("_dnum"),
                F.sum(ent_term).cast("long").alias("_esum"),
                F.max("_bt").alias("b_total"),
                F.max("_wt").alias("w_total"))
    bt, wt = F.col("b_total"), F.col("w_total")
    tt = bt + wt
    d = F.when((bt > 0) & (wt > 0),
               F.round(F.col("_dnum").cast("double") * 1000000.0
                       / (F.lit(2) * bt * wt).cast("double"))
               .cast("long"))
    te_global = (xlnx(tt) - xlnx(bt) - xlnx(wt))
    h = F.when((bt > 0) & (wt > 0),
               F.round((F.lit(1.0)
                        - F.col("_esum").cast("double") / 1000000.0
                        / te_global) * 1000000.0).cast("long"))
    return agg.select("n_regions", "b_total", "w_total",
                      d.alias("d_micro"), h.alias("h_micro"))


def scan_statistic(cube: DataFrame, *, top_k: int = 10,
                   x_col: str = "qx", y_col: str = "qy",
                   t_col: str = "p", n_col: str = "c") -> DataFrame:
    """Space–time scan statistic (Kulldorff-style, independence
    baseline) — the outbreak/anomaly-zone detector: over every
    candidate zone ``(cell, [t1, t2])`` of a space–time cube, the
    Poisson log-likelihood ratio of elevated count
    ``LLR = c·ln(c/E) + (C−c)·ln((C−c)/(C−E))`` (0 unless ``c > E``)
    with the expectation from the independence of the margins:
    ``E = C · (cell_total/C) · (window_total/C)``. Returns the
    ``top_k`` zones by ``(llr_micro DESC, qx, qy, t1, t2)`` — a total
    deterministic order: ``(qx, qy, t1, t2, c, e_micro, llr_micro)``.

    Exactness: every count (zone, cell margin, window margin, grand
    total) is an exact BIGINT — zone counts are DIFFERENCES OF
    CUMULATIVES, window margins differences of global cumulatives;
    ``E`` and ``LLR`` are single fixed-shape IEEE expressions over
    those integers, micro-rounded (the theil/char_entropy ln
    discipline); the ranking key is the micro-rounded integer.

    Plan: the candidate space is occupied-support-sized, NEVER
    data-sized — a per-cell cumulative window over the (cell, t)
    histogram, a per-cell t1 ≤ t2 pair join bounded by T² per cell,
    a broadcast of the T-row global-time cumulative, and ONE
    TakeOrdered(k). At 10^12 events the only data-volume exchange is
    the histogram. Candidate zones are ANCHORED AT OCCUPIED PERIODS
    of their cell (the support restriction that keeps the scan
    support-sized — a window starting at an empty week has the same
    zone count as starting at the next occupied one, only a wider
    margin).
    """
    if top_k < 1:
        raise ValueError("scan_statistic: top_k must be >= 1")
    from pyspark.sql import Window
    base = cube.select(F.col(x_col).cast("long").alias("_x"),
                       F.col(y_col).cast("long").alias("_y"),
                       F.col(t_col).cast("long").alias("_t"),
                       F.col(n_col).cast("long").alias("_n"))
    if base.where(F.col("_n") < 0).limit(1).count():
        raise ValueError("scan_statistic: counts must be >= 0")
    w_cell = (Window.partitionBy("_x", "_y").orderBy("_t")
              .rowsBetween(Window.unboundedPreceding, 0))
    cum = base.select("_x", "_y", "_t",
                      F.sum("_n").over(w_cell).cast("long")
                      .alias("_cum"))
    cell_tot = base.groupBy("_x", "_y").agg(
        F.sum("_n").cast("long").alias("_cell_tot"))
    tcum = (base.groupBy("_t").agg(F.sum("_n").alias("_tn"))
            .select("_t", F.sum("_tn").over(
                Window.orderBy("_t").rowsBetween(
                    Window.unboundedPreceding, 0)).cast("long")
                .alias("_gcum")))
    grand = base.agg(F.sum("_n").cast("long").alias("_c_all"))
    a = cum.select("_x", "_y", F.col("_t").alias("t1"),
                   F.col("_cum").alias("_cum1"))
    b = cum.select("_x", "_y", F.col("_t").alias("t2"),
                   F.col("_cum").alias("_cum2"))
    pairs = (a.join(b, ["_x", "_y"])
             .where(F.col("t1") <= F.col("t2"))
             .select("_x", "_y", "t1", "t2", "_cum1", "_cum2"))
    # zone count = cum2 - (cum1 - n(t1)): both cumulatives INCLUDE
    # their own period, so t1's own count rides back in
    n1 = base.select("_x", "_y", F.col("_t").alias("t1"),
                     F.col("_n").alias("_n1"))
    pairs = pairs.join(n1, ["_x", "_y", "t1"]) \
        .select("_x", "_y", "t1", "t2",
                (F.col("_cum2") - F.col("_cum1") + F.col("_n1"))
                .cast("long").alias("c"))
    g1 = tcum.select(F.col("_t").alias("t1"),
                     F.col("_gcum").alias("_g1"))
    g2 = tcum.select(F.col("_t").alias("t2"),
                     F.col("_gcum").alias("_g2"))
    gn1 = (base.groupBy("_t").agg(F.sum("_n").cast("long").alias("_gn"))
           .select(F.col("_t").alias("t1"), F.col("_gn").alias("_gn1")))
    j = (pairs.join(F.broadcast(g1), "t1")
         .join(F.broadcast(g2), "t2")
         .join(F.broadcast(gn1), "t1")
         .join(cell_tot, ["_x", "_y"])
         .crossJoin(F.broadcast(grand)))
    win_tot = (F.col("_g2") - F.col("_g1") + F.col("_gn1"))
    c = F.col("c").cast("double")
    call = F.col("_c_all").cast("double")
    e = (F.col("_cell_tot").cast("double") / call
         * win_tot.cast("double") / call * call)
    e_micro = F.round(e * 1000000.0).cast("long")
    llr = F.when(
        (c > e) & (F.col("c") < F.col("_c_all")),
        F.round((c * F.log(c / e)
                 + (call - c) * F.log((call - c) / (call - e)))
                * 1000000.0).cast("long")).otherwise(F.lit(0))
    scored = j.select(F.col("_x").alias(x_col),
                      F.col("_y").alias(y_col), "t1", "t2",
                      F.col("c"), e_micro.alias("e_micro"),
                      llr.cast("long").alias("llr_micro"))
    return (scored.orderBy(F.desc("llr_micro"), x_col, y_col,
                           "t1", "t2")
            .limit(top_k))


def spatial_markov(cube: DataFrame, *, own_cuts: tuple = None,
                   nbr_cuts: tuple = None, x_col: str = "qx",
                   y_col: str = "qy", t_col: str = "p",
                   n_col: str = "c") -> DataFrame:
    """Spatial Markov transition census (Rey 2001) — does a cell's
    NEXT state depend on its neighborhood's current state? Over a
    space–time cube, each (cell, period) gets an own class (count vs
    the two FIXED ``own_cuts``) and a context class (8-neighbor count
    sum vs ``nbr_cuts``; absent neighbors = 0, the sparse-raster
    convention); transitions pair strictly CONSECUTIVE periods
    (p → p+1). Returns the census
    ``(nbr_class, own_class, next_class, n_transitions)``.

    Classes are NEVER rank-based (ntile is tie-order-dependent and
    not engine-portable). Two exact modes:

    - explicit ``(lo, hi)`` integer cuts: 0 if v < lo, 1 if v < hi,
      else 2;
    - ``None`` (default, scale-adaptive): MEAN-RELATIVE classes by
      integer cross-multiplication — own: ``c·N`` vs ``T`` and
      ``2T`` (below mean / below 2× mean / above) with ``N`` the
      occupied cell-period count and ``T`` the total; context: the
      8-neighbor sum vs ``8T/N`` and ``16T/N``, again
      cross-multiplied (``nbr·N < 8·T``) — no division, no float.

    Plan: neighbor context from ONE literal 8-fanout + (cell, p)
    keyed partial agg (bounded by 8× occupied); the p→p+1 pairing is
    one LEAD window per cell; the census is a ≤27-row aggregate (the
    mean-relative mode adds one 1-row broadcast).
    """
    for cuts in (own_cuts, nbr_cuts):
        if cuts is not None and not cuts[0] < cuts[1]:
            raise ValueError("spatial_markov: cuts must be (lo, hi) "
                             "with lo < hi")
    from pyspark.sql import Window
    base = cube.select(F.col(x_col).cast("long").alias("_x"),
                       F.col(y_col).cast("long").alias("_y"),
                       F.col(t_col).cast("long").alias("_t"),
                       F.col(n_col).cast("long").alias("_n"))
    dirs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)]
    fan = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx, dy in dirs])).alias("_d")
    nbr = (base.select("_x", "_y", "_t", "_n", fan)
           .select((F.col("_x") + F.col("_d.dx")).alias("_x"),
                   (F.col("_y") + F.col("_d.dy")).alias("_y"),
                   "_t", "_n")
           .groupBy("_x", "_y", "_t")
           .agg(F.sum("_n").cast("long").alias("_nbr")))
    j = (base.join(nbr, ["_x", "_y", "_t"], "left")
         .na.fill({"_nbr": 0}))
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("_nn"),
                   F.sum("_n").cast("long").alias("_tt"))
    j = j.crossJoin(F.broadcast(tot))

    def cls_fixed(col, lo, hi):
        return (F.when(col < lo, 0).when(col < hi, 1).otherwise(2)
                .cast("long"))

    def cls_mean(col, mult):
        # col vs mult*T/N and 2*mult*T/N, cross-multiplied
        lhs = col * F.col("_nn")
        return (F.when(lhs < mult * F.col("_tt"), 0)
                .when(lhs < 2 * mult * F.col("_tt"), 1)
                .otherwise(2).cast("long"))

    own = (cls_fixed(F.col("_n"), *own_cuts) if own_cuts
           else cls_mean(F.col("_n"), 1))
    nbrc = (cls_fixed(F.col("_nbr"), *nbr_cuts) if nbr_cuts
            else cls_mean(F.col("_nbr"), 8))
    j = j.select("_x", "_y", "_t", own.alias("own_class"),
                 nbrc.alias("nbr_class"))
    w = Window.partitionBy("_x", "_y").orderBy("_t")
    tr = j.select("nbr_class", "own_class",
                  F.lead("own_class").over(w).alias("next_class"),
                  (F.lead("_t").over(w) - F.col("_t")).alias("_dt")) \
        .where(F.col("_dt") == 1)
    return (tr.groupBy("nbr_class", "own_class", "next_class")
            .agg(F.count(F.lit(1)).cast("long")
                 .alias("n_transitions")))


def general_g(values: DataFrame, edges: DataFrame, *,
              id_col: str = "id", value_col: str = "x",
              src: str = "a", dst: str = "b") -> DataFrame:
    """Getis–Ord General G — the GLOBAL concentration statistic that
    completes the family (:func:`morans_i` measures similarity,
    G measures whether HIGH values cluster):
    ``G = Σ_{ij∈W} x_i·x_j / Σ_{i≠j} x_i·x_j`` under binary
    adjacency (``edges`` = ordered neighbor pairs, both directions).
    Values must be ≥ 0 (the statistic's own requirement — enforced).
    Returns ONE row: ``(n, w_pairs, num, den, g_micro)``.

    FULLY exact core: the numerator is an edge-relation sum of
    integer products (the :func:`morans_i` join shape), and the
    denominator needs NO pair enumeration —
    ``Σ_{i≠j} x_i x_j = (Σx)² − Σx²`` — two exact BIGINT aggregates.
    ONE fixed-shape division micro-rounded. Magnitude contract:
    ``(Σx)²`` within int64.
    """
    vals = values.select(F.col(id_col).alias("_id"),
                         F.col(value_col).cast("long").alias("_x"))
    if vals.where(F.col("_x") < 0).limit(1).count():
        raise ValueError("general_g: values must be >= 0")
    stat = vals.agg(F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("_x").alias("_s"),
                    F.sum(F.col("_x") * F.col("_x")).alias("_ss"))
    xa = vals.select(F.col("_id").alias(src), F.col("_x").alias("_xa"))
    xb = vals.select(F.col("_id").alias(dst), F.col("_x").alias("_xb"))
    num_w = (edges.select(F.col(src), F.col(dst))
             .join(xa, src).join(xb, dst)
             .agg(F.sum(F.col("_xa") * F.col("_xb")).cast("long")
                  .alias("num"),
                  F.count(F.lit(1)).cast("long").alias("w_pairs")))
    out = num_w.crossJoin(F.broadcast(stat))
    den = (F.col("_s") * F.col("_s") - F.col("_ss")).cast("long")
    g = F.when(den > 0,
               F.round(F.col("num").cast("double") * 1000000.0
                       / den.cast("double")).cast("long"))
    return out.select("n", "w_pairs", "num", den.alias("den"),
                      g.alias("g_micro"))


def flow_field(moves: DataFrame, *, cell: int,
               x_col: str = "x", y_col: str = "y",
               dx_col: str = "dx", dy_col: str = "dy") -> DataFrame:
    """Aggregate movement vector field — the od-matrix's continuous
    cousin: displacement vectors bin by their ORIGIN cell and each
    cell reports its net flow: ``(cx, cy, n, sum_dx, sum_dy,
    octant, speed_micro)`` with the direction octant decided by the
    :func:`slope_aspect` integer rule on the NET vector (flat when
    it cancels to zero) and ``speed = |net| / n`` (mean net
    displacement magnitude) as one fixed-shape sqrt expression.

    All sums exact BIGINT; ONE cell-keyed partial-agg exchange over
    the movement volume — nothing else. Magnitude contract:
    ``(Σdx)²`` within int64.
    """
    if cell < 1:
        raise ValueError("flow_field: cell must be >= 1")
    base = moves.where(F.col(x_col).isNotNull()
                       & F.col(y_col).isNotNull()) \
        .selectExpr(f"CAST({x_col} AS BIGINT) DIV {cell} AS cx",
                    f"CAST({y_col} AS BIGINT) DIV {cell} AS cy",
                    f"CAST({dx_col} AS BIGINT) AS _dx",
                    f"CAST({dy_col} AS BIGINT) AS _dy")
    agg = base.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_dx").cast("long").alias("sum_dx"),
        F.sum("_dy").cast("long").alias("sum_dy"))
    gx, gy = F.col("sum_dx"), F.col("sum_dy")
    ax, ay = F.abs(gx), F.abs(gy)
    ew = F.when(gx > 0, "E").otherwise("W")
    ns = F.when(gy > 0, "N").otherwise("S")
    octant = (F.when((gx == 0) & (gy == 0), "flat")
              .when(2 * ay <= ax, ew)
              .when(2 * ax <= ay, ns)
              .otherwise(F.concat(ns, ew)))
    speed = F.round(F.sqrt((gx * gx + gy * gy).cast("double"))
                    / F.col("n").cast("double") * 1000000.0) \
        .cast("long")
    return agg.select("cx", "cy", "n", "sum_dx", "sum_dy",
                      octant.alias("octant"),
                      speed.alias("speed_micro"))


def cross_k(a: DataFrame, b: DataFrame, *, radii: list, width: int,
            height: int, shifts: list = ((0, 0),),
            ax_col: str = "x", ay_col: str = "y",
            bx_col: str = "x", by_col: str = "y") -> DataFrame:
    """Bivariate (cross-type) Ripley K with a DETERMINISTIC
    torus-shift null envelope — do A points attract B points beyond
    chance? ``K_AB(r) = W·H · #{(a,b): d ≤ r} / (n_A·n_B)`` computed
    for the observed layout (``shift 0``) AND for each fixed torus
    translation of B (the classic Monte-Carlo null made
    reproducible: no randomness, a fixed offset grid — observed
    K above every shifted K at a radius is the attraction
    signal). Returns one row per (shift, radius): ``(shift_id,
    r, n_pairs, k_micro)``.

    Exactness: shifted coordinates are exact modular integers;
    pair counts are exact BIGINTs from ONE 3×3-neighbor cell join at
    r_max over ALL shifts at once (shift_id rides the join key — one
    exchange, not one per shift); every radius is a conditional sum
    over the same pair relation; K is one fixed-shape division
    micro-rounded.
    """
    rs = sorted(int(r) for r in radii)
    if not rs or rs[0] < 1:
        raise ValueError("cross_k: radii must be positive ints")
    if width < 1 or height < 1:
        raise ValueError("cross_k: need positive domain")
    rmax = rs[-1]
    aa = (a.where(F.col(ax_col).isNotNull() & F.col(ay_col).isNotNull())
          .select(F.col(ax_col).cast("long").alias("_x"),
                  F.col(ay_col).cast("long").alias("_y")))
    bb = (b.where(F.col(bx_col).isNotNull() & F.col(by_col).isNotNull())
          .select(F.col(bx_col).cast("long").alias("_x"),
                  F.col(by_col).cast("long").alias("_y")))
    na = aa.agg(F.count(F.lit(1)).cast("long").alias("_na"))
    nb = bb.agg(F.count(F.lit(1)).cast("long").alias("_nb"))
    shift_rows = F.explode(F.array(*[
        F.struct(F.lit(i).alias("sid"), F.lit(int(sx)).alias("sx"),
                 F.lit(int(sy)).alias("sy"))
        for i, (sx, sy) in enumerate(shifts)])).alias("_s")
    bshift = bb.select("_x", "_y", shift_rows).select(
        F.col("_s.sid").alias("sid"),
        ((F.col("_x") + F.col("_s.sx")) % width).alias("_bx"),
        ((F.col("_y") + F.col("_s.sy")) % height).alias("_by"))
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    left = (aa.select("_x", "_y",
                      F.expr(f"_x DIV {rmax}").alias("_cx"),
                      F.expr(f"_y DIV {rmax}").alias("_cy"))
            .withColumn("_ox", off).withColumn("_oy", off)
            .select(F.col("_x").alias("ax"), F.col("_y").alias("ay"),
                    (F.col("_cx") + F.col("_ox")).alias("cx"),
                    (F.col("_cy") + F.col("_oy")).alias("cy")))
    right = bshift.select("sid", F.col("_bx").alias("bx"),
                          F.col("_by").alias("by"),
                          F.expr(f"_bx DIV {rmax}").alias("cx"),
                          F.expr(f"_by DIV {rmax}").alias("cy"))
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    pairs = (left.join(right, ["cx", "cy"])
             .where(d2 <= F.lit(rmax * rmax))
             .select("sid", d2.alias("_d2")))
    counts = pairs.groupBy("sid").agg(*[
        F.coalesce(F.sum(F.when(F.col("_d2") <= r * r, 1).otherwise(0)),
                   F.lit(0)).cast("long").alias(f"_c{i}")
        for i, r in enumerate(rs)])
    stack = ", ".join(f"{r}L, _c{i}" for i, r in enumerate(rs))
    per_r = counts.selectExpr("sid",
                              f"stack({len(rs)}, {stack}) as (r, _cnt)")
    out = per_r.crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb))
    kd = (F.lit(float(width * height)) * F.col("_cnt").cast("double")
          / (F.col("_na") * F.col("_nb")).cast("double"))
    ok = (F.col("_na") > 0) & (F.col("_nb") > 0)
    return out.select(F.col("sid").cast("long").alias("shift_id"),
                      F.col("r").cast("long"),
                      F.col("_cnt").alias("n_pairs"),
                      F.when(ok, F.round(kd * 1000000.0).cast("long"))
                      .alias("k_micro"))


def mutual_information(rows: DataFrame, *, a_col: str = "a",
                       b_col: str = "b") -> DataFrame:
    """Mutual information between two categorical columns — the
    place/behaviour association measure (how much does WHERE tell
    you about WHAT): ``I(A;B) = Σ_ab (c_ab/N)·ln(c_ab·N /
    (c_a·c_b))`` in nats, plus both marginal entropies and the
    normalized ``I/min(H_A, H_B)``. Returns ONE row: ``(n,
    n_cells_ab, mi_micro, h_a_micro, h_b_micro, nmi_micro)``.

    The char_entropy discipline THREE times over: each joint cell's
    term — and each marginal's c·ln c term — is ONE fixed-shape IEEE
    expression over exact BIGINTs, micro-rounded, summed as BIGINT
    (order-independent); the entropies and the final normalization
    are single expressions over those integer sums. WHICH marginal
    entropy is smaller is decided on the micro-rounded integers
    (deterministic). NULL nmi when min entropy is 0.

    Plan: one (a,b) partial agg over the data volume (bounded by the
    joint support), marginals roll up FROM it, one 1-row combine.
    """
    base = rows.where(F.col(a_col).isNotNull()
                      & F.col(b_col).isNotNull()) \
        .select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
    ab = base.groupBy("_a", "_b").agg(
        F.count(F.lit(1)).cast("long").alias("_c"))
    am = ab.groupBy("_a").agg(F.sum("_c").cast("long").alias("_ca"))
    bm = ab.groupBy("_b").agg(F.sum("_c").cast("long").alias("_cb"))
    tot = ab.agg(F.sum("_c").cast("long").alias("_n"))
    j = (ab.join(F.broadcast(am), "_a").join(F.broadcast(bm), "_b")
         .crossJoin(F.broadcast(tot)))
    mi_term = F.round(F.col("_c").cast("double")
                      / F.col("_n").cast("double")
                      * F.log((F.col("_c") * F.col("_n"))
                              .cast("double")
                              / (F.col("_ca") * F.col("_cb"))
                              .cast("double"))
                      * 1000000.0).cast("long")
    mi_agg = j.agg(F.count(F.lit(1)).cast("long").alias("n_cells_ab"),
                   F.sum(mi_term).cast("long").alias("mi_micro"),
                   F.max("_n").alias("_n"))

    def h(marg, cnt_col):
        t = F.round(F.col(cnt_col).cast("double")
                    * F.log(F.col(cnt_col).cast("double"))
                    * 1000000.0).cast("long")
        return marg.crossJoin(F.broadcast(tot)).agg(
            F.round((F.log(F.max("_n").cast("double"))
                     - F.sum(t).cast("double") / 1000000.0
                     / F.max("_n").cast("double"))
                    * 1000000.0).cast("long").alias("h"))

    ha = h(am, "_ca").select(F.col("h").alias("h_a_micro"))
    hb = h(bm, "_cb").select(F.col("h").alias("h_b_micro"))
    out = mi_agg.crossJoin(F.broadcast(ha)).crossJoin(F.broadcast(hb))
    hmin = F.least(F.col("h_a_micro"), F.col("h_b_micro"))
    nmi = F.when(hmin > 0,
                 F.round(F.col("mi_micro").cast("double")
                         / hmin.cast("double") * 1000000.0)
                 .cast("long"))
    return out.select(F.col("_n").alias("n"), "n_cells_ab",
                      "mi_micro", "h_a_micro", "h_b_micro",
                      nmi.alias("nmi_micro"))


def cell_churn(presence: DataFrame, *, x_col: str = "qx",
               y_col: str = "qy", t_col: str = "p",
               id_col: str = "u") -> DataFrame:
    """Period-over-period audience decomposition per cell — the
    growth-accounting primitive (every "DAU is down" investigation):
    for each (cell, period → period+1) pair, how many DISTINCT ids
    stayed, arrived, left: ``(qx, qy, p, n_stay, n_gain, n_loss)``
    (p is the EARLIER period; strictly consecutive periods only —
    gaps never pair, matching :func:`spatial_markov`).

    Exact set arithmetic without materializing set differences:
    presence collapses to the distinct (cell, period, id) relation
    (ONE distinct exchange over the data volume); ``n_stay`` is an
    equi-join count on (cell, id, p+1), and gain/loss follow by
    subtraction from the per-(cell, period) distinct counts — two
    occupied-support-sized aggregates, no anti-joins.

    Rows appear for period pairs where EITHER side is occupied
    (full outer on the per-period counts), so a cell going dark
    still reports its loss row; pairs are clamped to the GLOBAL
    observed range (p in [min, max−1]) so the corpus edges don't
    fabricate phantom gain/loss periods.
    """
    base = presence.select(F.col(x_col).cast("long").alias("_x"),
                           F.col(y_col).cast("long").alias("_y"),
                           F.col(t_col).cast("long").alias("_t"),
                           F.col(id_col).alias("_u")).distinct()
    per = base.groupBy("_x", "_y", "_t").agg(
        F.count(F.lit(1)).cast("long").alias("_n"))
    nxt = base.select("_x", "_y", (F.col("_t") - 1).alias("_t"), "_u")
    stay = (base.join(nxt, ["_x", "_y", "_t", "_u"])
            .groupBy("_x", "_y", "_t")
            .agg(F.count(F.lit(1)).cast("long").alias("n_stay")))
    cur = per.select("_x", "_y", "_t", F.col("_n").alias("_ncur"))
    fut = per.select("_x", "_y", (F.col("_t") - 1).alias("_t"),
                     F.col("_n").alias("_nnext"))
    rng = base.agg(F.min("_t").alias("_pmin"),
                   F.max("_t").alias("_pmax"))
    out = (cur.join(fut, ["_x", "_y", "_t"], "full")
           .join(stay, ["_x", "_y", "_t"], "left")
           .na.fill({"_ncur": 0, "_nnext": 0, "n_stay": 0})
           .crossJoin(F.broadcast(rng))
           .where((F.col("_t") >= F.col("_pmin"))
                  & (F.col("_t") < F.col("_pmax"))))
    return out.select(
        F.col("_x").alias(x_col), F.col("_y").alias(y_col),
        F.col("_t").alias(t_col), "n_stay",
        (F.col("_nnext") - F.col("n_stay")).cast("long")
        .alias("n_gain"),
        (F.col("_ncur") - F.col("n_stay")).cast("long")
        .alias("n_loss"))


def idw_loocv(points: DataFrame, *, radius: int,
              id_col: str = "id", x_col: str = "x", y_col: str = "y",
              value_col: str = "z") -> DataFrame:
    """Leave-one-out cross-validation of inverse-distance-weighted
    interpolation — the model-quality report for the IDW family: each
    point is predicted from its OTHER neighbors within ``radius``
    (weights ``1/(d²+1)``, the engine's deterrence convention) and
    compared to its actual value. Returns ONE row: ``(n, n_scored,
    n_censored, mae_micro, bias_micro)`` — points with no neighbor in
    radius are censored (counted, unscored — the bounded-radius trade
    every local interpolator makes).

    Exactness: per-pair weights are micro-rounded BIGINTs
    (``1e6·z/(d²+1)`` numerator and ``1e6/(d²+1)`` denominator
    contributions summed exactly per point); each point's prediction
    is ONE division of two exact sums; its error and the final
    MAE/bias re-quantize per point to micro-units and sum as BIGINT
    (order-independent — the char_entropy discipline for floats that
    must cross an aggregation).

    Plan: ONE 3×3-neighbor cell join at ``radius`` + a per-point
    partial agg + a 1-row combine.
    """
    if radius < 1:
        raise ValueError("idw_loocv: radius must be >= 1")
    base = (points
            .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
                   & F.col(value_col).isNotNull())
            .select(F.col(id_col).cast("long").alias("_id"),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y"),
                    F.col(value_col).cast("long").alias("_z")))
    nrow = base.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    left = (base.select(F.col("_id").alias("a"), F.col("_x").alias("ax"),
                        F.col("_y").alias("ay"), F.col("_z").alias("za"),
                        F.expr(f"_x DIV {radius}").alias("_cx"),
                        F.expr(f"_y DIV {radius}").alias("_cy"))
            .withColumn("_ox", off).withColumn("_oy", off)
            .select("a", "ax", "ay", "za",
                    (F.col("_cx") + F.col("_ox")).alias("cx"),
                    (F.col("_cy") + F.col("_oy")).alias("cy")))
    right = base.select(F.col("_id").alias("b"), F.col("_x").alias("bx"),
                        F.col("_y").alias("by"), F.col("_z").alias("zb"),
                        F.expr(f"_x DIV {radius}").alias("cx"),
                        F.expr(f"_y DIV {radius}").alias("cy"))
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    wnum = F.round(F.col("zb").cast("double") * 1000000.0
                   / (d2 + 1).cast("double")).cast("long")
    wden = F.round(F.lit(1000000.0)
                   / (d2 + 1).cast("double")).cast("long")
    per = (left.join(right, ["cx", "cy"])
           .where((F.col("a") != F.col("b"))
                  & (d2 <= F.lit(radius * radius)))
           .groupBy("a")
           .agg(F.max("za").alias("_za"),
                F.sum(wnum).cast("long").alias("_sn"),
                F.sum(wden).cast("long").alias("_sd")))
    err = (F.col("_sn").cast("double") / F.col("_sd").cast("double")
           - F.col("_za").cast("double"))
    err_m = F.round(err * 1000000.0).cast("long")
    abs_m = F.round(F.abs(err) * 1000000.0).cast("long")
    scored = per.where(F.col("_sd") > 0)
    agg = scored.agg(F.count(F.lit(1)).cast("long").alias("n_scored"),
                     F.sum(abs_m).cast("long").alias("_sae"),
                     F.sum(err_m).cast("long").alias("_sbe"))
    out = agg.crossJoin(F.broadcast(nrow))
    mae = F.when(F.col("n_scored") > 0,
                 F.round(F.col("_sae").cast("double")
                         / F.col("n_scored").cast("double"))
                 .cast("long"))
    bias = F.when(F.col("n_scored") > 0,
                  F.round(F.col("_sbe").cast("double")
                          / F.col("n_scored").cast("double"))
                  .cast("long"))
    return out.select(
        F.col("_n").alias("n"), "n_scored",
        (F.col("_n") - F.col("n_scored")).cast("long")
        .alias("n_censored"),
        mae.alias("mae_micro"), bias.alias("bias_micro"))


def variogram_directional(points: DataFrame, *, h_max: int,
                          n_bins: int, id_col: str = "id",
                          x_col: str = "x", y_col: str = "y",
                          value_col: str = "z") -> DataFrame:
    """Directional semivariogram — :func:`variogram` split by the
    pair's ORIENTATION (anisotropy detection: does the spatial
    structure stretch along an axis?). Each unordered pair bins by
    its exact lag (the :func:`variogram` integer-sqrt recipe) AND
    its direction sector — E-W / N-S / NE-SW / NW-SE, assigned by
    the :func:`slope_aspect` integer octant rule on |Δ| with the
    unordered pair's sign folded (Δ and −Δ are the same direction).
    Returns one row per occupied (sector, bin): ``(sector, bin, lo,
    hi, n_pairs, gamma_micro)``.

    Exactness identical to :func:`variogram` (exact integer lag,
    exact BIGINT Σdz², one fixed-shape γ); the sector is a pure
    integer comparison — no atan2 crosses engines. Plan: the same
    ONE cell join + ONE (sector, bin)-keyed partial agg.
    """
    if h_max < 1 or n_bins < 1 or h_max % n_bins:
        raise ValueError("variogram_directional: need h_max >= "
                         "n_bins >= 1 with n_bins dividing h_max")
    width = h_max // n_bins
    base = (points
            .where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
                   & F.col(value_col).isNotNull())
            .select(F.col(id_col).cast("long").alias("_id"),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y"),
                    F.col(value_col).cast("long").alias("_z")))
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    left = (base.select(F.col("_id").alias("a"), F.col("_x").alias("ax"),
                        F.col("_y").alias("ay"), F.col("_z").alias("za"),
                        F.expr(f"_x DIV {h_max}").alias("_cx"),
                        F.expr(f"_y DIV {h_max}").alias("_cy"))
            .withColumn("_ox", off).withColumn("_oy", off)
            .select("a", "ax", "ay", "za",
                    (F.col("_cx") + F.col("_ox")).alias("cx"),
                    (F.col("_cy") + F.col("_oy")).alias("cy")))
    right = base.select(F.col("_id").alias("b"), F.col("_x").alias("bx"),
                        F.col("_y").alias("by"), F.col("_z").alias("zb"),
                        F.expr(f"_x DIV {h_max}").alias("cx"),
                        F.expr(f"_y DIV {h_max}").alias("cy"))
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    d2 = dx * dx + dy * dy
    dz = F.col("za") - F.col("zb")
    # fold the unordered pair's sign: flip so dy >= 0 (dy == 0 -> dx
    # >= 0); then the octant rule on (dx, dy) names the direction
    flip = (F.col("ay") - F.col("by") < 0) \
        | ((F.col("ay") == F.col("by"))
           & (F.col("ax") - F.col("bx") < 0))
    fdx = F.when(flip, -dx).otherwise(dx)
    fdy = F.when(flip, -dy).otherwise(dy)
    ax_, ay_ = F.abs(fdx), F.abs(fdy)
    sector = (F.when(2 * ay_ <= ax_, "EW")
              .when(2 * ax_ <= ay_, "NS")
              .when(fdx > 0, "NE")
              .otherwise("NW"))
    pairs = (left.join(right, ["cx", "cy"])
             .where((F.col("a") < F.col("b"))
                    & (d2 < F.lit(h_max * h_max)))
             .select(sector.alias("sector"), d2.alias("_d2"),
                     (dz * dz).alias("_dz2")))
    s = F.floor(F.sqrt(F.col("_d2").cast("double"))).cast("long")
    isqrt = s + (F.when((s + 1) * (s + 1) <= F.col("_d2"), 1)
                 .when(s * s > F.col("_d2"), -1).otherwise(0))
    binned = (pairs.select("sector", isqrt.alias("_is"), "_dz2")
              .selectExpr("sector", f"_is DIV {width} AS bin", "_dz2")
              .groupBy("sector", "bin")
              .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                   F.sum("_dz2").cast("long").alias("_num")))
    gamma = F.round(F.col("_num").cast("double")
                    / (F.lit(2) * F.col("n_pairs")).cast("double")
                    * 1000000.0).cast("long")
    return binned.select(
        "sector", "bin",
        (F.col("bin") * width).cast("long").alias("lo"),
        ((F.col("bin") + 1) * width).cast("long").alias("hi"),
        "n_pairs", gamma.alias("gamma_micro"))


def bivariate_morans(values: DataFrame, edges: DataFrame, *,
                     id_col: str = "id", x_col: str = "x",
                     y_col: str = "y2", src: str = "a",
                     dst: str = "b") -> DataFrame:
    """Bivariate Moran's I — spatial SPILLOVER between two variables
    (does my x co-move with my neighbors' y?):
    ``I_xy = (n/W) · Σ_{ij∈W} zx_i·zy_j / sqrt(Σzx² · Σzy²)`` under
    binary adjacency, with both variables integer-centered by the
    exact floor mean (the :func:`morans_i` recipe). Returns ONE row:
    ``(n, w_pairs, num, den_x, den_y, i_micro)``.

    Everything through the numerator and both denominators is an
    exact BIGINT (order-independent sums; magnitude contract as
    morans_i); the statistic is ONE fixed-shape expression —
    ``(n·num) / (W · sqrt(dx) · sqrt(dy))`` — micro-rounded, NULL on
    degenerate variance. Plan: the morans_i edge-join shape with the
    second variable riding the same centered relation.
    """
    vals = values.select(F.col(id_col).alias("_id"),
                         F.col(x_col).cast("long").alias("_x"),
                         F.col(y_col).cast("long").alias("_y"))
    stat = vals.agg(F.count(F.lit(1)).alias("_n"),
                    F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy"))
    z = (vals.crossJoin(F.broadcast(stat))
         .select("_id",
                 (F.col("_x") - F.expr("_sx DIV _n")).alias("_zx"),
                 (F.col("_y") - F.expr("_sy DIV _n")).alias("_zy")))
    den = z.agg(F.sum(F.col("_zx") * F.col("_zx")).cast("long")
                .alias("den_x"),
                F.sum(F.col("_zy") * F.col("_zy")).cast("long")
                .alias("den_y"),
                F.count(F.lit(1)).cast("long").alias("n"))
    za = z.select(F.col("_id").alias(src), F.col("_zx").alias("_zxa"))
    zb = z.select(F.col("_id").alias(dst), F.col("_zy").alias("_zyb"))
    num_w = (edges.select(F.col(src), F.col(dst))
             .join(za, src).join(zb, dst)
             .agg(F.sum(F.col("_zxa") * F.col("_zyb")).cast("long")
                  .alias("num"),
                  F.count(F.lit(1)).cast("long").alias("w_pairs")))
    out = num_w.crossJoin(F.broadcast(den))
    i = F.when((F.col("den_x") > 0) & (F.col("den_y") > 0)
               & (F.col("w_pairs") > 0),
               F.round((F.col("n") * F.col("num")).cast("double")
                       / (F.col("w_pairs").cast("double")
                          * F.sqrt(F.col("den_x").cast("double"))
                          * F.sqrt(F.col("den_y").cast("double")))
                       * 1000000.0).cast("long"))
    return out.select("n", "w_pairs", "num", "den_x", "den_y",
                      i.alias("i_micro"))


def local_morans(values: DataFrame, edges: DataFrame, *,
                 id_col: str = "id", value_col: str = "x",
                 src: str = "a", dst: str = "b") -> DataFrame:
    """LISA — local Moran's I per unit (Anselin 1995), the hotspot/
    coldspot decomposition of :func:`morans_i`:
    ``I_i = n · z_i · Σ_j w_ij z_j / Σ z²`` under binary adjacency,
    plus the Moran-scatter quadrant label (HH hotspot, LL coldspot,
    HL/LH outliers). Returns one row per unit WITH neighbors:
    ``(id, n_neighbors, zlag, num, quad, i_micro)``.

    Same integer-centering recipe as the global statistic: z_i uses
    the exact floor mean, so the spatial lag ``Σ_j z_j``, the
    numerator ``z_i · lag`` and the denominator Σz² are exact BIGINTs
    (order-independent sums); the quadrant label is two integer sign
    tests; only the final scale ``n·num/den`` is ONE double
    expression, micro-rounded.

    Plan: edges join the centered values on the neighbor endpoint,
    aggregate per unit (map-side partials), then join z_i back and
    broadcast the 1-row denominator — nothing quadratic.
    """
    vals = values.select(F.col(id_col).alias("_id"),
                         F.col(value_col).cast("long").alias("_x"))
    stat = vals.agg(F.count(F.lit(1)).alias("_n"),
                    F.sum("_x").alias("_s"))
    z = (vals.crossJoin(F.broadcast(stat))
         .select("_id", (F.col("_x") - F.expr("_s DIV _n")).alias("_z")))
    den_n = z.agg(F.sum(F.col("_z") * F.col("_z")).alias("_den"),
                  F.count(F.lit(1)).alias("_nn"))
    zj = z.select(F.col("_id").alias(dst), F.col("_z").alias("_zj"))
    lag = (edges.select(F.col(src), F.col(dst)).join(zj, dst)
           .groupBy(src)
           .agg(F.count(F.lit(1)).cast("long").alias("n_neighbors"),
                F.sum("_zj").cast("long").alias("zlag")))
    zi = z.select(F.col("_id").alias(src), F.col("_z").alias("_zi"))
    out = (lag.join(zi, src).crossJoin(F.broadcast(den_n)))
    num = (F.col("_zi") * F.col("zlag")).cast("long")
    quad = (F.when((F.col("_zi") >= 0) & (F.col("zlag") >= 0), "HH")
            .when((F.col("_zi") < 0) & (F.col("zlag") < 0), "LL")
            .when((F.col("_zi") >= 0), "HL").otherwise("LH"))
    i_u = F.when(F.col("_den") > 0,
                 F.round((F.col("_nn") * num).cast("double")
                         / F.col("_den").cast("double")
                         * 1000000.0).cast("long"))
    return out.select(F.col(src).alias(id_col), "n_neighbors", "zlag",
                      num.alias("num"), quad.alias("quad"),
                      i_u.alias("i_micro"))


def getis_ord_gstar(values: DataFrame, edges: DataFrame, *,
                    id_col: str = "id", value_col: str = "x",
                    src: str = "a", dst: str = "b") -> DataFrame:
    """Getis–Ord Gi* hotspot z-score per unit (Getis & Ord 1992/1995),
    the third member of the spatial-autocorrelation family next to
    :func:`morans_i` / :func:`local_morans`: under binary adjacency
    (``edges`` = ordered neighbor pairs; the *-variant self-neighbor is
    added here, callers pass proper neighbors only),

    ``Gi* = (lag_i − x̄·k_i) / (S·sqrt((n·k_i − k_i²)/(n−1)))``

    with ``lag_i = Σ_{j∈N*(i)} x_j``, ``k_i = |N*(i)|``,
    ``S = sqrt(Σx²/n − x̄²)``.

    Exact-integer recipe (multiply through by n — no float mean, no
    float variance): the numerator becomes ``A_i = n·lag_i − S_x·k_i``
    and the denominator ``sqrt(n·Σx² − S_x²) · sqrt((n·k_i − k_i²)
    /(n−1))`` — every inner term an exact BIGINT over order-independent
    integer sums (magnitude contract: ``n·Σx²`` within int64, i.e.
    |x| ≤ ~1e5 at a million units). The z-score itself is ONE
    fixed-shape IEEE expression over those exact integers, micro-
    rounded; the hot/cold label is an exact sign test on ``A_i`` (no
    float compare crosses an engine boundary).

    Returns one row per unit: ``(id, k, lag, a_num, label, g_micro)``
    with label ``HOT`` (A>0) / ``COLD`` (A<0) / ``NONE``.

    Plan: identical shape to :func:`local_morans` — the self-loop rides
    a cheap union of the id projection, edges equi-join the values on
    the neighbor endpoint, ONE per-unit partial-agg exchange, then the
    1-row global moments broadcast back. Nothing quadratic, nothing
    driver-side; at 10^12 rows the only volume-bound shuffle is the
    per-unit aggregate.
    """
    vals = values.select(F.col(id_col).alias("_id"),
                         F.col(value_col).cast("long").alias("_x"))
    stat = vals.agg(F.count(F.lit(1)).alias("_n"),
                    F.sum("_x").alias("_s"),
                    F.sum(F.col("_x") * F.col("_x")).alias("_ss"))
    e = edges.select(F.col(src), F.col(dst)).unionByName(
        vals.select(F.col("_id").alias(src), F.col("_id").alias(dst)))
    xj = vals.select(F.col("_id").alias(dst), F.col("_x").alias("_xj"))
    lag = (e.join(xj, dst).groupBy(src)
           .agg(F.count(F.lit(1)).cast("long").alias("k"),
                F.sum("_xj").cast("long").alias("lag")))
    out = lag.crossJoin(F.broadcast(stat))
    a_num = (F.col("_n") * F.col("lag") - F.col("_s") * F.col("k")) \
        .cast("long")
    dg = (F.col("_n") * F.col("_ss") - F.col("_s") * F.col("_s")) \
        .cast("long")
    dl = (F.col("_n") * F.col("k") - F.col("k") * F.col("k")) \
        .cast("long")
    g = F.when((dg > 0) & (dl > 0) & (F.col("_n") > 1),
               F.round(a_num.cast("double")
                       / (F.sqrt(dg.cast("double"))
                          * F.sqrt(dl.cast("double")
                                   / (F.col("_n") - 1).cast("double")))
                       * 1000000.0).cast("long"))
    label = (F.when(a_num > 0, "HOT").when(a_num < 0, "COLD")
             .otherwise("NONE"))
    return out.select(F.col(src).alias(id_col), "k", "lag",
                      a_num.alias("a_num"), label.alias("label"),
                      g.alias("g_micro"))


def geofence_transitions(events: DataFrame, fences: DataFrame, *,
                         cell: int = 100_000,
                         user_col: str = "user_id",
                         id_col: str = "event_id", ts_col: str = "ts",
                         x_col: str = "x", y_col: str = "y",
                         fence_id: str = "fence_id") -> DataFrame:
    """Geofence enter/exit detection — the mobility-alerting primitive:
    for every user's event-time sequence, emit one row per fence
    boundary crossing: ``(user_id, event_id, fence_id, kind)`` with
    kind ``enter`` (not inside at the previous event — or no previous
    event — and inside now) / ``exit`` (inside before, not now).
    Fences are closed boxes; containment is exact integer comparison.

    The scale trick: transitions need, per event, the SET of fences
    containing it — NOT an events × fences relation. Containment hits
    come from a cell equi-join (fences replicate to covering cells,
    events stay in their home cell), collapse to one sorted
    fence-array per event, and ONE user-keyed window LAGs the array;
    enters/exits are ``array_except`` both ways, exploded. Events in
    no fence still ride the sequence (empty array) — they are what
    makes an exit observable.

    Exchanges: the cell join, the per-event array agg, and the
    user-keyed window — all bounded by hits + events, never
    |events|×|fences|.
    """
    if cell < 1:
        raise ValueError("geofence_transitions: cell must be >= 1")
    from pyspark.sql import Window
    base = (events
            .where(F.col(ts_col).isNotNull() & F.col(x_col).isNotNull()
                   & F.col(y_col).isNotNull())
            .select(F.col(user_col).alias("_u"),
                    F.col(id_col).cast("long").alias("_e"),
                    F.unix_micros(F.col(ts_col).cast("timestamp"))
                    .alias("_t"),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y")))
    fc = fences.select(
        F.col(fence_id).cast("long").alias("_f"),
        F.col("minx").cast("long").alias("minx"),
        F.col("miny").cast("long").alias("miny"),
        F.col("maxx").cast("long").alias("maxx"),
        F.col("maxy").cast("long").alias("maxy"))
    fcells = (fc.withColumn("cx", F.explode(F.sequence(
                F.expr(f"minx DIV {cell}"), F.expr(f"maxx DIV {cell}"))))
              .withColumn("cy", F.explode(F.sequence(
                F.expr(f"miny DIV {cell}"), F.expr(f"maxy DIV {cell}")))))
    ecells = base.select("_u", "_e", "_x", "_y",
                         F.expr(f"_x DIV {cell}").alias("cx"),
                         F.expr(f"_y DIV {cell}").alias("cy"))
    hits = (ecells.join(fcells, ["cx", "cy"])
            .where((F.col("_x") >= F.col("minx"))
                   & (F.col("_x") <= F.col("maxx"))
                   & (F.col("_y") >= F.col("miny"))
                   & (F.col("_y") <= F.col("maxy")))
            .groupBy("_u", "_e")
            .agg(F.sort_array(F.collect_set("_f")).alias("_ff")))
    seq = (base.join(hits, ["_u", "_e"], "left")
           .select("_u", "_e", "_t",
                   F.coalesce(F.col("_ff"),
                              F.array().cast("array<long>")).alias("_ff")))
    w = Window.partitionBy("_u").orderBy("_t", "_e")
    seq = seq.withColumn(
        "_prev", F.coalesce(F.lag("_ff", 1).over(w),
                            F.array().cast("array<long>")))
    enters = (seq.select("_u", "_e",
                         F.explode(F.array_except("_ff", "_prev"))
                         .alias("_f"))
              .withColumn("kind", F.lit("enter")))
    exits = (seq.select("_u", "_e",
                        F.explode(F.array_except("_prev", "_ff"))
                        .alias("_f"))
             .withColumn("kind", F.lit("exit")))
    return (enters.unionByName(exits)
            .select(F.col("_u").alias(user_col),
                    F.col("_e").alias(id_col),
                    F.col("_f").alias(fence_id), "kind"))
