"""kNN via cell-ring expansion (absent in the reference — SURVEY.md
§2.3 notes nearest-neighbour is only approximable there via
``st_join(distance=d)``, ``cdap_geo/sedona.py:136-141``; the north rule
mandates a true kNN operator).

Algorithm (distance-certified iterative expansion):

1. index the corpus points once at ``level`` (cell_id equi-join key);
2. round r: each still-pending query emits the hollow Chebyshev ring
   of cells at radius r around its own cell (Arrow PUDF
   ``st_ring_cells``), equi-joins the corpus index, and unions the
   candidates into an accumulator;
3. a query is DONE when its current k-th nearest candidate distance
   d_k <= r * cellsize: every unexplored cell lies at Chebyshev ring
   >= r+1, whose nearest point is >= r*cellsize away, so no unseen
   point can beat the current top-k;
4. final rank: ``row_number() over (partition by query order by dist,
   corpus_id) <= k`` — ties broken deterministically by corpus id.

The driver loop iterates over ring radii — the FIRST annulus is
density-seeded (:func:`_seed_radius`: sized so its inscribed disk
expects ``SEED_SAFETY*k`` points, certifying most queries in one
round; the unseeded ``[0,0]`` round can never certify since its bound
is d_k <= 0), then the radius doubles per round. Each round is one
narrow equi-join; candidate accumulation stays columnar. At 100 TB the corpus index is written
cell-clustered (repartitionByRange on cell_id) so ring joins prune to
the touched cells via parquet min/max stats.
"""

from __future__ import annotations

from cdap_geo_spark.core.lifetime import (track_checkpoint,
                                           unpersist_checkpoint)
from pyspark.sql import DataFrame, Window, functions as F

from cdap_geo_spark import udfs
from cdap_geo_spark.core import cells as C
from cdap_geo_spark.functions.relational import BROADCAST_PROBE_ROWS

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
    round-1 certification test ``d_k <= hi*cellsize`` usually passes.
    A skewed corpus only costs extra rounds for sparse-area queries —
    the certification bound itself is density-free, so correctness
    never depends on this estimate.
    """
    import math
    if n_corpus <= 0 or area <= 0 or cellsize <= 0:
        return 0
    density = n_corpus / area
    r_needed = math.sqrt(SEED_SAFETY * max(k, 1) / (math.pi * density))
    return int(min(MAX_SEED_RADIUS, math.ceil(r_needed / cellsize)))


def knn_join(queries: DataFrame, corpus: DataFrame, *, k: int,
             level: int = 9,
             query_id: str = "query_id", corpus_id: str = "doc_id",
             query_geom: str = "geometry", corpus_geom: str = "geometry",
             max_rounds: int = 12,
             broadcast_queries: bool | str = "auto",
             broadcast_threshold: int = BROADCAST_PROBE_ROWS,
             require_points: bool = True,
             how: str = "point") -> DataFrame:
    """(query_id, doc_id, dist, rank<=k) for point queries over a point
    corpus. Exact (certified by the ring bound), deterministic ties.

    **Input contract (round 5)**: both sides must be POINTS — the ring
    bound certifies point-to-point distance only; a box/polygon input
    would silently rank by its bounds' min-corner distance.
    ``require_points=True`` (default) therefore validates both
    relations (one extra ``max`` over aggregates the plan already
    runs / a persisted relation) and raises on any non-degenerate
    extent. ``require_points=False`` opts into the documented
    corner-distance semantics for callers who meant it (e.g. tiny
    boxes from a lossy decode).

    **``how='box'`` (round 5d)**: exact kNN under BOUNDING-BOX distance
    (box-to-box min Euclidean distance; exact for axis-aligned box
    geometries, a bbox approximation for general polygons — the
    honest upgrade over the validated-out corner-distance trap).
    Differences from point mode, each load-bearing for soundness:

    - the corpus indexes into its full cell COVER (explode — a box
      appears under every cell it touches), so a near box can never
      hide behind a far min-corner;
    - probes ring around the query's cover RECTANGLE
      (``st_ring_cells_rect``, same floor/ceil arithmetic as the
      corpus cover so the two grids align);
    - candidates dedup on (query, corpus) before top-k — one box can
      arrive from several cover cells;
    - certification is STRICT (``d_k < hi*cellsize``): an unseen box
      has every cover cell at Chebyshev ring >= hi+1, hence distance
      >= hi*cellsize, and the strict compare removes the
      boundary-equality tie (a box ending exactly on a cell edge)
      that the point mode tolerates as measure-zero;
    - the per-round broadcast decision uses a bounded count of the
      actual probe relation (ring size varies per query box, so the
      closed-form annulus arithmetic no longer applies).

    ``require_points`` is ignored in box mode.

    ``broadcast_queries='auto'`` (default) decides PER ROUND: the
    probe relation is pending queries x annulus cells, whose exact
    row count is known (pending is counted each round anyway, the
    annulus size is arithmetic), so the probe is broadcast only while
    that product stays under ``broadcast_threshold`` — a large query
    set at wide expansion falls back to a plain shuffle equi-join on
    cell_id instead of overflowing the broadcast.

    **Lifetime contract**: the returned DataFrame is backed by a
    tracked ``localCheckpoint`` (no recomputable lineage). When run
    inside a :func:`cdap_geo_spark.core.lifetime.checkpoint_scope`,
    materialize it fully (count/collect/write) BEFORE the scope
    closes — actions after the scope fail with missing-block errors.
    """
    if how not in ("point", "box"):
        raise ValueError(f"knn_join how must be 'point' or 'box': {how!r}")
    box = how == "box"
    cs = C.cell_size(level)

    qb = udfs.st_bounds()(F.col(query_geom))
    cb = udfs.st_bounds()(F.col(corpus_geom))
    if box:
        q = queries.select(
            F.col(query_id),
            qb["minx"].alias("_qminx"), qb["miny"].alias("_qminy"),
            qb["maxx"].alias("_qmaxx"), qb["maxy"].alias("_qmaxy"),
        ).where(F.col("_qminx").isNotNull())
        q_cols = ["_qminx", "_qminy", "_qmaxx", "_qmaxy"]
        corp = corpus.select(
            F.col(corpus_id),
            cb["minx"].alias("_cminx"), cb["miny"].alias("_cminy"),
            cb["maxx"].alias("_cmaxx"), cb["maxy"].alias("_cmaxy"),
            F.explode(udfs.st_cells(level, "bbox", pad=0.0)(
                F.col(corpus_geom))).alias("cell_id"))
        c_cols = ["_cminx", "_cminy", "_cmaxx", "_cmaxy"]
    else:
        q = queries.select(
            F.col(query_id),
            qb["minx"].alias("_qx"), qb["miny"].alias("_qy"),
            (qb["maxx"] - qb["minx"] + qb["maxy"] - qb["miny"]).alias("_qext"),
        ).where(F.col("_qx").isNotNull())
        q_cols = ["_qx", "_qy"]
        corp = corpus.select(
            F.col(corpus_id),
            cb["minx"].alias("_cx"), cb["miny"].alias("_cy"),
            (cb["maxx"] - cb["minx"] + cb["maxy"] - cb["miny"]).alias("_cext"),
            udfs.st_cell_point(level)(F.col(corpus_geom)).alias("cell_id"),
        ).where(F.col("cell_id").isNotNull())
        c_cols = ["_cx", "_cy"]
    corp = corp.persist()
    try:
        pending = q.persist()
        if broadcast_queries == "auto":
            # bounded probe (reads <= cap+1 rows, never a full scan);
            # n_pending is refreshed exactly by each round's count()
            cap = broadcast_threshold
            n = pending.limit(cap + 1).count()
            n_pending = n if n <= cap else None  # None = too big
        else:
            n_pending = None
        # density-seed the first annulus (one agg over the persisted
        # index — it materializes the persist round 1 pays anyway)
        if box:
            # exploded cover: distinct boxes for the density estimate
            # (approx — the seed is a heuristic, the bound is exact)
            cstat = corp.agg(
                F.approx_count_distinct(corpus_id).alias("n"),
                F.min("_cminx").alias("x0"), F.max("_cmaxx").alias("x1"),
                F.min("_cminy").alias("y0"), F.max("_cmaxy").alias("y1")
            ).first()
        else:
            cstat = corp.agg(
                F.count("*").alias("n"),
                F.min("_cx").alias("x0"), F.max("_cx").alias("x1"),
                F.min("_cy").alias("y0"), F.max("_cy").alias("y1"),
                F.max("_cext").alias("ext")).first()
        if require_points and not box:
            if cstat and cstat["ext"] is not None and cstat["ext"] > 0:
                raise ValueError(
                    "knn_join corpus contains non-point geometries "
                    f"(max bounds extent {cstat['ext']:.3g}): the ring "
                    "bound certifies point-to-point distance only — "
                    "pointify/centroid the corpus first, or pass "
                    "require_points=False to accept min-corner "
                    "distance semantics")
            qext = pending.agg(F.max("_qext").alias("ext")).first()
            if qext and qext["ext"] is not None and qext["ext"] > 0:
                raise ValueError(
                    "knn_join queries contain non-point geometries "
                    f"(max bounds extent {qext['ext']:.3g}): see the "
                    "corpus message — same contract")
        if not cstat or not cstat["n"]:
            # empty corpus: no neighbour exists — return the empty
            # result instead of spinning max_rounds of empty joins
            from pyspark.sql import types as T
            pending.unpersist()
            schema = T.StructType([
                q.schema[query_id],
                T.StructField(corpus_id, corp.schema[corpus_id].dataType),
                T.StructField("dist", T.DoubleType()),
                T.StructField("rank", T.IntegerType(), nullable=False),
            ])
            return queries.sparkSession.createDataFrame([], schema)
        area = max((cstat["x1"] - cstat["x0"]) * (cstat["y1"] - cstat["y0"]),
                   cs * cs)
        hi0 = _seed_radius(cstat["n"], area, k, cs)
        acc = None
        # geometric annulus schedule seeded at the density-derived
        # radius: [0,hi0], [hi0+1, 2*hi0+2], ...
        lo, hi = 0, hi0
        rounds = 0
        if box:
            # exact box-to-box min distance, fully native arithmetic
            dx = F.greatest(F.col("_qminx") - F.col("_cmaxx"),
                            F.col("_cminx") - F.col("_qmaxx"), F.lit(0.0))
            dy = F.greatest(F.col("_qminy") - F.col("_cmaxy"),
                            F.col("_cminy") - F.col("_qmaxy"), F.lit(0.0))
            dist = F.sqrt(dx * dx + dy * dy)
        else:
            dist = udfs.st_point_distance()(
                F.col("_qx"), F.col("_qy"), F.col("_cx"), F.col("_cy"))
        def rect_ring_cells(lo_r: int, hi_r: int):
            # native exact cell count of st_ring_cells_rect's annulus
            # for one query box: cover rect (wc x hc cells) expanded by
            # hi_r, minus the expansion by lo_r-1 — folded into the
            # round's single count action so box mode needs no extra
            # per-round probe job (the decision only picks broadcast
            # vs shuffle; the result is identical either way)
            wc = (F.floor(F.col("_qmaxx") / cs)
                  - F.floor(F.col("_qminx") / cs) + 1)
            hc = (F.floor(F.col("_qmaxy") / cs)
                  - F.floor(F.col("_qminy") / cs) + 1)
            outer = (wc + 2 * hi_r) * (hc + 2 * hi_r)
            if lo_r <= 0:
                return outer
            return outer - (wc + 2 * (lo_r - 1)) * (hc + 2 * (lo_r - 1))

        probe_rows_next = None
        if box and broadcast_queries == "auto":
            row = pending.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(rect_ring_cells(lo, hi)).alias("pr")).first()
            probe_rows_next = row["pr"] or 0
        while rounds < max_rounds:
            if box:
                ring = udfs.st_ring_cells_rect(level)(
                    F.col("_qminx"), F.col("_qminy"),
                    F.col("_qmaxx"), F.col("_qmaxy"),
                    F.lit(lo), F.lit(hi))
            else:
                ring = udfs.st_ring_cells(level)(
                    F.col("_qx"), F.col("_qy"), F.lit(lo), F.lit(hi))
            probes = pending.select(
                query_id, *q_cols, F.explode(ring).alias("cell_id"))
            if broadcast_queries == "auto":
                if box:
                    bc = (probe_rows_next is not None
                          and probe_rows_next <= broadcast_threshold)
                else:
                    bc = (n_pending is not None and
                          n_pending * _annulus_cells(lo, hi)
                          <= broadcast_threshold)
            else:
                bc = bool(broadcast_queries)
            if bc:
                probes = F.broadcast(probes)
            found = probes.join(corp, "cell_id") \
                .select(query_id, *q_cols, corpus_id, *c_cols) \
                .withColumn("_dist", dist)
            merged = found if acc is None else acc.unionByName(found)
            if box:
                # a box arrives once per touched cover cell (within a
                # round and across annuli); duplicate pairs would
                # double-count in the top-k window. Rows of one pair
                # are identical, so dropDuplicates is exact.
                merged = merged.dropDuplicates([query_id, corpus_id])
            # keep only each query's current top-k — bounds the
            # accumulator to k rows per query between rounds.
            # localCheckpoint truncates the lineage: acc feeds pending
            # feeds next round's acc, so without truncation the logical
            # plan doubles per round (classic iterative-algorithm trap).
            w = Window.partitionBy(query_id).orderBy("_dist", corpus_id)
            # lazy checkpoint: the stats agg below is this round's
            # first action on acc and materializes it — eager=True
            # would spend a whole extra job per round on the same work
            new_acc = merged.withColumn("_rn", F.row_number().over(w)) \
                            .filter(F.col("_rn") <= k).drop("_rn") \
                            .localCheckpoint(eager=False)
            # the OLD acc's blocks feed new_acc's lineage (checkpoint
            # truncation makes them unrecomputable) — release it only
            # AFTER the count below materializes new_acc
            prev_acc, acc = acc, new_acc
            # done: k candidates AND certified (d_k <= hi*cs: every
            # unexplored cell is at Chebyshev ring >= hi+1, so no
            # unseen point can be closer than hi*cellsize)
            stats = acc.groupBy(query_id).agg(
                F.count("*").alias("_n"), F.max("_dist").alias("_dk"))
            # box mode certifies STRICTLY (see docstring): unseen
            # boxes are >= hi*cs away, and < removes the
            # boundary-equality tie the point mode tolerates
            if box:
                certified = F.col("_dk") < F.lit(float(hi) * cs)
            else:
                certified = F.col("_dk") <= F.lit(float(hi) * cs)
            done_q = stats.filter((F.col("_n") >= k) & certified)
            pending_next = pending.join(done_q.select(query_id),
                                        query_id, "left_anti") \
                                  .localCheckpoint(eager=False)
            # the round's first action materializes BOTH lazy
            # checkpoints (acc feeds done_q feeds this join), so the
            # next round starts from stored blocks. Box mode folds the
            # NEXT annulus's exact probe-row count into the same
            # aggregate (replacing the former per-round limit+count
            # probe job on the exploded ring relation).
            if box and broadcast_queries == "auto":
                row = pending_next.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(rect_ring_cells(hi + 1, hi * 2 + 2))
                    .alias("pr")).first()
                n_pending, probe_rows_next = row["n"], row["pr"] or 0
            else:
                n_pending = pending_next.count()
            if prev_acc is not None:
                unpersist_checkpoint(prev_acc)
            unpersist_checkpoint(pending)
            pending = pending_next
            if n_pending == 0:
                break
            lo, hi = hi + 1, hi * 2 + 2
            rounds += 1
        unpersist_checkpoint(pending)  # loop-only; materialized by its count
        track_checkpoint(acc)        # feeds the result; scoped release
        w = Window.partitionBy(query_id).orderBy("_dist", corpus_id)
        out = acc.withColumn("rank", F.row_number().over(w)) \
                 .filter(F.col("rank") <= k) \
                 .select(query_id, corpus_id, F.col("_dist").alias("dist"),
                         "rank")
        return out
    finally:
        corp.unpersist()


def idw_interpolate(queries: DataFrame, corpus: DataFrame, *, k: int = 5,
                    value_col: str = "v",
                    query_id: str = "query_id", corpus_id: str = "doc_id",
                    x_col: str = "x", y_col: str = "y",
                    level: int = 8, max_rounds: int = 40,
                    weight_scale: float = 1e12) -> DataFrame:
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
    from cdap_geo_spark import udfs
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
                  k=k, level=level, max_rounds=max_rounds,
                  query_id=query_id, corpus_id=corpus_id)
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
                 level: int = 8, max_rounds: int = 40) -> DataFrame:
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
    from pyspark.sql import Window
    from cdap_geo_spark import udfs
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
                  k=k, level=level, max_rounds=max_rounds,
                  query_id=query_id, corpus_id=corpus_id)
    votes = (nn.select(query_id, corpus_id)
             .join(c.select(corpus_id, "_lbl"), corpus_id)
             .groupBy(query_id, "_lbl")
             .agg(F.count(F.lit(1)).cast("long").alias("votes")))
    w = Window.partitionBy(query_id).orderBy(
        F.col("votes").desc(), F.col("_lbl").asc())
    return (votes.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(query_id, F.col("_lbl").alias(label_col), "votes"))
