"""Graph analytics over edge relations: integer-exact PageRank.

Connected components (the other graph op this engine needs) lives in
``operators/dedup.py`` (:func:`dedup_components`); this module adds the
canonical iterative-propagation algorithm, built the distributed way —
each iteration is one equi-join of the rank relation onto the edge
relation plus one keyed aggregation (map-side partials), i.e. the
standard Pregel-style shuffle pattern, with no driver-side loop over
rows and no all-pairs anything.

Cross-engine exactness (the design choice worth copying): classic
PageRank is floating-point, and a distributed SUM of doubles is
order-dependent — two engines (or two runs!) produce last-ulp-different
ranks, which breaks value-hash verification. Here ranks live in INTEGER
micro-units and every step is exact integer arithmetic::

    contrib(a->b) = rank_a DIV deg_a              (integer division)
    rank_b'       = (100-d)*scale DIV 100  +  (d * sum(contribs)) DIV 100

Sums of BIGINTs are associative and commutative — identical whatever
the partitioning, engine, or schedule. The DIV truncation loses < 1
micro-unit per term (a deliberate, documented quantization of the
textbook algorithm), in exchange for results that are bit-reproducible
everywhere — the property that lets a 1000-executor run be verified
against a single-node oracle.

Lineage: the edge/degree relations are referenced every iteration and
each round's ranks feed the next — both are ``localCheckpoint``ed via
``core.lifetime`` (tracked; superseded rounds released eagerly), the
same contract as ``dedup_components``: consume the returned frame fully
inside the caller's ``checkpoint_scope``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cdap_geo_spark.core.lifetime import (track_checkpoint,
                                          unpersist_checkpoint)


def pagerank(edges: DataFrame, *, src: str = "src", dst: str = "dst",
             iterations: int = 3, damping_pct: int = 85,
             scale: int = 1_000_000) -> DataFrame:
    """Integer-exact PageRank over a DIRECTED edge relation (pass both
    directions for an undirected graph). Returns ``(id, rank)`` with
    ``rank`` in micro-units of ``scale`` (init = ``scale`` per node, the
    unnormalized convention: total mass ~ n_nodes * scale).

    Nodes are the distinct ``src`` values — a node with no out-edges
    cannot be ranked consistently under the integer scheme (its mass
    has nowhere to go), so callers pass symmetric edges or accept
    sink-mass loss exactly as the textbook simplification does.

    ``damping_pct`` is the damping factor in integer percent (85 =
    0.85) so the update rule stays in exact BIGINT arithmetic.
    """
    if not 0 < damping_pct < 100:
        raise ValueError("pagerank: damping_pct must be in (0, 100)")
    if iterations < 1:
        raise ValueError("pagerank: need >= 1 iteration")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")) \
             .localCheckpoint(eager=False)
    track_checkpoint(e)
    # one keyed agg gives BOTH the degrees and the node set (nodes =
    # distinct src = deg's keys) — the separate nodes.distinct() was a
    # second full shuffle of the edge relation re-run every iteration
    deg = (e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
           .localCheckpoint(eager=False))
    track_checkpoint(deg)
    nodes = deg.select(F.col("src").alias("id"))
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    prev = None
    for _ in range(iterations):
        # per-node contribution FIRST (rank DIV deg is constant across
        # a node's out-edges): one node-dimension join, then a single
        # join onto the edge relation — instead of dragging both rank
        # and deg through separate edge-sized joins
        per_node = (ranks.withColumnRenamed("id", "src").join(deg, "src")
                    .select("src", F.expr("rank DIV deg").alias("c")))
        contrib = (e.join(per_node, "src")
                     .select(F.col("dst").alias("id"), "c"))
        sums = contrib.groupBy("id").agg(F.sum("c").alias("s"))
        ranks = (nodes.join(sums, "id", "left")
                 .select("id",
                         (F.lit(base)
                          + F.expr(f"({damping_pct} * coalesce(s, "
                                   f"CAST(0 AS BIGINT))) DIV 100"))
                         .cast("long").alias("rank"))
                 .localCheckpoint(eager=True))
        track_checkpoint(ranks)
        if prev is not None:
            unpersist_checkpoint(prev)
        prev = ranks
    return ranks


def triangle_counts(edges: DataFrame, *, src: str = "src",
                    dst: str = "dst",
                    assume_canonical: bool = False) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED graph (edges may
    arrive in either or both directions, with duplicates and self-loops
    — they are canonicalized away first). Returns ``(id, triangles)``
    for every node incident to at least one edge; counts are exact
    BIGINTs, so the result is cross-engine value-hashable.

    The distributed design is the compact-forward / degree-ordered
    orientation: every canonical edge is oriented from its lower
    ``(degree, id)`` endpoint to its higher one. Under that total
    order each triangle x<y<z is found exactly once — as the wedge
    (x→y, x→z) closed by the edge y→z — and, the scale property, the
    wedge self-join's fan-out is bounded: Σ out-deg² = O(m^1.5)
    (Latapy 2008; a hub of degree d contributes wedges only toward
    HIGHER-degree nodes, of which there are at most O(√m)). Every step
    is an equi-join or keyed aggregation (AQE-sized shuffles); there is
    no nested-loop join anywhere and no driver-side iteration.

    The canonical edge relation is referenced three times (degrees,
    orientation, closing join) and is ``localCheckpoint``ed via
    ``core.lifetime`` — consume the returned frame inside the caller's
    ``checkpoint_scope`` (same contract as :func:`pagerank`).
    """
    if assume_canonical:
        # caller guarantees u < v, deduped, no self-loops, already
        # checkpointed (clustering_coeff) — re-canonicalizing would
        # re-shuffle + re-checkpoint the identical relation
        e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    else:
        e = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                          F.greatest(F.col(src), F.col(dst)).alias("v"))
             .where(F.col("u") != F.col("v"))
             .distinct()
             .localCheckpoint(eager=False))
        track_checkpoint(e)
    deg = (e.select(F.col("u").alias("id"))
           .unionByName(e.select(F.col("v").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("deg")))
    # the node set IS the degree relation's key set — the separate
    # union+distinct was a second full shuffle of the edge relation
    nodes = deg.select("id")
    t = (e.join(deg.select(F.col("id").alias("u"),
                           F.col("deg").alias("du")), "u")
          .join(deg.select(F.col("id").alias("v"),
                           F.col("deg").alias("dv")), "v"))
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("i"))
    lo = ku < kv
    o = (t.select(F.when(lo, F.col("u")).otherwise(F.col("v")).alias("a"),
                  F.when(lo, F.col("v")).otherwise(F.col("u")).alias("b"),
                  F.when(lo, kv).otherwise(ku).alias("bk"))
         .localCheckpoint(eager=False))
    track_checkpoint(o)
    w1 = o.select("a", F.col("b"), F.col("bk"))
    w2 = o.select(F.col("a"), F.col("b").alias("c"),
                  F.col("bk").alias("ck"))
    wedges = (w1.join(w2, "a")
              .where(F.col("bk") < F.col("ck"))
              .select("a", "b", "c"))
    tri = wedges.join(o.select(F.col("a").alias("b"),
                               F.col("b").alias("c")), ["b", "c"])
    per_node = (tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
                .groupBy("id").agg(F.count(F.lit(1)).alias("t")))
    return (nodes.join(per_node, "id", "left")
            .select("id", F.coalesce(F.col("t"), F.lit(0))
                    .cast("long").alias("triangles")))


def clustering_coeff(edges: DataFrame, *, src: str = "src",
                     dst: str = "dst",
                     scale: int = 1_000_000) -> DataFrame:
    """Local clustering coefficient per node over an UNDIRECTED graph:
    ``2·triangles / (deg·(deg−1))`` — how close each node's
    neighborhood is to a clique (the community-structure signal).
    Returns ``(id, deg, triangles, coeff_micro)``.

    Cross-engine exactness: ``deg`` and ``triangles`` are exact
    BIGINTs (see :func:`triangle_counts`); the coefficient is ONE
    double expression over those integers — ``(2·scale·t) / (deg·
    (deg−1))`` — written with the identical literal shape in the SQL
    twin and rounded to micro-units BEFORE emission, so the value
    hash cannot see a schedule. Nodes with ``deg < 2`` emit 0.

    Scale: composes :func:`triangle_counts` (degree-ordered wedge
    join, Σ out-deg² = O(m^1.5)) plus one keyed degree aggregation
    and an AQE-sized equi-join of two node-dimension relations — no
    step scales past the triangle count itself.
    """
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                      F.greatest(F.col(src), F.col(dst)).alias("v"))
         .where(F.col("u") != F.col("v"))
         .distinct()
         .localCheckpoint(eager=False))
    track_checkpoint(e)
    deg = (e.select(F.col("u").alias("id"))
           .unionByName(e.select(F.col("v").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("deg")))
    tri = triangle_counts(e, src="u", dst="v", assume_canonical=True)
    num = F.lit(float(2 * scale)) * F.col("triangles")
    den = (F.col("deg") * (F.col("deg") - F.lit(1))).cast("long")
    coeff = F.when(F.col("deg") >= 2,
                   F.round(num / den).cast("long")) \
             .otherwise(F.lit(0).cast("long"))
    return (deg.join(tri, "id")
            .select("id", F.col("deg").cast("long").alias("deg"),
                    "triangles", coeff.alias("coeff_micro")))


def clustering_oracle_sql(edges_sql: str, *,
                          scale: int = 1_000_000) -> str:
    """ANSI-SQL twin of :func:`clustering_coeff`. ``edges_sql`` must
    yield CANONICAL undirected edges ``(u, v)`` with ``u < v`` and no
    duplicates; the coefficient expression is the same literal shape
    as the Spark plan (one double over exact BIGINTs, rounded to
    micro-units), so the two engines cannot disagree."""
    return f"""
      WITH e AS ({edges_sql}),
      t AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1 JOIN e e2 ON e2.u = e1.v
                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
      ), x AS (
        SELECT a AS id FROM t
        UNION ALL SELECT b FROM t
        UNION ALL SELECT c FROM t
      ), d AS (
        SELECT id, COUNT(*) AS deg FROM (
          SELECT u AS id FROM e UNION ALL SELECT v FROM e
        ) GROUP BY id
      )
      SELECT CAST(d.id AS BIGINT) AS id,
             CAST(d.deg AS BIGINT) AS deg,
             CAST(COALESCE(cnt.c, 0) AS BIGINT) AS triangles,
             CASE WHEN d.deg >= 2
                  THEN CAST(ROUND(({float(2 * scale)!r}
                                   * COALESCE(cnt.c, 0))
                                  / CAST(d.deg * (d.deg - 1) AS BIGINT))
                            AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS coeff_micro
      FROM d LEFT JOIN (SELECT id, COUNT(*) AS c FROM x GROUP BY id) cnt
             ON d.id = cnt.id
    """


def bfs_hops(edges: DataFrame, sources: DataFrame, *,
             src: str = "src", dst: str = "dst", id_col: str = "id",
             max_hops: int = 4) -> DataFrame:
    """Multi-source BFS hop distances over a DIRECTED edge relation
    (pass both directions for undirected): returns ``(id, hops)`` for
    every node reachable from any source within ``max_hops`` — exact
    integers, so hashable cross-engine.

    Frontier-style propagation (the scale property): each round joins
    only the NEWLY discovered frontier onto the edges, dedups the
    candidates, and anti-joins the already-settled set — total work is
    O(edges touched), not O(rounds · |V|); settled state is one row per
    reached node, ``localCheckpoint``ed per round (lineage truncation,
    superseded rounds released — the :func:`pagerank` contract).
    An empty frontier short-circuits the remaining rounds (one cheap
    ``isEmpty`` on the already-checkpointed frontier per round).
    """
    if max_hops < 0:
        raise ValueError("bfs_hops: max_hops must be >= 0")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")) \
             .localCheckpoint(eager=False)
    track_checkpoint(e)
    frontier = (sources.select(F.col(id_col).alias("id")).distinct()
                .localCheckpoint(eager=True))
    track_checkpoint(frontier)
    dist = frontier.withColumn("hops", F.lit(0).cast("long"))
    for i in range(1, max_hops + 1):
        if frontier.isEmpty():
            break
        cand = (frontier.join(e, frontier["id"] == e["src"])
                .select(F.col("dst").alias("id")).distinct())
        new = (cand.join(dist.select("id"), "id", "left_anti")
               .localCheckpoint(eager=True))
        # every frontier is a disjoint slice of the RESULT (dist is
        # their union), so none may be released before the caller's
        # checkpoint_scope closes — total pinned state is exactly one
        # row per reached node
        track_checkpoint(new)
        frontier = new
        dist = dist.unionByName(
            new.withColumn("hops", F.lit(i).cast("long")))
    return dist


def bfs_oracle_sql(edges_sql: str, sources_sql: str, *,
                   max_hops: int = 4) -> str:
    """ANSI-SQL twin of :func:`bfs_hops`, rounds unrolled as chained
    CTEs (frontier EXCEPT settled per round). ``edges_sql`` yields
    (src, dst); ``sources_sql`` yields (id)."""
    parts = [f"e AS ({edges_sql})",
             f"f0 AS (SELECT DISTINCT id FROM ({sources_sql}))",
             "d0 AS (SELECT id, CAST(0 AS BIGINT) AS hops FROM f0)"]
    for i in range(1, max_hops + 1):
        parts.append(f"""f{i} AS (
          SELECT DISTINCT e.dst AS id
          FROM e JOIN f{i - 1} ON e.src = f{i - 1}.id
          EXCEPT SELECT id FROM d{i - 1})""")
        parts.append(f"""d{i} AS (
          SELECT * FROM d{i - 1}
          UNION ALL SELECT id, CAST({i} AS BIGINT) FROM f{i})""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT CAST(id AS BIGINT) AS id, hops"
              f" FROM d{max_hops}")


def triangle_oracle_sql(edges_sql: str) -> str:
    """ANSI-SQL twin of :func:`triangle_counts`. ``edges_sql`` must
    yield CANONICAL undirected edges ``(u, v)`` with ``u < v`` and no
    duplicates; each triangle a<b<c then matches the three-way
    equi-join exactly once, so no degree orientation is needed on the
    single-node side (counts are integers — order-independent)."""
    return f"""
      WITH e AS ({edges_sql}),
      t AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1 JOIN e e2 ON e2.u = e1.v
                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
      ), x AS (
        SELECT a AS id FROM t
        UNION ALL SELECT b FROM t
        UNION ALL SELECT c FROM t
      ), n AS (SELECT u AS id FROM e UNION SELECT v FROM e)
      SELECT CAST(n.id AS BIGINT) AS id,
             CAST(COALESCE(cnt.c, 0) AS BIGINT) AS triangles
      FROM n LEFT JOIN (SELECT id, COUNT(*) AS c FROM x GROUP BY id) cnt
             ON n.id = cnt.id
    """


def pagerank_oracle_sql(edges_sql: str, *, iterations: int = 3,
                        damping_pct: int = 85,
                        scale: int = 1_000_000) -> str:
    """ANSI-SQL twin of :func:`pagerank` with the iterations UNROLLED
    as chained CTEs (one per round) — possible precisely because every
    step is exact integer arithmetic, so the single-node SQL engine and
    the distributed plan cannot disagree. ``edges_sql`` must yield
    ``(src, dst)``."""
    base = (100 - damping_pct) * scale // 100
    parts = [f"e AS ({edges_sql})",
             "deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)",
             "n AS (SELECT DISTINCT src AS id FROM e)",
             f"r0 AS (SELECT id, CAST({scale} AS BIGINT) AS rank FROM n)"]
    for i in range(iterations):
        parts.append(f"""r{i + 1} AS (
          SELECT n.id,
                 CAST({base} + ({damping_pct} * COALESCE(t.s, 0)) // 100
                      AS BIGINT) AS rank
          FROM n LEFT JOIN (
            SELECT e.dst AS id, SUM(r{i}.rank // deg.deg) AS s
            FROM e JOIN r{i} ON e.src = r{i}.id
                   JOIN deg ON e.src = deg.src
            GROUP BY e.dst) t ON n.id = t.id)""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT CAST(id AS BIGINT) AS id, rank"
              f" FROM r{iterations}")


def kcore_peel(edges: DataFrame, *, k: int, rounds: int = 4,
               src: str = "src", dst: str = "dst") -> DataFrame:
    """Fixed-round k-core peeling over an UNDIRECTED graph (edges in
    any direction, duplicates/self-loops canonicalized away). Each
    round drops every node whose degree in the SURVIVING subgraph is
    below ``k`` (the synchronous peel); after ``rounds`` rounds the
    result is ``(id, deg)`` for every node still incident to an edge,
    with its degree in the surviving subgraph. Run to convergence this
    IS the exact k-core; a FIXED round count keeps the computation
    identical — and therefore value-hashable — against the single-node
    oracle (:func:`kcore_oracle_sql` unrolls the same rounds as chained
    CTEs). Degrees are exact BIGINTs.

    Distributed shape: each round is one keyed degree aggregation
    (map-side partials) plus two semi-joins of the edge relation
    against the surviving node set — AQE-sized equi-joins, no nested
    loop, no driver-side row loop. A round that removes no edge
    short-circuits the rest (the peel has converged; remaining rounds
    are provable no-ops, so early exit cannot change the result).
    Edge relations supersede each other round-to-round and are
    released eagerly (the :func:`pagerank` lineage contract: consume
    the returned frame inside the caller's ``checkpoint_scope``).
    """
    if k < 1:
        raise ValueError("kcore_peel: k must be >= 1")
    if rounds < 0:
        raise ValueError("kcore_peel: rounds must be >= 0")
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                      F.greatest(F.col(src), F.col(dst)).alias("v"))
         .where(F.col("u") != F.col("v"))
         .distinct()
         .localCheckpoint(eager=True))
    track_checkpoint(e)
    n_edges = e.count()
    for _ in range(rounds):
        if n_edges == 0:
            break
        deg = (e.select(F.col("u").alias("id"))
               .unionByName(e.select(F.col("v").alias("id")))
               .groupBy("id").agg(F.count(F.lit(1)).alias("deg")))
        keep = deg.where(F.col("deg") >= k).select("id")
        nxt = (e.join(keep.withColumnRenamed("id", "u"), "u", "left_semi")
                .join(keep.withColumnRenamed("id", "v"), "v", "left_semi")
                .select("u", "v")
                .localCheckpoint(eager=True))
        track_checkpoint(nxt)
        n_nxt = nxt.count()
        unpersist_checkpoint(e)
        e, converged = nxt, n_nxt == n_edges
        n_edges = n_nxt
        if converged:
            break
    return (e.select(F.col("u").alias("id"))
            .unionByName(e.select(F.col("v").alias("id")))
            .groupBy("id").agg(F.count(F.lit(1)).cast("long")
                               .alias("deg")))


def kcore_oracle_sql(edges_sql: str, *, k: int, rounds: int = 4) -> str:
    """ANSI-SQL twin of :func:`kcore_peel`, rounds unrolled as chained
    CTEs. ``edges_sql`` must yield CANONICAL undirected edges
    ``(u, v)`` with ``u < v``, no duplicates or self-loops.

    Every CTE is ``MATERIALIZED``: DuckDB 1.0 inlines CTEs at each
    reference, and the round chain references its predecessor several
    times — un-materialized, the base edge relation re-evaluates
    exponentially in the round count (measured: the sf0.1 bbox graph's
    4-round peel ran minutes instead of seconds)."""
    parts = [f"e0 AS MATERIALIZED ({edges_sql})"]
    for i in range(rounds):
        parts.append(f"""d{i} AS MATERIALIZED (
          SELECT id, COUNT(*) AS deg FROM (
            SELECT u AS id FROM e{i}
            UNION ALL SELECT v FROM e{i}) GROUP BY id)""")
        parts.append(f"""s{i} AS MATERIALIZED (
          SELECT id FROM d{i} WHERE deg >= {k})""")
        parts.append(f"""e{i + 1} AS MATERIALIZED (
          SELECT u, v FROM e{i}
          WHERE u IN (SELECT id FROM s{i})
            AND v IN (SELECT id FROM s{i}))""")
    return (
        "WITH " + ",\n".join(parts) + f"""
        SELECT CAST(id AS BIGINT) AS id, CAST(COUNT(*) AS BIGINT) AS deg
        FROM (SELECT u AS id FROM e{rounds}
              UNION ALL SELECT v FROM e{rounds})
        GROUP BY id""")


def adamic_adar(edges: DataFrame, *, k: int = 50, scale: int = 1_000_000,
                src: str = "src", dst: str = "dst") -> DataFrame:
    """Top-``k`` link-prediction candidates by Adamic–Adar score over an
    UNDIRECTED graph: for each NON-adjacent pair ``a < b``,
    ``AA(a,b) = Σ_{v ∈ Γ(a) ∩ Γ(b)} 1 / ln(deg v)`` — common neighbors
    weighted inversely by how promiscuous they are (Adamic & Adar 2003).
    Returns ``(a, b, score)`` with the score in micro-units.

    Cross-engine exactness (the :func:`pagerank` discipline): each
    common neighbor's term is ``round(scale / ln(deg_v))`` — ONE
    transcendental over an exact integer degree, micro-rounded to
    BIGINT — and the per-pair score is an exact integer SUM, so ranking
    and values hash identically against the single-node oracle. A
    common neighbor has degree >= 2 by construction, so ``ln(deg) > 0``.

    Distributed shape: candidates come from the wedge self-join of the
    adjacency relation grouped by the shared neighbor — fan-out
    Σ deg(v)², the inherent cost of enumerating common-neighbor pairs
    (documented; cap hub degrees upstream if the graph has power-law
    hubs) — followed by one keyed aggregation, an anti-join against the
    existing edge set, and a bounded global top-k (TakeOrdered, never a
    global sort of the candidate relation). Ties break on (score desc,
    a, b) so the cut is deterministic.

    Pair-key packing (plan-only, result-identical): the keyed
    aggregation is the hot path — Σ deg² wedge rows hashed into ~|pairs|
    groups. When the node ids are integral and a one-job bounds probe
    over the (checkpointed) canonical edges proves ``0 <= id < 2^31``,
    the pair ``(a, b)`` is packed into ONE BIGINT ``a·2³² + b`` so the
    aggregation and the anti-join run on a single primitive-long key
    (narrower shuffle rows, primitive hash path) and the top-k orders by
    ``(score desc, pk)`` — lexicographically identical to
    ``(score desc, a, b)`` for non-negative 31-bit ids. Ids outside that
    range (or non-integral) fall back to the unpacked plan; both paths
    compute the same rows, types and order.
    """
    if k < 1:
        raise ValueError("adamic_adar: k must be >= 1")
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                      F.greatest(F.col(src), F.col(dst)).alias("v"))
         .where(F.col("u") != F.col("v"))
         .distinct()
         .localCheckpoint(eager=False))
    track_checkpoint(e)
    adj = (e.select(F.col("u").alias("c"), F.col("v").alias("n"))
           .unionByName(e.select(F.col("v").alias("c"),
                                 F.col("u").alias("n"))))
    deg = adj.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
    term = F.round(F.lit(float(scale))
                   / F.log(F.col("deg").cast("double"))).cast("long")
    id_type = e.schema["u"].dataType.simpleString()
    packed = False
    if id_type in ("tinyint", "smallint", "int", "bigint"):
        # canonical u < v per row ⇒ global id bounds are (min u, max v);
        # the probe is one scalar agg over the canonical edge relation
        # (it also materializes the checkpoint every later step reuses)
        lo, hi = e.agg(F.min("u"), F.max("v")).first()
        packed = lo is not None and lo >= 0 and hi < (1 << 31)
    if packed:
        pk = (F.shiftleft(F.col("a").cast("long"), 32)
              + F.col("b").cast("long")).alias("pk")
        wedge = (adj.select("c", F.col("n").alias("a"))
                 .join(adj.select("c", F.col("n").alias("b")), "c")
                 .where(F.col("a") < F.col("b"))
                 .select("c", pk))
        scored = (wedge.join(deg, "c")
                  .groupBy("pk")
                  .agg(F.sum(term).alias("score")))
        e_pk = e.select((F.shiftleft(F.col("u").cast("long"), 32)
                         + F.col("v").cast("long")).alias("pk"))
        cand = scored.join(e_pk, ["pk"], "left_anti")
        return (cand.orderBy(F.desc("score"), "pk").limit(k)
                .select(F.shiftright(F.col("pk"), 32).cast(id_type)
                        .alias("a"),
                        F.col("pk").bitwiseAND(F.lit((1 << 32) - 1))
                        .cast(id_type).alias("b"),
                        F.col("score").cast("long")))
    wedge = (adj.select("c", F.col("n").alias("a"))
             .join(adj.select("c", F.col("n").alias("b")), "c")
             .where(F.col("a") < F.col("b")))
    scored = (wedge.join(deg, "c")
              .groupBy("a", "b")
              .agg(F.sum(term).alias("score")))
    cand = scored.join(e.select(F.col("u").alias("a"),
                                F.col("v").alias("b")),
                       ["a", "b"], "left_anti")
    return (cand.orderBy(F.desc("score"), "a", "b").limit(k)
            .select("a", "b", F.col("score").cast("long")))


def adamic_adar_oracle_sql(edges_sql: str, *, k: int = 50,
                           scale: int = 1_000_000) -> str:
    """ANSI-SQL twin of :func:`adamic_adar`. ``edges_sql`` must yield
    CANONICAL undirected edges ``(u, v)`` with ``u < v``, no
    duplicates or self-loops; term and tie-break expressions are
    shape-identical to the Spark plan."""
    return f"""
      WITH e AS MATERIALIZED ({edges_sql}),
      adj AS MATERIALIZED (
        SELECT u AS c, v AS n FROM e
        UNION ALL SELECT v, u FROM e
      ),
      deg AS (SELECT c, COUNT(*) AS deg FROM adj GROUP BY c),
      wedge AS (
        SELECT a1.c, a1.n AS a, a2.n AS b
        FROM adj a1 JOIN adj a2 ON a1.c = a2.c
        WHERE a1.n < a2.n
      ),
      scored AS (
        SELECT w.a, w.b,
               CAST(SUM(CAST(ROUND({float(scale)} /
                    LN(CAST(d.deg AS DOUBLE))) AS BIGINT)) AS BIGINT)
                   AS score
        FROM wedge w JOIN deg d ON w.c = d.c
        GROUP BY w.a, w.b
      )
      SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, score
      FROM scored s
      WHERE NOT EXISTS (SELECT 1 FROM e
                        WHERE e.u = s.a AND e.v = s.b)
      ORDER BY score DESC, a, b
      LIMIT {k}
    """


def sssp(edges: DataFrame, sources: DataFrame, *, src: str = "src",
         dst: str = "dst", weight_col: str = "w", id_col: str = "id",
         rounds: int = 4) -> DataFrame:
    """Bounded-round multi-source WEIGHTED shortest paths (synchronous
    Bellman–Ford) over a DIRECTED edge relation with non-negative
    integer weights: after ``rounds`` relaxations, ``(id, dist)`` holds
    the exact shortest distance among paths of <= ``rounds`` edges —
    run with ``rounds >= diameter`` this is the exact SSSP, and a fixed
    round count keeps the computation identical (and value-hashable)
    against the unrolled single-node oracle (:func:`sssp_oracle_sql`).
    Distances are exact BIGINT sums, so no schedule or engine can
    disagree.

    Distributed shape (the :func:`bfs_hops` frontier discipline):
    each round relaxes ONLY the edges leaving nodes whose distance
    improved last round — one equi-join of the frontier onto the edge
    relation, one keyed MIN aggregation, one full-outer merge with the
    settled state. Work is O(edges touched by improving nodes), state
    is one row per reached node; an empty frontier short-circuits the
    remaining rounds (no further relaxation can improve anything).
    Per-round state is ``localCheckpoint``ed with superseded rounds
    released eagerly (the :func:`pagerank` lineage contract).
    """
    if rounds < 0:
        raise ValueError("sssp: rounds must be >= 0")
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                      F.col(weight_col).cast("long").alias("w"))
         .localCheckpoint(eager=False))
    track_checkpoint(e)
    dist = (sources.select(F.col(id_col).alias("id")).distinct()
            .withColumn("dist", F.lit(0).cast("long"))
            .localCheckpoint(eager=True))
    track_checkpoint(dist)
    frontier = dist
    prev = [dist]
    for _ in range(rounds):
        if frontier.isEmpty():
            break
        cand = (frontier.join(e, frontier["id"] == e["src"])
                .select(F.col("dst").alias("id"),
                        (F.col("dist") + F.col("w")).alias("nd"))
                .groupBy("id").agg(F.min("nd").alias("nd")))
        merged = (dist.join(cand, "id", "full_outer")
                  .select("id",
                          F.when(F.col("dist").isNull(), F.col("nd"))
                          .when(F.col("nd").isNull(), F.col("dist"))
                          .when(F.col("nd") < F.col("dist"), F.col("nd"))
                          .otherwise(F.col("dist")).alias("dist"),
                          (F.col("dist").isNull()
                           | (F.col("nd") < F.col("dist")))
                          .alias("_improved")))
        # ONE eager checkpoint per round: dist and frontier are narrow
        # views over the same materialized blocks (the previous shape
        # checkpointed each separately, recomputing the round's
        # join+agg twice — 2x the round compute and 2x the jobs)
        mcp = merged.localCheckpoint(eager=True)
        track_checkpoint(mcp)
        nxt = mcp.select("id", "dist")
        fr = mcp.where("_improved").select("id", "dist")
        for p in prev:
            unpersist_checkpoint(p)
        dist, frontier, prev = nxt, fr, [mcp]
    return dist.select("id", "dist")


def sssp_oracle_sql(edges_sql: str, sources_sql: str, *,
                    rounds: int = 4) -> str:
    """ANSI-SQL twin of :func:`sssp`, rounds unrolled as chained
    MATERIALIZED CTEs (DuckDB 1.0 inlines CTEs per reference — see
    :func:`kcore_oracle_sql`). ``edges_sql`` yields (src, dst, w);
    ``sources_sql`` yields (id)."""
    parts = [f"e AS MATERIALIZED ({edges_sql})",
             f"""d0 AS MATERIALIZED (
               SELECT DISTINCT id, CAST(0 AS BIGINT) AS dist
               FROM ({sources_sql}))"""]
    for i in range(1, rounds + 1):
        parts.append(f"""c{i} AS MATERIALIZED (
          SELECT e.dst AS id, MIN(d{i - 1}.dist + e.w) AS nd
          FROM e JOIN d{i - 1} ON e.src = d{i - 1}.id
          GROUP BY e.dst)""")
        parts.append(f"""d{i} AS MATERIALIZED (
          SELECT COALESCE(d.id, c.id) AS id,
                 CAST(CASE WHEN d.dist IS NULL THEN c.nd
                           WHEN c.nd IS NULL THEN d.dist
                           WHEN c.nd < d.dist THEN c.nd
                           ELSE d.dist END AS BIGINT) AS dist
          FROM d{i - 1} d FULL OUTER JOIN c{i} c ON d.id = c.id)""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT CAST(id AS BIGINT) AS id, dist FROM d{rounds}")


def lpa_communities(edges: DataFrame, *, rounds: int = 3,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) made DETERMINISTIC — the property the original algorithm
    lacks (it breaks ties randomly and updates asynchronously, so two
    runs disagree). Here every node starts labelled with its own id
    and each round simultaneously adopts the most frequent label among
    its NEIGHBORS, ties to the smallest label — all integer counts and
    integer labels, so a fixed round count is bit-reproducible on any
    schedule and value-hashable against the unrolled single-node twin
    (:func:`lpa_oracle_sql`). Returns ``(id, label)`` for every node
    incident to an edge.

    Distributed shape (per round): ONE equi-join of the node-dimension
    label relation onto the neighbor relation (AQE broadcasts labels
    when they fit), one (id, label) keyed count WITH map-side partials,
    one ``max_by`` argmax aggregation — no window over the edge-sized
    relation, no driver row loop. Label state is one row per node,
    checkpointed per round with superseded rounds released eagerly
    (the :func:`pagerank` lineage contract: consume the result inside
    the caller's ``checkpoint_scope``).
    """
    if rounds < 0:
        raise ValueError("lpa_communities: rounds must be >= 0")
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                      F.greatest(F.col(src), F.col(dst)).alias("v"))
         .where(F.col("u") != F.col("v"))
         .distinct())
    nbr = (e.select(F.col("u").alias("id"), F.col("v").alias("nbr"))
           .unionByName(
               e.select(F.col("v").alias("id"), F.col("u").alias("nbr")))
           .localCheckpoint(eager=True))
    track_checkpoint(nbr)
    lab = (nbr.select("id").distinct()
           .select("id", F.col("id").alias("label"))
           .localCheckpoint(eager=True))
    track_checkpoint(lab)
    for _ in range(rounds):
        votes = (nbr.join(lab.withColumnRenamed("id", "nbr"), "nbr")
                 .groupBy("id", "label")
                 .agg(F.count(F.lit(1)).alias("cnt")))
        nxt = (votes.groupBy("id")
               .agg(F.max_by(
                   F.col("label"),
                   F.struct(F.col("cnt"), (-F.col("label")).alias("nl")))
                   .alias("label"))
               .localCheckpoint(eager=True))   # eager = materialized;
        track_checkpoint(nxt)                  # no extra count needed
        unpersist_checkpoint(lab)
        lab = nxt
    return lab.select(F.col("id").cast("long"),
                      F.col("label").cast("long"))


def lpa_oracle_sql(edges_sql: str, *, rounds: int = 3) -> str:
    """ANSI-SQL twin of :func:`lpa_communities`, rounds unrolled as
    chained CTEs (every CTE MATERIALIZED — the DuckDB 1.0 re-inlining
    lesson at :func:`kcore_oracle_sql`). ``edges_sql`` must yield
    CANONICAL undirected edges ``(u, v)``, ``u < v``, deduplicated."""
    parts = [f"e AS MATERIALIZED ({edges_sql})",
             """nb AS MATERIALIZED (
               SELECT u AS id, v AS nbr FROM e
               UNION ALL SELECT v, u FROM e)""",
             """l0 AS MATERIALIZED (
               SELECT DISTINCT id, id AS label FROM nb)"""]
    for i in range(rounds):
        parts.append(f"""l{i + 1} AS MATERIALIZED (
          SELECT id, label FROM (
            SELECT nb.id, l.label,
                   ROW_NUMBER() OVER (PARTITION BY nb.id
                                      ORDER BY COUNT(*) DESC, l.label)
                     AS rn
            FROM nb JOIN l{i} l ON nb.nbr = l.id
            GROUP BY nb.id, l.label)
          WHERE rn = 1)""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT CAST(id AS BIGINT) AS id,"
              f" CAST(label AS BIGINT) AS label FROM l{rounds}")


def degree_assortativity(edges: DataFrame, *, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the DIRECTED image of the
    undirected edge set (each canonical edge contributes both
    orientations, the standard convention — which also makes the sums
    symmetric). Positive: hubs attach to hubs; negative: hub-and-
    spoke. Returns one row ``(n_edges, assort_micro)``; NULL when
    degenerate (regular graphs have zero degree variance).

    The :func:`~cdap_geo_spark.operators.timeseries.grouped_corr`
    exactness discipline: degrees are exact BIGINTs, the five sums are
    exact BIGINT aggregates (order-independent), and the statistic is
    ONE double whose only irrational op is IEEE-correctly-rounded
    sqrt, micro-rounded. Plan: one keyed degree aggregation, two
    node-dimension equi-joins onto the edge relation (AQE broadcasts
    the degree relation when it fits), one 1-row aggregate.
    Magnitude contract: ``2m·(max_deg)² < 9.2e18``.
    """
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                      F.greatest(F.col(src), F.col(dst)).alias("v"))
         .where(F.col("u") != F.col("v"))
         .distinct())
    deg = (e.select(F.col("u").alias("id"))
           .unionByName(e.select(F.col("v").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("deg")))
    both = (e.select(F.col("u").alias("a"), F.col("v").alias("b"))
            .unionByName(e.select(F.col("v").alias("a"),
                                  F.col("u").alias("b"))))
    pairs = (both
             .join(deg.withColumnRenamed("id", "a")
                      .withColumnRenamed("deg", "da"), "a")
             .join(deg.withColumnRenamed("id", "b")
                      .withColumnRenamed("deg", "db"), "b"))
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("da").alias("sx"), F.sum("db").alias("sy"),
        F.sum(F.col("da") * F.col("db")).alias("sxy"),
        F.sum(F.col("da") * F.col("da")).alias("sxx"),
        F.sum(F.col("db") * F.col("db")).alias("syy"))
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r = num.cast("double") / F.sqrt(dx.cast("double") * dy.cast("double"))
    a = F.when((dx > 0) & (dy > 0),
               F.round(F.lit(1_000_000.0) * r).cast("long"))
    return agg.select((F.col("n") / 2).cast("long").alias("n_edges"),
                      a.alias("assort_micro"))
