"""Driver contract for the spark-graft builder (PySpark target).

Every ``queries()`` entry runs a REAL engine pipeline (WKB geometry ->
Arrow pandas-UDF decode -> hierarchical cell cover -> equi-join ->
exact refinement kernels); the matching ``oracle_sql()`` re-derives
the same answer in pure DuckDB SQL from deterministic integer
arithmetic over the same parquet tables
(``cdap_geo_spark/sources/relational.py`` documents the formulas).
A pass therefore certifies the whole engine stack, not the formulas.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF0001 = "/root/testdata/sf0.001"


def _spatial_conf(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact point-in-polygon spatial join of the interleaved
    documents table against region polygons (the bbox_intersects
    contract, reference cdap_geo/index_bbox.py:32-76), returning
    (doc_id, region_id) pairs."""
    from cdap_geo_spark import docs as D
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R

    _spatial_conf(spark)
    docs = D.with_geometry(R.interleaved_docs(spark, SF0001))
    regions = R.region_boxes(spark, SF0001).select("region_id", "geometry")
    return sjoin_pairs(docs, regions, left_id="doc_id",
                       right_id="region_id", level=8)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _region_adjacency_pairs(regions: DataFrame) -> DataFrame:
    """Self bbox-join pairs (a, b) — including the diagonal — of the
    region boxes, the edge source shared by the graph/zonal query
    family. Round 6: built on the native-bounds fast path
    (operators/sjoin.box_pairs_native) — ``region_boxes`` already
    carries minx..maxy as native columns, so the former WKB encode +
    Arrow decode round-trips bought nothing here. Result rows are
    identical to sjoin_pairs(level=8, predicate='bbox') (oracle-
    verified); the WKB geometry path remains exercised by
    sjoin_pip/sjoin_bbox/distance_join/the headline."""
    from cdap_geo_spark.operators.sjoin import box_pairs_native
    left = regions.select(F.col("region_id").alias("a"),
                          "minx", "miny", "maxx", "maxy")
    right = regions.select(F.col("region_id").alias("b"),
                           "minx", "miny", "maxx", "maxy")
    # level 7 (32.8 km cells ~ the mean box width of 26 km): measured
    # marginally faster than 8 and identical output at every level —
    # the cell grid only generates candidates, the exact bbox test
    # decides membership
    return box_pairs_native(left, right, left_id="a", right_id="b",
                            level=7)


def _q_sjoin_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark import docs as D
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    docs = D.with_geometry(R.interleaved_docs(spark, sf_dir))
    regions = R.region_boxes(spark, sf_dir).select("region_id", "geometry")
    out = sjoin_pairs(docs, regions, left_id="doc_id", right_id="region_id",
                      level=8)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("region_id").cast("long"))


def _q_sjoin_pip_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark import docs as D
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    docs = D.with_geometry(R.interleaved_docs(spark, sf_dir))
    regions = R.region_boxes(spark, sf_dir).select("region_id", "geometry")
    # broadcast disabled -> the shuffle route: cell equi-join whose hot
    # cells AQE's skew join splits (the name predates that; it is kept
    # as part of the oracle surface)
    out = sjoin_pairs(docs, regions, left_id="doc_id", right_id="region_id",
                      level=8, broadcast=False)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("region_id").cast("long"))


def _q_sjoin_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    dboxes = R.doc_boxes(spark, sf_dir)
    regions = R.region_boxes(spark, sf_dir).select("region_id", "geometry")
    out = sjoin_pairs(dboxes, regions, left_id="doc_id", right_id="region_id",
                      level=8, predicate="bbox")
    return out.select(F.col("doc_id").cast("long"),
                      F.col("region_id").cast("long"))


def _q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    pts = R.doc_points(spark, sf_dir).select("doc_id", "geometry")
    regions = R.region_boxes(spark, sf_dir).select("region_id", "geometry")
    out = sjoin_pairs(pts, regions, left_id="doc_id", right_id="region_id",
                      level=8, predicate="distance", distance=25_000.0)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("region_id").cast("long"))


def _q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.tiles import assign_tiles
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    pts = R.doc_points(spark, sf_dir).select("doc_id", "geometry")
    out = assign_tiles(pts, bbox=(0, 0, 700_000, 1_300_000), splits=10)
    return out.select(F.col("doc_id").cast("long"), "tile_id")


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.knn import knn_join
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    corpus = R.doc_points(spark, sf_dir).select("doc_id", "geometry")
    queries = R.query_points(spark, sf_dir)
    out = knn_join(queries, corpus, k=5, level=8)
    return out.select(F.col("query_id").cast("long"),
                      F.col("doc_id").cast("long"),
                      F.col("rank").cast("long"))


def _q_knn_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.knn import knn_join
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    queries = R.doc_boxes(spark, sf_dir) \
               .selectExpr("doc_id as query_id", "geometry")
    corpus = R.region_boxes(spark, sf_dir).select("region_id", "geometry")
    out = knn_join(queries, corpus, k=3, level=8,
                   corpus_id="region_id", how="box")
    return out.select(F.col("query_id").cast("long"),
                      F.col("region_id").cast("long"),
                      F.col("rank").cast("long"))


def _q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW interpolation (operators/knn.idw_interpolate): n_chars
    estimated at the 25 nation query points from their 5 nearest doc
    points — certified kNN + exact-integer d², per-term micro-rounded
    BIGINT sums."""
    from cdap_geo_spark.operators.knn import idw_interpolate
    _spatial_conf(spark)
    d = _tbl(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        ((F.col("doc_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("doc_id") * 69621 + 29) % 1300000).alias("y"),
        F.col("n_chars").cast("long").alias("v"))
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    queries = n.select(
        F.col("n_nationkey").alias("query_id"),
        ((F.col("n_nationkey") * 104729 + 7) % 700000).alias("x"),
        ((F.col("n_nationkey") * 130363 + 3) % 1300000).alias("y"))
    out = idw_interpolate(queries, corpus, k=5, level=8)
    return out.select(F.col("query_id").cast("long"), "n_nb",
                      "num", "den", "est_centi")


def _q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote kNN classification (operators/knn.knn_classify):
    each nation query point labeled by the most frequent lang among
    its 5 nearest document points (certified neighbor set, ties to the
    smallest label) — votes exact BIGINT."""
    from cdap_geo_spark.operators.knn import knn_classify
    _spatial_conf(spark)
    d = _tbl(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        ((F.col("doc_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("doc_id") * 69621 + 29) % 1300000).alias("y"),
        F.col("lang").alias("label"))
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    queries = n.select(
        F.col("n_nationkey").alias("query_id"),
        ((F.col("n_nationkey") * 104729 + 7) % 700000).alias("x"),
        ((F.col("n_nationkey") * 130363 + 3) % 1300000).alias("y"))
    out = knn_classify(queries, corpus, k=5, level=8)
    return out.select(F.col("query_id").cast("long"),
                      F.col("label"), "votes")


def _q_region_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark import udfs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    return regions.select(
        F.col("region_id").cast("long"),
        udfs.st_area()(F.col("geometry")).cast("long").alias("area"))


def _q_buffer_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minkowski buffer under the oracle gate: buffer each region box
    by r with a 4-segment disc (diamond caps) and measure the CONSTRUCTED
    geometry's area with the slab kernel; the oracle is the closed form
    A + P*r + 2*r^2 (a 4-gon disc has area 2 r^2). Rounded to 2 dp —
    the slab interpolation of the 45-degree cap edges carries ~1e-5
    absolute FP noise at this coordinate scale."""
    from cdap_geo_spark import udfs
    from cdap_geo_spark.operators.geoops import st_buffer
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    sub = regions.filter(F.col("region_id") % 10 == 0)
    buffered = sub.select(
        F.col("region_id").cast("long"),
        st_buffer(500.0, segments=4)(F.col("geometry")).alias("g"))
    return buffered.select(
        "region_id",
        F.round(udfs.st_area()(F.col("g")), 2).alias("buf_area"))


def _q_subdivide_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex-bounded subdivision under the oracle gate: buffer each
    region box (4-segment Minkowski disc -> octagon, 8 vertices),
    st_subdivide_explode(max_vertices=8) forces real recursive
    bisection, then the piece areas are summed back per region. The
    oracle is the SAME closed form as buffer_area (A + P*r + 2*r^2,
    exactly integer for integer boxes) — a correct subdivision must
    tile the buffer exactly, so the sum reproduces it."""
    from cdap_geo_spark import udfs
    from cdap_geo_spark.operators.geoops import (st_buffer,
                                                 st_subdivide_explode)
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    sub = regions.filter(F.col("region_id") % 10 == 0)
    buffered = sub.select(
        F.col("region_id").cast("long").alias("region_id"),
        st_buffer(500.0, segments=4)(F.col("geometry")).alias("geometry"))
    pieces = st_subdivide_explode(buffered, max_vertices=8,
                                  id_col="region_id")
    return (pieces
            .select("region_id",
                    udfs.st_area()(F.col("geometry")).alias("_a"))
            .groupBy("region_id")
            .agg(F.round(F.sum("_a"), 0).cast("long").alias("buf_area")))


def _q_pointify_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-centre rasterization count per region box; the oracle is
    pure floor arithmetic (res=333 keeps centres off integer box
    edges, so PIP boundary semantics can't differ)."""
    from cdap_geo_spark.operators.geoops import st_pointify
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    sub = regions.filter(F.col("region_id") % 10 == 0)
    pf = st_pointify(333.0)(F.col("geometry"))
    return sub.select(F.col("region_id").cast("long"),
                      pf["count"].cast("long").alias("n_points"))


def _q_intersection_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused pairwise clip area over the bbox-join pairs (doc boxes x
    region boxes); oracle = the rect-overlap closed form. Integer
    coordinates keep both sides FP-exact."""
    from cdap_geo_spark import udfs
    from cdap_geo_spark.operators.sjoin import sjoin
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    dboxes = R.doc_boxes(spark, sf_dir)
    regions = R.region_boxes(spark, sf_dir).select("region_id", "geometry")
    pairs = sjoin(dboxes, regions, left_id="doc_id", right_id="region_id",
                  predicate="bbox")
    area = udfs.st_intersection_area()(F.col("geometry"),
                                       F.col("geometry_right"))
    return pairs.select(F.col("doc_id").cast("long"),
                        F.col("region_id").cast("long"),
                        area.cast("long").alias("ia"))


def _q_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constructive dissolve (st_group / unary_union): union region
    boxes per group key; union_area counts overlaps ONCE (slab
    decomposition kernel). Oracle: the classic rectangle-union sweep
    in pure SQL — x-breakpoints, per-slab y-interval union via window
    functions. Integer coordinates keep both sides FP-exact."""
    from cdap_geo_spark.operators.geoops import st_group
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    df = regions.select((F.col("region_id") % 25).cast("long").alias("gid"),
                        "geometry")
    out = st_group(df, "gid")
    return out.select(F.col("gid"),
                      F.col("n_parts").cast("long").alias("n_parts"),
                      F.col("union_area").cast("long").alias("union_area"))


def _q_global_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark import udfs
    from cdap_geo_spark.functions.relational import global_bounds
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    pts = R.doc_points(spark, sf_dir)
    b = udfs.st_bounds()(F.col("geometry"))
    bdf = pts.select(b["minx"].alias("minx"), b["miny"].alias("miny"),
                     b["maxx"].alias("maxx"), b["maxy"].alias("maxy"))
    out = global_bounds(bdf)
    return out.select(F.col("minx").cast("long"), F.col("miny").cast("long"),
                      F.col("maxx").cast("long"), F.col("maxy").cast("long"))


def _q_groupmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.functions.relational import sdf_groupmax
    li = _tbl(spark, sf_dir, "lineitem")
    out = sdf_groupmax(li, "l_orderkey", "l_extendedprice")
    return out.select(F.col("l_orderkey").cast("long"),
                      F.col("l_linenumber").cast("long"),
                      F.col("l_extendedprice"))


# ---- training-data pipeline operators (documents/embeddings tables) ------

def _docs(spark, sf_dir):
    return _tbl(spark, sf_dir, "documents")


def _tbl(spark, sf_dir, name):
    # single-file parquet = 1 partition: every map-side pipeline before
    # the first exchange would run in ONE task (measured: snap_points 8
    # tasks / 7.8 s, variogram 5 tasks / 4.0 s). ensure_min_parallelism
    # widens narrow scans only - at production scale (partitions >=
    # cores) it is a provable no-op and inserts nothing.
    # Width = max(8, cores/4), NOT the full core count: the widening
    # exists to escape serial map stages, and every extra slice
    # multiplies per-task scheduling overhead through all downstream
    # stages until the first AQE-coalesced exchange. Measured min-of-2
    # at sf0.1/local[32]: snap_points 5.35 s serial / 1.89 s at 8 /
    # 1.64 s at 32, while a light query (pivot) pays 0.48 / 0.99 /
    # 1.92 s - width 8 keeps ~90% of the heavy-stage win at a third of
    # the light-query tax.
    from cdap_geo_spark.functions.relational import ensure_min_parallelism
    dp = spark.sparkContext.defaultParallelism
    return ensure_min_parallelism(
        spark.read.parquet(f"{sf_dir}/{name}.parquet"),
        target=min(dp, max(8, dp // 4)))


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.dedup import exact_dedup
    out = exact_dedup(_docs(spark, sf_dir))
    return out.select("digest", F.col("keeper").cast("long"),
                      F.col("n_docs").cast("long"))


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count plus the BPE-ish pretoken count (GPT-2-
    style pretokenizer in the Java∩RE2 regex subset) — both native."""
    from cdap_geo_spark.operators.text import token_count, tokens_bpeish
    d = _docs(spark, sf_dir)
    return d.select(F.col("doc_id").cast("long"),
                    token_count(F.col("text")).cast("long")
                    .alias("n_tokens"),
                    tokens_bpeish(F.col("text")).cast("long")
                    .alias("n_bpeish"))


def _q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/text.doc_chunks):
    size-64 windows, 16-token overlap; all map-side (split + bounded
    sequence explode, no shuffle); exact integer index arithmetic."""
    from cdap_geo_spark.operators.text import doc_chunks
    out = doc_chunks(_docs(spark, sf_dir), size=64, overlap=16)
    return out.select(F.col("doc_id").cast("long"), "chunk_id",
                      "start_tok", "n_tok", "chunk_text")


def _doc_chunks_sql() -> str:
    size, stride = 64, 48
    return f"""
      WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
        WHERE text IS NOT NULL AND len(trim(text)) > 0
      ),
      s AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
      m AS (
        SELECT doc_id, toks, n,
               CASE WHEN n <= {size} THEN 1
                    ELSE 1 + (n - {size} + {stride} - 1) // {stride}
               END AS m
        FROM s
      ),
      c AS (
        SELECT doc_id, toks, n,
               UNNEST(generate_series(0, m - 1)) AS chunk_id
        FROM m
      )
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(chunk_id AS BIGINT) AS chunk_id,
             CAST(chunk_id * {stride} AS BIGINT) AS start_tok,
             CAST(LEAST({size}, n - chunk_id * {stride}) AS BIGINT)
               AS n_tok,
             array_to_string(
               toks[chunk_id * {stride} + 1 :
                    chunk_id * {stride}
                    + LEAST({size}, n - chunk_id * {stride})],
               ' ') AS chunk_text
      FROM c
    """


def _q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel census (operators/text.filter_funnel):
    first-match attribution, every rule an exact integer predicate
    (ratios as cross-multiplications); tighter bounds than the
    defaults so several rules actually fire on the corpus."""
    from cdap_geo_spark.operators.text import filter_funnel
    return filter_funnel(_docs(spark, sf_dir), min_tokens=40,
                         max_chars=500, min_mwl=5, max_mwl=6,
                         max_symbol_pct=2)


def _filter_funnel_sql() -> str:
    return """
      WITH f AS (
        SELECT CASE
          WHEN text IS NULL OR len(trim(text)) = 0 THEN 'empty'
          WHEN len(regexp_split_to_array(trim(text), '\\s+')) < 40
            THEN 'too_short'
          WHEN len(text) > 500 THEN 'too_long'
          WHEN len(regexp_replace(text, '\\s', '', 'g'))
                 < 5 * len(regexp_split_to_array(trim(text), '\\s+'))
            OR len(regexp_replace(text, '\\s', '', 'g'))
                 > 6 * len(regexp_split_to_array(trim(text), '\\s+'))
            THEN 'word_len'
          WHEN 100 * len(regexp_replace(text, '[A-Za-z0-9\\s]', '',
                                        'g'))
                 > 2 * len(text) THEN 'symbol_ratio'
          ELSE 'kept' END AS rule
        FROM documents
      )
      SELECT rule, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM f GROUP BY 1
    """


def _q_span_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input_hint's per-row invariant, made a named audited query:
    every interleaved doc's span sequence (kind, text, media_ref,
    order) survives a REAL stage boundary — spans are exploded to
    rows, shuffled, and reassembled by offset — and the geometry
    span's WKB round-trips through the Arrow-vectorized decoder to
    the coordinates the doc arithmetic dictates. Output per doc:
    (doc_id, n_spans, fp = md5 over the ordered kind|text|offset
    sequence, geom_ok). The oracle computes fp directly from the
    SOURCE table — equality IS the stage-invariance proof."""
    from cdap_geo_spark.sources import relational as R
    from cdap_geo_spark import udfs
    docs = R.interleaved_docs(spark, sf_dir)
    ex = docs.select("doc_id", F.explode("spans").alias("s"))
    re = (ex.repartition(16, "doc_id")
          .groupBy("doc_id")
          .agg(F.sort_array(F.collect_list(F.struct(
              F.col("s.offset").alias("offset"),
              F.col("s.kind").alias("kind"),
              F.col("s.text").alias("text"),
              F.col("s.media_ref").alias("media_ref")))).alias("sp")))
    items = F.transform(
        "sp", lambda s: F.concat_ws(
            "|", s["kind"], F.coalesce(s["text"], F.lit("~")),
            s["offset"].cast("string")))
    fp = F.md5(F.concat_ws("\x1f", items))
    geom_hex = F.filter(
        "sp", lambda s: s["kind"] == F.lit("geometry"))[0]["media_ref"]
    xy = udfs.st_centroid_xy()(F.unhex(geom_hex))
    ok = ((xy["x"].cast("long")
           == (F.col("doc_id") * 48271 + 17) % 700000)
          & (xy["y"].cast("long")
             == (F.col("doc_id") * 69621 + 29) % 1300000))
    return re.select(F.col("doc_id").cast("long"),
                     F.size("sp").cast("long").alias("n_spans"),
                     fp.alias("fp"),
                     ok.cast("long").alias("geom_ok"))


def _span_integrity_sql() -> str:
    # chr(31) joins spans; '~' is the NULL sentinel; offsets are the
    # construction's 1 and len(text)+2 — identical strings to the
    # Spark reassembly, so md5 matches bit-for-bit
    return """
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
             CAST(2 AS BIGINT) AS n_spans,
             md5('text|' || text || '|1' || chr(31)
                 || 'geometry|~|' || CAST(len(text) + 2 AS VARCHAR))
               AS fp,
             CAST(1 AS BIGINT) AS geom_ok
      FROM documents
    """


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.text import quality_features
    out = quality_features(_docs(spark, sf_dir))
    return out.select(F.col("doc_id").cast("long"),
                      "n_chars_q", "n_tokens", "n_commas", "n_periods",
                      "n_spaces", "n_the")


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.text import repetition_features
    out = repetition_features(_docs(spark, sf_dir))
    return out.select(F.col("doc_id").cast("long"), "n_2grams",
                      "n_distinct_2grams", "max_2gram_count",
                      "n_dup_2gram_instances")


#: decontamination probe: a deterministic pseudo-eval-set carved from
#: the corpus itself (every 37th doc) — shared by the Spark query and
#: the SQL oracle so both engines see the identical probe
DECONTAM_PROBE_MOD = 37


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.text import contamination_scores
    d = _docs(spark, sf_dir)
    probe = d.filter(F.col("doc_id") % DECONTAM_PROBE_MOD == 0)
    out = contamination_scores(d, probe)
    return out.select(F.col("doc_id").cast("long"),
                      "n_distinct_ngrams", "n_probe_ngrams")


#: lang_votes oracle (shared by the langid_kappa oracle)
_LANG_ID_SQL = """
  WITH v AS (
    SELECT doc_id,
      CAST((len(p)-len(replace(p,' the ','')))/5
         + (len(p)-len(replace(p,' and ','')))/5
         + (len(p)-len(replace(p,' of ','')))/4 AS BIGINT) AS votes_en,
      CAST((len(p)-len(replace(p,' der ','')))/5
         + (len(p)-len(replace(p,' und ','')))/5
         + (len(p)-len(replace(p,' die ','')))/5 AS BIGINT) AS votes_de,
      CAST((len(p)-len(replace(p,' le ','')))/4
         + (len(p)-len(replace(p,' la ','')))/4
         + (len(p)-len(replace(p,' et ','')))/4 AS BIGINT) AS votes_fr,
      CAST((len(p)-len(replace(p,' el ','')))/4
         + (len(p)-len(replace(p,' que ','')))/5
         + (len(p)-len(replace(p,' los ','')))/5 AS BIGINT) AS votes_es
    FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents))
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         votes_en, votes_de, votes_fr, votes_es,
         CASE WHEN greatest(votes_en,votes_de,votes_fr,votes_es) = 0
              THEN 'und'
              WHEN votes_de = greatest(votes_en,votes_de,votes_fr,votes_es) THEN 'de'
              WHEN votes_en = greatest(votes_en,votes_de,votes_fr,votes_es) THEN 'en'
              WHEN votes_es = greatest(votes_en,votes_de,votes_fr,votes_es) THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM v
"""


def _q_langid_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-agreement report: Cohen's kappa + accuracy of the
    lang_votes predictor against the true lang column — FULLY exact
    core: kappa = (N·Σdiag − Σ r_k·c_k)/(N² − Σ r_k·c_k) over exact
    BIGINT confusion marginals; two fixed-shape divisions."""
    from cdap_geo_spark.operators.text import lang_votes
    d = _docs(spark, sf_dir)
    pred = lang_votes(d).select("doc_id", "lang_pred")
    conf = (d.select("doc_id", F.col("lang").alias("t"))
            .join(pred, "doc_id")
            .groupBy("t", "lang_pred")
            .agg(F.count(F.lit(1)).cast("long").alias("c")))
    n = conf.agg(F.sum("c").cast("long").alias("n"))
    agree = conf.where(F.col("t") == F.col("lang_pred")) \
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long")
             .alias("n_agree"))
    rm = conf.groupBy("t").agg(F.sum("c").cast("long").alias("r"))
    cm = conf.groupBy(F.col("lang_pred").alias("t")).agg(
        F.sum("c").cast("long").alias("cc"))
    rc = (rm.join(cm, "t", "full")
          .na.fill({"r": 0, "cc": 0})
          .agg(F.sum(F.col("r") * F.col("cc")).cast("long")
               .alias("sum_rc")))
    out = n.crossJoin(agree).crossJoin(rc)
    den = (F.col("n") * F.col("n") - F.col("sum_rc"))
    kappa = F.when(den != 0,
                   F.round((F.col("n") * F.col("n_agree")
                            - F.col("sum_rc")).cast("double")
                           * 1000000.0 / den.cast("double"))
                   .cast("long"))
    acc = F.when(F.col("n") > 0,
                 F.round(F.col("n_agree").cast("double") * 1000000.0
                         / F.col("n").cast("double")).cast("long"))
    return out.select("n", "n_agree", "sum_rc",
                      kappa.alias("kappa_micro"),
                      acc.alias("accuracy_micro"))


def _langid_kappa_sql() -> str:
    return f"""
      WITH pred AS ({_LANG_ID_SQL}),
      conf AS (
        SELECT d.lang AS t, pred.lang_pred,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM documents d JOIN pred ON pred.doc_id = d.doc_id
        GROUP BY 1, 2
      ),
      nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM conf),
      ag AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_agree
             FROM conf WHERE t = lang_pred),
      rm AS (SELECT t, CAST(SUM(c) AS BIGINT) AS r
             FROM conf GROUP BY 1),
      cm AS (SELECT lang_pred AS t, CAST(SUM(c) AS BIGINT) AS cc
             FROM conf GROUP BY 1),
      rc AS (
        SELECT CAST(SUM(COALESCE(rm.r, 0) * COALESCE(cm.cc, 0))
                 AS BIGINT) AS sum_rc
        FROM rm FULL OUTER JOIN cm ON cm.t = rm.t
      )
      SELECT nn.n, ag.n_agree, rc.sum_rc,
             CASE WHEN nn.n * nn.n - rc.sum_rc <> 0 THEN
               CAST(ROUND(CAST(nn.n * ag.n_agree - rc.sum_rc
                               AS DOUBLE) * 1000000.0
                    / CAST(nn.n * nn.n - rc.sum_rc AS DOUBLE))
                 AS BIGINT) END AS kappa_micro,
             CASE WHEN nn.n > 0 THEN
               CAST(ROUND(CAST(ag.n_agree AS DOUBLE) * 1000000.0
                    / CAST(nn.n AS DOUBLE)) AS BIGINT) END
               AS accuracy_micro
      FROM nn CROSS JOIN ag CROSS JOIN rc
    """


def _q_langid_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the lang_votes predictor —
    the class-level companion to langid_kappa. Exact: tp/fp/fn are
    BIGINT counts off the confusion relation (full outer across the
    asymmetric label sets), and F1 uses the single-division identity
    F1 = 2tp/(2tp+fp+fn) — no p·r/(p+r) float chain."""
    from cdap_geo_spark.operators.text import lang_votes
    d = _docs(spark, sf_dir)
    pred = lang_votes(d).select("doc_id", "lang_pred")
    j = d.select("doc_id", F.col("lang").alias("t")).join(pred,
                                                          "doc_id")
    tp = (j.where(F.col("t") == F.col("lang_pred"))
          .groupBy(F.col("t").alias("label"))
          .agg(F.count(F.lit(1)).cast("long").alias("tp")))
    rm = j.groupBy(F.col("t").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("_support"))
    cm = j.groupBy(F.col("lang_pred").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("_predicted"))
    out = (rm.join(cm, "label", "full").join(tp, "label", "left")
           .na.fill({"tp": 0, "_support": 0, "_predicted": 0}))
    fp = (F.col("_predicted") - F.col("tp")).cast("long")
    fn = (F.col("_support") - F.col("tp")).cast("long")

    def ratio(num, den):
        return F.when(den > 0,
                      F.round(num.cast("double") * 1000000.0
                              / den.cast("double")).cast("long"))

    return out.select(
        "label", "tp", fp.alias("fp"), fn.alias("fn"),
        ratio(F.col("tp"), F.col("_predicted"))
        .alias("precision_micro"),
        ratio(F.col("tp"), F.col("_support")).alias("recall_micro"),
        ratio(2 * F.col("tp"), 2 * F.col("tp") + fp + fn)
        .alias("f1_micro"))


def _langid_prf_sql() -> str:
    return f"""
      WITH pred AS ({_LANG_ID_SQL}),
      j AS (
        SELECT d.lang AS t, pred.lang_pred
        FROM documents d JOIN pred ON pred.doc_id = d.doc_id
      ),
      tp AS (SELECT t AS label, CAST(COUNT(*) AS BIGINT) AS tp
             FROM j WHERE t = lang_pred GROUP BY 1),
      rm AS (SELECT t AS label, CAST(COUNT(*) AS BIGINT) AS support
             FROM j GROUP BY 1),
      cm AS (SELECT lang_pred AS label,
                    CAST(COUNT(*) AS BIGINT) AS predicted
             FROM j GROUP BY 1),
      u AS (
        SELECT COALESCE(rm.label, cm.label) AS label,
               COALESCE(rm.support, 0) AS support,
               COALESCE(cm.predicted, 0) AS predicted
        FROM rm FULL OUTER JOIN cm ON cm.label = rm.label
      ),
      f AS (
        SELECT u.label, COALESCE(tp.tp, 0) AS tp,
               u.predicted - COALESCE(tp.tp, 0) AS fp,
               u.support - COALESCE(tp.tp, 0) AS fn,
               u.predicted, u.support
        FROM u LEFT JOIN tp ON tp.label = u.label
      )
      SELECT label, CAST(tp AS BIGINT) AS tp,
             CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
             CASE WHEN predicted > 0 THEN
               CAST(ROUND(CAST(tp AS DOUBLE) * 1000000.0
                    / CAST(predicted AS DOUBLE)) AS BIGINT) END
               AS precision_micro,
             CASE WHEN support > 0 THEN
               CAST(ROUND(CAST(tp AS DOUBLE) * 1000000.0
                    / CAST(support AS DOUBLE)) AS BIGINT) END
               AS recall_micro,
             CASE WHEN 2*tp + fp + fn > 0 THEN
               CAST(ROUND(CAST(2*tp AS DOUBLE) * 1000000.0
                    / CAST(2*tp + fp + fn AS DOUBLE)) AS BIGINT) END
               AS f1_micro
      FROM f
    """


def _q_markov_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov predictability per user — the companion to
    visit_entropy's theoretical bound: in-sample accuracy of the
    most-frequent-successor predictor over the user's cell
    transitions. Exact: per-(user, cur) successor histograms; only
    the MAX successor count matters (ties change which cell wins,
    never the accuracy), so everything is integer aggregation +
    one fixed-shape division."""
    from pyspark.sql import Window
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull()) \
        .selectExpr(
            "user_id AS u", "event_id",
            "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
            "((event_id*48271 + 17) % 700000) DIV 100000 * 13"
            " + ((event_id*69621 + 29) % 1300000) DIV 100000 AS loc")
    w = Window.partitionBy("u").orderBy("us", "event_id")
    tr = ev.select("u", F.col("loc").alias("cur"),
                   F.lead("loc").over(w).alias("nxt")) \
        .where(F.col("nxt").isNotNull())
    h = tr.groupBy("u", "cur", "nxt").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    best = h.groupBy("u", "cur").agg(
        F.sum("c").cast("long").alias("_tot"),
        F.max("c").cast("long").alias("_bc"))
    per_u = best.groupBy("u").agg(
        F.sum("_tot").cast("long").alias("n_transitions"),
        F.sum("_bc").cast("long").alias("n_correct"))
    acc = F.when(F.col("n_transitions") > 0,
                 F.round(F.col("n_correct").cast("double") * 1000000.0
                         / F.col("n_transitions").cast("double"))
                 .cast("long"))
    return per_u.select(F.col("u").cast("long").alias("user_id"),
                        "n_transitions", "n_correct",
                        acc.alias("mfc_acc_micro"))


def _markov_pred_sql() -> str:
    return """
      WITH ev AS (
        SELECT user_id AS u, event_id, epoch_us(ts) AS us,
               ((event_id*48271 + 17) % 700000) // 100000 * 13
               + ((event_id*69621 + 29) % 1300000) // 100000 AS loc
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      ),
      tr AS (
        SELECT u, loc AS cur,
               LEAD(loc) OVER (PARTITION BY u
                               ORDER BY us, event_id) AS nxt
        FROM ev
      ),
      h AS (SELECT u, cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
            FROM tr WHERE nxt IS NOT NULL GROUP BY 1, 2, 3),
      best AS (
        SELECT u, cur, CAST(SUM(c) AS BIGINT) AS tot,
               CAST(MAX(c) AS BIGINT) AS bc
        FROM h GROUP BY 1, 2
      ),
      p AS (
        SELECT u, CAST(SUM(tot) AS BIGINT) AS n_transitions,
               CAST(SUM(bc) AS BIGINT) AS n_correct
        FROM best GROUP BY 1
      )
      SELECT CAST(u AS BIGINT) AS user_id, n_transitions, n_correct,
             CASE WHEN n_transitions > 0 THEN
               CAST(ROUND(CAST(n_correct AS DOUBLE) * 1000000.0
                    / CAST(n_transitions AS DOUBLE)) AS BIGINT) END
               AS mfc_acc_micro
      FROM p
    """


def _q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth checkpoints: distinct vocabulary
    and total tokens after 25/50/75/100% of the corpus (doc_id
    order — the deterministic 'ingestion order'). Exact: per-token
    FIRST doc (one min agg over the exploded relation), per-doc
    token counts, and each checkpoint a conditional sum; cutoffs =
    (N·k) DIV 4 over the actual doc count."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    toks = d.select("doc_id",
                    F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                      r"\s+")).alias("t")) \
        .where(F.col("t") != "")
    first = toks.groupBy("t").agg(F.min("doc_id").alias("_fd"))
    dtc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("_ntok"))
    n = d.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    outs = []
    for k in (1, 2, 3, 4):
        v = (first.crossJoin(F.broadcast(n))
             .agg(F.sum(F.when(F.col("_fd") < F.expr(f"_n*{k} DIV 4"),
                               1).otherwise(0)).cast("long")
                  .alias("vocab")))
        t = (dtc.crossJoin(F.broadcast(n))
             .agg(F.sum(F.when(F.col("doc_id")
                               < F.expr(f"_n*{k} DIV 4"),
                               F.col("_ntok")).otherwise(0))
                  .cast("long").alias("n_tokens"),
                  F.sum(F.when(F.col("doc_id")
                               < F.expr(f"_n*{k} DIV 4"), 1)
                        .otherwise(0)).cast("long").alias("n_docs")))
        outs.append(t.crossJoin(v).crossJoin(F.broadcast(n)).select(
            F.lit(k).cast("long").alias("quarter"),
            F.expr(f"_n*{k} DIV 4").cast("long").alias("cutoff"),
            "n_docs", "n_tokens", "vocab"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _vocab_growth_sql() -> str:
    parts = []
    for k in (1, 2, 3, 4):
        parts.append(f"""
        SELECT CAST({k} AS BIGINT) AS quarter,
               CAST(n.n * {k} // 4 AS BIGINT) AS cutoff,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM dtc, n
                WHERE doc_id < n.n * {k} // 4) AS n_docs,
               (SELECT CAST(COALESCE(SUM(ntok), 0) AS BIGINT)
                FROM dtc, n WHERE doc_id < n.n * {k} // 4)
                 AS n_tokens,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM first, n
                WHERE fd < n.n * {k} // 4) AS vocab
        FROM n""")
    body = " UNION ALL ".join(parts)
    return f"""
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(
                 regexp_split_to_array(lower(trim(text)), '\\s+'),
                 x -> x <> '')) AS t
        FROM documents WHERE text IS NOT NULL
      ),
      first AS (SELECT t, MIN(doc_id) AS fd FROM toks GROUP BY 1),
      dtc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ntok
              FROM toks GROUP BY 1),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
            WHERE text IS NOT NULL)
      {body}
    """


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.text import lang_votes
    out = lang_votes(_docs(spark, sf_dir))
    return out.select(F.col("doc_id").cast("long"), "votes_en", "votes_de",
                      "votes_fr", "votes_es", "lang_pred")


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.dedup import ngram_jaccard_pairs
    out = ngram_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold_pct=40)
    return out.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"),
                      F.col("inter").cast("long"), F.col("uni").cast("long"))


#: stratified-sample thresholds: computed ONCE in python and embedded
#: verbatim in both the Spark filter and the SQL oracle, so the two
#: engines compare against bit-identical integers
SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25}
SAMPLE_SEED = 17


def _q_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship over the near-dup clusters (operators/dedup.
    golden_records): one golden record per cluster (singletons
    included), survivor = highest n_chars, ties to smallest doc_id —
    a deterministic total rule, so the keeper set hash-matches the
    recursive-CTE twin."""
    from cdap_geo_spark.operators.dedup import (golden_records,
                                                ngram_jaccard_pairs)
    d = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(d, k=5, threshold_pct=60)
    out = golden_records(d, pairs)
    return out.select(F.col("cluster").cast("long"),
                      F.col("golden_id").cast("long"),
                      "n_members", "max_quality")


def _q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection (operators/timeseries.stay_points) over
    hover-with-excursion synthetic positions: exact squared-distance
    run splits, micro-exact durations, centroid = one double divide
    of exact sums per axis; ONE keyed exchange."""
    from cdap_geo_spark.operators.timeseries import stay_points
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("x", (F.col("user_id") * 7919) % 600000
                    + (F.col("event_id") * 48271 + 17) % 1501
                    + F.when(F.col("event_id") % 13 == 0,
                             F.lit(150000)).otherwise(F.lit(0))) \
        .withColumn("y", (F.col("user_id") * 6133) % 1200000
                    + (F.col("event_id") * 69621 + 29) % 1301
                    + F.when(F.col("event_id") % 11 == 0,
                             F.lit(150000)).otherwise(F.lit(0)))
    out = stay_points(ev, max_jump=10_000, min_duration_s=3600,
                      min_points=3)
    return out.select(F.col("user_id").cast("long"),
                      F.col("seg").cast("long"), "n_points",
                      "first_us", "last_us", "duration_us",
                      "cx_u", "cy_u")


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum corpus sampling: keep-decision =
    md5(doc_id:seed) 60-bit prefix < fraction*2^60 — map-side only,
    retry/resume-stable (the decision rides the row, not partition
    RNG state). Oracle recomputes the identical hash threshold."""
    from cdap_geo_spark.operators.text import stratified_sample
    out = stratified_sample(_docs(spark, sf_dir), SAMPLE_FRACTIONS,
                            strata_col="lang", seed=SAMPLE_SEED)
    return out.select(F.col("doc_id").cast("long"), "lang")


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus vocabulary top-k: explode -> map-side-partial
    hash-groupBy (shuffle bounded by vocabulary) -> distributed
    TakeOrderedAndProject top-k; ties by token."""
    from cdap_geo_spark.operators.text import vocab_topk
    out = vocab_topk(_docs(spark, sf_dir), k=20)
    return out.select("token", F.col("count").cast("long"),
                      F.col("rank").cast("long"))


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end: ngram-jaccard pair graph ->
    connected components (iterative min-label propagation with
    per-round localCheckpoint — the dedup endgame: one keeper per
    component). Clustering over 5-gram jaccard >= 60% — the
    conventional near-dup cut (5-gram shingles like minhash; the k=3
    pair QUERY keeps its tiny gram space as a verify-path stress
    test, but as a clustering signal 3-grams saturate). Oracle:
    recursive-CTE transitive closure over the same pair set."""
    from cdap_geo_spark.operators.dedup import (dedup_components,
                                                ngram_jaccard_pairs)
    pairs = ngram_jaccard_pairs(_docs(spark, sf_dir), k=5,
                                threshold_pct=60)
    out = dedup_components(pairs)
    return out.select(F.col("node").cast("long"),
                      F.col("component").cast("long"))


#: od_matrix oracle (shared by the gravity oracle): per-user
#: first/last endpoints snapped to 100km cells and counted.
_OD_SQL = """
  WITH b AS (
    SELECT user_id, ts, event_id,
           CAST((event_id*48271 + 17) % 700000  AS BIGINT) AS x,
           CAST((event_id*69621 + 29) % 1300000 AS BIGINT) AS y
    FROM events WHERE ts IS NOT NULL
  ), r AS (
    SELECT user_id, x, y,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rf,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC)
             AS rl
    FROM b
  ), ends AS (
    SELECT user_id,
           MAX(CASE WHEN rf = 1 THEN x END) AS ox,
           MAX(CASE WHEN rf = 1 THEN y END) AS oy,
           MAX(CASE WHEN rl = 1 THEN x END) AS dx,
           MAX(CASE WHEN rl = 1 THEN y END) AS dy
    FROM r GROUP BY user_id
  )
  SELECT ox // 100000 AS o_cx, oy // 100000 AS o_cy,
         dx // 100000 AS d_cx, dy // 100000 AS d_cy,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM ends GROUP BY 1, 2, 3, 4
"""


#: blob-mix point field for dbscan: every 20th event sits in one of 40
#: lattice-separated 4000-unit blobs (spacing >> eps, so clusters can
#: never merge across blobs); the rest is the usual uniform scatter.
_DBSCAN_PTS = """
  SELECT event_id AS id,
         CASE WHEN event_id % 20 = 0
              THEN ((event_id // 20) % 40) % 8 * 81000 + 5000
                   + (event_id*331 + 7) % 4000
              ELSE (event_id*48271 + 17) % 700000 END AS x,
         CASE WHEN event_id % 20 = 0
              THEN ((event_id // 20) % 40) // 8 * 200000 + 7000
                   + (event_id*677 + 13) % 4000
              ELSE (event_id*69621 + 29) % 1300000 END AS y
  FROM events
"""


def _q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact point-level DBSCAN (operators/cluster.dbscan): eps-graph
    from one cell join, core flags by exact neighbor counts,
    components by pointer-jumping min-label propagation, border =
    min neighboring core cluster, noise NULL."""
    from cdap_geo_spark.operators.cluster import dbscan
    ev = _tbl(spark, sf_dir, "events").selectExpr(
        "event_id AS id",
        "CASE WHEN event_id % 20 = 0"
        " THEN ((event_id DIV 20) % 40) % 8 * 81000 + 5000"
        "      + (event_id*331 + 7) % 4000"
        " ELSE (event_id*48271 + 17) % 700000 END AS x",
        "CASE WHEN event_id % 20 = 0"
        " THEN ((event_id DIV 20) % 40) DIV 8 * 200000 + 7000"
        "      + (event_id*677 + 13) % 4000"
        " ELSE (event_id*69621 + 29) % 1300000 END AS y")
    return dbscan(ev, eps=2_000, min_pts=5)


def _dbscan_sql() -> str:
    eps, minpts = 2_000, 5
    return f"""
      WITH RECURSIVE b AS MATERIALIZED ({_DBSCAN_PTS}),
      o AS (SELECT ox, oy FROM (VALUES (-1), (0), (1)) t(ox),
                                (VALUES (-1), (0), (1)) u(oy)),
      l AS (SELECT id, x, y, x // {eps} + ox AS cx,
                   y // {eps} + oy AS cy
            FROM b, o),
      p AS MATERIALIZED (
        SELECT l.id AS i, r.id AS j FROM l JOIN b r
          ON l.cx = r.x // {eps} AND l.cy = r.y // {eps}
         AND l.id <> r.id
         AND (l.x - r.x) * (l.x - r.x)
             + (l.y - r.y) * (l.y - r.y) <= {eps * eps}
      ),
      deg AS (SELECT i, COUNT(*) + 1 AS n FROM p GROUP BY 1),
      core AS MATERIALIZED (
        SELECT b.id AS c FROM b LEFT JOIN deg ON deg.i = b.id
        WHERE COALESCE(deg.n, 1) >= {minpts}
      ),
      ce AS MATERIALIZED (
        SELECT p.i, p.j FROM p
        JOIN core x ON x.c = p.i JOIN core y ON y.c = p.j
      ),
      reach(src, dst) AS (
        SELECT i, j FROM ce
        UNION
        SELECT r.src, e.j FROM reach r JOIN ce e ON e.i = r.dst
      ),
      assign AS (SELECT src AS node, LEAST(src, MIN(dst)) AS comp
                 FROM reach GROUP BY src),
      corelab AS (
        SELECT c.c AS id, COALESCE(a.comp, c.c) AS cluster,
               'core' AS kind
        FROM core c LEFT JOIN assign a ON a.node = c.c
      ),
      borderlab AS (
        SELECT p.i AS id, MIN(cl.cluster) AS cluster, 'border' AS kind
        FROM p JOIN corelab cl ON cl.id = p.j
        WHERE p.i NOT IN (SELECT c FROM core)
        GROUP BY p.i
      ),
      lab AS (SELECT * FROM corelab UNION ALL SELECT * FROM borderlab)
      SELECT CAST(b.id AS BIGINT) AS id,
             CAST(lab.cluster AS BIGINT) AS cluster,
             COALESCE(lab.kind, 'noise') AS kind
      FROM b LEFT JOIN lab ON lab.id = b.id
    """


#: exact cosine top-5 ground truth (shared by the ann_recall oracle)
_COSINE_TOPK_SQL = """
  WITH q AS (SELECT vec_id AS query_id,
                    CAST(embedding AS DOUBLE[]) AS qv
             FROM embeddings WHERE vec_id % 20 = 0),
  scored AS (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]), q.qv) DESC,
               e.vec_id) AS rank
    FROM embeddings e CROSS JOIN q)
  SELECT CAST(query_id AS BIGINT) AS query_id,
         CAST(vec_id AS BIGINT) AS vec_id,
         CAST(rank AS BIGINT) AS rank
  FROM scored WHERE rank <= 5
"""


def _q_percolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation profile of the blob-mix density field: grid
    component structure at a density-threshold ladder (operators/
    cluster.grid_cluster per threshold) — n_dense cells, component
    count, largest component (cells and points). The classic
    connectivity-vs-threshold curve, exact BIGINTs throughout."""
    from cdap_geo_spark.operators.cluster import grid_cluster
    pts = _tbl(spark, sf_dir, "events").selectExpr(
        "CASE WHEN event_id % 20 = 0"
        " THEN ((event_id DIV 20) % 40) % 8 * 81000 + 5000"
        "      + (event_id*331 + 7) % 4000"
        " ELSE (event_id*48271 + 17) % 700000 END AS x",
        "CASE WHEN event_id % 20 = 0"
        " THEN ((event_id DIV 20) % 40) DIV 8 * 200000 + 7000"
        "      + (event_id*677 + 13) % 4000"
        " ELSE (event_id*69621 + 29) % 1300000 END AS y")
    outs = []
    for t in (2, 4, 8):
        gc = grid_cluster(pts, cell_size=20_000, min_pts=t)
        per = gc.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("_cells"),
            F.sum("n_pts").alias("_pts"))
        outs.append(per.agg(
            F.lit(t).cast("long").alias("min_pts"),
            F.coalesce(F.sum("_cells"), F.lit(0)).cast("long")
            .alias("n_dense"),
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.coalesce(F.max("_cells"), F.lit(0)).cast("long")
            .alias("largest_cells"),
            F.coalesce(F.max("_pts"), F.lit(0)).cast("long")
            .alias("largest_pts")))
    out = outs[0].unionByName(outs[1]).unionByName(outs[2])
    return out


def _percolation_sql() -> str:
    from cdap_geo_spark.operators.cluster import grid_cluster_oracle_sql
    pts = _DBSCAN_PTS.replace("SELECT event_id AS id,",
                              "SELECT")
    parts = []
    for t in (2, 4, 8):
        inner = grid_cluster_oracle_sql(pts, cell_size=20_000,
                                        min_pts=t)
        parts.append(f"""
        SELECT CAST({t} AS BIGINT) AS min_pts,
               CAST(COALESCE(SUM(cells), 0) AS BIGINT) AS n_dense,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(COALESCE(MAX(cells), 0) AS BIGINT)
                 AS largest_cells,
               CAST(COALESCE(MAX(pts), 0) AS BIGINT) AS largest_pts
        FROM (SELECT cluster, COUNT(*) AS cells, SUM(n_pts) AS pts
              FROM ({inner}) GROUP BY cluster)""")
    return " UNION ALL ".join(parts)


def _q_locational_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locational Gini of activity across 20km cells per event_type
    (documented REUSE of operators/timeseries.grouped_gini with the
    cell-count histogram as the value vector): how unevenly is each
    behaviour distributed over space."""
    from cdap_geo_spark.operators.timeseries import grouped_gini
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("event_type").isNotNull()) \
        .selectExpr("event_type AS g",
                    "((event_id*48271 + 17) % 700000) DIV 20000 * 65"
                    " + ((event_id*69621 + 29) % 1300000) DIV 20000"
                    " AS cell")
    hist = ev.groupBy("g", "cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"))
    out = grouped_gini(hist, group="g", value_col="n_ev")
    return out.select("g", "n", "sum_x", "gini_micro")


def _locational_gini_sql() -> str:
    return """
      WITH h AS (
        SELECT event_type AS g,
               ((event_id*48271 + 17) % 700000) // 20000 * 65
               + ((event_id*69621 + 29) % 1300000) // 20000 AS cell,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type IS NOT NULL
        GROUP BY 1, 2
      ),
      r AS (
        SELECT g, x,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS i
        FROM h
      ),
      a AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sum_x,
               CAST(SUM(i * x) AS BIGINT) AS sixi
        FROM r GROUP BY 1
      )
      SELECT g, n, sum_x,
             CASE WHEN sum_x > 0 THEN
               CAST(ROUND(CAST(2 * sixi - (n + 1) * sum_x AS DOUBLE)
                    / CAST(n * sum_x AS DOUBLE) * 1000000.0)
                 AS BIGINT) END AS gini_micro
      FROM a
    """


def _q_returners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returners-vs-explorers split (Pappalardo et al.): per user the
    share of visits concentrated in the top-2 cells — exact integer
    counts, ties by smallest cell id, one fixed-shape division;
    label by exact cross-multiplication (share > 1/2)."""
    from pyspark.sql import Window
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("user_id").isNotNull()) \
        .selectExpr("user_id AS u",
                    "((event_id*48271 + 17) % 700000) DIV 100000 * 13"
                    " + ((event_id*69621 + 29) % 1300000)"
                    " DIV 100000 AS cell")
    h = ev.groupBy("u", "cell").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("u").orderBy(F.desc("c"), "cell")
    r = h.select("u", "c", F.row_number().over(w).alias("rn"))
    agg = r.groupBy("u").agg(
        F.sum("c").cast("long").alias("n_obs"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(F.when(F.col("rn") <= 2, F.col("c")).otherwise(0))
        .cast("long").alias("top2"))
    share = F.round(F.col("top2").cast("double") * 1000000.0
                    / F.col("n_obs").cast("double")).cast("long")
    label = F.when(2 * F.col("top2") > F.col("n_obs"), "returner") \
        .otherwise("explorer")
    return agg.select(F.col("u").cast("long").alias("user_id"),
                      "n_obs", "n_cells", "top2",
                      share.alias("top2_share_micro"),
                      label.alias("label"))


def _returners_sql() -> str:
    return """
      WITH h AS (
        SELECT user_id AS u,
               ((event_id*48271 + 17) % 700000) // 100000 * 13
               + ((event_id*69621 + 29) % 1300000) // 100000 AS cell,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE user_id IS NOT NULL
        GROUP BY 1, 2
      ),
      r AS (
        SELECT u, c,
               ROW_NUMBER() OVER (PARTITION BY u
                                  ORDER BY c DESC, cell) AS rn
        FROM h
      ),
      a AS (
        SELECT u, CAST(SUM(c) AS BIGINT) AS n_obs,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(SUM(CASE WHEN rn <= 2 THEN c ELSE 0 END)
                 AS BIGINT) AS top2
        FROM r GROUP BY 1
      )
      SELECT CAST(u AS BIGINT) AS user_id, n_obs, n_cells, top2,
             CAST(ROUND(CAST(top2 AS DOUBLE) * 1000000.0
                  / CAST(n_obs AS DOUBLE)) AS BIGINT)
               AS top2_share_micro,
             CASE WHEN 2 * top2 > n_obs THEN 'returner'
                  ELSE 'explorer' END AS label
      FROM a
    """


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.embeddings import cosine_topk
    emb = _tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 20 == 0) \
                    .select(F.col("vec_id").alias("query_id"), "embedding")
    out = cosine_topk(emb, queries_df, k=5)
    return out.select(F.col("query_id").cast("long"),
                      F.col("vec_id").cast("long"),
                      F.col("rank").cast("long"))


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.dedup import minhash_lsh_pairs
    out = minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)
    return out.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))


def _q_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-harness evaluation (the band-calibration report nobody
    skips at 10^12 docs): empirical precision/recall of the
    MinHash+LSH candidate generator (threshold 0.5) against the
    exact 5-gram-jaccard>=60% ground truth. Both pair relations are
    the ALREADY-ORACLED operators; counts exact BIGINT, the two
    ratios one fixed-shape division each."""
    from cdap_geo_spark.operators.dedup import (minhash_lsh_pairs,
                                                ngram_jaccard_pairs)
    docs = _docs(spark, sf_dir)
    true = ngram_jaccard_pairs(docs, k=5, threshold_pct=60) \
        .select("id_a", "id_b")
    det = minhash_lsh_pairs(docs, threshold=0.5) \
        .select("id_a", "id_b")
    both = true.join(det, ["id_a", "id_b"])
    nt = true.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    nd = det.agg(F.count(F.lit(1)).cast("long").alias("n_det"))
    nb = both.agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    out = nt.crossJoin(nd).crossJoin(nb)
    prec = F.when(F.col("n_det") > 0,
                  F.round(F.col("n_both").cast("double") * 1000000.0
                          / F.col("n_det").cast("double"))
                  .cast("long"))
    rec = F.when(F.col("n_true") > 0,
                 F.round(F.col("n_both").cast("double") * 1000000.0
                         / F.col("n_true").cast("double"))
                 .cast("long"))
    return out.select("n_true", "n_det", "n_both",
                      prec.alias("precision_micro"),
                      rec.alias("recall_micro"))


def _lsh_eval_sql() -> str:
    return f"""
      WITH t AS MATERIALIZED ({_ngram_sql(60, k=5)}),
      d AS MATERIALIZED ({_minhash_sql()}),
      tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM t),
      dd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_det FROM d),
      bb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_both
             FROM t JOIN d ON t.id_a = d.id_a AND t.id_b = d.id_b)
      SELECT tt.n_true, dd.n_det, bb.n_both,
             CASE WHEN dd.n_det > 0 THEN
               CAST(ROUND(CAST(bb.n_both AS DOUBLE) * 1000000.0
                    / CAST(dd.n_det AS DOUBLE)) AS BIGINT) END
               AS precision_micro,
             CASE WHEN tt.n_true > 0 THEN
               CAST(ROUND(CAST(bb.n_both AS DOUBLE) * 1000000.0
                    / CAST(tt.n_true AS DOUBLE)) AS BIGINT) END
               AS recall_micro
      FROM tt CROSS JOIN dd CROSS JOIN bb
    """


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.dedup import simhash_pairs
    out = simhash_pairs(_docs(spark, sf_dir), max_hamming=3)
    return out.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"),
                      F.col("hamming").cast("long"))


def _q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.embeddings import lsh_topk
    emb = _tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 20 == 0) \
                    .select(F.col("vec_id").alias("query_id"), "embedding")
    out = lsh_topk(emb, queries_df, k=5, dim=64, n_planes=10, probes=2)
    return out.select(F.col("query_id").cast("long"),
                      F.col("vec_id").cast("long"),
                      F.col("rank").cast("long"))


def _q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: corpus rows in nearest-centroid inverted lists
    (map-side assignment, corpus never shuffles), queries probe their
    4 nearest lists, exact cosine re-rank on candidates. Centroids are
    TRAINED (round 5): deterministic spherical k-means on a bounded
    id-ordered sample — the oracle retrains the identical centroids
    from the same parquet sample (ivf_train_parquet) and embeds them
    as literals, so assignment + probing + rank stay exactly
    recomputable."""
    from cdap_geo_spark.operators.embeddings import ivf_topk, ivf_train
    emb = _tbl(spark, sf_dir, "embeddings")
    cents = ivf_train(emb, dim=64, n_clusters=16)
    queries_df = emb.filter(F.col("vec_id") % 20 == 0) \
                    .select(F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_topk(emb, queries_df, k=5, dim=64, n_clusters=16, nprobe=4,
                   centroids=cents)
    return out.select(F.col("query_id").cast("long"),
                      F.col("vec_id").cast("long"),
                      F.col("rank").cast("long"))


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-quality report (the embedding twin of lsh_eval): recall@5
    of the trained-IVF index against the exact cosine top-5 — both
    ALREADY-ORACLED operators; hit counts exact BIGINT, recall one
    fixed-shape division."""
    from cdap_geo_spark.operators.embeddings import (cosine_topk,
                                                     ivf_topk,
                                                     ivf_train)
    emb = _tbl(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 20 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    exact = cosine_topk(emb, queries_df, k=5) \
        .select("query_id", "vec_id")
    cents = ivf_train(emb, dim=64, n_clusters=16)
    approx = ivf_topk(emb, queries_df, k=5, dim=64, n_clusters=16,
                      nprobe=4, centroids=cents) \
        .select("query_id", "vec_id")
    hits = exact.join(approx, ["query_id", "vec_id"])
    nq = exact.agg(F.countDistinct("query_id").cast("long")
                   .alias("n_queries"),
                   F.count(F.lit(1)).cast("long").alias("n_truth"))
    nh = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    out = nq.crossJoin(nh)
    rec = F.when(F.col("n_truth") > 0,
                 F.round(F.col("n_hits").cast("double") * 1000000.0
                         / F.col("n_truth").cast("double"))
                 .cast("long"))
    return out.select("n_queries", "n_truth", "n_hits",
                      rec.alias("recall_micro"))


def _ann_recall_sql() -> str:
    return f"""
      WITH ex AS MATERIALIZED ({_COSINE_TOPK_SQL}),
      iv AS MATERIALIZED ({_ivf_ann_sql()}),
      nq AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT)
                      AS n_queries,
                    CAST(COUNT(*) AS BIGINT) AS n_truth FROM ex),
      nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
             FROM ex JOIN iv ON ex.query_id = iv.query_id
                            AND ex.vec_id = iv.vec_id)
      SELECT nq.n_queries, nq.n_truth, nh.n_hits,
             CASE WHEN nq.n_truth > 0 THEN
               CAST(ROUND(CAST(nh.n_hits AS DOUBLE) * 1000000.0
                    / CAST(nq.n_truth AS DOUBLE)) AS BIGINT) END
               AS recall_micro
      FROM nq CROSS JOIN nh
    """


def _q_embed_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded sign-bit LSH candidates
    (same 4-bit band key in any of 4 bands; never all-pairs), exact
    native-cosine verify >= 0.4. Oracle reproduces bands + verify from
    the same seeded hyperplanes as literal arrays."""
    from cdap_geo_spark.operators.embeddings import embedding_dup_pairs
    emb = _tbl(spark, sf_dir, "embeddings")
    out = embedding_dup_pairs(emb, dim=64, threshold=0.4, bands=4,
                              rows_per_band=4)
    return out.select(F.col("ida").cast("long"),
                      F.col("idb").cast("long"))


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode under the oracle gate: each doc gets a genuine P5
    netpbm payload built natively (header + constant pixel byte, both
    pure functions of doc_id), extract_features runs the pure-NumPy
    netpbm parser (multimodal.decode_auto), and the oracle recomputes
    mean/h/w from the same arithmetic."""
    from cdap_geo_spark.operators.multimodal import (
        decode_auto, extract_features)
    d = _docs(spark, sf_dir)
    w = F.pmod(F.col("doc_id"), F.lit(8)) + 2
    h = F.pmod(F.col("doc_id"), F.lit(5)) + 2
    pix_char = F.chr(F.pmod(F.col("doc_id"), F.lit(26)) + 97)
    media = F.encode(F.concat(
        F.lit("P5\n"), w.cast("string"), F.lit(" "), h.cast("string"),
        F.lit("\n255\n"), F.repeat(pix_char, (w * h).cast("int"))),
        "utf-8")
    out = extract_features(d.select("doc_id", media.alias("media")),
                           decode=decode_auto)
    # features: [mean, std, h, w, ...] for single-channel frames
    return out.select(F.col("doc_id").cast("long"), "decode_ok",
                      F.size("features").alias("feat_dim"),
                      F.element_at("features", 1).cast("long")
                      .alias("mean_px"),
                      F.element_at("features", 3).cast("long").alias("h"),
                      F.element_at("features", 4).cast("long").alias("w"))


def _q_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PNG codec under the oracle gate: each doc gets a REAL
    zlib-compressed PNG (gray ramp rows; per-row filter type cycles
    over the five PNG filters, so inflate + every unfilter path runs
    inside the job), decode_auto decodes it in extract_features, and
    the oracle recomputes mean/h/w from the same closed-form
    arithmetic (row means are dyadic rationals, exact in float32)."""
    import numpy as np
    import pandas as pd

    from cdap_geo_spark.operators.multimodal import (
        decode_auto, encode_png, extract_features)
    d = _docs(spark, sf_dir).select("doc_id")

    def gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                h = 2 + 2 * (did % 2)
                w = did % 8 + 2
                vals = (did * 7 + 31 * np.arange(h)) % 256
                img = np.repeat(vals[:, None], w, axis=1).astype(np.uint8)
                blobs.append(encode_png(
                    img, filters=[(r * 2) % 5 for r in range(h)]))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": blobs})

    src = d.mapInPandas(gen, schema="doc_id long, media binary")
    out = extract_features(src, decode=decode_auto)
    return out.select(F.col("doc_id").cast("long"), "decode_ok",
                      F.size("features").alias("feat_dim"),
                      F.element_at("features", 1).cast("double")
                      .alias("mean_px"),
                      F.element_at("features", 3).cast("long").alias("h"),
                      F.element_at("features", 4).cast("long").alias("w"))


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.text import winnow_fingerprints
    d = _docs(spark, sf_dir)
    fp = winnow_fingerprints(k=5, window=4)(F.col("text"))
    return d.select(F.col("doc_id").cast("long"),
                    F.explode(fp).alias("fp"))


def _q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.streaming.windows import windowed_event_counts
    ev = _tbl(spark, sf_dir, "events")
    out = windowed_event_counts(ev, window="1 hour")
    # sum_value is excluded from the checked projection: double
    # summation order differs between engines (bit-level FP noise)
    return out.select(F.col("window_start").cast("string"), "event_type",
                      F.col("n_events").cast("long"))


def _q_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window distinct users via the mergeable HLL sketch relation
    (streaming/windows.windowed_distinct_hll) finalized at read time —
    the batch twin is the oracle; the streaming twin is pytest-pinned
    equal on the same rows."""
    from cdap_geo_spark.streaming.windows import windowed_distinct_hll
    from cdap_geo_spark.operators.sketch import hll_finalize
    ev = _tbl(spark, sf_dir, "events")
    rel = windowed_distinct_hll(ev, value_col="user_id",
                                window="1 hour", p=9)
    out = hll_finalize(rel, group_cols=["window_start"], p=9)
    return out.select(F.col("window_start").cast("string"),
                      "est_distinct", "n_filled")


def _q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window top-5 users by exact event count (streaming/windows.
    windowed_counts_by_key + topk_finalize): one stateful aggregation
    emits the mergeable count relation (state = active keys per
    window, watermark-evictable); the rank is a stateless read over
    windows × active keys, never the raw events."""
    from cdap_geo_spark.streaming.windows import (topk_finalize,
                                                  windowed_counts_by_key)
    ev = _tbl(spark, sf_dir, "events")
    rel = windowed_counts_by_key(ev, key_col="user_id", window="1 hour")
    out = topk_finalize(rel, k=5, key_col="user_id")
    return out.select(F.col("window_start").cast("string"),
                      F.col("user_id").cast("long"),
                      F.col("n").cast("long"), "rank")


#: hash-split cut points: python ints embedded verbatim in BOTH the
#: Spark when-chain and the SQL oracle (the stratified_sample pattern)
SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SEED = 23


def _split_cuts() -> list:
    from cdap_geo_spark.operators.text import hash_split_cuts
    return hash_split_cuts(SPLIT_FRACTIONS)


def _q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators/text.
    hash_split): md5(doc_id:seed) 60-bit prefix against cumulative
    cut points — map-side, no shuffle, leakage-stable under retries,
    repartitioning and engine changes."""
    from cdap_geo_spark.operators.text import hash_split
    out = hash_split(_docs(spark, sf_dir), SPLIT_FRACTIONS,
                     seed=SPLIT_SEED)
    return out.select(F.col("doc_id").cast("long"), "split")


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (operators/timeseries.asof_join): every click
    event matched to the user's most recent view at-or-before it — the
    union-then-window plan (ONE exchange, no inequality join)."""
    from cdap_geo_spark.operators.timeseries import asof_join
    ev = _tbl(spark, sf_dir, "events")
    out = asof_join(ev.where(F.col("event_type") == "click"),
                    ev.where(F.col("event_type") == "view"),
                    on="user_id", ts_col="ts",
                    right_cols=["event_id", "value"], tie_col="event_id")
    return out.select(F.col("event_id").cast("long"),
                      F.col("user_id").cast("long"),
                      F.col("r_event_id").cast("long"),
                      F.col("r_value"),
                      F.col("asof_lag_us").cast("long"))


def _q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user window aggregates
    (operators/timeseries.rolling_stats); the sum runs on integer-scaled
    values so it is exact and cross-engine hashable."""
    from cdap_geo_spark.operators.timeseries import rolling_stats
    ev = _tbl(spark, sf_dir, "events")
    out = rolling_stats(ev, key="user_id", ts_col="ts",
                        value_col="value", window_seconds=3600)
    return out.select(F.col("event_id").cast("long"),
                      F.col("user_id").cast("long"),
                      F.col("n_in_window").cast("long"),
                      F.col("sum_scaled").cast("long"))


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel
    (operators/timeseries.funnel_steps): per step, users reaching it in
    order plus the integer-exact total conversion lag."""
    from cdap_geo_spark.operators.timeseries import funnel_steps
    ev = _tbl(spark, sf_dir, "events")
    out = funnel_steps(ev, ["view", "click", "purchase"],
                       key="user_id", ts_col="ts")
    return out.select(F.col("step").cast("int"), "name",
                      F.col("n_keys").cast("long"),
                      F.col("sum_lag_us").cast("long"))


def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (operators/timeseries.retention_cohorts):
    per (first-active-day cohort, day offset), active users."""
    from cdap_geo_spark.operators.timeseries import retention_cohorts
    ev = _tbl(spark, sf_dir, "events")
    out = retention_cohorts(ev, key="user_id", ts_col="ts")
    return out.select(F.col("cohort_day").cast("string"),
                      F.col("offset_days").cast("int"),
                      F.col("n_active").cast("long"))


def _q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D Pareto frontier (operators/skyline.py) of the documents:
    maximize n_chars, MINIMIZE whitespace token count (anti-correlated
    directions keep the frontier non-degenerate). Oracle is the
    quadratic NOT-EXISTS dominance self-join DuckDB can afford at
    sf0.01/0.1; the Spark plan is the two-phase local+global frontier
    that never goes quadratic."""
    from cdap_geo_spark.operators.skyline import skyline
    from cdap_geo_spark.operators.text import token_count
    docs = _tbl(spark, sf_dir, "documents")
    t = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                    F.col("n_chars").cast("long").alias("n_chars"),
                    token_count(F.col("text")).cast("long")
                    .alias("n_tokens"))
    return skyline(t, x="n_chars", y="n_tokens",
                   maximize_x=True, maximize_y=False)


def _q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join (operators/timeseries.
    interval_overlap_join): maintenance windows (part) against user
    sessions (documents), dedup-free via the canonical-bin trick —
    the pair survives only in the bin holding greatest(starts).
    Aggregated per window (count + exact session-id sum)."""
    from cdap_geo_spark.operators.timeseries import interval_overlap_join
    t0 = 1_704_067_200
    part = _tbl(spark, sf_dir, "part")
    start = (F.lit(t0)
             + (F.col("p_partkey") * 7919) % (30 * 86400)).cast("long")
    length = ((F.col("p_partkey") * 131 + 17) % 21600 + 600).cast("long")
    ivs = part.select(F.col("p_partkey").cast("long").alias("interval_id"),
                      start.alias("start_s"),
                      (start + length).alias("end_s"))
    d = _tbl(spark, sf_dir, "documents")
    s2 = (F.lit(t0)
          + (F.col("doc_id") * 48271 + 17) % (30 * 86400)).cast("long")
    l2 = ((F.col("doc_id") * 977 + 5) % 10800 + 300).cast("long")
    sess = d.select(F.col("doc_id").cast("long").alias("session_id"),
                    s2.alias("s_start"), (s2 + l2).alias("s_end"))
    pairs = interval_overlap_join(ivs, sess,
                                  left_start="start_s", left_end="end_s",
                                  right_start="s_start",
                                  right_end="s_end", bin_width=3600)
    return (pairs.groupBy("interval_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"),
                 F.sum("session_id").cast("long").alias("sum_sid")))


def _q_time_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain time rollup (operators/timeseries.time_pyramid):
    hour/day/week counts + exact scaled sums, each level rolled up
    from the previous level's relation — raw rows aggregate once."""
    from cdap_geo_spark.operators.timeseries import time_pyramid
    ev = _tbl(spark, sf_dir, "events")
    return time_pyramid(ev)


def _q_dq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ expectation checking (functions/relational.dq_check): three
    row-level rules + one uniqueness rule folded into ONE 1-row
    aggregate over one scan, literal-exploded to (rule, n_rows,
    n_violations)."""
    from cdap_geo_spark.functions.relational import dq_check
    d = _docs(spark, sf_dir)
    rules = {
        "n_chars_nonneg": F.col("n_chars") >= 0,
        "lang_known": F.col("lang").isin("en", "de", "fr", "es"),
        "text_present": F.col("text").isNotNull()
                        & (F.length("text") > 0),
    }
    return dq_check(d, rules, unique_cols=["doc_id"])


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1D range join (operators/timeseries.interval_join): events
    joined into deterministic maintenance-window intervals derived
    from the part table, then aggregated per interval (count + exact
    id-sum pins the membership set). The bin-replication plan — never
    the BroadcastNestedLoopJoin a raw BETWEEN join gets."""
    from cdap_geo_spark.operators.timeseries import interval_join
    ev = _tbl(spark, sf_dir, "events")
    pts = ev.select(F.col("event_id").cast("long").alias("event_id"),
                    F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV "
                           "1000000").alias("p_s"))
    part = _tbl(spark, sf_dir, "part")
    t0 = 1_704_067_200  # 2024-01-01 UTC, the event-domain origin
    start = (F.lit(t0)
             + (F.col("p_partkey") * 7919) % (30 * 86400)).cast("long")
    length = ((F.col("p_partkey") * 131 + 17) % 21600 + 600).cast("long")
    ivs = part.select(F.col("p_partkey").cast("long").alias("interval_id"),
                      start.alias("start_s"),
                      (start + length).alias("end_s"))
    pairs = interval_join(pts, ivs, point_col="p_s",
                          start_col="start_s", end_col="end_s",
                          bin_width=3600)
    return (pairs.groupBy("interval_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum("event_id").cast("long").alias("sum_eid")))


def _q_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS of value on hour-of-day
    (operators/timeseries.grouped_ols): one exact-integer aggregate
    pass; the only doubles are the final two divisions of identical
    BIGINTs, rounded — cross-engine hashable."""
    from cdap_geo_spark.operators.timeseries import grouped_ols
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("hod", F.hour(F.col("ts").cast("timestamp")))
    return grouped_ols(ev, group="event_type", x_col="hod",
                       y_col="value", x_scale=1, y_scale=100)


def _q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event z-score outlier flags in exact integer algebra
    (operators/timeseries.outlier_flags): deterministic, hashable —
    (n·x - s)² > k²·(n·q - s²), all BIGINT."""
    from cdap_geo_spark.operators.timeseries import outlier_flags
    ev = _tbl(spark, sf_dir, "events")
    out = outlier_flags(ev, group="event_type", value_col="value", k=2)
    return out.select(F.col("event_id").cast("long"), "event_type",
                      F.col("is_outlier").cast("boolean"))


def _q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (operators/timeseries.winsorize): every
    value clamped to its event type's EXACT ceil(q·n)-rank order
    statistics over integer-scaled values; emitted as the scaled BIGINT
    so the hash is float-free."""
    from cdap_geo_spark.operators.timeseries import winsorize
    ev = _tbl(spark, sf_dir, "events")
    out = winsorize(ev, group="event_type", value_col="value",
                    lo_q=0.05, hi_q=0.95)
    return out.select(
        F.col("event_id").cast("long"), "event_type",
        F.round(F.col("value_w") * 100).cast("long").alias("value_w100"))


_HULL_PTS = """
  SELECT c_nationkey AS g,
         (c_custkey * 9973 + 7) % 1000003 AS x,
         (c_custkey * 6151 + 3) % 999983 AS y
  FROM customer
"""


def _q_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation convex hull (operators/hull.convex_hull) over
    hash-derived integer customer points: native Akl-Toussaint cull →
    per-partition partial chains → exact final chain; vertex set is
    exact BIGINTs, hash-checked against the O(n^3) hull-edge SQL."""
    from cdap_geo_spark.operators.hull import convex_hull
    cust = _tbl(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").alias("g"),
        ((F.col("c_custkey") * 9973 + 7) % 1000003).alias("x"),
        ((F.col("c_custkey") * 6151 + 3) % 999983).alias("y"))
    out = convex_hull(pts, group="g", x_col="x", y_col="y")
    return out.select(F.col("g").cast("long"), "x", "y")


def _q_hull_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation farthest point pair (operators/hull.hull_diameter):
    exact squared distance over hull vertices only — the all-pairs max
    never touches the raw points; deterministic smallest achieving
    pair on ties."""
    from cdap_geo_spark.operators.hull import hull_diameter
    cust = _tbl(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").alias("g"),
        ((F.col("c_custkey") * 9973 + 7) % 1000003).alias("x"),
        ((F.col("c_custkey") * 6151 + 3) % 999983).alias("y"))
    out = hull_diameter(pts, group="g", x_col="x", y_col="y")
    return out.select(F.col("g").cast("long"), "d2",
                      "ax", "ay", "bx", "by")


_BM25_QUERIES = [("q_join", "spark join window"),
                 ("q_scan", "hash scan filter"),
                 ("q_cust", "customer order value"),
                 ("q_vec", "vector stream batch")]


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval (operators/text.bm25_topk) for four fixed
    probe queries: one float log per term times an exact integer
    ratio, micro-unit rounded, summed as BIGINT — a float ranking the
    value hash cannot disagree on."""
    from cdap_geo_spark.operators.text import bm25_topk
    docs = _tbl(spark, sf_dir, "documents")
    qs = spark.createDataFrame(_BM25_QUERIES,
                               "query_id string, query_text string")
    return bm25_topk(docs, qs, k=10).select(
        "query_id", F.col("doc_id").cast("long"), "score_u", "rank")


def _bm25_sql() -> str:
    from cdap_geo_spark.operators.text import bm25_oracle_sql
    qv = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    return bm25_oracle_sql(
        docs_sql="SELECT doc_id, text FROM documents",
        queries_sql=(f"SELECT * FROM (VALUES {qv}) "
                     f"AS q(query_id, query_text)"),
        k=10)


def _q_fuzzy_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: fuzzy_join self-join (prefix-
    filtered q-gram blocking, levenshtein <= 2 on the part labels) ->
    pointer-jumping connected components (operators/dedup.
    dedup_components) -> cluster label = min member. The DuckDB twin
    is the quadratic fuzzy join + recursive-CTE transitive closure
    (the dup_clusters pattern). Nodes with no fuzzy neighbor are
    singletons and excluded, matching the closure twin."""
    from cdap_geo_spark.operators.dedup import dedup_components
    from cdap_geo_spark.operators.text import fuzzy_join
    # the absolute key cap bounds the QUADRATIC DuckDB twin (and its
    # recursive-CTE closure) at every SF; the engine side needs no cap
    p = _tbl(spark, sf_dir, "part") \
        .where((F.col("p_partkey") % 3 == 0)
               & (F.col("p_partkey") < 6000))
    lab = F.concat_ws(" ", "p_name", "p_brand", "p_type",
                      F.col("p_size").cast("string"))
    rel = p.select(F.col("p_partkey").alias("pk"), lab.alias("s"))
    pairs = (fuzzy_join(rel, rel, max_dist=2, left_id="pk",
                        left_str="s", right_id="pk", right_str="s")
             .where(F.col("pk_l") < F.col("pk_r"))
             .select(F.col("pk_l").alias("id_a"),
                     F.col("pk_r").alias("id_b")))
    comp = dedup_components(pairs)
    return comp.select(F.col("node").cast("long"),
                       F.col("component").cast("long"))


def _q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (operators/timeseries.
    grouped_percentiles): p50/p90/p99 of event value per type by the
    deterministic ceil(q*n) rank rule over integer-scaled values — the
    exact counterpart of the hist_quantiles sketch path; one window
    shuffle total."""
    from cdap_geo_spark.operators.timeseries import grouped_percentiles
    ev = _tbl(spark, sf_dir, "events")
    return grouped_percentiles(ev, group="event_type",
                               value_col="value", qs=[0.5, 0.9, 0.99])


def _q_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth deciles (operators/timeseries.
    quantile_bucketize) of document length: edges by the integer-ceil
    rank rule over a distinct-value histogram (raw rows shuffle once),
    assignment a broadcast array scan — entirely integer arithmetic,
    no float anywhere."""
    from cdap_geo_spark.operators.timeseries import quantile_bucketize
    d = _docs(spark, sf_dir)
    out = quantile_bucketize(d.select("doc_id", "n_chars"),
                             value_col="n_chars", n_bins=10)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("n_chars").cast("long"), "bin")


def _q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window EWMA (operators/timeseries.ewma_bounded):
    alpha=1/2 over the last 8 observations per user — finite geometric
    weights make numerator/denominator exact BIGINTs in ONE keyed
    exchange of stacked LAGs; the output is one micro-rounded double
    divide, so every per-event smoothed value hash-matches."""
    from cdap_geo_spark.operators.timeseries import ewma_bounded
    ev = _tbl(spark, sf_dir, "events")
    out = ewma_bounded(ev, window=8)
    return out.select(F.col("user_id").cast("long"),
                      F.col("event_id").cast("long"), "ewma_u")


def _q_od(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination matrix (operators/timeseries.od_matrix) over
    hash-derived per-event positions: per-user first/last endpoints
    via min_by/max_by keyed aggregation (map-side partials, NO sort
    window), snapped to 100km cells and counted — all BIGINT."""
    from cdap_geo_spark.operators.timeseries import od_matrix
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("x", (F.col("event_id") * 48271 + 17) % 700000) \
        .withColumn("y", (F.col("event_id") * 69621 + 29) % 1300000)
    return od_matrix(ev, cell=100_000)


def _q_gravity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity spatial-interaction model calibrated on the od_matrix
    flows (operators/timeseries.gravity_model): margins + ΣT exact
    BIGINT, per-pair deterrence term micro-rounded then BIGINT-summed,
    prediction/residual single fixed-shape expressions."""
    from cdap_geo_spark.operators.timeseries import (gravity_model,
                                                     od_matrix)
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("x", (F.col("event_id") * 48271 + 17) % 700000) \
        .withColumn("y", (F.col("event_id") * 69621 + 29) % 1300000)
    od = od_matrix(ev, cell=100_000)
    return gravity_model(od, flow_col="n_keys")


def _gravity_sql() -> str:
    return f"""
      WITH od AS ({_OD_SQL}),
      prod AS (SELECT o_cx, o_cy, CAST(SUM(n_keys) AS BIGINT) AS p_o
               FROM od GROUP BY 1, 2),
      attr AS (SELECT d_cx, d_cy, CAST(SUM(n_keys) AS BIGINT) AS a_d
               FROM od GROUP BY 1, 2),
      j AS (
        SELECT od.o_cx, od.o_cy, od.d_cx, od.d_cy, od.n_keys,
               prod.p_o, attr.a_d,
               CAST(ROUND(CAST(prod.p_o * attr.a_d AS DOUBLE)
                 / CAST((od.o_cx - od.d_cx) * (od.o_cx - od.d_cx)
                        + (od.o_cy - od.d_cy) * (od.o_cy - od.d_cy)
                        + 1 AS DOUBLE) * 1000000.0) AS BIGINT)
                 AS g_micro
        FROM od JOIN prod USING (o_cx, o_cy)
                JOIN attr USING (d_cx, d_cy)
      ),
      tot AS (SELECT CAST(SUM(n_keys) AS BIGINT) AS st,
                     CAST(SUM(g_micro) AS BIGINT) AS sg FROM j)
      SELECT j.o_cx, j.o_cy, j.d_cx, j.d_cy, j.n_keys, j.p_o, j.a_d,
             j.g_micro,
             CASE WHEN tot.sg > 0 THEN
               CAST(ROUND(1000000.0
                    * CAST(tot.st * j.g_micro AS DOUBLE)
                    / CAST(tot.sg AS DOUBLE)) AS BIGINT) END
               AS pred_micro,
             j.n_keys * 1000000
               - CASE WHEN tot.sg > 0 THEN
                   CAST(ROUND(1000000.0
                        * CAST(tot.st * j.g_micro AS DOUBLE)
                        / CAST(tot.sg AS DOUBLE)) AS BIGINT) END
               AS resid_micro
      FROM j CROSS JOIN tot
    """


def _q_radiation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radiation-model flow predictions (operators/timeseries.
    radiation_model) on the od_matrix inter-cell flows with event
    counts per cell as populations: s_ij by exact strictly-closer
    integer comparison; prediction one fixed-shape division."""
    from cdap_geo_spark.operators.timeseries import (od_matrix,
                                                     radiation_model)
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("x", (F.col("event_id") * 48271 + 17) % 700000) \
        .withColumn("y", (F.col("event_id") * 69621 + 29) % 1300000)
    od = od_matrix(ev, cell=100_000)
    pops = ev.selectExpr("x DIV 100000 AS cx", "y DIV 100000 AS cy") \
        .groupBy("cx", "cy").agg(F.count(F.lit(1)).alias("pop"))
    return radiation_model(od, pops, flow_col="n_keys")


def _radiation_sql() -> str:
    return f"""
      WITH od0 AS ({_OD_SQL}),
      od AS (SELECT * FROM od0
             WHERE o_cx <> d_cx OR o_cy <> d_cy),
      p AS (
        SELECT ((event_id*48271 + 17) % 700000) // 100000 AS kx,
               ((event_id*69621 + 29) % 1300000) // 100000 AS ky,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM events GROUP BY 1, 2
      ),
      ti AS (SELECT o_cx, o_cy, CAST(SUM(n_keys) AS BIGINT) AS t_i
             FROM od GROUP BY 1, 2),
      sv AS (
        SELECT od.o_cx, od.o_cy, od.d_cx, od.d_cy,
               CAST(SUM(p.m) AS BIGINT) AS s_ij
        FROM od CROSS JOIN p
        WHERE (p.kx <> od.o_cx OR p.ky <> od.o_cy)
          AND (p.kx <> od.d_cx OR p.ky <> od.d_cy)
          AND (od.o_cx - p.kx) * (od.o_cx - p.kx)
              + (od.o_cy - p.ky) * (od.o_cy - p.ky)
              < (od.o_cx - od.d_cx) * (od.o_cx - od.d_cx)
                + (od.o_cy - od.d_cy) * (od.o_cy - od.d_cy)
        GROUP BY 1, 2, 3, 4
      ),
      j AS (
        SELECT od.o_cx, od.o_cy, od.d_cx, od.d_cy, od.n_keys,
               mi.m AS m_i, nj.m AS n_j,
               COALESCE(sv.s_ij, 0) AS s_ij, ti.t_i
        FROM od
        LEFT JOIN sv ON sv.o_cx = od.o_cx AND sv.o_cy = od.o_cy
                    AND sv.d_cx = od.d_cx AND sv.d_cy = od.d_cy
        JOIN p mi ON mi.kx = od.o_cx AND mi.ky = od.o_cy
        JOIN p nj ON nj.kx = od.d_cx AND nj.ky = od.d_cy
        JOIN ti ON ti.o_cx = od.o_cx AND ti.o_cy = od.o_cy
      )
      SELECT o_cx, o_cy, d_cx, d_cy, n_keys, m_i, n_j,
             CAST(s_ij AS BIGINT) AS s_ij, t_i,
             CASE WHEN (m_i + s_ij) * (m_i + n_j + s_ij) > 0 THEN
               CAST(ROUND(CAST(t_i * m_i * n_j AS DOUBLE) * 1000000.0
                    / CAST((m_i + s_ij) * (m_i + n_j + s_ij)
                           AS DOUBLE)) AS BIGINT) END AS pred_micro,
             n_keys * 1000000
               - CASE WHEN (m_i + s_ij) * (m_i + n_j + s_ij) > 0 THEN
                   CAST(ROUND(CAST(t_i * m_i * n_j AS DOUBLE)
                        * 1000000.0
                        / CAST((m_i + s_ij) * (m_i + n_j + s_ij)
                               AS DOUBLE)) AS BIGINT) END
               AS resid_micro
      FROM j
    """


def _q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user burstiness B + memory M of inter-event times in
    seconds (operators/timeseries.burstiness): exact BIGINT moment
    sums, B and M single fixed-shape expressions."""
    from cdap_geo_spark.operators.timeseries import burstiness
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull()) \
        .selectExpr("user_id AS k",
                    "unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000"
                    " AS ts_s")
    out = burstiness(ev)
    return out.select(F.col("k").cast("long"), "n_iets", "sum_iet",
                      "b_micro", "m_micro")


def _burstiness_sql() -> str:
    return """
      WITH b AS (
        SELECT user_id AS k, epoch_us(ts) // 1000000 AS t
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      ),
      g AS (
        SELECT k, t,
               t - LAG(t) OVER (PARTITION BY k ORDER BY t) AS x
        FROM b
      ),
      gg AS (SELECT k, t, x FROM g WHERE x IS NOT NULL),
      pr AS (
        SELECT k, x AS bb,
               LAG(x) OVER (PARTITION BY k ORDER BY t) AS aa
        FROM gg
      ),
      st AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS n_iets,
               CAST(SUM(x) AS BIGINT) AS sum_iet,
               CAST(SUM(x*x) AS BIGINT) AS ss
        FROM gg GROUP BY 1
      ),
      pm AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS np,
               CAST(SUM(aa) AS BIGINT) AS sa,
               CAST(SUM(bb) AS BIGINT) AS sb,
               CAST(SUM(aa*aa) AS BIGINT) AS saa,
               CAST(SUM(bb*bb) AS BIGINT) AS sbb,
               CAST(SUM(aa*bb) AS BIGINT) AS sab
        FROM pr WHERE aa IS NOT NULL GROUP BY 1
      )
      SELECT CAST(st.k AS BIGINT) AS k, st.n_iets, st.sum_iet,
             CASE WHEN st.n_iets * st.ss - st.sum_iet * st.sum_iet
                       >= 0 THEN
               CAST(ROUND((SQRT(CAST(st.n_iets * st.ss
                                     - st.sum_iet * st.sum_iet
                                     AS DOUBLE))
                           - CAST(st.sum_iet AS DOUBLE))
                    / (SQRT(CAST(st.n_iets * st.ss
                                 - st.sum_iet * st.sum_iet AS DOUBLE))
                       + CAST(st.sum_iet AS DOUBLE))
                    * 1000000.0) AS BIGINT) END AS b_micro,
             CASE WHEN pm.np * pm.saa - pm.sa * pm.sa > 0
                   AND pm.np * pm.sbb - pm.sb * pm.sb > 0 THEN
               CAST(ROUND(CAST(pm.np * pm.sab - pm.sa * pm.sb
                               AS DOUBLE)
                    / (SQRT(CAST(pm.np * pm.saa - pm.sa * pm.sa
                                 AS DOUBLE))
                       * SQRT(CAST(pm.np * pm.sbb - pm.sb * pm.sb
                                   AS DOUBLE)))
                    * 1000000.0) AS BIGINT) END AS m_micro
      FROM st LEFT JOIN pm ON pm.k = st.k
      WHERE st.n_iets >= 3
    """


def _q_visit_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mobility predictability entropies per user (operators/
    timeseries.visit_entropy) over 100km visit cells: c*ln c terms
    micro-rounded and BIGINT-summed (char_entropy discipline)."""
    from cdap_geo_spark.operators.timeseries import visit_entropy
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("user_id").isNotNull()) \
        .selectExpr(
            "user_id AS k",
            "((event_id*48271 + 17) % 700000) DIV 100000 * 13"
            " + ((event_id*69621 + 29) % 1300000) DIV 100000 AS loc")
    out = visit_entropy(ev)
    return out.select(F.col("k").cast("long"), "n_obs", "n_distinct",
                      "s_rand_micro", "s_unc_micro")


def _visit_entropy_sql() -> str:
    return """
      WITH b AS (
        SELECT user_id AS k,
               ((event_id*48271 + 17) % 700000) // 100000 * 13
               + ((event_id*69621 + 29) % 1300000) // 100000 AS loc
        FROM events WHERE user_id IS NOT NULL
      ),
      c AS (SELECT k, loc, CAST(COUNT(*) AS BIGINT) AS c
            FROM b GROUP BY 1, 2),
      t AS (
        SELECT k, c,
               CAST(ROUND(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))
                          * 1000000.0) AS BIGINT) AS term
        FROM c
      ),
      p AS (
        SELECT k, CAST(SUM(c) AS BIGINT) AS n_obs,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(term) AS BIGINT) AS s
        FROM t GROUP BY 1
      )
      SELECT CAST(k AS BIGINT) AS k, n_obs, n_distinct,
             CAST(ROUND(LN(CAST(n_distinct AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS s_rand_micro,
             CAST(ROUND((LN(CAST(n_obs AS DOUBLE))
                         - CAST(s AS DOUBLE) / 1000000.0
                           / CAST(n_obs AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS s_unc_micro
      FROM p
    """


def _q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interval-union coverage (operators/timeseries.
    interval_union): events become [ts, ts + (id%7+1) minutes)
    intervals; overlapping ones merge into islands in ONE keyed window
    (running max of previous ends), totals exact BIGINT micros."""
    from cdap_geo_spark.operators.timeseries import interval_union
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("ts").isNotNull()) \
        .withColumn("s_us", F.unix_micros(F.col("ts").cast("timestamp"))) \
        .withColumn("e_us", F.col("s_us")
                    + (F.col("event_id") % 7 + 1) * 60_000_000)
    out = interval_union(ev, key="user_id", start_col="s_us",
                         end_col="e_us", id_col="event_id")
    return out.select(F.col("user_id").cast("long"), "n_intervals",
                      "n_islands", "covered")


def _q_segment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact segment-intersection join (operators/segments.
    segment_join): which road segments cross which trip segments —
    the orientation-sign predicate is pure BIGINT (no float anywhere),
    candidates come from ONE (cx, cy) cell equi-join, refine before
    dedup. Roads from part, trips from documents, both hash-derived."""
    from cdap_geo_spark.operators.segments import segment_join
    p = _tbl(spark, sf_dir, "part")
    d = _tbl(spark, sf_dir, "documents")
    roads = p.select(
        F.col("p_partkey").alias("road_id"),
        ((F.col("p_partkey") * 40503 + 101) % 600000 + 50000).alias("ax"),
        ((F.col("p_partkey") * 69301 + 257) % 1200000 + 50000).alias("ay"))
    roads = roads.select(
        "road_id", "ax", "ay",
        (F.col("ax") + (F.col("road_id") * 97 + 13) % 80001 - 40000)
        .alias("bx"),
        (F.col("ay") + (F.col("road_id") * 89 + 37) % 80001 - 40000)
        .alias("by"))
    trips = d.select(
        F.col("doc_id").alias("trip_id"),
        ((F.col("doc_id") * 48271 + 17) % 600000 + 50000).alias("cx"),
        ((F.col("doc_id") * 69621 + 29) % 1200000 + 50000).alias("cy"))
    trips = trips.select(
        "trip_id", "cx", "cy",
        (F.col("cx") + (F.col("trip_id") * 31 + 7) % 80001 - 40000)
        .alias("dx"),
        (F.col("cy") + (F.col("trip_id") * 37 + 11) % 80001 - 40000)
        .alias("dy"))
    out = segment_join(roads, trips, cell=40_000)
    return out.select(F.col("road_id").cast("long"),
                      F.col("trip_id").cast("long"))


def _q_snap_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-matching-lite (operators/segments.snap_to_segments): each
    event ping snapped to its nearest road segment within 20km —
    candidates from ONE cell equi-join of r-dilated segment covers
    against single-cell points, exact-integer branch selection in the
    point-to-segment distance, min_by argmin with map-side partials."""
    from cdap_geo_spark.operators.segments import snap_to_segments
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("x", (F.col("event_id") * 48271 + 17) % 700000) \
        .withColumn("y", (F.col("event_id") * 69621 + 29) % 1300000)
    p = _tbl(spark, sf_dir, "part")
    roads = p.select(
        F.col("p_partkey").alias("road_id"),
        ((F.col("p_partkey") * 40503 + 101) % 600000 + 50000).alias("ax"),
        ((F.col("p_partkey") * 69301 + 257) % 1200000 + 50000).alias("ay"))
    roads = roads.select(
        "road_id", "ax", "ay",
        (F.col("ax") + (F.col("road_id") * 97 + 13) % 80001 - 40000)
        .alias("bx"),
        (F.col("ay") + (F.col("road_id") * 89 + 37) % 80001 - 40000)
        .alias("by"))
    out = snap_to_segments(ev, roads, radius=20_000, cell=50_000)
    return out.select(F.col("event_id").cast("long"),
                      F.col("road_id").cast("long"), "d2_u", "frac_u")


def _q_heading_sectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heading histogram (operators/timeseries.heading_sectors):
    per-user counts of step directions in eight 45° sectors — every
    sector boundary is an axis or diagonal, so classification is pure
    integer comparison (no atan2/libm); LAG window + keyed count."""
    from cdap_geo_spark.operators.timeseries import heading_sectors
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("x", (F.col("event_id") * 48271 + 17) % 700000) \
        .withColumn("y", (F.col("event_id") * 69621 + 29) % 1300000)
    return heading_sectors(ev)


def _q_cell_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell dwell/exposure raster (operators/timeseries.
    cell_dwell): each step's duration (exact integer micros to the
    user's next event) attributed to the starting point's 100km cell;
    LEAD window + one (cx, cy) keyed agg."""
    from cdap_geo_spark.operators.timeseries import cell_dwell
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("x", (F.col("event_id") * 48271 + 17) % 700000) \
        .withColumn("y", (F.col("event_id") * 69621 + 29) % 1300000)
    return cell_dwell(ev, cell=100_000)


def _q_path_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user traveled path length (operators/timeseries.
    path_length) over hash-derived positions: dx²+dy² exact BIGINT,
    step = micro-rounded IEEE sqrt (correctly rounded by spec, hence
    cross-engine safe), BIGINT sum per user — one keyed exchange."""
    from cdap_geo_spark.operators.timeseries import path_length
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("x", (F.col("event_id") * 48271 + 17) % 700000) \
        .withColumn("y", (F.col("event_id") * 69621 + 29) % 1300000)
    out = path_length(ev)
    return out.select(F.col("user_id").cast("long"), "n_steps",
                      "path_u")


def _q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type lag-1 autocorrelation (operators/timeseries.
    grouped_autocorr): five exact BIGINT sums over the LAG-paired
    relation in ONE keyed exchange; the statistic's only irrational op
    is IEEE-correctly-rounded sqrt."""
    from cdap_geo_spark.operators.timeseries import grouped_autocorr
    ev = _tbl(spark, sf_dir, "events")
    return grouped_autocorr(ev, group="event_type", lag=1)


def _q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type CUSUM changepoint (operators/timeseries.
    cusum_changepoint): argmax |n·S_i − i·S_n| in exact BIGINT (no
    division, no float in the ranking), earliest index on ties; one
    keyed window exchange + a max_by argmax."""
    from cdap_geo_spark.operators.timeseries import cusum_changepoint
    ev = _tbl(spark, sf_dir, "events")
    return cusum_changepoint(ev, group="event_type")


def _q_path_midpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory midpoint (operators/timeseries.path_interpolate):
    the position at half the traveled path length — exact integer
    chainage target over micro-rounded IEEE-sqrt steps, one keyed
    exchange, map-side matching-step filter."""
    from cdap_geo_spark.operators.timeseries import path_interpolate
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("x", (F.col("event_id") * 48271 + 17) % 700000) \
        .withColumn("y", (F.col("event_id") * 69621 + 29) % 1300000)
    out = path_interpolate(ev, frac_num=1, frac_den=2)
    return out.select(F.col("user_id").cast("long"), "x_u", "y_u")


def _q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Gini of document length (operators/timeseries.
    grouped_gini): exact rank formula, tie-proof integer sums, one
    micro-rounded double — the corpus-balance diagnostic."""
    from cdap_geo_spark.operators.timeseries import grouped_gini
    d = _docs(spark, sf_dir)
    return grouped_gini(d, group="source", value_col="n_chars")


def _q_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality with between/within decomposition per lang
    (operators/timeseries.theil_decomposition): per-element terms
    micro-rounded and summed as BIGINT (char_entropy discipline)."""
    from cdap_geo_spark.operators.timeseries import theil_decomposition
    d = _docs(spark, sf_dir).where(F.col("n_chars") > 0)
    out = theil_decomposition(d, group_col="lang", value_col="n_chars")
    return out.select("lang", "n_r", "sum_r", "within_micro",
                      "between_micro")


def _theil_sql() -> str:
    return """
      WITH b AS (
        SELECT lang, n_chars AS x FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
      ),
      gs AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_r,
                    CAST(SUM(x) AS BIGINT) AS sum_r
             FROM b GROUP BY 1),
      tot AS (SELECT CAST(SUM(n_r) AS BIGINT) AS n,
                     CAST(SUM(sum_r) AS BIGINT) AS s FROM gs),
      el AS (
        SELECT b.lang,
               CAST(ROUND(CAST(b.x AS DOUBLE) / CAST(tot.s AS DOUBLE)
                 * LN(CAST(b.x * gs.n_r AS DOUBLE)
                      / CAST(gs.sum_r AS DOUBLE))
                 * 1000000.0) AS BIGINT) AS t
        FROM b JOIN gs USING (lang) CROSS JOIN tot
      ),
      wi AS (SELECT lang, CAST(SUM(t) AS BIGINT) AS within_micro
             FROM el GROUP BY 1)
      SELECT gs.lang, gs.n_r, gs.sum_r, wi.within_micro,
             CAST(ROUND(CAST(gs.sum_r AS DOUBLE)
                        / CAST(tot.s AS DOUBLE)
                        * LN(CAST(gs.sum_r * tot.n AS DOUBLE)
                             / CAST(tot.s * gs.n_r AS DOUBLE))
                        * 1000000.0) AS BIGINT) AS between_micro
      FROM gs JOIN wi USING (lang) CROSS JOIN tot
    """


def _q_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS distance (operators/timeseries.ks_test) between
    en and de doc-length distributions: exact cross-multiplied D over
    the merged support, one support-sized cumulative window."""
    from cdap_geo_spark.operators.timeseries import ks_test
    d = _docs(spark, sf_dir).where(F.col("lang").isin("en", "de")) \
        .select(F.col("lang").alias("s"),
                F.col("n_chars").cast("long").alias("v"))
    return ks_test(d)


def _ks_sql() -> str:
    return """
      WITH b AS (
        SELECT lang AS s, n_chars AS v FROM documents
        WHERE lang IN ('en', 'de') AND n_chars IS NOT NULL
      ),
      pv AS (
        SELECT v,
               CAST(SUM(CASE WHEN s = 'de' THEN 1 ELSE 0 END)
                 AS BIGINT) AS d1,
               CAST(SUM(CASE WHEN s = 'en' THEN 1 ELSE 0 END)
                 AS BIGINT) AS d2
        FROM b GROUP BY 1
      ),
      cum AS (
        SELECT v,
               CAST(SUM(d1) OVER (ORDER BY v) AS BIGINT) AS c1,
               CAST(SUM(d2) OVER (ORDER BY v) AS BIGINT) AS c2
        FROM pv
      ),
      tot AS (SELECT CAST(SUM(d1) AS BIGINT) AS n1,
                     CAST(SUM(d2) AS BIGINT) AS n2 FROM pv),
      sc AS (
        SELECT ABS(c1 * tot.n2 - c2 * tot.n1) AS dn, v, tot.n1, tot.n2
        FROM cum CROSS JOIN tot
      ),
      mx AS (SELECT MAX(dn) AS d_num FROM sc)
      SELECT sc.n1, sc.n2, CAST(mx.d_num AS BIGINT) AS d_num,
             CAST(MIN(sc.v) AS BIGINT) AS at_v,
             CASE WHEN sc.n1 > 0 AND sc.n2 > 0 THEN
               CAST(ROUND(CAST(mx.d_num AS DOUBLE) * 1000000.0
                    / CAST(sc.n1 * sc.n2 AS DOUBLE)) AS BIGINT) END
               AS d_micro
      FROM sc JOIN mx ON sc.dn = mx.d_num
      GROUP BY sc.n1, sc.n2, mx.d_num
    """


def _q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang Spearman rank correlation of doc length vs token
    count (operators/timeseries.grouped_spearman): doubled average-tie
    ranks keep everything exact BIGINT until one fixed-shape rho."""
    from cdap_geo_spark.operators.timeseries import grouped_spearman
    from cdap_geo_spark.operators.text import token_count
    d = _docs(spark, sf_dir).select(
        F.col("lang").alias("g"),
        F.col("n_chars").cast("long").alias("x"),
        token_count(F.col("text")).cast("long").alias("y"))
    return grouped_spearman(d)


def _spearman_sql() -> str:
    return """
      WITH b AS (
        SELECT lang AS g, n_chars AS x,
               CASE WHEN len(trim(text)) = 0 THEN 0
                    ELSE CAST(len(regexp_split_to_array(trim(text),
                                                        '\\s+'))
                         AS BIGINT) END AS y
        FROM documents
        WHERE n_chars IS NOT NULL AND text IS NOT NULL
      ),
      hx AS (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS c
             FROM b GROUP BY 1, 2),
      rx AS (
        SELECT g, x,
               2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY x
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) + c + 1 AS rxx
        FROM hx
      ),
      hy AS (SELECT g, y, CAST(COUNT(*) AS BIGINT) AS c
             FROM b GROUP BY 1, 2),
      ry AS (
        SELECT g, y,
               2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) + c + 1 AS ryy
        FROM hy
      ),
      j AS (
        SELECT b.g, rx.rxx AS u, ry.ryy AS v
        FROM b JOIN rx ON rx.g = b.g AND rx.x = b.x
               JOIN ry ON ry.g = b.g AND ry.y = b.y
      ),
      a AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(u) AS BIGINT) AS su,
               CAST(SUM(v) AS BIGINT) AS sv,
               CAST(SUM(u*u) AS BIGINT) AS suu,
               CAST(SUM(v*v) AS BIGINT) AS svv,
               CAST(SUM(u*v) AS BIGINT) AS suv
        FROM j GROUP BY 1
      )
      SELECT g, n,
             CASE WHEN n*suu - su*su > 0 AND n*svv - sv*sv > 0 THEN
               CAST(ROUND(CAST(n*suv - su*sv AS DOUBLE)
                    / (SQRT(CAST(n*suu - su*su AS DOUBLE))
                       * SQRT(CAST(n*svv - sv*sv AS DOUBLE)))
                    * 1000000.0) AS BIGINT) END AS rho_micro
      FROM a
    """


def _q_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified Kaplan-Meier churn curves (operators/timeseries.
    kaplan_meier): users' active lifetimes in hours, censored when
    the last event is within 24h of the corpus end; cohorts =
    user_id % 3. ln-term micro-round discipline, group-partitioned
    support windows."""
    from cdap_geo_spark.operators.timeseries import kaplan_meier
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull()) \
        .select("user_id",
                F.unix_micros(F.col("ts").cast("timestamp"))
                .alias("us"))
    gmax = ev.agg(F.max("us").alias("_gmax"))
    users = (ev.groupBy("user_id")
             .agg(F.min("us").alias("_first"), F.max("us").alias("_last"))
             .crossJoin(F.broadcast(gmax))
             .selectExpr("user_id % 3 AS g",
                         "(_last - _first) DIV 3600000000 AS t",
                         "CAST(_last <= _gmax - 86400000000 AS LONG)"
                         " AS observed"))
    out = kaplan_meier(users)
    return out.select(F.col("g").cast("long"), F.col("t").cast("long"),
                      "n_risk", "d_events", "n_censored_at_t",
                      "s_micro")


def _survival_sql() -> str:
    return """
      WITH ev AS (
        SELECT user_id, epoch_us(ts) AS us FROM events
        WHERE ts IS NOT NULL AND user_id IS NOT NULL
      ),
      gmax AS (SELECT MAX(us) AS gm FROM ev),
      u AS (
        SELECT user_id % 3 AS g,
               (MAX(us) - MIN(us)) // 3600000000 AS t,
               CASE WHEN MAX(us) <= (SELECT gm FROM gmax)
                                    - 86400000000
                    THEN 1 ELSE 0 END AS e
        FROM ev GROUP BY user_id
      ),
      h AS (
        SELECT g, t, CAST(SUM(e) AS BIGINT) AS d,
               CAST(SUM(1 - e) AS BIGINT) AS c,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM u GROUP BY 1, 2
      ),
      pts AS (
        SELECT g, t, d, c,
               CAST(SUM(n) OVER (PARTITION BY g ORDER BY t
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                 AS BIGINT) AS n_risk
        FROM h
      ),
      tm AS (
        SELECT g, t, d, c, n_risk,
               CASE WHEN d = 0 THEN 0
                    WHEN d < n_risk THEN
                      CAST(ROUND((LN(CAST(n_risk - d AS DOUBLE))
                            - LN(CAST(n_risk AS DOUBLE)))
                           * 1000000.0) AS BIGINT)
                    ELSE NULL END AS term
        FROM pts
      ),
      cum AS (
        SELECT g, t, d, c, n_risk,
               SUM(COALESCE(term, 0)) OVER (PARTITION BY g ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS lns,
               MAX(CASE WHEN term IS NULL THEN 1 ELSE 0 END)
                 OVER (PARTITION BY g ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS wiped
        FROM tm
      )
      SELECT CAST(g AS BIGINT) AS g, CAST(t AS BIGINT) AS t, n_risk,
             d AS d_events, c AS n_censored_at_t,
             CASE WHEN wiped = 1 THEN 0
                  ELSE CAST(ROUND(EXP(CAST(lns AS DOUBLE) / 1000000.0)
                       * 1000000.0) AS BIGINT) END AS s_micro
      FROM cum WHERE d > 0
    """


def _q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation (operators/timeseries.
    grouped_corr) of value vs hour-of-day: five exact BIGINT sums in
    one map-side-combining pass; the statistic is one double over
    those integers (sqrt is IEEE-correctly-rounded, so safe),
    micro-rounded."""
    from cdap_geo_spark.operators.timeseries import grouped_corr
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("hr", F.hour("ts"))
    return grouped_corr(ev, group="event_type", x_col="hr",
                        y_col="value")


def _q_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomalies (operators/timeseries.
    seasonal_residuals): top-50 events by |value - (event_type, hour)
    mean|; baseline one micro-rounded double over exact sums, residual
    exact BIGINT, ties broken on the unique event id."""
    from cdap_geo_spark.operators.timeseries import seasonal_residuals
    ev = _tbl(spark, sf_dir, "events")
    out = seasonal_residuals(ev, k=50)
    return out.select(F.col("event_id").cast("long"), "event_type",
                      "hour", "resid_u")


def _q_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier stats via median/MAD
    (operators/timeseries.grouped_mad): both medians by the exact
    ceil-rank rule over integer-scaled values, the |x-med| > 3*MAD
    flag an exact BIGINT comparison — entirely float-free, no rounding
    contract anywhere."""
    from cdap_geo_spark.operators.timeseries import grouped_mad
    ev = _tbl(spark, sf_dir, "events")
    return grouped_mad(ev, group="event_type", value_col="value", k=3)


def _q_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 3-step event paths (operators/text.path_topk): stacked
    LAG windows in ONE keyed exchange, map-side path counting, bounded
    TakeOrdered — the n-step generalization of transition_counts."""
    from cdap_geo_spark.operators.text import path_topk
    ev = _tbl(spark, sf_dir, "events")
    return path_topk(ev, n=3, k=25)


def _q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine retrieval (operators/text.
    tfidf_cosine_topk) for the same four probe queries as bm25:
    milli-rounded idf makes weights exact BIGINTs, so dot products and
    norms are integer sums and the cosine is one micro-rounded double
    — rank AND score hash-match."""
    from cdap_geo_spark.operators.text import tfidf_cosine_topk
    docs = _tbl(spark, sf_dir, "documents")
    qs = spark.createDataFrame(_BM25_QUERIES,
                               "query_id string, query_text string")
    return tfidf_cosine_topk(docs, qs, k=10).select(
        "query_id", F.col("doc_id").cast("long"), "cos_u", "rank")


def _tfidf_cosine_sql() -> str:
    from cdap_geo_spark.operators.text import tfidf_cosine_oracle_sql
    qv = ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)
    return tfidf_cosine_oracle_sql(
        docs_sql="SELECT doc_id, text FROM documents",
        queries_sql=(f"SELECT * FROM (VALUES {qv}) "
                     f"AS q(query_id, query_text)"),
        k=10)


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A-ES weighted sample of 25 documents by n_chars
    (operators/text.weighted_sample): the sampling decision rides the
    row hash, so both engines pick the identical sample."""
    from cdap_geo_spark.operators.text import weighted_sample
    docs = _tbl(spark, sf_dir, "documents") \
        .select("doc_id", F.col("n_chars").cast("long").alias("w"))
    out = weighted_sample(docs, k=25, weight_col="w")
    return out.select(F.col("doc_id").cast("long"), "w",
                      F.round(F.col("priority") * 1e9).cast("long")
                      .alias("pri_nano"))


def _q_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy quality score
    (operators/text.unigram_logloss): per-token log-costs
    micro-rounded and summed as BIGINT — the CCNet-style filter made
    value-hashable."""
    from cdap_geo_spark.operators.text import unigram_logloss
    docs = _tbl(spark, sf_dir, "documents")
    return unigram_logloss(docs).select(F.col("doc_id").cast("long"),
                                        "dl", "h_micro")


def _q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf fit (operators/text.zipf_slope): OLS of ln freq on
    ln rank with the five Σs in exact BIGINT over milli-rounded
    logs."""
    from cdap_geo_spark.operators.text import zipf_slope
    docs = _tbl(spark, sf_dir, "documents")
    return zipf_slope(docs)


def _q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 token collocations by PMI (operators/text.pmi_pairs):
    one log of an exact integer ratio, rounded before ranking."""
    from cdap_geo_spark.operators.text import pmi_pairs
    docs = _tbl(spark, sf_dir, "documents")
    return pmi_pairs(docs, min_count=5, k=50)


def _q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character entropy (operators/text.char_entropy):
    per-char terms micro-nat rounded and summed as BIGINT — a float
    statistic made order-independent."""
    from cdap_geo_spark.operators.text import char_entropy
    docs = _tbl(spark, sf_dir, "documents")
    return char_entropy(docs).select(F.col("doc_id").cast("long"),
                                     "n_chars", "entropy_micro")


def _q_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (functions/relational.apply_changelog): documents
    snapshot + a derived changelog (every 3rd doc re-valued at v1,
    every 7th deleted at v2) — union + one keyed window, no join."""
    from cdap_geo_spark.functions.relational import apply_changelog
    docs = _tbl(spark, sf_dir, "documents") \
        .select(F.col("doc_id").cast("long"),
                F.col("n_chars").cast("long").alias("val"))
    upd = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.lit(1).alias("version"), F.lit("U").alias("op"),
        (F.col("val") * 10).alias("val"))
    dele = docs.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.lit(2).alias("version"), F.lit("D").alias("op"),
        F.lit(None).cast("long").alias("val"))
    changes = upd.unionByName(dele)
    return apply_changelog(docs, changes, key="doc_id")


def _q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build (functions/relational.scd2_build) from
    the same derived changelog as `changelog`: one keyed LEAD window
    assigns validity intervals, deletes close intervals without
    emitting rows — one shuffle total, no self-join."""
    from cdap_geo_spark.functions.relational import scd2_build
    docs = _tbl(spark, sf_dir, "documents") \
        .select(F.col("doc_id").cast("long"),
                F.col("n_chars").cast("long").alias("val"))
    base = docs.select("doc_id", F.lit(0).cast("long").alias("version"),
                       F.lit("U").alias("op"), "val")
    upd = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.lit(1).cast("long").alias("version"),
        F.lit("U").alias("op"), (F.col("val") * 10).alias("val"))
    dele = docs.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.lit(2).cast("long").alias("version"),
        F.lit("D").alias("op"), F.lit(None).cast("long").alias("val"))
    changes = base.unionByName(upd).unionByName(dele)
    return scd2_build(changes, key="doc_id")


def _q_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (native get_json_object, JVM-side):
    the JSON props payload parsed in whole-stage codegen — never a
    Python UDF — and aggregated per event type with exact integers."""
    ev = _tbl(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (ev.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k"),
                 F.count_distinct(F.col("k")).alias("n_distinct_k")))


def _q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (native Catalyst grouping sets): counts and
    exact integer value sums for every (event_type, hour-of-day)
    combination incl. both margins and the grand total — subtotal
    rows marked 'ALL' so no NULL-dtype ambiguity reaches the hash."""
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("hod", F.hour(F.col("ts").cast("timestamp"))) \
        .withColumn("v", F.round(F.col("value") * 100).cast("long"))
    return (ev.cube("event_type", "hod")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("v").alias("sum_v"))
            .select(F.coalesce(F.col("event_type"), F.lit("ALL"))
                    .alias("event_type"),
                    F.coalesce(F.col("hod").cast("string"), F.lit("ALL"))
                    .alias("hod"),
                    "n", "sum_v"))


def _q_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory segmentation (operators/timeseries.trajectory_segments)
    over hash-derived per-event positions: exact integer squared-jump
    break test, one keyed exchange."""
    from cdap_geo_spark.operators.timeseries import trajectory_segments
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("x", (F.col("event_id") * 48271 + 17) % 700000) \
        .withColumn("y", (F.col("event_id") * 69621 + 29) % 1300000)
    out = trajectory_segments(ev, max_jump=500_000)
    return out.select(F.col("user_id").cast("long"),
                      F.col("seg").cast("long"), "n_events",
                      "first_us", "last_us",
                      F.col("first_id").cast("long"),
                      F.col("last_id").cast("long"))


def _q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix
    (operators/timeseries.transition_counts): one keyed exchange, LAG
    under a total (ts, event_id) order, exact counts."""
    from cdap_geo_spark.operators.timeseries import transition_counts
    ev = _tbl(spark, sf_dir, "events")
    return transition_counts(ev)


def _q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type (operators/timeseries.grouped_mode):
    raw rows shuffle once on (group, value); argmax runs over the
    reduced count relation; smallest value wins ties."""
    from cdap_geo_spark.operators.timeseries import grouped_mode
    ev = _tbl(spark, sf_dir, "events")
    out = grouped_mode(ev, group="user_id", value_col="event_type")
    return out.select(F.col("user_id").cast("long"), "mode", "n")


def _q_click_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-lag click→view attribution (streaming/joins.attach_within,
    the stream-stream join run on its batch twin): equi-join on user
    with the 4 h range residual — SortMergeJoin, never a nested loop;
    exact integer lag_us makes the relation hashable."""
    from cdap_geo_spark.streaming.joins import attach_within
    ev = _tbl(spark, sf_dir, "events")
    out = attach_within(ev.where(F.col("event_type") == "click"),
                        ev.where(F.col("event_type") == "view"),
                        max_lag_minutes=240)
    return out.select(F.col("key").cast("long").alias("user_id"),
                      F.col("l_id").cast("long").alias("click_id"),
                      F.col("r_id").cast("long").alias("view_id"),
                      "lag_us")


def _q_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resampling with LOCF gap fill
    (operators/timeseries.resample_locf): per-user spine exploded
    map-side from a key-dimension aggregate, fill as a running
    last(ignorenulls); integer-scaled values — hashable."""
    from cdap_geo_spark.operators.timeseries import resample_locf
    ev = _tbl(spark, sf_dir, "events")
    out = resample_locf(ev, key="user_id", step_seconds=3600)
    return out.select(F.col("user_id").cast("long"), "bucket",
                      "value_scaled", "observed")


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (operators/graph.py) over the region
    bbox-adjacency graph: edges = ordered pairs of distinct region
    boxes whose bboxes overlap (the sjoin_pairs self-join), 3
    Pregel-style iterations in exact BIGINT micro-units so the
    distributed sum is order-independent and hash-matches the unrolled
    single-node SQL."""
    from cdap_geo_spark.operators.graph import pagerank
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    out = pagerank(edges, src="a", dst="b", iterations=3)
    return out.select(F.col("id").cast("long"),
                      F.col("rank").cast("long"))


def _q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.triangle_counts) over
    the region bbox-adjacency graph — degree-ordered (compact-forward)
    orientation bounds the wedge join at O(m^1.5); counts are exact
    BIGINTs so the distributed result hash-matches the single-node
    three-way-join oracle."""
    from cdap_geo_spark.operators.graph import triangle_counts
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    out = triangle_counts(edges, src="a", dst="b")
    return out.select(F.col("id").cast("long"), "triangles")


def _q_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 association rules by lift (operators/mining.assoc_rules)
    over order→brand baskets: supports exact BIGINTs from the distinct
    presence relation; confidence/lift one micro-rounded double each
    over exact integer products; ranking a bounded TakeOrdered under a
    total order — rank AND score hash-match the quadratic twin."""
    from cdap_geo_spark.operators.mining import assoc_rules
    li = _tbl(spark, sf_dir, "lineitem")
    pt = _tbl(spark, sf_dir, "part")
    baskets = li.join(F.broadcast(pt),
                      li["l_partkey"] == pt["p_partkey"]) \
        .select(F.col("l_orderkey").alias("basket"),
                F.col("p_brand").alias("item"))
    return assoc_rules(baskets, min_support=5, k=50)


def _q_cell_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact box->grid rasterization (operators/zonal.cell_coverage):
    per 50km-cell covering-box count and summed clip area, all BIGINT
    (rect x rect clips are exact integers) — map-side cell fan-out,
    one keyed exchange."""
    from cdap_geo_spark.operators.zonal import cell_coverage
    from cdap_geo_spark.sources import relational as R
    regions = R.region_boxes(spark, sf_dir)
    return cell_coverage(regions, cell=50_000)


def _q_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (operators/graph.clustering_coeff)
    over the region bbox-adjacency graph: deg and triangles are exact
    BIGINTs, the coefficient one micro-rounded double with the
    identical literal shape in both engines — community structure as
    a hashable relation."""
    from cdap_geo_spark.operators.graph import clustering_coeff
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    out = clustering_coeff(edges, src="a", dst="b")
    return out.select(F.col("id").cast("long"), "deg", "triangles",
                      "coeff_micro")


def _hull_sql() -> str:
    """DuckDB twin of `convex_hull`: the O(n^3) hull-edge definition
    over the same hash-derived points (see operators/hull.py —
    definition-equal to the monotone chain, all-integer)."""
    from cdap_geo_spark.operators.hull import hull_oracle_sql
    return hull_oracle_sql(_HULL_PTS)


def _hull_diameter_sql() -> str:
    """DuckDB twin of `hull_diameter` (see operators/hull.py)."""
    from cdap_geo_spark.operators.hull import hull_diameter_oracle_sql
    return hull_diameter_oracle_sql(_HULL_PTS)


def _triangles_sql() -> str:
    """DuckDB twin of `triangles`: canonical u<v bbox-adjacency edges
    fed to the three-way equi-join twin (each triangle a<b<c matches
    exactly once; see operators/graph.triangle_oracle_sql)."""
    from cdap_geo_spark.operators.graph import triangle_oracle_sql
    edges = f"""
      SELECT a.region_id AS u, c.region_id AS v
      FROM ({_BOXES}) a JOIN ({_BOXES}) c
        ON NOT (a.minx > c.maxx OR a.miny > c.maxy
             OR a.maxx < c.minx OR a.maxy < c.miny)
      WHERE a.region_id < c.region_id
    """
    return triangle_oracle_sql(edges)


def _ewma_sql() -> str:
    """DuckDB twin of `ewma` (see
    operators/timeseries.ewma_oracle_sql)."""
    from cdap_geo_spark.operators.timeseries import ewma_oracle_sql
    return ewma_oracle_sql(table_expr="events", window=8)


def _assoc_sql() -> str:
    """DuckDB twin of `assoc_rules` (see
    operators/mining.assoc_oracle_sql)."""
    from cdap_geo_spark.operators.mining import assoc_oracle_sql
    baskets = """
      SELECT l_orderkey AS basket, p_brand AS item
      FROM lineitem JOIN part ON l_partkey = p_partkey
    """
    return assoc_oracle_sql(baskets, min_support=5, k=50)


def _clustering_sql() -> str:
    """DuckDB twin of `clustering_coeff`: the same canonical u<v
    bbox-adjacency edges fed to the clustering twin (see
    operators/graph.clustering_oracle_sql)."""
    from cdap_geo_spark.operators.graph import clustering_oracle_sql
    edges = f"""
      SELECT a.region_id AS u, c.region_id AS v
      FROM ({_BOXES}) a JOIN ({_BOXES}) c
        ON NOT (a.minx > c.maxx OR a.miny > c.maxy
             OR a.maxx < c.minx OR a.maxy < c.miny)
      WHERE a.region_id < c.region_id
    """
    return clustering_oracle_sql(edges)


def _q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances (operators/graph.bfs_hops) over
    the region bbox-adjacency graph from every 97th region: frontier
    propagation (work = edges touched, not rounds × nodes), settled
    state one row per reached node."""
    from cdap_geo_spark.operators.graph import bfs_hops
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    srcs = regions.where(F.col("region_id") % 97 == 0) \
        .select(F.col("region_id").alias("id"))
    out = bfs_hops(edges, srcs, src="a", dst="b", max_hops=3)
    return out.select(F.col("id").cast("long"), "hops")


def _pmi_sql() -> str:
    """DuckDB twin of `pmi` (see operators/text.pmi_oracle_sql)."""
    from cdap_geo_spark.operators.text import pmi_oracle_sql
    return pmi_oracle_sql("SELECT doc_id, text FROM documents",
                          min_count=5, k=50)


def _zipf_sql() -> str:
    """DuckDB twin of `zipf` (see operators/text.zipf_oracle_sql)."""
    from cdap_geo_spark.operators.text import zipf_oracle_sql
    return zipf_oracle_sql("SELECT doc_id, text FROM documents")


def _logloss_sql() -> str:
    """DuckDB twin of `unigram_logloss` (see operators/text.py)."""
    from cdap_geo_spark.operators.text import unigram_logloss_oracle_sql
    return unigram_logloss_oracle_sql("SELECT doc_id, text FROM documents")


def _grid_cluster_sql() -> str:
    """DuckDB twin of `grid_cluster` (recursive-CTE components; see
    operators/cluster.grid_cluster_oracle_sql)."""
    from cdap_geo_spark.operators.cluster import grid_cluster_oracle_sql
    pts = """
      SELECT (doc_id * 48271 + 17) % 700000 AS x,
             (doc_id * 69621 + 29) % 1300000 AS y
      FROM documents
    """
    return grid_cluster_oracle_sql(pts, cell_size=50_000, min_pts=3)


def _weighted_sample_sql() -> str:
    """DuckDB twin of `weighted_sample` (see operators/text.py)."""
    from cdap_geo_spark.operators.text import weighted_sample_oracle_sql
    inner = weighted_sample_oracle_sql(
        "SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents",
        k=25)
    return (f"SELECT CAST(doc_id AS BIGINT) AS doc_id, w, "
            f"CAST(ROUND(priority * 1e9) AS BIGINT) AS pri_nano "
            f"FROM ({inner})")


def _entropy_sql() -> str:
    """DuckDB twin of `char_entropy` (see operators/text.py)."""
    from cdap_geo_spark.operators.text import char_entropy_oracle_sql
    return char_entropy_oracle_sql("SELECT doc_id, text FROM documents")


def _bfs_sql() -> str:
    """DuckDB twin of `bfs` (see operators/graph.bfs_oracle_sql)."""
    from cdap_geo_spark.operators.graph import bfs_oracle_sql
    edges = f"""
      SELECT a.region_id AS src, c.region_id AS dst
      FROM ({_BOXES}) a JOIN ({_BOXES}) c
        ON NOT (a.minx > c.maxx OR a.miny > c.maxy
             OR a.maxx < c.minx OR a.maxy < c.miny)
      WHERE a.region_id <> c.region_id
    """
    srcs = (f"SELECT region_id AS id FROM ({_BOXES}) "
            f"WHERE region_id % 97 = 0")
    return bfs_oracle_sql(edges, srcs, max_hops=3)


def _q_window_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window token-frequency readout from the streaming CMS
    sketch relation (streaming/windows.windowed_cms + stateless
    cms_estimate): every 29th user probed in every hourly window. The
    batch twin is the oracle; the streaming twin is pytest-pinned
    equal on the same rows."""
    from cdap_geo_spark.operators.sketch import cms_estimate
    from cdap_geo_spark.streaming.windows import windowed_cms
    ev = _tbl(spark, sf_dir, "events")
    rel = windowed_cms(ev, value_col="user_id", window="1 hour",
                       depth=4, width=256)
    wins = rel.select("window_start").distinct()
    users = (ev.where(F.col("user_id") % 29 == 0)
             .select(F.col("user_id").cast("string").alias("uid"))
             .distinct())
    probes = wins.crossJoin(users)
    est = cms_estimate(rel, probes, value_col="uid",
                       group_cols=["window_start"], depth=4, width=256)
    return est.select(F.col("window_start").cast("string"),
                      F.col("uid").cast("long").alias("user_id"),
                      F.col("est_count").cast("long"))


def _q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static spatial enrich (``streaming/enrich.py``) run on
    its batch twin — the operator executes the IDENTICAL plan per
    micro-batch (the sjoin broadcast route's one ``mapInArrow`` pass
    against regions indexed once, when it is called), so the batch run
    oracle-gates the streaming plan; the streaming execution itself is
    pinned by ``tests/test_enrich_stream.py`` against this same
    result."""
    from cdap_geo_spark import docs as D
    from cdap_geo_spark.sources import relational as R
    from cdap_geo_spark.streaming.enrich import spatial_enrich_stream
    _spatial_conf(spark)
    docs = D.with_geometry(R.interleaved_docs(spark, sf_dir)) \
        .select("doc_id", "geometry")
    regions = R.region_boxes(spark, sf_dir).select("region_id", "geometry")
    out = spatial_enrich_stream(docs, regions, level=8)
    return out.select(F.col("doc_id").cast("long"),
                      F.col("region_id").cast("long"))


def _q_sjoin_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pairs as sjoin_pip, but through the bucketed at-rest
    layout: both sides' cell indexes persisted bucketBy(cell_id) so
    the join itself runs with ZERO shuffle of either side
    (operators/bucketed.py; the only Exchange left is the narrow
    pair dedup). Oracle: identical SQL to sjoin_pip — proves the
    exchange-free plan returns the same rows."""
    write_bucketed_bench_tables(spark, sf_dir)
    from cdap_geo_spark.operators.bucketed import sjoin_bucketed
    out = sjoin_bucketed(spark, "bench_bt_docs", "bench_bt_regions",
                         left_id="doc_id", right_id="region_id")
    return out.select(F.col("doc_id").cast("long"),
                      F.col("region_id").cast("long"))


def _q_sjoin_bucketed_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The coordinated-salt SKEW layout under the correctness gate:
    docs written salt=4 (rows spread over (cell_id, _salt) buckets —
    a hot cell lands in 4 buckets, not 1), regions written salt=4 +
    replicate_salt (one copy per salt value), joined exchange-free on
    (cell_id, _salt). Oracle: identical SQL to sjoin_pip — proves the
    salted layout returns the same rows as the plain shuffle join."""
    from cdap_geo_spark.operators.bucketed import sjoin_bucketed
    write_salted_bench_tables(spark, sf_dir)
    out = sjoin_bucketed(spark, "bench_bts_docs", "bench_bts_regions",
                         left_id="doc_id", right_id="region_id")
    return out.select(F.col("doc_id").cast("long"),
                      F.col("region_id").cast("long"))


def write_salted_bench_tables(spark: SparkSession, sf_dir: str) -> None:
    """The coordinated-salt layout's one-off writes (docs salt=4,
    regions salt=4 replicated), shared by the oracle query and the
    bench's write/join split timing."""
    import os
    import tempfile

    from cdap_geo_spark import docs as D
    from cdap_geo_spark.operators.bucketed import index_to_bucketed_table
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    docs = D.with_geometry(R.interleaved_docs(spark, sf_dir))
    regions = R.region_boxes(spark, sf_dir).select("region_id", "geometry")
    root = os.path.join(
        tempfile.gettempdir(),
        f"cdap_geo_bucketed_salted_{os.path.basename(sf_dir.rstrip('/'))}")
    index_to_bucketed_table(docs, "bench_bts_docs", id_col="doc_id",
                            level=8, buckets=16, salt=4, census=False,
                            path=f"{root}/docs")
    index_to_bucketed_table(regions, "bench_bts_regions",
                            id_col="region_id", level=8, buckets=16,
                            salt=4, replicate_salt=True, census=False,
                            path=f"{root}/regions")


def write_bucketed_bench_tables(spark: SparkSession, sf_dir: str) -> None:
    """Build (or rebuild) the two bucketed index tables the
    sjoin_bucketed query joins. Split out so bench.py can time the
    one-off write separately from the repeated join — the layout's
    entire point is paying the shuffle once at write time (round-5
    VERDICT #3). Fixed per-sf paths under the system temp dir: reruns
    overwrite in place instead of orphaning a fresh mkdtemp per
    invocation (round-5 ADVICE)."""
    import os
    import tempfile

    from cdap_geo_spark import docs as D
    from cdap_geo_spark.operators.bucketed import index_to_bucketed_table
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    docs = D.with_geometry(R.interleaved_docs(spark, sf_dir))
    regions = R.region_boxes(spark, sf_dir).select("region_id", "geometry")
    root = os.path.join(
        tempfile.gettempdir(),
        f"cdap_geo_bucketed_{os.path.basename(sf_dir.rstrip('/'))}")
    index_to_bucketed_table(docs, "bench_bt_docs", id_col="doc_id",
                            level=8, buckets=16, census=False,
                            path=f"{root}/docs")
    index_to_bucketed_table(regions, "bench_bt_regions",
                            id_col="region_id", level=8, buckets=16,
                            census=False, path=f"{root}/regions")


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.streaming.windows import sessionize
    ev = _tbl(spark, sf_dir, "events")
    out = sessionize(ev, gap_minutes=30)
    return out.select(F.col("event_id").cast("long"),
                      F.col("user_id").cast("long"),
                      F.col("session_seq").cast("long"))


def _q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregates (streaming/windows.session_stats): the
    sessionize window's user_id partitioning already satisfies the
    groupBy distribution, so the whole thing costs ONE shuffle."""
    from cdap_geo_spark.streaming.windows import session_stats
    ev = _tbl(spark, sf_dir, "events")
    return session_stats(ev, gap_minutes=30)


def _q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics over the flagship spatial join: per region box,
    count / token-sum / token-max of the interleaved documents whose
    geometry span falls inside it (empty regions kept at zero). The
    value payload joins back AFTER the cell-cover join — it never
    rides the spatial shuffle."""
    from cdap_geo_spark import docs as D
    from cdap_geo_spark.operators.text import token_count
    from cdap_geo_spark.operators.zonal import zonal_stats
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    docs = D.with_geometry(R.interleaved_docs(spark, sf_dir))
    text = F.filter("spans", lambda s: s["kind"] == F.lit("text"))[0]["text"]
    docs = docs.select("doc_id", "geometry",
                       token_count(text).cast("long").alias("n_tokens"))
    regions = R.region_boxes(spark, sf_dir).select("region_id", "geometry")
    out = zonal_stats(docs, regions, value_col="n_tokens", level=8)
    return out.select(F.col("region_id").cast("long"),
                      F.col("n_rows").alias("n_docs"),
                      F.col("sum_value").alias("sum_tokens"),
                      F.col("max_value").alias("max_tokens"))


def _q_areal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Areal interpolation (operators/zonal.areal_interpolate): doc
    n_chars apportioned to region boxes by clipped-area share; shares
    micro-rounded and summed as BIGINT — order-independent."""
    from cdap_geo_spark.operators.zonal import areal_interpolate
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    docs = _tbl(spark, sf_dir, "documents") \
        .select("doc_id", F.col("n_chars").cast("long"))
    src = R.doc_boxes(spark, sf_dir).join(docs, "doc_id")
    tgt = R.region_boxes(spark, sf_dir).select("region_id", "geometry")
    out = areal_interpolate(src, tgt, value_col="n_chars", level=8)
    return out.select(F.col("region_id").cast("long"),
                      "est_scaled", "n_src")


def _q_morans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I of region-box AREA under bbox adjacency
    (operators/zonal.morans_i): integer-centered, every Σ exact
    BIGINT, the statistic one double over exact ints."""
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.operators.zonal import morans_i
    from cdap_geo_spark.sources import relational as R
    from cdap_geo_spark import udfs
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    # areas reach ~2.6e9; DIV 1e5 keeps z·z sums inside int64 (the
    # operator's documented magnitude contract), floor-div exact in
    # both engines
    vals = regions.select(
        F.col("region_id").alias("id"),
        ((F.col("maxx") - F.col("minx"))
         * (F.col("maxy") - F.col("miny"))).cast("long").alias("_a")) \
        .select("id", F.expr("_a DIV 100000").alias("x"))
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    return morans_i(vals, edges, id_col="id", value_col="x")


def _q_lisa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISA local Moran's I per region (operators/zonal.local_morans)
    of region-box area under bbox adjacency: exact-BIGINT spatial lag
    and numerator, integer quadrant labels, one double scale."""
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.operators.zonal import local_morans
    from cdap_geo_spark.sources import relational as R
    from cdap_geo_spark import udfs
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    vals = regions.select(
        F.col("region_id").alias("id"),
        ((F.col("maxx") - F.col("minx"))
         * (F.col("maxy") - F.col("miny"))).cast("long").alias("_a")) \
        .select("id", F.expr("_a DIV 100000").alias("x"))
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    return local_morans(vals, edges, id_col="id", value_col="x")


def _q_getis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hotspot z-score per region (operators/zonal.
    getis_ord_gstar) of region-box area under bbox adjacency: the
    multiply-through-by-n recipe keeps numerator and both variance
    terms exact BIGINTs; one fixed-shape double, micro-rounded; the
    HOT/COLD label is an exact integer sign test."""
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.operators.zonal import getis_ord_gstar
    from cdap_geo_spark.sources import relational as R
    from cdap_geo_spark import udfs
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    vals = regions.select(
        F.col("region_id").alias("id"),
        ((F.col("maxx") - F.col("minx"))
         * (F.col("maxy") - F.col("miny"))).cast("long").alias("_a")) \
        .select("id", F.expr("_a DIV 100000").alias("x"))
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    return getis_ord_gstar(vals, edges, id_col="id", value_col="x") \
        .select(F.col("id").cast("long"), "k", "lag", "a_num",
                "label", "g_micro")


def _lisa_sql() -> str:
    return f"""
      WITH b AS ({_BOXES}),
      v AS (SELECT region_id AS id,
                   CAST((maxx - minx) * (maxy - miny) AS BIGINT)
                     // 100000 AS x
            FROM b),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
                    CAST(SUM(x) AS BIGINT) AS s FROM v),
      z AS (SELECT id, x - (SELECT s // nn FROM st) AS z FROM v),
      e AS (
        SELECT a.region_id AS a, c.region_id AS bb
        FROM ({_BOXES}) a JOIN ({_BOXES}) c
          ON NOT (a.minx > c.maxx OR a.miny > c.maxy
               OR a.maxx < c.minx OR a.maxy < c.miny)
        WHERE a.region_id <> c.region_id
      ),
      lag AS (
        SELECT e.a AS id, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
               CAST(SUM(zj.z) AS BIGINT) AS zlag
        FROM e JOIN z zj ON e.bb = zj.id
        GROUP BY 1
      ),
      dn AS (SELECT CAST(SUM(z * z) AS BIGINT) AS den,
                    (SELECT nn FROM st) AS nn FROM z)
      SELECT CAST(lag.id AS BIGINT) AS id, lag.n_neighbors, lag.zlag,
             CAST(z.z * lag.zlag AS BIGINT) AS num,
             CASE WHEN z.z >= 0 AND lag.zlag >= 0 THEN 'HH'
                  WHEN z.z < 0 AND lag.zlag < 0 THEN 'LL'
                  WHEN z.z >= 0 THEN 'HL' ELSE 'LH' END AS quad,
             CASE WHEN dn.den > 0 THEN
               CAST(ROUND(CAST(dn.nn * (z.z * lag.zlag) AS DOUBLE)
                          / CAST(dn.den AS DOUBLE) * 1000000.0)
                 AS BIGINT) ELSE NULL END AS i_micro
      FROM lag JOIN z ON z.id = lag.id CROSS JOIN dn
    """


def _getis_sql() -> str:
    return f"""
      WITH b AS ({_BOXES}),
      v AS (SELECT region_id AS id,
                   CAST((maxx - minx) * (maxy - miny) AS BIGINT)
                     // 100000 AS x
            FROM b),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(x) AS BIGINT) AS s,
                    CAST(SUM(x * x) AS BIGINT) AS ss FROM v),
      e AS (
        SELECT a.region_id AS a, c.region_id AS bb
        FROM ({_BOXES}) a JOIN ({_BOXES}) c
          ON NOT (a.minx > c.maxx OR a.miny > c.maxy
               OR a.maxx < c.minx OR a.maxy < c.miny)
        WHERE a.region_id <> c.region_id
        UNION ALL SELECT id, id FROM v
      ),
      lg AS (
        SELECT e.a AS id, CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(x.x) AS BIGINT) AS lag
        FROM e JOIN v x ON e.bb = x.id
        GROUP BY 1
      )
      SELECT CAST(lg.id AS BIGINT) AS id, lg.k, lg.lag,
             CAST(st.n * lg.lag - st.s * lg.k AS BIGINT) AS a_num,
             CASE WHEN st.n * lg.lag - st.s * lg.k > 0 THEN 'HOT'
                  WHEN st.n * lg.lag - st.s * lg.k < 0 THEN 'COLD'
                  ELSE 'NONE' END AS label,
             CASE WHEN st.n * st.ss - st.s * st.s > 0
                   AND st.n * lg.k - lg.k * lg.k > 0 AND st.n > 1 THEN
               CAST(ROUND(CAST(st.n * lg.lag - st.s * lg.k AS DOUBLE)
                    / (SQRT(CAST(st.n * st.ss - st.s * st.s AS DOUBLE))
                       * SQRT(CAST(st.n * lg.k - lg.k * lg.k AS DOUBLE)
                              / CAST(st.n - 1 AS DOUBLE)))
                    * 1000000.0) AS BIGINT)
             ELSE NULL END AS g_micro
      FROM lg CROSS JOIN st
    """


def _q_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence enter/exit detection (operators/zonal.
    geofence_transitions): per-event fence sets from a cell equi-join
    collapse to sorted arrays; ONE user-keyed window LAGs the array;
    enters/exits are array_except both ways — never events x fences."""
    from cdap_geo_spark.operators.zonal import geofence_transitions
    ev = _tbl(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        ((F.col("event_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("event_id") * 69621 + 29) % 1300000).alias("y"))
    fences = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").alias("fence_id"),
        ((F.col("n_nationkey") * 40503 + 101) % 600000).alias("minx"),
        ((F.col("n_nationkey") * 69301 + 257) % 1150000).alias("miny"))
    fences = fences.select(
        "fence_id", "minx", "miny",
        (F.col("minx") + (F.col("fence_id") * 97 + 13) % 100001
         + 50000).alias("maxx"),
        (F.col("miny") + (F.col("fence_id") * 89 + 37) % 100001
         + 50000).alias("maxy"))
    return geofence_transitions(ev, fences, cell=100_000)


def _geofence_sql() -> str:
    return """
      WITH b AS (
        SELECT user_id AS u, event_id AS e, epoch_us(ts) AS t,
               (event_id*48271 + 17) % 700000  AS x,
               (event_id*69621 + 29) % 1300000 AS y
        FROM events WHERE ts IS NOT NULL
      ),
      f0 AS (
        SELECT n_nationkey AS fence_id,
               (n_nationkey*40503 + 101) % 600000  AS minx,
               (n_nationkey*69301 + 257) % 1150000 AS miny
        FROM nation
      ),
      f AS (
        SELECT fence_id, minx, miny,
               minx + (fence_id*97 + 13) % 100001 + 50000 AS maxx,
               miny + (fence_id*89 + 37) % 100001 + 50000 AS maxy
        FROM f0
      ),
      fl AS (
        SELECT b.u, b.e, b.t, f.fence_id,
               CASE WHEN b.x >= f.minx AND b.x <= f.maxx
                     AND b.y >= f.miny AND b.y <= f.maxy
                    THEN 1 ELSE 0 END AS ins
        FROM b CROSS JOIN f
      ),
      lg AS (
        SELECT u, e, fence_id, ins,
               COALESCE(LAG(ins) OVER (PARTITION BY u, fence_id
                                       ORDER BY t, e), 0) AS pins
        FROM fl
      )
      SELECT u AS user_id, CAST(e AS BIGINT) AS event_id,
             CAST(fence_id AS BIGINT) AS fence_id,
             'enter' AS kind
      FROM lg WHERE ins = 1 AND pins = 0
      UNION ALL
      SELECT u, CAST(e AS BIGINT), CAST(fence_id AS BIGINT), 'exit'
      FROM lg WHERE ins = 0 AND pins = 1
    """


def _q_adaptive_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree tiling (operators/tiles.adaptive_tiles) of
    the doc points: split until <=500 points per tile (or level 9);
    one point-volume exchange, then occupied-tile-sized rollups."""
    from cdap_geo_spark.operators.tiles import adaptive_tiles
    pts = _tbl(spark, sf_dir, "documents").select(
        ((F.col("doc_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("doc_id") * 69621 + 29) % 1300000).alias("y"))
    return adaptive_tiles(pts, max_per_tile=500)


def _adaptive_tiles_sql() -> str:
    from cdap_geo_spark.operators.tiles import adaptive_tiles_oracle_sql
    pts = """
      SELECT (doc_id*48271 + 17) % 700000  AS x,
             (doc_id*69621 + 29) % 1300000 AS y
      FROM documents
    """
    return adaptive_tiles_oracle_sql(pts, max_per_tile=500)


def _ipf_od(spark, sf_dir: str, parity: int):
    """OD relation with 1D cell ids for the IPF query: even-day trips
    are the matrix, odd-day margins are the targets."""
    from cdap_geo_spark.operators.timeseries import od_matrix
    ev = _tbl(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        ((F.col("event_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("event_id") * 69621 + 29) % 1300000).alias("y")) \
        .where(F.dayofmonth("ts") % 2 == parity)
    od = od_matrix(ev, cell=100_000)
    return od.select(
        (F.col("o_cx") * 16 + F.col("o_cy")).alias("o"),
        (F.col("d_cx") * 16 + F.col("d_cy")).alias("d"),
        F.col("n_keys").alias("n"))


def _q_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPF matrix raking (operators/timeseries.ipf_balance): balance
    the even-day OD matrix to the odd-day margins — per-pass BIGINT
    re-quantization keeps every margin sum exact (no float-order
    dependence); 2 unrolled row+column sweeps."""
    from cdap_geo_spark.operators.timeseries import ipf_balance
    od_a = _ipf_od(spark, sf_dir, 0)
    od_b = _ipf_od(spark, sf_dir, 1)
    rows = od_b.groupBy("o").agg(F.sum("n").cast("long").alias("t"))
    cols = od_b.groupBy("d").agg(F.sum("n").cast("long").alias("t"))
    return ipf_balance(od_a, rows, cols, iters=2)


def _ipf_sql() -> str:
    from cdap_geo_spark.operators.timeseries import ipf_oracle_sql

    def od(parity: int) -> str:
        return f"""
          SELECT (ox // 100000) * 16 + oy // 100000 AS o,
                 (dx // 100000) * 16 + dy // 100000 AS d,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM (
            SELECT user_id,
                   MAX(CASE WHEN rf = 1 THEN x END) AS ox,
                   MAX(CASE WHEN rf = 1 THEN y END) AS oy,
                   MAX(CASE WHEN rl = 1 THEN x END) AS dx,
                   MAX(CASE WHEN rl = 1 THEN y END) AS dy
            FROM (
              SELECT user_id, x, y,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rf,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC,
                                                 event_id DESC) AS rl
              FROM (
                SELECT user_id, ts, event_id,
                       CAST((event_id*48271 + 17) % 700000 AS BIGINT)
                         AS x,
                       CAST((event_id*69621 + 29) % 1300000 AS BIGINT)
                         AS y
                FROM events
                WHERE ts IS NOT NULL AND day(ts) % 2 = {parity}
              )
            ) GROUP BY user_id
          ) GROUP BY 1, 2
        """

    rows = f"SELECT o, CAST(SUM(n) AS BIGINT) AS t FROM ({od(1)}) GROUP BY 1"
    cols = f"SELECT d, CAST(SUM(n) AS BIGINT) AS t FROM ({od(1)}) GROUP BY 1"
    return ipf_oracle_sql(od(0), rows, cols, iters=2)


def _q_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas–Peucker trajectory simplification (operators/
    timeseries.line_simplify) at 3 rounds / tol=300 over quantized
    user walks: exact integer cross² argmax per interval, one grouped
    argmax + one join per round."""
    from cdap_geo_spark.operators.timeseries import line_simplify
    ev = _tbl(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        ((F.col("event_id") * 48271 + 17) % 8192).alias("x"),
        ((F.col("event_id") * 69621 + 29) % 8192).alias("y"))
    return line_simplify(ev, tol=300, rounds=3)


def _simplify_sql() -> str:
    from cdap_geo_spark.operators.timeseries import line_simplify_oracle_sql
    traj = """
      SELECT user_id AS k, event_id AS id, ts,
             (event_id*48271 + 17) % 8192 AS x,
             (event_id*69621 + 29) % 8192 AS y
      FROM events
    """
    return line_simplify_oracle_sql(traj, tol=300, rounds=3)


def _q_ts_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-continuity audit (operators/timeseries.ts_gaps): per
    user hourly-bucket completeness between first and last
    observation — closed-form expected count, occupied-bucket LAG for
    the longest gap; cost bounded by occupied buckets."""
    from cdap_geo_spark.operators.timeseries import ts_gaps
    ev = _tbl(spark, sf_dir, "events")
    return ts_gaps(ev)


def _ts_gaps_sql() -> str:
    from cdap_geo_spark.operators.timeseries import ts_gaps_oracle_sql
    ev = "SELECT user_id AS k, epoch_us(ts) AS t FROM events"
    return ts_gaps_oracle_sql(ev)


def _q_co_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-location mining (operators/timeseries.co_visits): user pairs
    sharing a 50km cell in the same hour >= 3 times, with the longest
    consecutive-hour streak; candidates from the space-time bucket
    self-join, never all-pairs over users."""
    from cdap_geo_spark.operators.timeseries import co_visits
    ev = _tbl(spark, sf_dir, "events").select(
        "user_id", "ts",
        ((F.col("user_id") * 48271) % 650000
         + (F.col("event_id") * 97 + 13) % 100001).alias("x"),
        ((F.col("user_id") * 69621) % 1250000
         + (F.col("event_id") * 89 + 37) % 100001).alias("y"))
    return co_visits(ev, cell=50_000, bin_us=3_600_000_000,
                     min_covisits=3)


def _co_visits_sql() -> str:
    from cdap_geo_spark.operators.timeseries import co_visits_oracle_sql
    ev = """
      SELECT user_id AS k, epoch_us(ts) AS t,
             (user_id*48271) % 650000  + (event_id*97 + 13) % 100001 AS x,
             (user_id*69621) % 1250000 + (event_id*89 + 37) % 100001 AS y
      FROM events
    """
    return co_visits_oracle_sql(ev, cell=50_000, bin_us=3_600_000_000,
                                min_covisits=3)


def _q_home_work(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Home/work anchors (operators/timeseries.home_work): modal
    night vs working-hours cell per user over localized walks, exact
    squared commute distance; deterministic tie rule."""
    from cdap_geo_spark.operators.timeseries import home_work
    ev = _tbl(spark, sf_dir, "events").select(
        "user_id", "ts",
        ((F.col("user_id") * 48271) % 650000
         + (F.col("event_id") * 97 + 13) % 100001).alias("x"),
        ((F.col("user_id") * 69621) % 1250000
         + (F.col("event_id") * 89 + 37) % 100001).alias("y"))
    return home_work(ev, cell=50_000)


def _home_work_sql() -> str:
    from cdap_geo_spark.operators.timeseries import home_work_oracle_sql
    ev = """
      SELECT user_id AS k, ts,
             (user_id*48271) % 650000  + (event_id*97 + 13) % 100001 AS x,
             (user_id*69621) % 1250000 + (event_id*89 + 37) % 100001 AS y
      FROM events
    """
    return home_work_oracle_sql(ev, cell=50_000)


def _q_grid_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (operators/cluster.grid_cluster) of the
    doc points: one keyed agg to dense cells, 8-neighbor equi-join,
    pointer-jumping components over dense cells only."""
    from cdap_geo_spark.operators.cluster import grid_cluster
    _spatial_conf(spark)
    pts = _tbl(spark, sf_dir, "documents").select(
        ((F.col("doc_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("doc_id") * 69621 + 29) % 1300000).alias("y"))
    return grid_cluster(pts, cell_size=50_000, min_pts=3)


def _q_hex_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex density binning (operators/cluster.hex_bin) of the doc
    points at circumradius 25km: pure map-side cube-rounding in
    codegen, ONE (hq, hr) count exchange bounded by occupied hexes."""
    from cdap_geo_spark.operators.cluster import hex_bin
    pts = _tbl(spark, sf_dir, "documents").select(
        ((F.col("doc_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("doc_id") * 69621 + 29) % 1300000).alias("y"))
    return hex_bin(pts, size=25_000.0)


def _hex_bin_sql() -> str:
    from cdap_geo_spark.operators.cluster import hex_bin_oracle_sql
    return hex_bin_oracle_sql(_PTS, size=25_000.0)


def _q_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert write-layout key (operators/curves.hilbert_index) of the
    doc points at order 21 (2M x 2M grid): the locality-preserving
    clustered-write ordering — 21 chained integer Projects, zero
    exchanges, exact int64 end to end."""
    from cdap_geo_spark.operators.curves import hilbert_index
    pts = _tbl(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("doc_id") * 69621 + 29) % 1300000).alias("y"))
    return hilbert_index(pts, order=21).select("doc_id", "h")


def _hilbert_sql() -> str:
    from cdap_geo_spark.operators.curves import hilbert_oracle_sql
    pts = """
      SELECT doc_id,
             (doc_id*48271 + 17) % 700000  AS x,
             (doc_id*69621 + 29) % 1300000 AS y
      FROM documents
    """
    return hilbert_oracle_sql(pts, order=21)


def _q_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-similarity join (operators/timeseries.
    traj_hausdorff): symmetric discrete Hausdorff² between per-user
    cell signatures of USER-LOCALIZED walks (each user wanders ±100km
    around a user-hash home), candidates from cell co-occurrence —
    never all-pairs over users; exact BIGINT end to end."""
    from cdap_geo_spark.operators.timeseries import traj_hausdorff
    ev = _tbl(spark, sf_dir, "events").select(
        "user_id",
        ((F.col("user_id") * 48271) % 650000
         + (F.col("event_id") * 97 + 13) % 100001).alias("x"),
        ((F.col("user_id") * 69621) % 1250000
         + (F.col("event_id") * 89 + 37) % 100001).alias("y"))
    return traj_hausdorff(ev, cell=50_000, min_shared=2)


def _hausdorff_sql() -> str:
    from cdap_geo_spark.operators.timeseries import traj_hausdorff_oracle_sql
    ev = """
      SELECT user_id AS k,
             (user_id*48271) % 650000  + (event_id*97 + 13) % 100001 AS x,
             (user_id*69621) % 1250000 + (event_id*89 + 37) % 100001 AS y
      FROM events
    """
    return traj_hausdorff_oracle_sql(ev, cell=50_000, min_shared=2)


def _q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed Theil–Sen robust slope (operators/timeseries.
    theil_sen) of event value vs event time per event_type: median of
    lag≤10 pairwise slopes under the deterministic rank rule; one
    keyed exchange, no self-join."""
    from cdap_geo_spark.operators.timeseries import theil_sen
    ev = _tbl(spark, sf_dir, "events")
    out = theil_sen(ev, group="event_type")
    return out.select(F.col("event_type").alias("g"), "n_pairs",
                      "slope_u")


def _theil_sen_sql() -> str:
    from cdap_geo_spark.operators.timeseries import theil_sen_oracle_sql
    ev = """
      SELECT event_type AS g, event_id AS id, epoch_us(ts) AS t,
             value AS v
      FROM events
    """
    return theil_sen_oracle_sql(ev)


def _q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit DQ screen (functions/relational.
    benford_deviation) over event values: digit read from the scaled
    BIGINT's decimal string (no float in the digit path), chi² as a
    digit-ordered left fold."""
    from cdap_geo_spark.functions.relational import benford_deviation
    ev = _tbl(spark, sf_dir, "events")
    return benford_deviation(ev, value_col="value")


def _benford_sql() -> str:
    from cdap_geo_spark.functions.relational import BENFORD_P
    case = " ".join(f"WHEN d.digit = {i + 1} THEN {p!r}"
                    for i, p in enumerate(BENFORD_P))
    return f"""
      WITH v AS (
        SELECT CAST(ROUND(ABS(value) * 100) AS BIGINT) AS s
        FROM events WHERE value IS NOT NULL
      ),
      o AS (
        SELECT CAST(substr(CAST(s AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM v WHERE s > 0 GROUP BY 1
      ),
      d AS (SELECT CAST(r.range AS BIGINT) AS digit FROM range(1, 10) r),
      full_ AS (
        SELECT d.digit, CAST(COALESCE(o.n, 0) AS BIGINT) AS n_obs,
               CASE {case} END AS p
        FROM d LEFT JOIN o ON o.digit = d.digit
      ),
      tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS nt FROM full_),
      t AS (
        SELECT digit, n_obs,
               CAST(nt AS DOUBLE) * p AS e,
               (CAST(n_obs AS DOUBLE) - CAST(nt AS DOUBLE) * p)
               * (CAST(n_obs AS DOUBLE) - CAST(nt AS DOUBLE) * p)
               / (CAST(nt AS DOUBLE) * p) AS term
        FROM full_, tot
      ),
      c AS (SELECT SUM(term ORDER BY digit) AS chi2 FROM t)
      SELECT digit, n_obs,
             CAST(ROUND(1000000.0 * e) AS BIGINT) AS exp_u,
             CAST(ROUND(1000000.0 * chi2) AS BIGINT) AS chi2_u
      FROM t, c
    """


def _q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity privacy audit (functions/relational.k_anonymity)
    over the quasi-identifier (event_type, value-band, hour-of-day):
    one groupBy + 1-row rollup, all exact BIGINT."""
    from cdap_geo_spark.functions.relational import k_anonymity
    ev = _tbl(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(ROUND(value * 10) AS BIGINT) DIV 500").alias("vb"),
        F.hour("ts").cast("long").alias("hr"))
    return k_anonymity(ev, quasi_cols=["event_type", "vb", "hr"], k=5)


def _k_anonymity_sql() -> str:
    return """
      WITH q AS (
        SELECT event_type,
               CAST(ROUND(value * 10) AS BIGINT) // 500 AS vb,
               CAST(hour(ts) AS BIGINT) AS hr
        FROM events
      ),
      cls AS (
        SELECT event_type, vb, hr, CAST(COUNT(*) AS BIGINT) AS sz
        FROM q GROUP BY 1, 2, 3
      )
      SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_classes,
             CAST(SUM(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_classes,
             CAST(SUM(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
               AS rows_at_risk,
             CAST(MIN(sz) AS BIGINT) AS min_class_size
      FROM cls
    """


def _q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test (operators/timeseries.ab_test): users
    hash-assigned 50/50 (the hash_split rule), conversion = any
    'purchase' event; exact counts + one fixed-shape IEEE z."""
    from cdap_geo_spark.operators.timeseries import ab_test
    ev = _tbl(spark, sf_dir, "events")
    return ab_test(ev, convert=(F.col("event_type") == "purchase"))


def _ab_test_sql() -> str:
    from cdap_geo_spark.operators.text import hash_split_cuts
    cut = hash_split_cuts({"A": 0.5, "B": 0.5})[0]
    return f"""
      WITH u AS (
        SELECT user_id,
               CAST(MAX(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS conv
        FROM events WHERE user_id IS NOT NULL GROUP BY 1
      ),
      armed AS (
        SELECT conv,
               CASE WHEN CAST(concat('0x', substr(md5(concat(
                      CAST(user_id AS VARCHAR), ':', '17')), 1, 15))
                      AS BIGINT) < {cut}
                    THEN 'A' ELSE 'B' END AS arm
        FROM u
      ),
      c AS (
        SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_a,
               CAST(SUM(CASE WHEN arm = 'A' THEN conv ELSE 0 END)
                 AS BIGINT) AS conv_a,
               CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_b,
               CAST(SUM(CASE WHEN arm = 'B' THEN conv ELSE 0 END)
                 AS BIGINT) AS conv_b
        FROM armed
      )
      SELECT n_a, conv_a, n_b, conv_b,
             CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
                       AND conv_a + conv_b < n_a + n_b
                  THEN CAST(ROUND(1000000.0 * (
                    (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                     - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                    / SQRT(
                        ((CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                        * (1.0 - (CAST(conv_a AS DOUBLE)
                                  + CAST(conv_b AS DOUBLE))
                           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                        * (1.0 / CAST(n_a AS DOUBLE)
                           + 1.0 / CAST(n_b AS DOUBLE))))) AS BIGINT)
                  ELSE NULL END AS z_u
      FROM c
    """


def _q_clip_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-overlay length (operators/segments.clip_length_join):
    road length clipped per region box via Liang–Barsky, candidates
    from the dedup-free 2D canonical-corner cell join; exact integer
    branch decisions, micro-rounded lengths summed as BIGINT."""
    from cdap_geo_spark.operators.segments import clip_length_join
    part = _tbl(spark, sf_dir, "part")
    roads = part.select(
        F.col("p_partkey").alias("seg_id"),
        ((F.col("p_partkey") * 40503 + 101) % 600000 + 50000).alias("ax"),
        ((F.col("p_partkey") * 69301 + 257) % 1200000 + 50000).alias("ay"))
    roads = roads.select(
        "seg_id", "ax", "ay",
        (F.col("ax") + (F.col("seg_id") * 97 + 13) % 80001 - 40000)
        .alias("bx"),
        (F.col("ay") + (F.col("seg_id") * 89 + 37) % 80001 - 40000)
        .alias("by"))
    boxes = part.select(
        F.col("p_partkey").alias("box_id"),
        ((F.col("p_partkey") * 48271 + 31) % 650000).alias("minx"),
        ((F.col("p_partkey") * 69621 + 73) % 1250000).alias("miny"))
    boxes = boxes.select(
        "box_id", "minx", "miny",
        (F.col("minx") + (F.col("box_id") * 53 + 11) % 50000 + 1000)
        .alias("maxx"),
        (F.col("miny") + (F.col("box_id") * 59 + 23) % 50000 + 1000)
        .alias("maxy"))
    return clip_length_join(roads, boxes, cell=100_000,
                            box_id="box_id")


def _clip_length_sql() -> str:
    return """
      WITH roads0 AS (
        SELECT p_partkey AS seg_id,
               (p_partkey*40503 + 101) % 600000 + 50000 AS ax,
               (p_partkey*69301 + 257) % 1200000 + 50000 AS ay
        FROM part
      ), roads1 AS (
        SELECT seg_id, ax, ay,
               ax + (seg_id*97 + 13) % 80001 - 40000 AS bx,
               ay + (seg_id*89 + 37) % 80001 - 40000 AS by
        FROM roads0
      ), roads AS (
        SELECT seg_id, ax, ay, bx, by,
               LEAST(ax, bx) AS sminx, GREATEST(ax, bx) AS smaxx,
               LEAST(ay, by) AS sminy, GREATEST(ay, by) AS smaxy
        FROM roads1
      ), boxes0 AS (
        SELECT p_partkey AS box_id,
               (p_partkey*48271 + 31) % 650000  AS minx,
               (p_partkey*69621 + 73) % 1250000 AS miny
        FROM part
      ), boxes AS (
        SELECT box_id, minx, miny,
               minx + (box_id*53 + 11) % 50000 + 1000 AS maxx,
               miny + (box_id*59 + 23) % 50000 + 1000 AS maxy
        FROM boxes0
      ), cand AS (
        SELECT seg_id, box_id, ax, ay, minx, miny, maxx, maxy,
               bx - ax AS dx, by - ay AS dy
        FROM roads JOIN boxes
          ON sminx <= maxx AND minx <= smaxx
         AND sminy <= maxy AND miny <= smaxy
      ), pq AS (
        SELECT seg_id, box_id, dx, dy,
               -dx AS p1, ax - minx AS q1,
                dx AS p2, maxx - ax AS q2,
               -dy AS p3, ay - miny AS q3,
                dy AS p4, maxy - ay AS q4
        FROM cand
      ), rr AS (
        SELECT seg_id, box_id, dx, dy,
               ((p1 = 0 AND q1 < 0) OR (p2 = 0 AND q2 < 0)
                OR (p3 = 0 AND q3 < 0) OR (p4 = 0 AND q4 < 0)) AS rej,
               CASE WHEN p1 < 0 THEN CAST(q1 AS DOUBLE)/CAST(p1 AS DOUBLE)
                    ELSE 0.0 END AS lo1,
               CASE WHEN p2 < 0 THEN CAST(q2 AS DOUBLE)/CAST(p2 AS DOUBLE)
                    ELSE 0.0 END AS lo2,
               CASE WHEN p3 < 0 THEN CAST(q3 AS DOUBLE)/CAST(p3 AS DOUBLE)
                    ELSE 0.0 END AS lo3,
               CASE WHEN p4 < 0 THEN CAST(q4 AS DOUBLE)/CAST(p4 AS DOUBLE)
                    ELSE 0.0 END AS lo4,
               CASE WHEN p1 > 0 THEN CAST(q1 AS DOUBLE)/CAST(p1 AS DOUBLE)
                    ELSE 1.0 END AS hi1,
               CASE WHEN p2 > 0 THEN CAST(q2 AS DOUBLE)/CAST(p2 AS DOUBLE)
                    ELSE 1.0 END AS hi2,
               CASE WHEN p3 > 0 THEN CAST(q3 AS DOUBLE)/CAST(p3 AS DOUBLE)
                    ELSE 1.0 END AS hi3,
               CASE WHEN p4 > 0 THEN CAST(q4 AS DOUBLE)/CAST(p4 AS DOUBLE)
                    ELSE 1.0 END AS hi4
        FROM pq
      ), lb AS (
        SELECT seg_id, box_id, dx, dy, rej,
               GREATEST(0.0, lo1, lo2, lo3, lo4) AS t0,
               LEAST(1.0, hi1, hi2, hi3, hi4) AS t1
        FROM rr
      )
      SELECT CAST(box_id AS BIGINT) AS box_id,
             CAST(COUNT(*) AS BIGINT) AS n_segs,
             CAST(SUM(CAST(ROUND(1000000.0
                  * SQRT(CAST(dx*dx + dy*dy AS DOUBLE)) * (t1 - t0))
                  AS BIGINT)) AS BIGINT) AS len_sum_u
      FROM lb WHERE NOT rej AND t1 >= t0
      GROUP BY 1
    """


def _q_line_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line supercover raster (operators/segments.raster_line): tiles
    each road segment passes through (exact integer corner sign
    tests, closed-box semantics), aggregated to a (cx, cy) density —
    the vector→raster assignment for linear networks."""
    from cdap_geo_spark.operators.segments import raster_line
    part = _tbl(spark, sf_dir, "part")
    roads = part.select(
        F.col("p_partkey").alias("seg_id"),
        ((F.col("p_partkey") * 40503 + 101) % 600000 + 50000).alias("ax"),
        ((F.col("p_partkey") * 69301 + 257) % 1200000 + 50000).alias("ay"))
    roads = roads.select(
        "seg_id", "ax", "ay",
        (F.col("ax") + (F.col("seg_id") * 97 + 13) % 80001 - 40000)
        .alias("bx"),
        (F.col("ay") + (F.col("seg_id") * 89 + 37) % 80001 - 40000)
        .alias("by"))
    return raster_line(roads, cell=50_000)


def _line_raster_sql() -> str:
    from cdap_geo_spark.operators.segments import raster_line_oracle_sql
    segs = """
      SELECT seg_id, ax, ay,
             ax + (seg_id*97 + 13) % 80001 - 40000 AS bx,
             ay + (seg_id*89 + 37) % 80001 - 40000 AS by
      FROM (
        SELECT p_partkey AS seg_id,
               (p_partkey*40503 + 101) % 600000 + 50000 AS ax,
               (p_partkey*69301 + 257) % 1200000 + 50000 AS ay
        FROM part
      )
    """
    return raster_line_oracle_sql(segs, cell=50_000)


def _q_contours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares contour cells (operators/zonal.
    marching_squares) of the doc-point density raster at iso=3: pure
    integer case classification, one block exchange bounded by 4x
    occupied cells."""
    from cdap_geo_spark.operators.zonal import marching_squares
    pts = _tbl(spark, sf_dir, "documents").select(
        F.expr("((doc_id*48271 + 17) % 700000) DIV 50000").alias("cx"),
        F.expr("((doc_id*69621 + 29) % 1300000) DIV 50000").alias("cy"))
    grid = pts.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("v"))
    return marching_squares(grid, iso=3)


def _contours_sql() -> str:
    from cdap_geo_spark.operators.zonal import marching_squares_oracle_sql
    grid = """
      SELECT ((doc_id*48271 + 17) % 700000) // 50000 AS cx,
             ((doc_id*69621 + 29) % 1300000) // 50000 AS cy,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM documents GROUP BY 1, 2
    """
    return marching_squares_oracle_sql(grid, iso=3)


def _q_knox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knox space-time interaction (operators/zonal.knox_pairs):
    space pairs from a 3x3-neighbor cell join (never all-pairs), time
    pairs from bin combinatorics + one adjacent-bin join, both-close
    riding the space relation; exact BIGINT counts + one micro-rounded
    ratio."""
    from cdap_geo_spark.operators.zonal import knox_pairs
    ev = _tbl(spark, sf_dir, "events").select(
        "event_id", "ts",
        ((F.col("event_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("event_id") * 69621 + 29) % 1300000).alias("y"))
    return knox_pairs(ev, delta=5_000, tau_us=3_600_000_000)


def _q_ripley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K/L point-pattern ladder (operators/zonal.ripley_k):
    one 3x3-neighbor cell join at r_max, every radius a conditional
    sum over the SAME pair relation; exact BIGINT pair counts, K and
    L fixed-shape doubles micro-rounded."""
    from cdap_geo_spark.operators.zonal import ripley_k
    ev = _tbl(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        ((F.col("event_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("event_id") * 69621 + 29) % 1300000).alias("y"))
    return ripley_k(ev, radii=[2_000, 5_000, 10_000],
                    area=700_000 * 1_300_000)


def _q_variogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical semivariogram (operators/zonal.variogram): 3x3 cell
    join at h_max, lag index by exact integer sqrt (float floor + a
    two-comparison fix-up), one bin-keyed partial agg; gamma one
    fixed-shape double over exact BIGINT sums."""
    from cdap_geo_spark.operators.zonal import variogram
    ev = _tbl(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        ((F.col("event_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("event_id") * 69621 + 29) % 1300000).alias("y"),
        ((F.col("event_id") * 7919 + 3) % 1000).alias("z"))
    return variogram(ev, h_max=10_000, n_bins=5)


def _variogram_sql() -> str:
    hmax, width = 10_000, 2_000
    return f"""
      WITH b AS (
        SELECT event_id AS id,
               (event_id*48271 + 17) % 700000  AS x,
               (event_id*69621 + 29) % 1300000 AS y,
               (event_id*7919 + 3)   % 1000    AS z
        FROM events
      ),
      p AS (
        SELECT (a.x - bb.x) * (a.x - bb.x)
               + (a.y - bb.y) * (a.y - bb.y) AS d2,
               (a.z - bb.z) * (a.z - bb.z) AS dz2
        FROM b a JOIN b bb
          ON a.id < bb.id
         AND bb.x >= a.x - {hmax} AND bb.x <= a.x + {hmax}
         AND bb.y >= a.y - {hmax} AND bb.y <= a.y + {hmax}
         AND (a.x - bb.x) * (a.x - bb.x)
             + (a.y - bb.y) * (a.y - bb.y) < {hmax * hmax}
      ),
      q AS (
        SELECT d2, dz2,
               CAST(FLOOR(SQRT(CAST(d2 AS DOUBLE))) AS BIGINT) AS s
        FROM p
      ),
      r AS (
        SELECT (s + CASE WHEN (s + 1) * (s + 1) <= d2 THEN 1
                         WHEN s * s > d2 THEN -1 ELSE 0 END)
               // {width} AS bin,
               dz2
        FROM q
      )
      SELECT bin, CAST(bin * {width} AS BIGINT) AS lo,
             CAST((bin + 1) * {width} AS BIGINT) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(ROUND(CAST(SUM(dz2) AS DOUBLE)
                        / CAST(2 * COUNT(*) AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS gamma_micro
      FROM r GROUP BY 1
    """


def _q_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-location participation index (operators/zonal.colocation):
    one cell join at dist, directed readings fan map-side, ONE
    distinct-participant agg per type pair; which ratio is the min is
    an exact integer cross-comparison, the only float one division."""
    from cdap_geo_spark.operators.zonal import colocation
    ev = _tbl(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        ((F.col("event_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("event_id") * 69621 + 29) % 1300000).alias("y"),
        F.col("event_type").alias("t"))
    return colocation(ev, dist=5_000)


def _colocation_sql() -> str:
    dist = 5_000
    return f"""
      WITH b AS (
        SELECT event_id AS id,
               (event_id*48271 + 17) % 700000  AS x,
               (event_id*69621 + 29) % 1300000 AS y,
               event_type AS t
        FROM events WHERE event_type IS NOT NULL
      ),
      p AS (
        SELECT a.id AS ai, a.t AS ta, bb.id AS bi, bb.t AS tb
        FROM b a JOIN b bb
          ON a.id < bb.id
         AND bb.x >= a.x - {dist} AND bb.x <= a.x + {dist}
         AND bb.y >= a.y - {dist} AND bb.y <= a.y + {dist}
         AND (a.x - bb.x) * (a.x - bb.x)
             + (a.y - bb.y) * (a.y - bb.y) <= {dist * dist}
         AND a.t <> bb.t
      ),
      d AS (
        SELECT ai AS i, ta AS ti, tb AS tj FROM p
        UNION ALL
        SELECT bi AS i, tb AS ti, ta AS tj FROM p
      ),
      part AS (
        SELECT ti, tj, CAST(COUNT(DISTINCT i) AS BIGINT) AS n_with
        FROM d GROUP BY 1, 2
      ),
      c AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1)
      SELECT ab.ti AS type_a, ab.tj AS type_b,
             ca.n AS n_a, cb.n AS n_b,
             ab.n_with AS n_a_near_b, ba.n_with AS n_b_near_a,
             CAST(CASE WHEN ab.n_with * cb.n <= ba.n_with * ca.n
               THEN ROUND(CAST(ab.n_with AS DOUBLE)
                          / CAST(ca.n AS DOUBLE) * 1000000.0)
               ELSE ROUND(CAST(ba.n_with AS DOUBLE)
                          / CAST(cb.n AS DOUBLE) * 1000000.0)
             END AS BIGINT) AS pi_micro
      FROM part ab
      JOIN part ba ON ab.ti = ba.tj AND ab.tj = ba.ti
      JOIN c ca ON ca.t = ab.ti
      JOIN c cb ON cb.t = ab.tj
      WHERE ab.ti < ab.tj
    """


def _q_quadrat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadrat CSR test (operators/zonal.quadrat_test): multiply-
    through-by-k keeps the chi2 numerator an exact BIGINT with empty
    quadrats in closed form; ONE quadrat-keyed exchange."""
    from cdap_geo_spark.operators.zonal import quadrat_test
    ev = _tbl(spark, sf_dir, "events").select(
        ((F.col("event_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("event_id") * 69621 + 29) % 1300000).alias("y"))
    return quadrat_test(ev, width=700_000, height=1_300_000,
                        gx=7, gy=13)


def _quadrat_sql() -> str:
    k, cw, ch = 91, 100_000, 100_000
    return f"""
      WITH b AS (
        SELECT (event_id*48271 + 17) % 700000  AS x,
               (event_id*69621 + 29) % 1300000 AS y
        FROM events
      ),
      cells AS (
        SELECT x // {cw} AS qx, y // {ch} AS qy,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM b GROUP BY 1, 2
      ),
      tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n,
                     CAST(COUNT(*) AS BIGINT) AS occupied FROM cells),
      no AS (
        SELECT CAST(SUM(({k}*obs - n) * ({k}*obs - n)) AS BIGINT)
                 AS num_occ,
               MAX(n) AS n, MAX(occupied) AS occupied
        FROM cells CROSS JOIN tot
      )
      SELECT n, CAST({k} AS BIGINT) AS k, occupied,
             CASE WHEN n > 0 THEN
               CAST(ROUND(CAST(num_occ + ({k} - occupied)*n*n AS DOUBLE)
                          / CAST(n * {k} AS DOUBLE) * 1000000.0)
                 AS BIGINT) END AS chi2_micro,
             CASE WHEN n > 0 THEN
               CAST(ROUND(CAST(num_occ + ({k} - occupied)*n*n AS DOUBLE)
                          / CAST(n * {k} * {k - 1} AS DOUBLE)
                          * 1000000.0) AS BIGINT) END AS vmr_micro
      FROM no
    """


def _q_location_quotient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Location quotient per (100km grid cell, event_type)
    (operators/zonal.location_quotient): LQ = n_rt·n/(n_r·n_t) —
    exact BIGINT counts, one fixed-shape division micro-rounded."""
    from cdap_geo_spark.operators.zonal import location_quotient
    ev = _tbl(spark, sf_dir, "events").selectExpr(
        "((event_id*48271 + 17) % 700000) DIV 100000 * 13"
        " + ((event_id*69621 + 29) % 1300000) DIV 100000 AS region",
        "event_type AS t")
    return location_quotient(ev)


def _location_quotient_sql() -> str:
    return """
      WITH b AS (
        SELECT ((event_id*48271 + 17) % 700000) // 100000 * 13
               + ((event_id*69621 + 29) % 1300000) // 100000 AS region,
               event_type AS t
        FROM events WHERE event_type IS NOT NULL
      ),
      rt AS (SELECT region, t, CAST(COUNT(*) AS BIGINT) AS n_rt
             FROM b GROUP BY 1, 2),
      r AS (SELECT region, CAST(SUM(n_rt) AS BIGINT) AS n_r
            FROM rt GROUP BY 1),
      tt AS (SELECT t, CAST(SUM(n_rt) AS BIGINT) AS n_t
             FROM rt GROUP BY 1),
      n AS (SELECT CAST(SUM(n_rt) AS BIGINT) AS n FROM rt)
      SELECT CAST(rt.region AS BIGINT) AS region, rt.t, rt.n_rt,
             r.n_r, tt.n_t,
             CAST(ROUND(CAST(rt.n_rt * n.n AS DOUBLE)
                        / CAST(r.n_r * tt.n_t AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS lq_micro
      FROM rt JOIN r USING (region) JOIN tt USING (t) CROSS JOIN n
    """


def _q_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff-Ord join counts (operators/zonal.join_counts) over
    region-box bbox adjacency, flag = area-magnitude parity: BB/BW/WW
    exact BIGINTs, each obs/exp ratio one fixed-shape division."""
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.operators.zonal import join_counts
    from cdap_geo_spark.sources import relational as R
    from cdap_geo_spark import udfs
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    vals = regions.select(
        F.col("region_id").alias("id"),
        ((F.col("maxx") - F.col("minx"))
         * (F.col("maxy") - F.col("miny"))).cast("long").alias("_a")) \
        .select("id", (F.expr("_a DIV 100000") % 2).alias("is_b"))
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") < F.col("b"))
    return join_counts(vals, edges)


def _join_counts_sql() -> str:
    return f"""
      WITH b AS ({_BOXES}),
      v AS (SELECT region_id AS id,
                   (CAST((maxx - minx) * (maxy - miny) AS BIGINT)
                    // 100000) % 2 AS f
            FROM b),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(f) AS BIGINT) AS nb FROM v),
      e AS (
        SELECT a.region_id AS a, c.region_id AS bb
        FROM ({_BOXES}) a JOIN ({_BOXES}) c
          ON NOT (a.minx > c.maxx OR a.miny > c.maxy
               OR a.maxx < c.minx OR a.maxy < c.miny)
        WHERE a.region_id < c.region_id
      ),
      obs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS w_pairs,
               CAST(SUM(fa.f * fb.f) AS BIGINT) AS bb,
               CAST(SUM((1 - fa.f) * (1 - fb.f)) AS BIGINT) AS ww
        FROM e JOIN v fa ON e.a = fa.id JOIN v fb ON e.bb = fb.id
      )
      SELECT st.n, st.nb AS n_b, obs.w_pairs, obs.bb,
             CAST(obs.w_pairs - obs.bb - obs.ww AS BIGINT) AS bw,
             obs.ww,
             CASE WHEN obs.w_pairs * st.nb * (st.nb - 1) > 0 THEN
               CAST(ROUND(CAST(obs.bb * (st.n * (st.n - 1)) AS DOUBLE)
                    / CAST(obs.w_pairs * st.nb * (st.nb - 1) AS DOUBLE)
                    * 1000000.0) AS BIGINT) END AS bb_ratio_micro,
             CASE WHEN 2 * obs.w_pairs * st.nb * (st.n - st.nb) > 0
               THEN CAST(ROUND(CAST((obs.w_pairs - obs.bb - obs.ww)
                                    * (st.n * (st.n - 1)) AS DOUBLE)
                    / CAST(2 * obs.w_pairs * st.nb * (st.n - st.nb)
                           AS DOUBLE) * 1000000.0) AS BIGINT)
             END AS bw_ratio_micro,
             CASE WHEN obs.w_pairs * (st.n - st.nb)
                       * (st.n - st.nb - 1) > 0 THEN
               CAST(ROUND(CAST(obs.ww * (st.n * (st.n - 1)) AS DOUBLE)
                    / CAST(obs.w_pairs * (st.n - st.nb)
                           * (st.n - st.nb - 1) AS DOUBLE)
                    * 1000000.0) AS BIGINT) END AS ww_ratio_micro
      FROM obs CROSS JOIN st
    """


def _q_emerging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging-hotspot trend per 100km cell (operators/zonal.
    mann_kendall over the weekly space-time cube): S, tie-corrected
    Var*18 and trend label exact integers; z one fixed-shape double."""
    from cdap_geo_spark.operators.zonal import mann_kendall
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("ts").isNotNull()) \
        .selectExpr(
            "((event_id*48271 + 17) % 700000) DIV 100000 AS qx",
            "((event_id*69621 + 29) % 1300000) DIV 100000 AS qy",
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 604800000000"
            " AS p")
    cube = ev.groupBy("qx", "qy", "p") \
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    out = mann_kendall(cube, key_cols=["qx", "qy"])
    return out.select(F.col("qx").cast("long"),
                      F.col("qy").cast("long"),
                      "t_periods", "occ", "s", "var18", "trend",
                      "z_micro")


def _emerging_sql() -> str:
    week = 604_800_000_000
    return f"""
      WITH b AS (
        SELECT ((event_id*48271 + 17) % 700000) // 100000 AS qx,
               ((event_id*69621 + 29) % 1300000) // 100000 AS qy,
               epoch_us(ts) // {week} AS p
        FROM events WHERE ts IS NOT NULL
      ),
      h AS (SELECT qx, qy, p, CAST(COUNT(*) AS BIGINT) AS c
            FROM b GROUP BY 1, 2, 3),
      rng AS (SELECT MIN(p) AS pmin, MAX(p) AS pmax FROM h),
      occ AS (
        SELECT h.qx, h.qy, h.p, h.c, rng.pmin, rng.pmax,
               ROW_NUMBER() OVER (PARTITION BY h.qx, h.qy
                                  ORDER BY h.p) AS rn,
               COUNT(*) OVER (PARTITION BY h.qx, h.qy) AS nocc
        FROM h CROSS JOIN rng
      ),
      pk AS (
        SELECT qx, qy, CAST(MAX(nocc) AS BIGINT) AS occ,
               CAST(MAX(pmax - pmin + 1) AS BIGINT) AS t_periods,
               CAST(SUM((p - pmin - (rn - 1))
                        - (pmax - p - (nocc - rn))) AS BIGINT) AS szero
        FROM occ GROUP BY 1, 2
      ),
      so AS (
        SELECT a.qx, a.qy,
               CAST(SUM(CASE WHEN bb.c > a.c THEN 1
                             WHEN bb.c < a.c THEN -1
                             ELSE 0 END) AS BIGINT) AS socc
        FROM occ a JOIN occ bb
          ON a.qx = bb.qx AND a.qy = bb.qy AND a.p < bb.p
        GROUP BY 1, 2
      ),
      ti AS (
        SELECT qx, qy,
               CAST(SUM(t * (t - 1) * (2*t + 5)) AS BIGINT) AS tie
        FROM (SELECT qx, qy, c, COUNT(*) AS t
              FROM occ GROUP BY 1, 2, 3)
        GROUP BY 1, 2
      ),
      fin AS (
        SELECT pk.qx, pk.qy, pk.t_periods, pk.occ,
               CAST(COALESCE(so.socc, 0) + pk.szero AS BIGINT) AS s,
               CAST(pk.t_periods * (pk.t_periods - 1)
                    * (2*pk.t_periods + 5)
                    - COALESCE(ti.tie, 0)
                    - (pk.t_periods - pk.occ)
                      * (pk.t_periods - pk.occ - 1)
                      * (2*(pk.t_periods - pk.occ) + 5) AS BIGINT)
                 AS var18
        FROM pk LEFT JOIN so ON so.qx = pk.qx AND so.qy = pk.qy
                LEFT JOIN ti ON ti.qx = pk.qx AND ti.qy = pk.qy
      )
      SELECT CAST(qx AS BIGINT) AS qx, CAST(qy AS BIGINT) AS qy,
             t_periods, occ, s, var18,
             CASE WHEN s > 0 THEN 'rising'
                  WHEN s < 0 THEN 'falling' ELSE 'flat' END AS trend,
             CASE WHEN var18 <= 0 THEN NULL
                  WHEN s > 0 THEN
                    CAST(ROUND(CAST(s - 1 AS DOUBLE)
                         / SQRT(CAST(var18 AS DOUBLE) / 18.0)
                         * 1000000.0) AS BIGINT)
                  WHEN s < 0 THEN
                    CAST(ROUND(CAST(s + 1 AS DOUBLE)
                         / SQRT(CAST(var18 AS DOUBLE) / 18.0)
                         * 1000000.0) AS BIGINT)
                  ELSE 0 END AS z_micro
      FROM fin
    """


#: store/site dimension for huff + 2sfca: integer box centers and the
#: area-derived attractiveness/capacity, all from p_partkey arithmetic
#: (bit-identical to the region_boxes geometry without touching WKB).
_STORES_SQL = """
  SELECT p_partkey AS sid,
         (p_partkey*40503 + 101) % 650000
           + ((p_partkey*97 + 13) % 50000 + 1000) // 2 AS sx,
         (p_partkey*69301 + 257) % 1250000
           + ((p_partkey*89 + 37) % 50000 + 1000) // 2 AS sy,
         (((p_partkey*97 + 13) % 50000 + 1000)
          * ((p_partkey*89 + 37) % 50000 + 1000)) // 100000 AS a
  FROM part
"""

_STORES_EXPRS = [
    "p_partkey AS store_id",
    "(p_partkey*40503 + 101) % 650000"
    " + ((p_partkey*97 + 13) % 50000 + 1000) DIV 2 AS sx",
    "(p_partkey*69301 + 257) % 1250000"
    " + ((p_partkey*89 + 37) % 50000 + 1000) DIV 2 AS sy",
    "(((p_partkey*97 + 13) % 50000 + 1000)"
    " * ((p_partkey*89 + 37) % 50000 + 1000)) DIV 100000 AS a",
]


def _q_huff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huff probabilistic catchment (operators/zonal.huff_model):
    demand = occupied 100km event cells (center points), stores =
    region-box centers with area attractiveness; weights micro-rounded
    BIGINT, winner = exact integer argmax, store dim broadcast."""
    from cdap_geo_spark.operators.zonal import huff_model
    d = _tbl(spark, sf_dir, "events").selectExpr(
        "((event_id*48271 + 17) % 700000) DIV 100000 AS qx",
        "((event_id*69621 + 29) % 1300000) DIV 100000 AS qy") \
        .distinct() \
        .selectExpr("qx", "qy", "qx*100000 + 50000 AS x",
                    "qy*100000 + 50000 AS y")
    s = _tbl(spark, sf_dir, "part") \
        .selectExpr(*_STORES_EXPRS)
    out = huff_model(d, s, demand_keys=["qx", "qy"])
    return out.select(F.col("qx").cast("long"),
                      F.col("qy").cast("long"), "sum_w_micro",
                      "best_store", "best_w_micro", "best_p_micro")


def _huff_sql() -> str:
    return f"""
      WITH d0 AS (
        SELECT DISTINCT
               ((event_id*48271 + 17) % 700000) // 100000 AS qx,
               ((event_id*69621 + 29) % 1300000) // 100000 AS qy
        FROM events
      ),
      d AS (SELECT qx, qy, qx*100000 + 50000 AS px,
                   qy*100000 + 50000 AS py FROM d0),
      s AS ({_STORES_SQL}),
      j AS (
        SELECT d.qx, d.qy, s.sid,
               CAST(ROUND(CAST(s.a AS DOUBLE) * 1000000.0
                 / CAST((d.px - s.sx) * (d.px - s.sx)
                        + (d.py - s.sy) * (d.py - s.sy) + 1
                        AS DOUBLE)) AS BIGINT) AS w
        FROM d CROSS JOIN s
      ),
      m AS (SELECT qx, qy, CAST(SUM(w) AS BIGINT) AS sum_w_micro,
                   MAX(w) AS bw
            FROM j GROUP BY 1, 2),
      best AS (
        SELECT j.qx, j.qy, CAST(MIN(j.sid) AS BIGINT) AS best_store,
               CAST(MAX(j.w) AS BIGINT) AS best_w_micro
        FROM j JOIN m ON j.qx = m.qx AND j.qy = m.qy AND j.w = m.bw
        GROUP BY 1, 2
      )
      SELECT CAST(m.qx AS BIGINT) AS qx, CAST(m.qy AS BIGINT) AS qy,
             m.sum_w_micro, best.best_store, best.best_w_micro,
             CASE WHEN m.sum_w_micro > 0 THEN
               CAST(ROUND(CAST(best.best_w_micro AS DOUBLE)
                    * 1000000.0
                    / CAST(m.sum_w_micro AS DOUBLE)) AS BIGINT)
             END AS best_p_micro
      FROM m JOIN best ON best.qx = m.qx AND best.qy = m.qy
    """


def _q_2sfca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2SFCA accessibility (operators/zonal.catchment_2sfca): demand =
    event counts per 100km cell, supply = region-box centers with
    area capacity, d0 = 150km; both steps share ONE cell join."""
    from cdap_geo_spark.operators.zonal import catchment_2sfca
    d = _tbl(spark, sf_dir, "events").selectExpr(
        "((event_id*48271 + 17) % 700000) DIV 100000 AS qx",
        "((event_id*69621 + 29) % 1300000) DIV 100000 AS qy") \
        .groupBy("qx", "qy").agg(F.count(F.lit(1)).alias("pop")) \
        .selectExpr("qx", "qy", "qx*100000 + 50000 AS x",
                    "qy*100000 + 50000 AS y", "pop")
    s = _tbl(spark, sf_dir, "part") \
        .selectExpr(*_STORES_EXPRS) \
        .withColumnRenamed("store_id", "site_id") \
        .withColumnRenamed("a", "cap")
    out = catchment_2sfca(d, s, d0=150_000, demand_keys=["qx", "qy"])
    return out.select(F.col("qx").cast("long"),
                      F.col("qy").cast("long"), "n_sites",
                      "access_micro")


def _2sfca_sql() -> str:
    d0 = 150_000
    return f"""
      WITH dem AS (
        SELECT qx, qy, qx*100000 + 50000 AS px,
               qy*100000 + 50000 AS py,
               CAST(COUNT(*) AS BIGINT) AS pop
        FROM (SELECT ((event_id*48271 + 17) % 700000) // 100000 AS qx,
                     ((event_id*69621 + 29) % 1300000) // 100000 AS qy
              FROM events)
        GROUP BY 1, 2
      ),
      sup AS ({_STORES_SQL}),
      o AS (SELECT ox, oy FROM (VALUES (-1), (0), (1)) t(ox),
                               (VALUES (-1), (0), (1)) u(oy)),
      dg AS (SELECT dem.*, px // {d0} + ox AS cx, py // {d0} + oy AS cy
             FROM dem, o),
      reach AS (
        SELECT dg.qx, dg.qy, dg.pop, s.sid, s.a AS cap
        FROM dg JOIN sup s
          ON dg.cx = s.sx // {d0} AND dg.cy = s.sy // {d0}
         AND (dg.px - s.sx) * (dg.px - s.sx)
             + (dg.py - s.sy) * (dg.py - s.sy) <= {d0 * d0}
      ),
      r AS (
        SELECT sid,
               CAST(ROUND(CAST(MAX(cap) AS DOUBLE) * 1000000.0
                    / CAST(SUM(pop) AS DOUBLE)) AS BIGINT) AS rr
        FROM reach GROUP BY sid HAVING SUM(pop) > 0
      )
      SELECT CAST(reach.qx AS BIGINT) AS qx,
             CAST(reach.qy AS BIGINT) AS qy,
             CAST(COUNT(*) AS BIGINT) AS n_sites,
             CAST(SUM(r.rr) AS BIGINT) AS access_micro
      FROM reach JOIN r USING (sid)
      GROUP BY 1, 2
    """


def _q_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn's focal slope + aspect octant (operators/zonal.
    slope_aspect) over the 20km event-density surface: integer
    gradients, one sqrt, integer octant rule."""
    from cdap_geo_spark.operators.zonal import slope_aspect
    g = _tbl(spark, sf_dir, "events").selectExpr(
        "((event_id*48271 + 17) % 700000) DIV 20000 AS cx",
        "((event_id*69621 + 29) % 1300000) DIV 20000 AS cy") \
        .groupBy("cx", "cy") \
        .agg(F.count(F.lit(1)).cast("long").alias("z"))
    return slope_aspect(g, cell=20_000)


def _slope_sql() -> str:
    cell = 20_000
    return f"""
      WITH g AS (
        SELECT ((event_id*48271 + 17) % 700000) // {cell} AS cx,
               ((event_id*69621 + 29) % 1300000) // {cell} AS cy,
               CAST(COUNT(*) AS BIGINT) AS z
        FROM events GROUP BY 1, 2
      ),
      o AS (SELECT dx, dy
            FROM (VALUES (-1), (0), (1)) a(dx),
                 (VALUES (-1), (0), (1)) b(dy)
            WHERE NOT (dx = 0 AND dy = 0)),
      contrib AS (
        SELECT cx + dx AS tx, cy + dy AS ty,
               z * (-dx) * (2 - ABS(dy)) AS c8x,
               z * (-dy) * (2 - ABS(dx)) AS c8y
        FROM g, o
      ),
      grads AS (SELECT tx, ty, CAST(SUM(c8x) AS BIGINT) AS gx8,
                       CAST(SUM(c8y) AS BIGINT) AS gy8
                FROM contrib GROUP BY 1, 2),
      j AS (
        SELECT g.cx, g.cy, g.z,
               COALESCE(grads.gx8, 0) AS gx, COALESCE(grads.gy8, 0) AS gy
        FROM g LEFT JOIN grads ON grads.tx = g.cx AND grads.ty = g.cy
      )
      SELECT CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy, z,
             CAST(gx AS BIGINT) AS gx8, CAST(gy AS BIGINT) AS gy8,
             CAST(ROUND(SQRT(CAST(gx*gx + gy*gy AS DOUBLE))
                        / {float(8 * cell)} * 1000000.0) AS BIGINT)
               AS slope_micro,
             CASE WHEN gx = 0 AND gy = 0 THEN 'flat'
                  WHEN 2 * ABS(gy) <= ABS(gx) THEN
                    CASE WHEN gx > 0 THEN 'E' ELSE 'W' END
                  WHEN 2 * ABS(gx) <= ABS(gy) THEN
                    CASE WHEN gy > 0 THEN 'N' ELSE 'S' END
                  ELSE (CASE WHEN gy > 0 THEN 'N' ELSE 'S' END)
                       || (CASE WHEN gx > 0 THEN 'E' ELSE 'W' END)
             END AS octant
      FROM j
    """


def _q_clark_evans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clark-Evans NN index (operators/zonal.clark_evans): exact
    integer argmin + integer-sqrt NN distances BIGINT-summed; R one
    fixed-shape expression; censoring documented at d_max=10km."""
    from cdap_geo_spark.operators.zonal import clark_evans
    ev = _tbl(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        ((F.col("event_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("event_id") * 69621 + 29) % 1300000).alias("y"))
    return clark_evans(ev, area=700_000 * 1_300_000, d_max=10_000)


def _clark_evans_sql() -> str:
    area, dmax = 700_000 * 1_300_000, 10_000
    return f"""
      WITH b AS (
        SELECT event_id AS id,
               (event_id*48271 + 17) % 700000  AS x,
               (event_id*69621 + 29) % 1300000 AS y
        FROM events
      ),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
      o AS (SELECT ox, oy FROM (VALUES (-1), (0), (1)) t(ox),
                               (VALUES (-1), (0), (1)) u(oy)),
      l AS (SELECT id, x, y, x // {dmax} + ox AS cx,
                   y // {dmax} + oy AS cy FROM b, o),
      mind AS (
        SELECT l.id,
               MIN((l.x - r.x) * (l.x - r.x)
                   + (l.y - r.y) * (l.y - r.y)) AS d2
        FROM l JOIN b r
          ON l.cx = r.x // {dmax} AND l.cy = r.y // {dmax}
         AND l.id <> r.id
         AND (l.x - r.x) * (l.x - r.x)
             + (l.y - r.y) * (l.y - r.y) <= {dmax * dmax}
        GROUP BY 1
      ),
      iq AS (
        SELECT d2, CAST(FLOOR(SQRT(CAST(d2 AS DOUBLE))) AS BIGINT)
                 AS s
        FROM mind
      ),
      agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM((s + CASE WHEN (s+1)*(s+1) <= d2 THEN 1
                                  WHEN s*s > d2 THEN -1 ELSE 0 END)
                        * 1000000) AS BIGINT) AS sum_nn_micro
        FROM iq
      )
      SELECT nn.n,
             CAST(nn.n - agg.k AS BIGINT) AS n_censored,
             agg.sum_nn_micro,
             CASE WHEN agg.k > 0 AND nn.n > 0 THEN
               CAST(ROUND(CAST(agg.sum_nn_micro AS DOUBLE) / 1000000.0
                    * 2.0
                    * SQRT(CAST(nn.n AS DOUBLE)
                           / CAST({area} AS DOUBLE))
                    / CAST(agg.k AS DOUBLE) * 1000000.0) AS BIGINT)
             END AS r_micro
      FROM agg CROSS JOIN nn
    """


def _q_centrography(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrographic stats per event_type (operators/zonal.
    centrography) on km-scale coords (the magnitude contract:
    n·Σx² within int64): five exact moment sums in one pass, ellipse
    orientation as an exact integer pair."""
    from cdap_geo_spark.operators.zonal import centrography
    ev = _tbl(spark, sf_dir, "events").selectExpr(
        "event_type AS g",
        "((event_id*48271 + 17) % 700000) DIV 1000 AS x",
        "((event_id*69621 + 29) % 1300000) DIV 1000 AS y") \
        .where(F.col("g").isNotNull())
    return centrography(ev)


def _centrography_sql() -> str:
    return """
      WITH b AS (
        SELECT event_type AS g,
               ((event_id*48271 + 17) % 700000) // 1000 AS x,
               ((event_id*69621 + 29) % 1300000) // 1000 AS y
        FROM events WHERE event_type IS NOT NULL
      ),
      a AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x*x) AS BIGINT) AS sxx,
               CAST(SUM(y*y) AS BIGINT) AS syy,
               CAST(SUM(x*y) AS BIGINT) AS sxy
        FROM b GROUP BY 1
      )
      SELECT g, n,
             CAST(ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS mcx_micro,
             CAST(ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS mcy_micro,
             CAST(ROUND(SQRT(CAST((n*sxx - sx*sx) + (n*syy - sy*sy)
                                  AS DOUBLE))
                        / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT)
               AS sdist_micro,
             CAST(2 * (n*sxy - sx*sy) AS BIGINT) AS ell_num,
             CAST((n*sxx - sx*sx) - (n*syy - sy*sy) AS BIGINT)
               AS ell_den
      FROM a
    """


def _q_segregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group segregation indices (operators/zonal.segregation):
    click vs view events over 100km cells — D fully exact
    (cross-multiplied), H via the per-term micro-round discipline."""
    from cdap_geo_spark.operators.zonal import segregation
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("event_type").isin("click", "view")) \
        .selectExpr(
            "((event_id*48271 + 17) % 700000) DIV 100000 * 13"
            " + ((event_id*69621 + 29) % 1300000) DIV 100000"
            " AS region",
            "CAST(event_type = 'click' AS LONG) AS is_b")
    return segregation(ev)


def _segregation_sql() -> str:
    return """
      WITH b AS (
        SELECT ((event_id*48271 + 17) % 700000) // 100000 * 13
               + ((event_id*69621 + 29) % 1300000) // 100000 AS region,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS f
        FROM events WHERE event_type IN ('click', 'view')
      ),
      reg AS (SELECT region, CAST(SUM(f) AS BIGINT) AS bb,
                     CAST(SUM(1 - f) AS BIGINT) AS ww
              FROM b GROUP BY 1),
      tot AS (SELECT CAST(SUM(bb) AS BIGINT) AS bt,
                     CAST(SUM(ww) AS BIGINT) AS wt FROM reg),
      j AS (
        SELECT reg.bb, reg.ww, tot.bt, tot.wt,
               ABS(reg.bb * tot.wt - reg.ww * tot.bt) AS dnum,
               CAST(ROUND((
                 (CASE WHEN reg.bb + reg.ww > 0 THEN
                    CAST(reg.bb + reg.ww AS DOUBLE)
                    * LN(CAST(reg.bb + reg.ww AS DOUBLE)) ELSE 0 END)
                 - (CASE WHEN reg.bb > 0 THEN CAST(reg.bb AS DOUBLE)
                      * LN(CAST(reg.bb AS DOUBLE)) ELSE 0 END)
                 - (CASE WHEN reg.ww > 0 THEN CAST(reg.ww AS DOUBLE)
                      * LN(CAST(reg.ww AS DOUBLE)) ELSE 0 END)
               ) * 1000000.0) AS BIGINT) AS eterm
        FROM reg CROSS JOIN tot
      ),
      a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_regions,
               CAST(SUM(dnum) AS BIGINT) AS dnum,
               CAST(SUM(eterm) AS BIGINT) AS esum,
               MAX(bt) AS b_total, MAX(wt) AS w_total
        FROM j
      )
      SELECT n_regions, b_total, w_total,
             CASE WHEN b_total > 0 AND w_total > 0 THEN
               CAST(ROUND(CAST(dnum AS DOUBLE) * 1000000.0
                    / CAST(2 * b_total * w_total AS DOUBLE))
                 AS BIGINT) END AS d_micro,
             CASE WHEN b_total > 0 AND w_total > 0 THEN
               CAST(ROUND((1.0 - CAST(esum AS DOUBLE) / 1000000.0
                    / ((CASE WHEN b_total + w_total > 0 THEN
                          CAST(b_total + w_total AS DOUBLE)
                          * LN(CAST(b_total + w_total AS DOUBLE))
                        ELSE 0 END)
                       - (CASE WHEN b_total > 0 THEN
                            CAST(b_total AS DOUBLE)
                            * LN(CAST(b_total AS DOUBLE)) ELSE 0 END)
                       - (CASE WHEN w_total > 0 THEN
                            CAST(w_total AS DOUBLE)
                            * LN(CAST(w_total AS DOUBLE)) ELSE 0 END)))
                    * 1000000.0) AS BIGINT) END AS h_micro
      FROM a
    """


def _q_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-time scan statistic (operators/zonal.scan_statistic)
    over the weekly 100km cube: top-10 elevated zones by Poisson LLR
    under the independence baseline; all counts exact BIGINT, E and
    LLR fixed-shape doubles micro-rounded, deterministic total
    order."""
    from cdap_geo_spark.operators.zonal import scan_statistic
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("ts").isNotNull()) \
        .selectExpr(
            "((event_id*48271 + 17) % 700000) DIV 100000 AS qx",
            "((event_id*69621 + 29) % 1300000) DIV 100000 AS qy",
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 604800000000"
            " AS p")
    cube = ev.groupBy("qx", "qy", "p") \
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    return scan_statistic(cube, top_k=10)


def _scan_sql() -> str:
    week = 604_800_000_000
    return f"""
      WITH b AS (
        SELECT ((event_id*48271 + 17) % 700000) // 100000 AS qx,
               ((event_id*69621 + 29) % 1300000) // 100000 AS qy,
               epoch_us(ts) // {week} AS p,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2, 3
      ),
      cum AS (
        SELECT qx, qy, p, c AS n1,
               CAST(SUM(c) OVER (PARTITION BY qx, qy ORDER BY p)
                 AS BIGINT) AS cm
        FROM b
      ),
      ct AS (SELECT qx, qy, CAST(SUM(c) AS BIGINT) AS cell_tot
             FROM b GROUP BY 1, 2),
      gt AS (SELECT p, CAST(SUM(c) AS BIGINT) AS gn FROM b GROUP BY 1),
      gc AS (SELECT p, gn,
                    CAST(SUM(gn) OVER (ORDER BY p) AS BIGINT) AS gcum
             FROM gt),
      grand AS (SELECT CAST(SUM(c) AS BIGINT) AS call FROM b),
      pairs AS (
        SELECT a.qx, a.qy, a.p AS t1, bb.p AS t2,
               CAST(bb.cm - a.cm + a.n1 AS BIGINT) AS c
        FROM cum a JOIN cum bb
          ON a.qx = bb.qx AND a.qy = bb.qy AND a.p <= bb.p
      ),
      j AS (
        SELECT pairs.qx, pairs.qy, pairs.t1, pairs.t2, pairs.c,
               CAST(g2.gcum - g1.gcum + g1.gn AS BIGINT) AS win_tot,
               ct.cell_tot, grand.call
        FROM pairs
        JOIN gc g1 ON g1.p = pairs.t1
        JOIN gc g2 ON g2.p = pairs.t2
        JOIN ct ON ct.qx = pairs.qx AND ct.qy = pairs.qy
        CROSS JOIN grand
      ),
      s AS (
        SELECT qx, qy, t1, t2, c, call,
               CAST(cell_tot AS DOUBLE) / CAST(call AS DOUBLE)
                 * CAST(win_tot AS DOUBLE) / CAST(call AS DOUBLE)
                 * CAST(call AS DOUBLE) AS e
        FROM j
      )
      SELECT CAST(qx AS BIGINT) AS qx, CAST(qy AS BIGINT) AS qy,
             CAST(t1 AS BIGINT) AS t1, CAST(t2 AS BIGINT) AS t2, c,
             CAST(ROUND(e * 1000000.0) AS BIGINT) AS e_micro,
             CASE WHEN CAST(c AS DOUBLE) > e AND c < call THEN
               CAST(ROUND((CAST(c AS DOUBLE)
                      * LN(CAST(c AS DOUBLE) / e)
                    + (CAST(call AS DOUBLE) - CAST(c AS DOUBLE))
                      * LN((CAST(call AS DOUBLE)
                            - CAST(c AS DOUBLE))
                           / (CAST(call AS DOUBLE) - e)))
                    * 1000000.0) AS BIGINT)
             ELSE 0 END AS llr_micro
      FROM s
      ORDER BY llr_micro DESC, qx, qy, t1, t2
      LIMIT 10
    """


def _q_spatial_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial Markov transition census (operators/zonal.
    spatial_markov) over the weekly 100km cube in the mean-relative
    exact mode (integer cross-multiplied class cuts — rank classes
    are tie-order-dependent and not portable; fixed cuts cannot
    discriminate across SFs)."""
    from cdap_geo_spark.operators.zonal import spatial_markov
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("ts").isNotNull()) \
        .selectExpr(
            "((event_id*48271 + 17) % 700000) DIV 100000 AS qx",
            "((event_id*69621 + 29) % 1300000) DIV 100000 AS qy",
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 604800000000"
            " AS p")
    cube = ev.groupBy("qx", "qy", "p") \
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    return spatial_markov(cube)


def _spatial_markov_sql() -> str:
    week = 604_800_000_000
    return f"""
      WITH b AS (
        SELECT ((event_id*48271 + 17) % 700000) // 100000 AS qx,
               ((event_id*69621 + 29) % 1300000) // 100000 AS qy,
               epoch_us(ts) // {week} AS p,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events WHERE ts IS NOT NULL
        GROUP BY 1, 2, 3
      ),
      o AS (SELECT dx, dy
            FROM (VALUES (-1), (0), (1)) a(dx),
                 (VALUES (-1), (0), (1)) b2(dy)
            WHERE NOT (dx = 0 AND dy = 0)),
      nb AS (
        SELECT qx + dx AS qx, qy + dy AS qy, p,
               CAST(SUM(c) AS BIGINT) AS nbr
        FROM b, o GROUP BY 1, 2, 3
      ),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
                     CAST(SUM(c) AS BIGINT) AS tt FROM b),
      j AS (
        SELECT b.qx, b.qy, b.p,
               CASE WHEN b.c * tot.nn < tot.tt THEN 0
                    WHEN b.c * tot.nn < 2 * tot.tt THEN 1
                    ELSE 2 END AS own_class,
               CASE WHEN COALESCE(nb.nbr, 0) * tot.nn < 8 * tot.tt
                      THEN 0
                    WHEN COALESCE(nb.nbr, 0) * tot.nn < 16 * tot.tt
                      THEN 1
                    ELSE 2 END AS nbr_class
        FROM b LEFT JOIN nb
          ON nb.qx = b.qx AND nb.qy = b.qy AND nb.p = b.p
        CROSS JOIN tot
      ),
      tr AS (
        SELECT nbr_class, own_class,
               LEAD(own_class) OVER (PARTITION BY qx, qy ORDER BY p)
                 AS next_class,
               LEAD(p) OVER (PARTITION BY qx, qy ORDER BY p) - p
                 AS dt
        FROM j
      )
      SELECT CAST(nbr_class AS BIGINT) AS nbr_class,
             CAST(own_class AS BIGINT) AS own_class,
             CAST(next_class AS BIGINT) AS next_class,
             CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM tr WHERE dt = 1
      GROUP BY 1, 2, 3
    """


def _q_general_g(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord General G of region-box area under bbox adjacency
    (operators/zonal.general_g): numerator the morans edge-join
    shape, denominator CLOSED FORM (Σx)²−Σx² — one division."""
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.operators.zonal import general_g
    from cdap_geo_spark.sources import relational as R
    from cdap_geo_spark import udfs
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    vals = regions.select(
        F.col("region_id").alias("id"),
        ((F.col("maxx") - F.col("minx"))
         * (F.col("maxy") - F.col("miny"))).cast("long").alias("_a")) \
        .select("id", F.expr("_a DIV 100000").alias("x"))
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    return general_g(vals, edges)


def _general_g_sql() -> str:
    return f"""
      WITH b AS ({_BOXES}),
      v AS (SELECT region_id AS id,
                   CAST((maxx - minx) * (maxy - miny) AS BIGINT)
                     // 100000 AS x
            FROM b),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(x) AS BIGINT) AS s,
                    CAST(SUM(x * x) AS BIGINT) AS ss FROM v),
      e AS (
        SELECT a.region_id AS a, c.region_id AS bb
        FROM ({_BOXES}) a JOIN ({_BOXES}) c
          ON NOT (a.minx > c.maxx OR a.miny > c.maxy
               OR a.maxx < c.minx OR a.maxy < c.miny)
        WHERE a.region_id <> c.region_id
      ),
      nw AS (
        SELECT CAST(SUM(xa.x * xb.x) AS BIGINT) AS num,
               CAST(COUNT(*) AS BIGINT) AS w_pairs
        FROM e JOIN v xa ON e.a = xa.id JOIN v xb ON e.bb = xb.id
      )
      SELECT st.n, nw.w_pairs, nw.num,
             CAST(st.s * st.s - st.ss AS BIGINT) AS den,
             CASE WHEN st.s * st.s - st.ss > 0 THEN
               CAST(ROUND(CAST(nw.num AS DOUBLE) * 1000000.0
                    / CAST(st.s * st.s - st.ss AS DOUBLE)) AS BIGINT)
             END AS g_micro
      FROM nw CROSS JOIN st
    """


def _q_flow_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Movement vector field (operators/zonal.flow_field): per-user
    consecutive displacements binned by origin 100km cell; exact
    BIGINT net vectors, integer octant, one sqrt for mean speed."""
    from pyspark.sql import Window
    from cdap_geo_spark.operators.zonal import flow_field
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull()) \
        .selectExpr("user_id", "event_id",
                    "unix_micros(CAST(ts AS TIMESTAMP)) AS us",
                    "(event_id*48271 + 17) % 700000 AS x",
                    "(event_id*69621 + 29) % 1300000 AS y")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    mv = ev.select(
        F.lag("x").over(w).alias("x"), F.lag("y").over(w).alias("y"),
        (F.col("x") - F.lag("x").over(w)).alias("dx"),
        (F.col("y") - F.lag("y").over(w)).alias("dy")) \
        .where(F.col("dx").isNotNull())
    return flow_field(mv, cell=100_000)


def _flow_field_sql() -> str:
    return """
      WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               (event_id*48271 + 17) % 700000  AS x,
               (event_id*69621 + 29) % 1300000 AS y
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      ),
      mv AS (
        SELECT LAG(x) OVER w AS ox, LAG(y) OVER w AS oy,
               x - LAG(x) OVER w AS dx, y - LAG(y) OVER w AS dy
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      ),
      a AS (
        SELECT ox // 100000 AS cx, oy // 100000 AS cy,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dx) AS BIGINT) AS sum_dx,
               CAST(SUM(dy) AS BIGINT) AS sum_dy
        FROM mv WHERE dx IS NOT NULL
        GROUP BY 1, 2
      )
      SELECT cx, cy, n, sum_dx, sum_dy,
             CASE WHEN sum_dx = 0 AND sum_dy = 0 THEN 'flat'
                  WHEN 2 * ABS(sum_dy) <= ABS(sum_dx) THEN
                    CASE WHEN sum_dx > 0 THEN 'E' ELSE 'W' END
                  WHEN 2 * ABS(sum_dx) <= ABS(sum_dy) THEN
                    CASE WHEN sum_dy > 0 THEN 'N' ELSE 'S' END
                  ELSE (CASE WHEN sum_dy > 0 THEN 'N' ELSE 'S' END)
                       || (CASE WHEN sum_dx > 0 THEN 'E' ELSE 'W' END)
             END AS octant,
             CAST(ROUND(SQRT(CAST(sum_dx*sum_dx + sum_dy*sum_dy
                                  AS DOUBLE))
                        / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT)
               AS speed_micro
      FROM a
    """


def _q_radius_gyration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius of gyration per user (Gonzalez et al. 2008) — exactly
    the per-group standard distance, so this REUSES operators/zonal.
    centrography with group = user: rg = sdist; the ellipse pair
    comes along free (documented reuse, not a new kernel)."""
    from cdap_geo_spark.operators.zonal import centrography
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("user_id").isNotNull()) \
        .selectExpr("user_id AS g",
                    "((event_id*48271 + 17) % 700000) DIV 1000 AS x",
                    "((event_id*69621 + 29) % 1300000) DIV 1000 AS y")
    out = centrography(ev)
    return out.select(F.col("g").cast("long").alias("user_id"),
                      F.col("n"), F.col("sdist_micro")
                      .alias("rg_km_micro"),
                      "mcx_micro", "mcy_micro")


def _radius_gyration_sql() -> str:
    return """
      WITH b AS (
        SELECT user_id AS g,
               ((event_id*48271 + 17) % 700000) // 1000 AS x,
               ((event_id*69621 + 29) % 1300000) // 1000 AS y
        FROM events WHERE user_id IS NOT NULL
      ),
      a AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x*x) AS BIGINT) AS sxx,
               CAST(SUM(y*y) AS BIGINT) AS syy
        FROM b GROUP BY 1
      )
      SELECT CAST(g AS BIGINT) AS user_id, n,
             CAST(ROUND(SQRT(CAST((n*sxx - sx*sx) + (n*syy - sy*sy)
                                  AS DOUBLE))
                        / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT)
               AS rg_km_micro,
             CAST(ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS mcx_micro,
             CAST(ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS mcy_micro
    FROM a
    """


def _q_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily mobility motif census (operators/timeseries.
    mobility_motifs) over per-user daily 100km-cell sequences:
    first-occurrence canonical labels, all integer HOFs, census
    bounded by distinct user-days."""
    from cdap_geo_spark.operators.timeseries import mobility_motifs
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull()) \
        .selectExpr(
            "user_id AS u",
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 AS d",
            "unix_micros(CAST(ts AS TIMESTAMP)) * 100"
            " + event_id % 100 AS o",
            "((event_id*48271 + 17) % 700000) DIV 100000 * 13"
            " + ((event_id*69621 + 29) % 1300000) DIV 100000 AS loc")
    return mobility_motifs(ev)


def _motifs_sql() -> str:
    day = 86_400_000_000
    return f"""
      WITH p AS (
        SELECT user_id AS u, epoch_us(ts) // {day} AS d,
               epoch_us(ts) * 100 + event_id % 100 AS o,
               ((event_id*48271 + 17) % 700000) // 100000 * 13
               + ((event_id*69621 + 29) % 1300000) // 100000 AS loc
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      ),
      v AS (
        SELECT u, d, o, loc,
               LAG(loc) OVER (PARTITION BY u, d ORDER BY o) AS prev
        FROM p
      ),
      vis AS (SELECT u, d, o, loc FROM v
              WHERE prev IS NULL OR loc <> prev),
      s AS (
        SELECT u, d, list(loc ORDER BY o) AS seq
        FROM vis GROUP BY 1, 2
      ),
      c AS (
        SELECT array_to_string(
                 list_transform(seq, x -> len(list_distinct(
                   seq[1:list_position(seq, x)]))), '-') AS motif,
               CAST(len(seq) AS BIGINT) AS motif_len,
               CAST(list_max(list_transform(seq,
                    x -> len(list_distinct(
                      seq[1:list_position(seq, x)])))) AS BIGINT)
                 AS n_locs
        FROM s
      )
      SELECT motif, motif_len, n_locs,
             CAST(COUNT(*) AS BIGINT) AS n_user_days
      FROM c GROUP BY 1, 2, 3
    """


_CROSSK_SHIFTS = [(0, 0), (175_000, 325_000), (350_000, 650_000),
                  (525_000, 975_000)]


def _q_cross_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate cross-K click->view with the deterministic
    torus-shift null (operators/zonal.cross_k): all shifts ride ONE
    cell join; exact pair counts, K one fixed-shape division."""
    from cdap_geo_spark.operators.zonal import cross_k
    ev = _tbl(spark, sf_dir, "events").select(
        "event_type",
        ((F.col("event_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("event_id") * 69621 + 29) % 1300000).alias("y"))
    a = ev.where(F.col("event_type") == "click").select("x", "y")
    b = ev.where(F.col("event_type") == "view").select("x", "y")
    return cross_k(a, b, radii=[2_000, 5_000, 10_000],
                   width=700_000, height=1_300_000,
                   shifts=_CROSSK_SHIFTS)


def _cross_k_sql() -> str:
    area = 700_000 * 1_300_000
    rmax = 10_000
    shifts = " UNION ALL ".join(
        f"SELECT {i} AS sid, {sx} AS sx, {sy} AS sy"
        for i, (sx, sy) in enumerate(_CROSSK_SHIFTS))
    conds = ", ".join(
        f"""CAST(COALESCE(SUM(CASE WHEN d2 <= {r * r} THEN 1 ELSE 0
            END), 0) AS BIGINT) AS c{i}"""
        for i, r in enumerate([2_000, 5_000, 10_000]))
    rows = []
    for i, r in enumerate([2_000, 5_000, 10_000]):
        kd = (f"CAST({area} AS DOUBLE) * CAST(c{i} AS DOUBLE)"
              f" / CAST(na.n * nb.n AS DOUBLE)")
        rows.append(f"""
        SELECT CAST(sid AS BIGINT) AS shift_id,
               CAST({r} AS BIGINT) AS r, c{i} AS n_pairs,
               CASE WHEN na.n > 0 AND nb.n > 0 THEN
                 CAST(ROUND(({kd}) * 1000000.0) AS BIGINT) END
                 AS k_micro
        FROM c CROSS JOIN na CROSS JOIN nb""")
    body = " UNION ALL ".join(rows)
    return f"""
      WITH ev AS (
        SELECT event_type,
               (event_id*48271 + 17) % 700000  AS x,
               (event_id*69621 + 29) % 1300000 AS y
        FROM events
      ),
      a AS (SELECT x, y FROM ev WHERE event_type = 'click'),
      b AS (SELECT x, y FROM ev WHERE event_type = 'view'),
      na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM a),
      nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
      sh AS ({shifts}),
      bs AS (
        SELECT sh.sid, (b.x + sh.sx) % 700000 AS bx,
               (b.y + sh.sy) % 1300000 AS by
        FROM b CROSS JOIN sh
      ),
      o AS (SELECT ox, oy FROM (VALUES (-1), (0), (1)) t(ox),
                               (VALUES (-1), (0), (1)) u(oy)),
      l AS (SELECT x, y, x // {rmax} + ox AS cx, y // {rmax} + oy AS cy
            FROM a, o),
      p AS (
        SELECT bs.sid,
               (l.x - bs.bx) * (l.x - bs.bx)
               + (l.y - bs.by) * (l.y - bs.by) AS d2
        FROM l JOIN bs
          ON l.cx = bs.bx // {rmax} AND l.cy = bs.by // {rmax}
         AND (l.x - bs.bx) * (l.x - bs.bx)
             + (l.y - bs.by) * (l.y - bs.by) <= {rmax * rmax}
      ),
      c AS (SELECT sid, {conds} FROM p GROUP BY sid)
      {body}
    """


def _q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Place/behaviour association (operators/zonal.
    mutual_information): MI + NMI between 100km cell and event_type,
    char_entropy discipline three times over."""
    from cdap_geo_spark.operators.zonal import mutual_information
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("event_type").isNotNull()) \
        .selectExpr(
            "((event_id*48271 + 17) % 700000) DIV 100000 * 13"
            " + ((event_id*69621 + 29) % 1300000) DIV 100000 AS a",
            "event_type AS b")
    return mutual_information(ev)


def _mutual_info_sql() -> str:
    return """
      WITH r AS (
        SELECT ((event_id*48271 + 17) % 700000) // 100000 * 13
               + ((event_id*69621 + 29) % 1300000) // 100000 AS a,
               event_type AS b
        FROM events WHERE event_type IS NOT NULL
      ),
      ab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
             FROM r GROUP BY 1, 2),
      am AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ca
             FROM ab GROUP BY 1),
      bm AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb
             FROM ab GROUP BY 1),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ab),
      mi AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells_ab,
               CAST(SUM(CAST(ROUND(CAST(ab.c AS DOUBLE)
                 / CAST(tot.n AS DOUBLE)
                 * LN(CAST(ab.c * tot.n AS DOUBLE)
                      / CAST(am.ca * bm.cb AS DOUBLE))
                 * 1000000.0) AS BIGINT)) AS BIGINT) AS mi_micro,
               MAX(tot.n) AS n
        FROM ab JOIN am USING (a) JOIN bm USING (b) CROSS JOIN tot
      ),
      ha AS (
        SELECT CAST(ROUND((LN(CAST(MAX(tot.n) AS DOUBLE))
                 - CAST(SUM(CAST(ROUND(CAST(ca AS DOUBLE)
                     * LN(CAST(ca AS DOUBLE)) * 1000000.0) AS BIGINT))
                   AS DOUBLE) / 1000000.0
                   / CAST(MAX(tot.n) AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS h_a_micro
        FROM am CROSS JOIN tot
      ),
      hb AS (
        SELECT CAST(ROUND((LN(CAST(MAX(tot.n) AS DOUBLE))
                 - CAST(SUM(CAST(ROUND(CAST(cb AS DOUBLE)
                     * LN(CAST(cb AS DOUBLE)) * 1000000.0) AS BIGINT))
                   AS DOUBLE) / 1000000.0
                   / CAST(MAX(tot.n) AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS h_b_micro
        FROM bm CROSS JOIN tot
      )
      SELECT mi.n, mi.n_cells_ab, mi.mi_micro,
             ha.h_a_micro, hb.h_b_micro,
             CASE WHEN LEAST(ha.h_a_micro, hb.h_b_micro) > 0 THEN
               CAST(ROUND(CAST(mi.mi_micro AS DOUBLE)
                    / CAST(LEAST(ha.h_a_micro, hb.h_b_micro)
                           AS DOUBLE) * 1000000.0) AS BIGINT) END
               AS nmi_micro
      FROM mi CROSS JOIN ha CROSS JOIN hb
    """


def _q_cell_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell weekly audience decomposition (operators/zonal.
    cell_churn): distinct user presence per 100km cell-week,
    stay/gain/loss by exact set arithmetic (one equi-join + two
    support-sized aggregates, no anti-joins)."""
    from cdap_geo_spark.operators.zonal import cell_churn
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull()) \
        .selectExpr(
            "((event_id*48271 + 17) % 700000) DIV 100000 AS qx",
            "((event_id*69621 + 29) % 1300000) DIV 100000 AS qy",
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 604800000000"
            " AS p",
            "user_id AS u")
    return cell_churn(ev)


def _cell_churn_sql() -> str:
    week = 604_800_000_000
    return f"""
      WITH b AS (
        SELECT DISTINCT
               ((event_id*48271 + 17) % 700000) // 100000 AS qx,
               ((event_id*69621 + 29) % 1300000) // 100000 AS qy,
               epoch_us(ts) // {week} AS p,
               user_id AS u
        FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      ),
      per AS (SELECT qx, qy, p, CAST(COUNT(*) AS BIGINT) AS n
              FROM b GROUP BY 1, 2, 3),
      stay AS (
        SELECT a.qx, a.qy, a.p, CAST(COUNT(*) AS BIGINT) AS n_stay
        FROM b a JOIN b c
          ON a.qx = c.qx AND a.qy = c.qy AND a.u = c.u
         AND c.p = a.p + 1
        GROUP BY 1, 2, 3
      ),
      rng AS (SELECT MIN(p) AS pmin, MAX(p) AS pmax FROM b),
      cur AS (SELECT qx, qy, p, n AS ncur FROM per),
      fut AS (SELECT qx, qy, p - 1 AS p, n AS nnext FROM per),
      oj AS (
        SELECT COALESCE(cur.qx, fut.qx) AS qx,
               COALESCE(cur.qy, fut.qy) AS qy,
               COALESCE(cur.p, fut.p) AS p,
               COALESCE(cur.ncur, 0) AS ncur,
               COALESCE(fut.nnext, 0) AS nnext
        FROM cur FULL OUTER JOIN fut
          ON cur.qx = fut.qx AND cur.qy = fut.qy AND cur.p = fut.p
      )
      SELECT CAST(oj.qx AS BIGINT) AS qx, CAST(oj.qy AS BIGINT) AS qy,
             CAST(oj.p AS BIGINT) AS p,
             CAST(COALESCE(stay.n_stay, 0) AS BIGINT) AS n_stay,
             CAST(oj.nnext - COALESCE(stay.n_stay, 0) AS BIGINT)
               AS n_gain,
             CAST(oj.ncur - COALESCE(stay.n_stay, 0) AS BIGINT)
               AS n_loss
      FROM oj LEFT JOIN stay
        ON stay.qx = oj.qx AND stay.qy = oj.qy AND stay.p = oj.p
      CROSS JOIN rng
      WHERE oj.p >= rng.pmin AND oj.p < rng.pmax
    """


def _q_idw_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW leave-one-out CV (operators/zonal.idw_loocv) on the
    hash-scattered event field (z = value signal): per-pair weight
    contributions micro-rounded BIGINT, per-point one division,
    MAE/bias re-quantized per point then BIGINT-summed."""
    from cdap_geo_spark.operators.zonal import idw_loocv
    ev = _tbl(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        ((F.col("event_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("event_id") * 69621 + 29) % 1300000).alias("y"),
        ((F.col("event_id") * 7919 + 3) % 1000).alias("z"))
    return idw_loocv(ev, radius=10_000)


def _idw_cv_sql() -> str:
    r = 10_000
    return f"""
      WITH b AS (
        SELECT event_id AS id,
               (event_id*48271 + 17) % 700000  AS x,
               (event_id*69621 + 29) % 1300000 AS y,
               (event_id*7919 + 3)   % 1000    AS z
        FROM events
      ),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
      o AS (SELECT ox, oy FROM (VALUES (-1), (0), (1)) t(ox),
                               (VALUES (-1), (0), (1)) u(oy)),
      l AS (SELECT id, x, y, z, x // {r} + ox AS cx,
                   y // {r} + oy AS cy FROM b, o),
      per AS (
        SELECT l.id, MAX(l.z) AS za,
               CAST(SUM(CAST(ROUND(CAST(rr.z AS DOUBLE) * 1000000.0
                 / CAST((l.x - rr.x) * (l.x - rr.x)
                        + (l.y - rr.y) * (l.y - rr.y) + 1 AS DOUBLE))
                 AS BIGINT)) AS BIGINT) AS sn,
               CAST(SUM(CAST(ROUND(1000000.0
                 / CAST((l.x - rr.x) * (l.x - rr.x)
                        + (l.y - rr.y) * (l.y - rr.y) + 1 AS DOUBLE))
                 AS BIGINT)) AS BIGINT) AS sd
        FROM l JOIN b rr
          ON l.cx = rr.x // {r} AND l.cy = rr.y // {r}
         AND l.id <> rr.id
         AND (l.x - rr.x) * (l.x - rr.x)
             + (l.y - rr.y) * (l.y - rr.y) <= {r * r}
        GROUP BY 1
      ),
      sc AS (
        SELECT id,
               CAST(ROUND((CAST(sn AS DOUBLE) / CAST(sd AS DOUBLE)
                           - CAST(za AS DOUBLE)) * 1000000.0)
                 AS BIGINT) AS err_m,
               CAST(ROUND(ABS(CAST(sn AS DOUBLE) / CAST(sd AS DOUBLE)
                              - CAST(za AS DOUBLE)) * 1000000.0)
                 AS BIGINT) AS abs_m
        FROM per WHERE sd > 0
      ),
      agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
               CAST(SUM(abs_m) AS BIGINT) AS sae,
               CAST(SUM(err_m) AS BIGINT) AS sbe
        FROM sc
      )
      SELECT nn.n, agg.n_scored,
             CAST(nn.n - agg.n_scored AS BIGINT) AS n_censored,
             CASE WHEN agg.n_scored > 0 THEN
               CAST(ROUND(CAST(agg.sae AS DOUBLE)
                    / CAST(agg.n_scored AS DOUBLE)) AS BIGINT) END
               AS mae_micro,
             CASE WHEN agg.n_scored > 0 THEN
               CAST(ROUND(CAST(agg.sbe AS DOUBLE)
                    / CAST(agg.n_scored AS DOUBLE)) AS BIGINT) END
               AS bias_micro
      FROM agg CROSS JOIN nn
    """


def _q_spatial_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#200: Shannon entropy + Pielou evenness of each event_type's
    20km density field (the diversity-style companion to
    locational_gini): H = ln n − Σc·ln c/n over cell counts
    (char_entropy discipline), evenness = H/ln(k_occupied), both
    fixed-shape; one (type, cell) partial agg."""
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("event_type").isNotNull()) \
        .selectExpr("event_type AS g",
                    "((event_id*48271 + 17) % 700000) DIV 20000 * 65"
                    " + ((event_id*69621 + 29) % 1300000) DIV 20000"
                    " AS cell")
    c = ev.groupBy("g", "cell").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    term = F.round(F.col("c").cast("double")
                   * F.log(F.col("c").cast("double"))
                   * 1000000.0).cast("long")
    p = c.groupBy("g").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k_cells"),
        F.sum(term).cast("long").alias("_s"))
    h = F.round((F.log(F.col("n").cast("double"))
                 - F.col("_s").cast("double") / 1000000.0
                 / F.col("n").cast("double")) * 1000000.0) \
        .cast("long")
    p = p.select("g", "n", "k_cells", h.alias("h_micro"))
    ev_m = F.when(F.col("k_cells") > 1,
                  F.round(F.col("h_micro").cast("double")
                          / (F.log(F.col("k_cells").cast("double"))
                             * 1000000.0) * 1000000.0).cast("long"))
    return p.select("g", "n", "k_cells", "h_micro",
                    ev_m.alias("evenness_micro"))


def _spatial_entropy_sql() -> str:
    return """
      WITH b AS (
        SELECT event_type AS g,
               ((event_id*48271 + 17) % 700000) // 20000 * 65
               + ((event_id*69621 + 29) % 1300000) // 20000 AS cell
        FROM events WHERE event_type IS NOT NULL
      ),
      c AS (SELECT g, cell, CAST(COUNT(*) AS BIGINT) AS c
            FROM b GROUP BY 1, 2),
      p AS (
        SELECT g, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k_cells,
               CAST(SUM(CAST(ROUND(CAST(c AS DOUBLE)
                 * LN(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT))
                 AS BIGINT) AS s
        FROM c GROUP BY 1
      ),
      hh AS (
        SELECT g, n, k_cells,
               CAST(ROUND((LN(CAST(n AS DOUBLE))
                 - CAST(s AS DOUBLE) / 1000000.0
                   / CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)
                 AS h_micro
        FROM p
      )
      SELECT g, n, k_cells, h_micro,
             CASE WHEN k_cells > 1 THEN
               CAST(ROUND(CAST(h_micro AS DOUBLE)
                    / (LN(CAST(k_cells AS DOUBLE)) * 1000000.0)
                    * 1000000.0) AS BIGINT) END AS evenness_micro
      FROM hh
    """


def _q_variogram_aniso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional semivariogram (operators/zonal.
    variogram_directional): the variogram split by the exact integer
    direction sector (sign-folded octant rule, no atan2)."""
    from cdap_geo_spark.operators.zonal import variogram_directional
    ev = _tbl(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        ((F.col("event_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("event_id") * 69621 + 29) % 1300000).alias("y"),
        ((F.col("event_id") * 7919 + 3) % 1000).alias("z"))
    return variogram_directional(ev, h_max=10_000, n_bins=5)


def _variogram_aniso_sql() -> str:
    hmax, width = 10_000, 2_000
    return f"""
      WITH b AS (
        SELECT event_id AS id,
               (event_id*48271 + 17) % 700000  AS x,
               (event_id*69621 + 29) % 1300000 AS y,
               (event_id*7919 + 3)   % 1000    AS z
        FROM events
      ),
      o AS (SELECT ox, oy FROM (VALUES (-1), (0), (1)) t(ox),
                               (VALUES (-1), (0), (1)) u(oy)),
      l AS (SELECT id, x, y, z, x // {hmax} + ox AS cx,
                   y // {hmax} + oy AS cy FROM b, o),
      p AS (
        SELECT l.x - rr.x AS dx, l.y - rr.y AS dy,
               (l.x - rr.x) * (l.x - rr.x)
               + (l.y - rr.y) * (l.y - rr.y) AS d2,
               (l.z - rr.z) * (l.z - rr.z) AS dz2
        FROM l JOIN b rr
          ON l.cx = rr.x // {hmax} AND l.cy = rr.y // {hmax}
         AND l.id < rr.id
         AND (l.x - rr.x) * (l.x - rr.x)
             + (l.y - rr.y) * (l.y - rr.y) < {hmax * hmax}
      ),
      f AS (
        SELECT CASE WHEN dy < 0 OR (dy = 0 AND dx < 0)
                    THEN -dx ELSE dx END AS fdx,
               CASE WHEN dy < 0 OR (dy = 0 AND dx < 0)
                    THEN -dy ELSE dy END AS fdy,
               d2, dz2
        FROM p
      ),
      s AS (
        SELECT CASE WHEN 2 * ABS(fdy) <= ABS(fdx) THEN 'EW'
                    WHEN 2 * ABS(fdx) <= ABS(fdy) THEN 'NS'
                    WHEN fdx > 0 THEN 'NE' ELSE 'NW' END AS sector,
               d2, dz2,
               CAST(FLOOR(SQRT(CAST(d2 AS DOUBLE))) AS BIGINT) AS sq
        FROM f
      ),
      r AS (
        SELECT sector,
               (sq + CASE WHEN (sq + 1) * (sq + 1) <= d2 THEN 1
                          WHEN sq * sq > d2 THEN -1 ELSE 0 END)
               // {width} AS bin,
               dz2
        FROM s
      )
      SELECT sector, bin, CAST(bin * {width} AS BIGINT) AS lo,
             CAST((bin + 1) * {width} AS BIGINT) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(ROUND(CAST(SUM(dz2) AS DOUBLE)
                        / CAST(2 * COUNT(*) AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS gamma_micro
      FROM r GROUP BY 1, 2
    """


def _q_bivariate_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate Moran's I (operators/zonal.bivariate_morans): does a
    region's AREA co-move with its neighbors' PERIMETER — the
    spillover statistic; integer-centered both variables, one fixed-
    shape expression."""
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.operators.zonal import bivariate_morans
    from cdap_geo_spark.sources import relational as R
    from cdap_geo_spark import udfs
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    vals = regions.select(
        F.col("region_id").alias("id"),
        ((F.col("maxx") - F.col("minx"))
         * (F.col("maxy") - F.col("miny"))).cast("long").alias("_a"),
        ((F.col("maxx") - F.col("minx"))
         + (F.col("maxy") - F.col("miny"))).cast("long").alias("_p")) \
        .select("id", F.expr("_a DIV 100000").alias("x"),
                F.col("_p").alias("y2"))
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    return bivariate_morans(vals, edges)


def _bivariate_moran_sql() -> str:
    return f"""
      WITH b AS ({_BOXES}),
      v AS (SELECT region_id AS id,
                   CAST((maxx - minx) * (maxy - miny) AS BIGINT)
                     // 100000 AS x,
                   CAST((maxx - minx) + (maxy - miny) AS BIGINT) AS y
            FROM b),
      st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(x) AS BIGINT) AS sx,
                    CAST(SUM(y) AS BIGINT) AS sy FROM v),
      z AS (SELECT id, x - (SELECT sx // n FROM st) AS zx,
                   y - (SELECT sy // n FROM st) AS zy
            FROM v),
      dn AS (SELECT CAST(SUM(zx * zx) AS BIGINT) AS den_x,
                    CAST(SUM(zy * zy) AS BIGINT) AS den_y,
                    CAST(COUNT(*) AS BIGINT) AS n FROM z),
      e AS (
        SELECT a.region_id AS a, c.region_id AS bb
        FROM ({_BOXES}) a JOIN ({_BOXES}) c
          ON NOT (a.minx > c.maxx OR a.miny > c.maxy
               OR a.maxx < c.minx OR a.maxy < c.miny)
        WHERE a.region_id <> c.region_id
      ),
      nw AS (
        SELECT CAST(SUM(za.zx * zb.zy) AS BIGINT) AS num,
               CAST(COUNT(*) AS BIGINT) AS w_pairs
        FROM e JOIN z za ON e.a = za.id JOIN z zb ON e.bb = zb.id
      )
      SELECT dn.n, nw.w_pairs, nw.num, dn.den_x, dn.den_y,
             CASE WHEN dn.den_x > 0 AND dn.den_y > 0
                   AND nw.w_pairs > 0 THEN
               CAST(ROUND(CAST(dn.n * nw.num AS DOUBLE)
                    / (CAST(nw.w_pairs AS DOUBLE)
                       * SQRT(CAST(dn.den_x AS DOUBLE))
                       * SQRT(CAST(dn.den_y AS DOUBLE)))
                    * 1000000.0) AS BIGINT) END AS i_micro
      FROM nw CROSS JOIN dn
    """


def _q_smr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-area SMR map ('error' events as cases): per 100km cell,
    observed cases vs the expectation under the global rate —
    E = cell_total·cases_total/N and SMR = obs/E, both via exact
    cross-multiplied integers with ONE division each; the classic
    disease-mapping first look."""
    ev = _tbl(spark, sf_dir, "events") \
        .where(F.col("event_type").isNotNull()) \
        .selectExpr(
            "((event_id*48271 + 17) % 700000) DIV 100000 AS qx",
            "((event_id*69621 + 29) % 1300000) DIV 100000 AS qy",
            "CAST(event_type = 'error' AS LONG) AS is_case")
    cell = ev.groupBy("qx", "qy").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("is_case").cast("long").alias("n_cases"))
    tot = cell.agg(F.sum("n_events").cast("long").alias("_n"),
                   F.sum("n_cases").cast("long").alias("_c"))
    j = cell.crossJoin(F.broadcast(tot))
    e = F.when(F.col("_n") > 0,
               F.round((F.col("n_events") * F.col("_c"))
                       .cast("double") * 1000000.0
                       / F.col("_n").cast("double")).cast("long"))
    smr = F.when((F.col("n_events") > 0) & (F.col("_c") > 0),
                 F.round((F.col("n_cases") * F.col("_n"))
                         .cast("double") * 1000000.0
                         / (F.col("n_events") * F.col("_c"))
                         .cast("double")).cast("long"))
    return j.select(F.col("qx").cast("long"),
                    F.col("qy").cast("long"), "n_events", "n_cases",
                    e.alias("expected_micro"), smr.alias("smr_micro"))


def _smr_sql() -> str:
    return """
      WITH cell AS (
        SELECT ((event_id*48271 + 17) % 700000) // 100000 AS qx,
               ((event_id*69621 + 29) % 1300000) // 100000 AS qy,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1
                             ELSE 0 END) AS BIGINT) AS n_cases
        FROM events WHERE event_type IS NOT NULL
        GROUP BY 1, 2
      ),
      tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n,
                     CAST(SUM(n_cases) AS BIGINT) AS c FROM cell)
      SELECT CAST(qx AS BIGINT) AS qx, CAST(qy AS BIGINT) AS qy,
             n_events, n_cases,
             CASE WHEN tot.n > 0 THEN
               CAST(ROUND(CAST(n_events * tot.c AS DOUBLE)
                    * 1000000.0 / CAST(tot.n AS DOUBLE)) AS BIGINT)
             END AS expected_micro,
             CASE WHEN n_events > 0 AND tot.c > 0 THEN
               CAST(ROUND(CAST(n_cases * tot.n AS DOUBLE) * 1000000.0
                    / CAST(n_events * tot.c AS DOUBLE)) AS BIGINT)
             END AS smr_micro
      FROM cell CROSS JOIN tot
    """


def _ripley_sql() -> str:
    area = 700_000 * 1_300_000
    rmax = 10_000
    rows = []
    for i, r in enumerate([2_000, 5_000, 10_000]):
        kd = (f"CAST({area} AS DOUBLE) * CAST(2 * c{i} AS DOUBLE)"
              f" / CAST(n * (n - 1) AS DOUBLE)")
        rows.append(f"""
        SELECT CAST({r} AS BIGINT) AS r,
               CAST(2 * c{i} AS BIGINT) AS n_pairs,
               CASE WHEN n > 1 THEN
                 CAST(ROUND(({kd}) * 1000000.0) AS BIGINT)
               ELSE NULL END AS k_micro,
               CASE WHEN n > 1 THEN
                 CAST(ROUND(SQRT(({kd}) / 3.141592653589793)
                            * 1000000.0) AS BIGINT)
               ELSE NULL END AS l_micro
        FROM c CROSS JOIN nn""")
    body = " UNION ALL ".join(rows)
    conds = ", ".join(
        f"""CAST(COALESCE(SUM(CASE WHEN d2 <= {r * r} THEN 1 ELSE 0
            END), 0) AS BIGINT) AS c{i}"""
        for i, r in enumerate([2_000, 5_000, 10_000]))
    return f"""
      WITH b AS (
        SELECT event_id AS id,
               (event_id*48271 + 17) % 700000  AS x,
               (event_id*69621 + 29) % 1300000 AS y
        FROM events
      ),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
      p AS (
        SELECT (a.x - bb.x) * (a.x - bb.x)
               + (a.y - bb.y) * (a.y - bb.y) AS d2
        FROM b a JOIN b bb
          ON a.id < bb.id
         AND bb.x >= a.x - {rmax} AND bb.x <= a.x + {rmax}
         AND bb.y >= a.y - {rmax} AND bb.y <= a.y + {rmax}
         AND (a.x - bb.x) * (a.x - bb.x)
             + (a.y - bb.y) * (a.y - bb.y) <= {rmax * rmax}
      ),
      c AS (SELECT {conds} FROM p)
      {body}
    """


def _knox_sql() -> str:
    delta, tau = 5_000, 3_600_000_000
    return f"""
      WITH b AS (
        SELECT event_id AS id, epoch_us(ts) AS t,
               (event_id*48271 + 17) % 700000  AS x,
               (event_id*69621 + 29) % 1300000 AS y
        FROM events WHERE ts IS NOT NULL
      ),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events FROM b),
      sp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_space_pairs,
               CAST(COALESCE(SUM(CASE WHEN ABS(a.t - bb.t) <= {tau}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                 AS n_both_pairs
        FROM b a JOIN b bb
          ON a.id < bb.id
         AND bb.x >= a.x - {delta} AND bb.x <= a.x + {delta}
         AND bb.y >= a.y - {delta} AND bb.y <= a.y + {delta}
         AND (a.x - bb.x) * (a.x - bb.x)
             + (a.y - bb.y) * (a.y - bb.y) <= {delta * delta}
      ),
      bins AS (
        SELECT t // {tau} AS bin, CAST(COUNT(*) AS BIGINT) AS nb
        FROM b GROUP BY 1
      ),
      same AS (
        SELECT CAST(COALESCE(SUM(nb * (nb - 1) // 2), 0) AS BIGINT)
          AS n_same FROM bins
      ),
      adj AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_adj
        FROM b t1 JOIN b t2
          ON (t1.t // {tau}) + 1 = t2.t // {tau}
         AND t2.t - t1.t <= {tau}
      )
      SELECT n_events, n_space_pairs,
             CAST(n_same + n_adj AS BIGINT) AS n_time_pairs,
             n_both_pairs,
             CASE WHEN n_space_pairs > 0 AND n_same + n_adj > 0
                  THEN CAST(ROUND(1000000.0 *
                    (CAST(n_both_pairs AS DOUBLE)
                     * (CAST(n_events * (n_events - 1) AS DOUBLE) / 2.0))
                    / (CAST(n_space_pairs AS DOUBLE)
                       * CAST(n_same + n_adj AS DOUBLE))) AS BIGINT)
                  ELSE NULL END AS knox_u
      FROM n, sp, same, adj
    """


def _q_hex_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex ring smoothing (operators/cluster.hex_smooth) over the
    hex_bin density: 7-position literal fanout + one hex-keyed sum;
    fixed divisor 7 keeps the mean exact."""
    from cdap_geo_spark.operators.cluster import hex_bin, hex_smooth
    pts = _tbl(spark, sf_dir, "documents").select(
        ((F.col("doc_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("doc_id") * 69621 + 29) % 1300000).alias("y"))
    return hex_smooth(hex_bin(pts, size=25_000.0))


def _hex_smooth_sql() -> str:
    from cdap_geo_spark.operators.cluster import (hex_bin_oracle_sql,
                                                  hex_smooth_oracle_sql)
    return hex_smooth_oracle_sql(hex_bin_oracle_sql(_PTS, size=25_000.0))


def _q_gearys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geary's C of region-box area under bbox adjacency
    (operators/zonal.gearys_c): numerator exact without centering,
    statistic one double over exact ints."""
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.operators.zonal import gearys_c
    from cdap_geo_spark.sources import relational as R
    from cdap_geo_spark import udfs
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    vals = regions.select(
        F.col("region_id").alias("id"),
        ((F.col("maxx") - F.col("minx"))
         * (F.col("maxy") - F.col("miny"))).cast("long").alias("_a")) \
        .select("id", F.expr("_a DIV 100000").alias("x"))
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    return gearys_c(vals, edges, id_col="id", value_col="x")


def _q_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-pyramid rollup: the tile_assign grid (10x10 over the doc
    frame) aggregated one level up (factor 2 -> 5x5 parents)."""
    from cdap_geo_spark.operators.tiles import assign_tiles, tile_rollup
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    pts = R.doc_points(spark, sf_dir).select("doc_id", "geometry")
    assigned = assign_tiles(pts, bbox=(0, 0, 700_000, 1_300_000), splits=10)
    out = tile_rollup(assigned, resolutions=(70_000, 130_000), factor=2)
    return out.select("parent_tile_id", F.col("n_rows").alias("n_docs"),
                      "n_child_tiles",
                      F.col("max_child_rows").alias("max_child_docs"))


def _q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 2-level tile pyramid (operators/tiles.tile_pyramid): the
    10x10 assign_tiles grid rolled to 5x5 (level 1) and 3x3-ish
    (level 2), all levels in one relation; every exchange above the
    base is bounded by the tile frame."""
    from cdap_geo_spark.operators.tiles import assign_tiles, tile_pyramid
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    pts = R.doc_points(spark, sf_dir).select("doc_id", "geometry")
    assigned = assign_tiles(pts, bbox=(0, 0, 700_000, 1_300_000),
                            splits=10)
    out = tile_pyramid(assigned, resolutions=(70_000, 130_000),
                       factor=2, levels=2)
    return out.select("level", "tile_id",
                      F.col("n_rows").alias("n_docs"), "n_child_tiles",
                      F.col("max_child_rows").alias("max_child_docs"))


def _q_shared_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from cdap_geo_spark.operators.text import shared_ngram_stats
    out = shared_ngram_stats(_docs(spark, sf_dir), n=2, min_docs=2)
    return out.select(F.col("doc_id").cast("long"),
                      "n_distinct_ngrams", "n_shared_ngrams")


#: SemDeDup config shared by the Spark query and the SQL oracle
SEMDEDUP_THRESHOLD = 0.4
SEMDEDUP_CLUSTERS = 16


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: trained spherical-k-means clusters (identical
    centroids re-derived by the oracle from the same parquet sample,
    the ivf_ann pattern), then a duplicate flag for any vector with a
    lower-id cluster-mate at cosine >= threshold."""
    from cdap_geo_spark.operators.embeddings import ivf_train, semantic_dedup
    emb = _tbl(spark, sf_dir, "embeddings")
    cents = ivf_train(emb, dim=64, n_clusters=SEMDEDUP_CLUSTERS)
    out = semantic_dedup(emb, dim=64, threshold=SEMDEDUP_THRESHOLD,
                         n_clusters=SEMDEDUP_CLUSTERS, centroids=cents)
    return out.select(F.col("vec_id").cast("long"),
                      F.col("cluster_id").cast("long"),
                      F.col("is_dup").cast("long"))


def _q_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact geometry centroid (area-weighted shoelace kernel) over the
    doc rectangles, round-tripped through the WKB point encoder and the
    bounds decoder so the full codec path is under the gate."""
    from cdap_geo_spark import udfs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    boxes = R.doc_boxes(spark, sf_dir)
    b = udfs.st_bounds()(udfs.st_centroid()(F.col("geometry")))
    return boxes.select(F.col("doc_id").cast("long"),
                        b["minx"].alias("cx"), b["miny"].alias("cy"))


def _q_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk) under the oracle gate: the
    global exclusive token prefix-sum in doc_id order, computed by the
    distributed two-pass scan (NO SinglePartition window — the pytest
    pins that plan property), vs the oracle's global window."""
    from cdap_geo_spark.operators.text import pack_sequences, token_count
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        token_count(F.col("text")).cast("long").alias("n_tokens"))
    out = pack_sequences(d, budget=512)
    return out.select("doc_id", "n_tokens", "tok_offset", "bin_id",
                      "offset_in_bin")


def _q_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog under the oracle gate: per-lang distinct-
    text estimate, every ingredient deterministic (60-bit md5 prefix,
    exact dyadic-integer harmonic sum, identical bias literal in both
    engines) so the two independent HLL implementations hash-match."""
    from cdap_geo_spark.operators.sketch import hll_estimate
    d = _docs(spark, sf_dir)
    out = hll_estimate(d.select("lang", "text"), value_col="text",
                       group_cols=["lang"], p=9)
    return out.select("lang", "est_distinct", "n_filled")


def _q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch MERGE under the oracle gate (operators/sketch.
    hll_merge): the per-lang sketch relation is built ONCE, finalized
    per lang, then folded into one global sketch by re-max per bucket
    and finalized as the 'ALL' row. The oracle never merges — it
    sketches the raw corpus directly — so a hash match proves the
    merge is lossless: exactly how a 1000-executor run folds
    per-partition sketches with a shuffle bounded by groups x 2^p."""
    from cdap_geo_spark.operators.sketch import (
        hll_finalize, hll_merge, hll_relation)
    d = _docs(spark, sf_dir)
    rel = hll_relation(d.select("lang", "text"), value_col="text",
                       group_cols=["lang"], p=9)
    per_lang = hll_finalize(rel, group_cols=["lang"], p=9)
    merged = hll_merge(rel, group_cols_out=[])
    union = hll_finalize(merged, p=9) \
        .select(F.lit("ALL").alias("lang"), "est_distinct", "n_filled")
    return per_lang.unionByName(union)


def _q_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise set overlap from bottom-k sketches (operators/sketch.
    kmv_relation + kmv_pairwise): Jaccard / union / intersection
    estimates between every source pair's text sets — the sketch HLL
    cannot provide. k=16 keeps the estimator branch live at both gate
    scales; every estimate is one double over exact integer hashes
    with identical literal shape in both engines."""
    from cdap_geo_spark.operators.sketch import kmv_pairwise, kmv_relation
    d = _docs(spark, sf_dir)
    rel = kmv_relation(d.select("source", "text"), value_col="text",
                       group_col="source", k=16)
    return kmv_pairwise(rel, k=16)


def _q_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch under the oracle gate: frequency estimates for
    the distinct tokens of every 97th document, read back out of a
    depth-4 x width-512 sketch built over the whole token stream —
    both engines build the sketch from the same md5 row-hashes, so the
    (upper-bound) estimates match bit-for-bit."""
    from cdap_geo_spark.operators.sketch import cms_relation, cms_estimate
    d = _docs(spark, sf_dir)
    toks = (d.where(F.col("text").isNotNull())
             .select("doc_id",
                     F.explode(F.split(F.lower(F.trim("text")), r"\s+"))
                      .alias("token"))
             .where(F.col("token") != ""))
    rel = cms_relation(toks, value_col="token", depth=4, width=512)
    probes = toks.where(F.col("doc_id") % 97 == 0)
    return cms_estimate(rel, probes, value_col="token",
                        depth=4, width=512)


def _q_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership under the oracle gate: a 4096-bit/4-hash
    filter over the corpus token stream, probed with every 97th doc's
    tokens (members) AND their ``?``-suffixed variants (almost all
    non-members) — both engines set the identical md5-derived bits, so
    the membership verdicts match bit-for-bit, false positives
    included."""
    from cdap_geo_spark.operators.sketch import (
        bloom_relation, bloom_contains)
    d = _docs(spark, sf_dir)
    toks = (d.where(F.col("text").isNotNull())
             .select("doc_id",
                     F.explode(F.split(F.lower(F.trim("text")), r"\s+"))
                      .alias("token"))
             .where(F.col("token") != ""))
    rel = bloom_relation(toks, value_col="token", m_bits=4096, k=4)
    seen = toks.where(F.col("doc_id") % 97 == 0).select("token")
    unseen = seen.select(F.concat(F.col("token"), F.lit("?"))
                          .alias("token"))
    probes = seen.unionByName(unseen)
    return bloom_contains(rel, probes, value_col="token",
                          m_bits=4096, k=4)


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 TF-IDF terms under the oracle gate; scores are
    rounded BEFORE ranking in both engines, ties break by token, so
    rank and score hash-match exactly."""
    from cdap_geo_spark.operators.text import tfidf_topk
    return tfidf_topk(_docs(spark, sf_dir), k=3)


def _q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap under the oracle gate: keep the 7
    lowest-id documents per source, then aggregate per source so the
    hash compare pins both the survivor SET and the payload columns
    surviving the semi-join."""
    from cdap_geo_spark.operators.text import source_cap
    kept = source_cap(_docs(spark, sf_dir), cap=7)
    return (kept.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_kept"),
                     F.sum("doc_id").alias("sum_id"),
                     F.sum("n_chars").alias("sum_chars")))


def _q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles under the oracle gate: p50/p90/p99
    of lineitem extended price per return flag from a 256-bin
    histogram relation — the deterministic lower-edge-at-ceil rule
    makes the estimate itself cross-engine hashable."""
    from cdap_geo_spark.operators.sketch import hist_quantiles
    li = _tbl(spark, sf_dir, "lineitem")
    return hist_quantiles(li, value_col="l_extendedprice",
                          group_cols=["l_returnflag"],
                          lo=900.0, hi=105000.0, nbins=256)


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing under the oracle gate: deterministic synthetic
    PII (email / IPv4 / phone derived from doc_id) appended to every
    document IDENTICALLY in both engines, then counted and redacted by
    the same Java∩RE2 regex subset — full scrubbed strings value-
    hashed, not just counts."""
    from cdap_geo_spark.operators.text import pii_scrub
    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), did,
        F.lit("@ex"), (F.col("doc_id") % 7).cast("string"), F.lit(".com"),
        F.lit(" via 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".3.9 tel 0207"),
        F.lpad((F.col("doc_id") % 100000).cast("string"), 6, "0"))
    out = pii_scrub(d.select(F.col("doc_id").cast("long"),
                             injected.alias("text")))
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone",
                      "scrubbed")


def _q_perimeter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary length under the oracle gate (``st_length``): box
    perimeter 2*(w+h), exactly integer for the integer-coordinate
    region boxes, through the full WKB encode -> parse -> kernel path.
    Non-axis-aligned edges, holes, lines, and multi-parts are pinned by
    the brute-force pytest (``tests/test_geoops.py``); the slab-quad
    buffer representation is deliberately NOT measured here — its
    stored rings tile the interior, so ring length exceeds the outline
    perimeter by construction."""
    from cdap_geo_spark import udfs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    return regions.select(
        F.col("region_id").cast("long"),
        udfs.st_length()(F.col("geometry")).cast("long").alias("perim"))


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round k-core peeling (operators/graph.kcore_peel) over
    the region bbox-adjacency graph at k=6: per round one keyed degree
    aggregation + two semi-joins, edge state checkpointed and released
    round-to-round; the DuckDB twin unrolls the same 4 synchronous
    peels as chained CTEs. Exact integer degrees make the surviving
    subgraph value-hashable."""
    from cdap_geo_spark.operators.graph import kcore_peel
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    out = kcore_peel(edges, k=6, rounds=4, src="a", dst="b")
    return out.select(F.col("id").cast("long"), "deg")


def _kcore_sql() -> str:
    """DuckDB twin of `kcore`: canonical u<v bbox-adjacency edges fed
    to the unrolled 4-round peel (see operators/graph.kcore_oracle_sql)."""
    from cdap_geo_spark.operators.graph import kcore_oracle_sql
    edges = f"""
      SELECT a.region_id AS u, c.region_id AS v
      FROM ({_BOXES}) a JOIN ({_BOXES}) c
        ON NOT (a.minx > c.maxx OR a.miny > c.maxy
             OR a.maxx < c.minx OR a.maxy < c.miny)
      WHERE a.region_id < c.region_id
    """
    return kcore_oracle_sql(edges, k=6, rounds=4)


def _q_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (operators/graph.
    lpa_communities) over the region bbox-adjacency graph: 3 rounds of
    neighbor-majority voting, ties to the smallest label — integer
    labels and counts make the fixed-round result value-hashable
    against the unrolled CTE twin."""
    from cdap_geo_spark.operators.graph import lpa_communities
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    return lpa_communities(edges, rounds=3, src="a", dst="b")


def _lpa_sql() -> str:
    """DuckDB twin of `lpa`: canonical u<v bbox-adjacency edges fed to
    the unrolled 3-round vote (see operators/graph.lpa_oracle_sql)."""
    from cdap_geo_spark.operators.graph import lpa_oracle_sql
    edges = f"""
      SELECT a.region_id AS u, c.region_id AS v
      FROM ({_BOXES}) a JOIN ({_BOXES}) c
        ON NOT (a.minx > c.maxx OR a.miny > c.maxy
             OR a.maxx < c.minx OR a.maxy < c.miny)
      WHERE a.region_id < c.region_id
    """
    return lpa_oracle_sql(edges, rounds=3)


def _q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (operators/graph.degree_assortativity) of
    the region bbox-adjacency graph: exact BIGINT degree sums over
    both orientations of each edge, one sqrt-only double, micro-
    rounded."""
    from cdap_geo_spark.operators.graph import degree_assortativity
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    return degree_assortativity(edges, src="a", dst="b")


def _assort_sql() -> str:
    """DuckDB twin of `assortativity` over the same canonical edges."""
    edges = f"""
      SELECT a.region_id AS u, c.region_id AS v
      FROM ({_BOXES}) a JOIN ({_BOXES}) c
        ON NOT (a.minx > c.maxx OR a.miny > c.maxy
             OR a.maxx < c.minx OR a.maxy < c.miny)
      WHERE a.region_id < c.region_id
    """
    return f"""
      WITH e AS MATERIALIZED ({edges}),
      deg AS MATERIALIZED (
        SELECT id, COUNT(*) AS deg FROM (
          SELECT u AS id FROM e UNION ALL SELECT v FROM e)
        GROUP BY id),
      p AS (SELECT u AS a, v AS b FROM e
            UNION ALL SELECT v, u FROM e),
      j AS (SELECT da.deg AS x, db.deg AS y
            FROM p JOIN deg da ON p.a = da.id
                   JOIN deg db ON p.b = db.id),
      agg AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                     SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
              FROM j)
      SELECT CAST(n // 2 AS BIGINT) AS n_edges,
             CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
                  THEN CAST(ROUND(1000000.0 *
                       (CAST(n*sxy - sx*sy AS DOUBLE)
                        / SQRT(CAST(n*sxx - sx*sx AS DOUBLE)
                               * CAST(n*syy - sy*sy AS DOUBLE))))
                       AS BIGINT)
                  ELSE NULL END AS assort_micro
      FROM agg
    """


#: dq_profile column list — string/integer only (float stringification
#: is engine-specific; the operator docstring owns this contract)
DQ_COLS = ["doc_id", "lang", "source", "n_chars"]


def _q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column data-quality profile (functions/relational.
    profile_columns): one scan, one 1-row aggregate (k exact
    distincts via a single Expand), literal explode to the per-column
    relation."""
    from cdap_geo_spark.functions.relational import profile_columns
    return profile_columns(_docs(spark, sf_dir), DQ_COLS)


def _dq_profile_sql() -> str:
    parts = []
    for c in DQ_COLS:
        parts.append(f"""
          SELECT '{c}' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
                 CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_nulls,
                 CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
                 CAST(MIN({c}) AS VARCHAR) AS min_s,
                 CAST(MAX({c}) AS VARCHAR) AS max_s
          FROM documents""")
    return " UNION ALL ".join(parts)


def _q_bigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy quality score (operators/text.
    bigram_logloss): add-one smoothed corpus bigram model, per-term
    cost one micro-rounded log of an exact integer ratio, summed as
    BIGINT — the context-aware twin of unigram_logloss."""
    from cdap_geo_spark.operators.text import bigram_logloss
    return bigram_logloss(_docs(spark, sf_dir))


def _bigram_logloss_sql() -> str:
    """DuckDB twin of `bigram_logloss` (see operators/text.py)."""
    from cdap_geo_spark.operators.text import bigram_logloss_oracle_sql
    return bigram_logloss_oracle_sql("SELECT doc_id, text FROM documents")


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format pivot (functions/relational.pivot_counts): per-user
    event counts by type plus an integer value sum, over an EXPLICIT
    category list (static schema, no inference scan) — one
    map-side-combining exchange."""
    from cdap_geo_spark.functions.relational import pivot_counts
    ev = _tbl(spark, sf_dir, "events") \
        .withColumn("v100", F.round(F.col("value") * 100).cast("long"))
    counts = pivot_counts(ev, group_col="user_id",
                          pivot_col="event_type",
                          values=["view", "click", "purchase"])
    sums = pivot_counts(ev, group_col="user_id",
                        pivot_col="event_type",
                        values=["view"], value_col="v100") \
        .withColumnRenamed("view", "view_v100")
    return (counts.join(sums, "user_id")
            .select(F.col("user_id").cast("long"), "view", "click",
                    "purchase", "view_v100"))


def _q_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster heat-map smoothing (operators/cluster.grid_heatmap):
    doc-hash points collapse to a cell histogram in one shuffle, then a
    bounded 5x5 integer tent-kernel scatter over OCCUPIED CELLS —
    KDE-shaped smoothing whose every weight and sum is an exact
    BIGINT."""
    from cdap_geo_spark.operators.cluster import grid_heatmap
    docs = _tbl(spark, sf_dir, "documents")
    pts = docs.select(
        ((F.col("doc_id") * 48271 + 17) % 700000).alias("x"),
        ((F.col("doc_id") * 69621 + 29) % 1300000).alias("y"))
    return grid_heatmap(pts, cell_size=50000, radius=2)


def _heatmap_sql() -> str:
    """DuckDB twin of `heatmap` (see
    operators/cluster.grid_heatmap_oracle_sql)."""
    from cdap_geo_spark.operators.cluster import grid_heatmap_oracle_sql
    pts = """
      SELECT (doc_id * 48271 + 17) % 700000 AS x,
             (doc_id * 69621 + 29) % 1300000 AS y
      FROM documents
    """
    return grid_heatmap_oracle_sql(pts, cell_size=50000, radius=2)


def _q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round weighted shortest paths (operators/graph.sssp)
    from every 97th region over the bbox-adjacency graph with
    deterministic integer edge weights: frontier-only Bellman–Ford
    relaxations, exact BIGINT distances, DuckDB twin unrolled as
    MATERIALIZED CTEs."""
    from cdap_geo_spark.operators.graph import sssp
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    pairs = _region_adjacency_pairs(regions)
    # sjoin_pairs over the full self-join already emits BOTH ordered
    # directions (the bfs oracle relies on the same shape); the weight
    # is a deterministic per-direction integer
    edges = (pairs.where(F.col("a") != F.col("b"))
             .select("a", "b",
                     ((F.col("a") * 7 + F.col("b") * 3) % 9 + 1)
                     .alias("w")))
    srcs = regions.where(F.col("region_id") % 97 == 0) \
        .select(F.col("region_id").alias("id"))
    out = sssp(edges, srcs, src="a", dst="b", weight_col="w", rounds=4)
    return out.select(F.col("id").cast("long"), "dist")


def _sssp_sql() -> str:
    """DuckDB twin of `sssp` (see operators/graph.sssp_oracle_sql)."""
    from cdap_geo_spark.operators.graph import sssp_oracle_sql
    edges = f"""
      SELECT a.region_id AS src, c.region_id AS dst,
             (a.region_id * 7 + c.region_id * 3) % 9 + 1 AS w
      FROM ({_BOXES}) a JOIN ({_BOXES}) c
        ON NOT (a.minx > c.maxx OR a.miny > c.maxy
             OR a.maxx < c.minx OR a.maxy < c.miny)
      WHERE a.region_id <> c.region_id
    """
    srcs = (f"SELECT region_id AS id FROM ({_BOXES}) "
            f"WHERE region_id % 97 = 0")
    return sssp_oracle_sql(edges, srcs, rounds=4)


def _q_adamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction (operators/graph.adamic_adar) over
    the region bbox-adjacency graph: top-50 non-adjacent pairs by the
    micro-rounded 1/ln(deg) common-neighbor sum — wedge equi-join +
    keyed agg + anti-join + bounded TakeOrdered, never all-pairs."""
    from cdap_geo_spark.operators.graph import adamic_adar
    from cdap_geo_spark.operators.sjoin import sjoin_pairs
    from cdap_geo_spark.sources import relational as R
    _spatial_conf(spark)
    regions = R.region_boxes(spark, sf_dir)
    pairs = _region_adjacency_pairs(regions)
    edges = pairs.where(F.col("a") != F.col("b"))
    return adamic_adar(edges, k=50, src="a", dst="b")


def _adamic_sql() -> str:
    """DuckDB twin of `adamic_adar` (see
    operators/graph.adamic_adar_oracle_sql)."""
    from cdap_geo_spark.operators.graph import adamic_adar_oracle_sql
    edges = f"""
      SELECT a.region_id AS u, c.region_id AS v
      FROM ({_BOXES}) a JOIN ({_BOXES}) c
        ON NOT (a.minx > c.maxx OR a.miny > c.maxy
             OR a.maxx < c.minx OR a.maxy < c.miny)
      WHERE a.region_id < c.region_id
    """
    return adamic_adar_oracle_sql(edges, k=50)


def _q_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy join (operators/text.fuzzy_join) under the
    oracle gate: every 37th part's composite label matched against the
    whole part table at levenshtein <= 2 through the LOSSLESS q-gram
    count-filter blocking (never a nested-loop); the DuckDB twin is
    the quadratic definition with only the length filter. Exact BIGINT
    distances make the full pair relation value-hashable."""
    from cdap_geo_spark.operators.text import fuzzy_join
    p = _tbl(spark, sf_dir, "part")
    lab = F.concat_ws(" ", "p_name", "p_brand", "p_type",
                      F.col("p_size").cast("string"))
    corpus = p.select(F.col("p_partkey").alias("pk"), lab.alias("s"))
    qs = corpus.where(F.col("pk") % 37 == 0) \
               .select(F.col("pk").alias("qk"), "s")
    out = fuzzy_join(qs, corpus, max_dist=2, left_id="qk", left_str="s",
                     right_id="pk", right_str="s")
    return out.select(F.col("qk").cast("long"), F.col("pk").cast("long"),
                      "dist")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "sjoin_pip": _q_sjoin_pip,
        "sjoin_pip_salted": _q_sjoin_pip_salted,
        "sjoin_bucketed": _q_sjoin_bucketed,
        "sjoin_bucketed_salted": _q_sjoin_bucketed_salted,
        "sjoin_bbox": _q_sjoin_bbox,
        "distance_join": _q_distance_join,
        "tile_assign": _q_tile_assign,
        "knn": _q_knn,
        "knn_box": _q_knn_box,
        "region_area": _q_region_area,
        "buffer_area": _q_buffer_area,
        "subdivide_area": _q_subdivide_area,
        "pointify_count": _q_pointify_count,
        "intersection_area": _q_intersection_area,
        "dissolve": _q_dissolve,
        "global_bbox": _q_global_bbox,
        "groupmax": _q_groupmax,
        "exact_dedup": _q_exact_dedup,
        "token_count": _q_token_count,
        "doc_chunks": _q_doc_chunks,
        "span_integrity": _q_span_integrity,
        "filter_funnel": _q_filter_funnel,
        "quality": _q_quality,
        "lang_id": _q_lang_id,
        "repetition": _q_repetition,
        "decontaminate": _q_decontaminate,
        "ngram_jaccard": _q_ngram_jaccard,
        "dup_clusters": _q_dup_clusters,
        "golden_records": _q_golden_records,
        "stay_points": _q_stay_points,
        "stratified_sample": _q_stratified_sample,
        "vocab_topk": _q_vocab_topk,
        "cosine_topk": _q_cosine_topk,
        "minhash_pairs": _q_minhash_pairs,
        "lsh_eval": _q_lsh_eval,
        "simhash_pairs": _q_simhash_pairs,
        "lsh_ann": _q_lsh_ann,
        "ivf_ann": _q_ivf_ann,
        "ann_recall": _q_ann_recall,
        "embed_dup": _q_embed_dup,
        "media_features": _q_media_features,
        "png_features": _q_png_features,
        "fingerprints": _q_fingerprints,
        "event_windows": _q_event_windows,
        "sessionize": _q_sessionize,
        "stream_enrich": _q_stream_enrich,
        "session_stats": _q_session_stats,
        "zonal_stats": _q_zonal_stats,
        "tile_rollup": _q_tile_rollup,
        "tile_pyramid": _q_tile_pyramid,
        "shared_ngrams": _q_shared_ngrams,
        "semantic_dedup": _q_semantic_dedup,
        "centroid": _q_centroid,
        "perimeter": _q_perimeter,
        "pack": _q_pack,
        "pii_scrub": _q_pii_scrub,
        "hll_distinct": _q_hll,
        "cms_counts": _q_cms,
        "hist_quantiles": _q_hist_quantiles,
        "bloom_membership": _q_bloom,
        "source_cap": _q_source_cap,
        "tfidf_topk": _q_tfidf,
        "window_distinct": _q_window_distinct,
        "window_topk": _q_window_topk,
        "hash_split": _q_hash_split,
        "window_cms": _q_window_cms,
        "asof_join": _q_asof_join,
        "rolling_stats": _q_rolling_stats,
        "funnel": _q_funnel,
        "retention": _q_retention,
        "interval_join": _q_interval_join,
        "interval_overlap": _q_interval_overlap,
        "time_pyramid": _q_time_pyramid,
        "dq_check": _q_dq_check,
        "grouped_ols": _q_ols,
        "outliers": _q_outliers,
        "winsorize": _q_winsorize,
        "triangles": _q_triangles,
        "resample": _q_resample,
        "click_attach": _q_click_attach,
        "convex_hull": _q_hull,
        "hull_diameter": _q_hull_diameter,
        "bm25": _q_bm25,
        "bfs": _q_bfs,
        "pmi": _q_pmi,
        "char_entropy": _q_entropy,
        "transitions": _q_transitions,
        "mode": _q_mode,
        "areal": _q_areal,
        "morans_i": _q_morans,
        "gearys_c": _q_gearys,
        "weighted_sample": _q_weighted_sample,
        "grid_cluster": _q_grid_cluster,
        "hex_bin": _q_hex_bin,
        "hilbert_key": _q_hilbert_key,
        "hausdorff": _q_hausdorff,
        "theil_sen": _q_theil_sen,
        "benford": _q_benford,
        "k_anonymity": _q_k_anonymity,
        "ab_test": _q_ab_test,
        "clip_length": _q_clip_length,
        "line_raster": _q_line_raster,
        "contours": _q_contours,
        "knox": _q_knox,
        "ripley_k": _q_ripley,
        "variogram": _q_variogram,
        "colocation": _q_colocation,
        "quadrat": _q_quadrat,
        "dbscan": _q_dbscan,
        "emerging": _q_emerging,
        "theil": _q_theil,
        "gravity": _q_gravity,
        "ks_test": _q_ks,
        "spearman": _q_spearman,
        "survival": _q_survival,
        "radiation": _q_radiation,
        "burstiness": _q_burstiness,
        "visit_entropy": _q_visit_entropy,
        "huff": _q_huff,
        "accessibility": _q_2sfca,
        "slope_aspect": _q_slope,
        "clark_evans": _q_clark_evans,
        "centrography": _q_centrography,
        "segregation": _q_segregation,
        "scan_stat": _q_scan,
        "spatial_markov": _q_spatial_markov,
        "general_g": _q_general_g,
        "flow_field": _q_flow_field,
        "radius_gyration": _q_radius_gyration,
        "motifs": _q_motifs,
        "cross_k": _q_cross_k,
        "mutual_info": _q_mutual_info,
        "cell_churn": _q_cell_churn,
        "idw_cv": _q_idw_cv,
        "spatial_entropy": _q_spatial_entropy,
        "variogram_aniso": _q_variogram_aniso,
        "bivariate_moran": _q_bivariate_moran,
        "smr": _q_smr,
        "percolation": _q_percolation,
        "locational_gini": _q_locational_gini,
        "returners": _q_returners,
        "langid_kappa": _q_langid_kappa,
        "langid_prf": _q_langid_prf,
        "markov_pred": _q_markov_pred,
        "vocab_growth": _q_vocab_growth,
        "location_quotient": _q_location_quotient,
        "join_counts": _q_join_counts,
        "lisa": _q_lisa,
        "getis_ord": _q_getis,
        "geofence": _q_geofence,
        "adaptive_tiles": _q_adaptive_tiles,
        "ipf": _q_ipf,
        "simplify": _q_simplify,
        "ts_gaps": _q_ts_gaps,
        "co_visits": _q_co_visits,
        "home_work": _q_home_work,
        "hex_smooth": _q_hex_smooth,
        "cube_counts": _q_cube,
        "json_stats": _q_json,
        "changelog": _q_changelog,
        "unigram_logloss": _q_logloss,
        "zipf": _q_zipf,
        "idw": _q_idw,
        "trajectory": _q_trajectory,
        "pagerank": _q_pagerank,
        "skyline": _q_skyline,
        "fuzzy_join": _q_fuzzy,
        "kcore": _q_kcore,
        "lpa": _q_lpa,
        "assortativity": _q_assortativity,
        "dq_profile": _q_dq_profile,
        "scd2": _q_scd2,
        "adamic_adar": _q_adamic,
        "sssp": _q_sssp,
        "heatmap": _q_heatmap,
        "pivot": _q_pivot,
        "bigram_logloss": _q_bigram_logloss,
        "tfidf_cosine": _q_tfidf_cosine,
        "percentiles": _q_percentiles,
        "path_topk": _q_path_topk,
        "fuzzy_clusters": _q_fuzzy_clusters,
        "hll_union": _q_hll_union,
        "clustering_coeff": _q_clustering,
        "assoc_rules": _q_assoc,
        "mad_outliers": _q_mad,
        "ewma": _q_ewma,
        "quantile_bins": _q_bucketize,
        "kmv_overlap": _q_kmv,
        "cell_coverage": _q_cell_coverage,
        "seasonal": _q_seasonal,
        "grouped_corr": _q_corr,
        "autocorr": _q_autocorr,
        "changepoint": _q_changepoint,
        "od_matrix": _q_od,
        "gini": _q_gini,
        "path_length": _q_path_length,
        "path_midpoint": _q_path_midpoint,
        "knn_classify": _q_knn_classify,
        "interval_union": _q_interval_union,
        "segment_join": _q_segment_join,
        "snap_points": _q_snap_points,
        "heading_sectors": _q_heading_sectors,
        "cell_dwell": _q_cell_dwell,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

_PTS = """
  SELECT doc_id,
         CAST((doc_id*48271 + 17) % 700000  AS DOUBLE) AS x,
         CAST((doc_id*69621 + 29) % 1300000 AS DOUBLE) AS y
  FROM documents
"""

_BOXES = """
  SELECT p_partkey AS region_id,
         CAST((p_partkey*40503 + 101) % 650000  AS DOUBLE) AS minx,
         CAST((p_partkey*69301 + 257) % 1250000 AS DOUBLE) AS miny,
         CAST((p_partkey*40503 + 101) % 650000
              + (p_partkey*97 + 13) % 50000 + 1000 AS DOUBLE) AS maxx,
         CAST((p_partkey*69301 + 257) % 1250000
              + (p_partkey*89 + 37) % 50000 + 1000 AS DOUBLE) AS maxy
  FROM part
"""

_DBOXES = """
  SELECT doc_id,
         CAST((doc_id*48271 + 17) % 700000  AS DOUBLE) AS minx,
         CAST((doc_id*69621 + 29) % 1300000 AS DOUBLE) AS miny,
         CAST((doc_id*48271 + 17) % 700000
              + (doc_id*31 + 7) % 20000 + 500 AS DOUBLE) AS maxx,
         CAST((doc_id*69621 + 29) % 1300000
              + (doc_id*37 + 11) % 20000 + 500 AS DOUBLE) AS maxy
  FROM documents
"""

_QPTS = """
  SELECT n_nationkey AS query_id,
         CAST((n_nationkey*104729 + 7) % 700000  AS DOUBLE) AS x,
         CAST((n_nationkey*130363 + 3) % 1300000 AS DOUBLE) AS y
  FROM nation
"""

_SJOIN_PIP_SQL = f"""
  WITH pts AS ({_PTS}), boxes AS ({_BOXES})
  SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
         CAST(b.region_id AS BIGINT) AS region_id
  FROM pts p JOIN boxes b
    ON p.x >= b.minx AND p.x <= b.maxx
   AND p.y >= b.miny AND p.y <= b.maxy
"""


# ---- generated oracles for the hash-based operators -----------------------
# simhash / minhash / lsh_ann were `no_oracle` in round 1. They are now
# EXACTLY recomputable in DuckDB because every hash they use is md5 (the
# one digest both engines share) and every derived constant (minhash
# permutations, LSH hyperplanes) is embedded below as SQL literals from
# the same seeds the Spark kernels use.

_TOKS = r"""
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
"""

# bit j (0..63, MSB-first) of the 64-bit md5-prefix token hash
_SIMHASH_BITS = f"""
  WITH toks AS ({_TOKS}),
  bits AS (
    SELECT doc_id, j,
           (instr('0123456789abcdef', substr(md5(tok), 1 + j // 4, 1)) - 1)
             // CAST(pow(2, 3 - (j % 4)) AS INTEGER) % 2 AS bit
    FROM toks, generate_series(0, 63) g(j)
  ),
  votes AS (SELECT doc_id, j, sum(2 * bit - 1) AS v
            FROM bits GROUP BY 1, 2),
  sb AS (
    SELECT d.doc_id, g.j,
           coalesce(CASE WHEN v.v > 0 THEN 1 ELSE 0 END, 0) AS bit
    FROM documents d
    CROSS JOIN generate_series(0, 63) g(j)
    LEFT JOIN votes v ON v.doc_id = d.doc_id AND v.j = g.j
  )
"""

_SIMHASH_SQL = f"""
  {_SIMHASH_BITS},
  bands AS (
    SELECT doc_id, j // 16 AS band,
           sum(bit * CAST(pow(2, 15 - (j % 16)) AS BIGINT)) AS bkey
    FROM sb GROUP BY 1, 2
  ),
  cand AS (
    SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  ),
  ham AS (
    SELECT c.ida, c.idb,
           sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS hamming
    FROM cand c
    JOIN sb x ON x.doc_id = c.ida
    JOIN sb y ON y.doc_id = c.idb AND y.j = x.j
    GROUP BY 1, 2
  )
  SELECT CAST(ida AS BIGINT) AS id_a, CAST(idb AS BIGINT) AS id_b,
         CAST(hamming AS BIGINT) AS hamming
  FROM ham WHERE hamming <= 3
"""


def _minhash_sql(num_perm: int = 64, bands: int = 16, k: int = 5,
                 seed: int = 7) -> str:
    from cdap_geo_spark.operators.dedup import (MINHASH_PRIME,
                                                minhash_params)
    a, b = minhash_params(num_perm, seed)
    perm_rows = ", ".join(f"({j}, {int(a[j])}, {int(b[j])})"
                          for j in range(num_perm))
    rpb = num_perm // bands
    return f"""
  WITH sh AS (
    SELECT DISTINCT doc_id,
           CAST(concat('0x', substr(md5(substr(lower(text), CAST(i AS INT),
                                               {k})), 1, 15)) AS BIGINT) AS x
    FROM documents, generate_series(1, 4000) g(i)
    WHERE i <= len(text) - {k - 1}
  ),
  perms AS (SELECT * FROM (VALUES {perm_rows}) t(j, a, b)),
  mh AS (
    SELECT doc_id, j,
           min(CAST((CAST(a AS HUGEINT) * x % 18446744073709551616 + b)
                    % 18446744073709551616 % {MINHASH_PRIME} AS BIGINT)) AS v
    FROM sh CROSS JOIN perms GROUP BY 1, 2
  ),
  sig AS (
    SELECT d.doc_id, g.j, coalesce(mh.v, 0) AS v
    FROM documents d CROSS JOIN generate_series(0, {num_perm - 1}) g(j)
    LEFT JOIN mh ON mh.doc_id = d.doc_id AND mh.j = g.j
  ),
  bands AS (
    SELECT doc_id, j // {rpb} AS band,
           md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY j)) AS bkey
    FROM sig GROUP BY 1, 2
  ),
  cand AS (
    SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  ),
  sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
  ivs AS (
    SELECT c.ida, c.idb, count(*) AS i
    FROM cand c
    JOIN sh a ON a.doc_id = c.ida
    JOIN sh b ON b.doc_id = c.idb AND b.x = a.x
    GROUP BY 1, 2
  )
  SELECT CAST(c.ida AS BIGINT) AS id_a, CAST(c.idb AS BIGINT) AS id_b
  FROM cand c
  LEFT JOIN ivs ON ivs.ida = c.ida AND ivs.idb = c.idb
  LEFT JOIN sizes sa ON sa.doc_id = c.ida
  LEFT JOIN sizes sb ON sb.doc_id = c.idb
  WHERE 2 * coalesce(ivs.i, 0)
        >= coalesce(sa.sz, 0) + coalesce(sb.sz, 0) - coalesce(ivs.i, 0)
"""


def _embed_dup_sql(dim: int = 64, bands: int = 4, rows_per_band: int = 4,
                   threshold: float = 0.4, seed: int = 5) -> str:
    """Band keys recomputed from the same seeded hyperplanes; verify =
    cosine >= threshold over DISTINCT band-coincident pairs."""
    import numpy as np
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(bands * rows_per_band, dim)).astype(np.float64)
    plane_rows = ", ".join(
        "({}, {}, [{}])".format(i // rows_per_band, i % rows_per_band,
                                ", ".join(repr(v) for v in planes[i]))
        for i in range(bands * rows_per_band))
    return f"""
  WITH planes AS (SELECT * FROM (VALUES {plane_rows}) t(band, pi, pv)),
  emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  bkt AS (
    SELECT e.vec_id, p.band,
           CAST(sum(CASE WHEN list_inner_product(e.v, p.pv) > 0
                    THEN CAST(pow(2, p.pi) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS key
    FROM emb e CROSS JOIN planes p GROUP BY 1, 2
  ),
  cand AS (
    SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
    FROM bkt a JOIN bkt b ON a.band = b.band AND a.key = b.key
    WHERE a.vec_id < b.vec_id
  )
  SELECT CAST(c.ida AS BIGINT) AS ida, CAST(c.idb AS BIGINT) AS idb
  FROM cand c
  JOIN emb ea ON ea.vec_id = c.ida
  JOIN emb eb ON eb.vec_id = c.idb
  WHERE list_cosine_similarity(ea.v, eb.v) >= {threshold}
"""


def _ivf_ann_sql(dim: int = 64, n_clusters: int = 16, nprobe: int = 4,
                 seed: int = 11) -> str:
    """TRAINED centroids (round 5) re-derived here from the same
    id-ordered parquet sample via the same NumPy k-means
    (ivf_train_parquet — no SparkSession in the oracle path) and
    embedded as literal arrays; assignment = rank-1 by cosine (ties by
    cid), query probing = rank <= nprobe — exactly the Spark kernel's
    stable-argsort order. The sample comes from the SF dir the driver
    compares at (sf0.01), overridable via SPARK_GRAFT_ORACLE_SF_DIR
    for sweeps at other scales."""
    import os as _os

    from cdap_geo_spark.operators.embeddings import ivf_train_parquet
    sf_dir = _os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                             "/root/testdata/sf0.01")
    cents = ivf_train_parquet(f"{sf_dir}/embeddings.parquet",
                              dim=dim, n_clusters=n_clusters, seed=seed)
    cent_rows = ", ".join(
        "({}, [{}])".format(i, ", ".join(repr(v) for v in cents[i]))
        for i in range(n_clusters))
    return f"""
  WITH cents AS (SELECT * FROM (VALUES {cent_rows}) t(cid, cv)),
  emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  ranked_cents AS (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_cosine_similarity(e.v, c.cv)
                                       DESC, c.cid) AS rn
    FROM emb e CROSS JOIN cents c
  ),
  cass AS (SELECT vec_id, cid FROM ranked_cents WHERE rn = 1),
  qprobe AS (
    SELECT vec_id AS query_id, cid FROM ranked_cents
    WHERE rn <= {nprobe} AND vec_id % 20 = 0
  ),
  cand AS (
    SELECT q.query_id, a.vec_id,
           list_cosine_similarity(eq.v, ec.v) AS cos
    FROM qprobe q
    JOIN cass a ON a.cid = q.cid
    JOIN emb eq ON eq.vec_id = q.query_id
    JOIN emb ec ON ec.vec_id = a.vec_id
  ),
  ranked AS (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, vec_id) AS rank
    FROM cand
  )
  SELECT CAST(query_id AS BIGINT) AS query_id,
         CAST(vec_id AS BIGINT) AS vec_id,
         CAST(rank AS BIGINT) AS rank
  FROM ranked WHERE rank <= 5
"""


def _hll_sql() -> str:
    """DuckDB twin of the `hll_distinct` query, generated from the same
    constants as the Spark plan (see operators/sketch.py)."""
    from cdap_geo_spark.operators.sketch import hll_oracle_sql
    return hll_oracle_sql(table_expr="documents", value_expr="text",
                          group_exprs=[("lang", "lang")], p=9)


def _hll_union_sql() -> str:
    """DuckDB twin of `hll_union`: per-lang estimates UNION ALL a
    direct sketch of the WHOLE corpus — the Spark side must reproduce
    the latter via hll_merge of the per-lang relation, proving the
    merge lossless (see operators/sketch.hll_merge)."""
    from cdap_geo_spark.operators.sketch import hll_oracle_sql
    per_lang = hll_oracle_sql(table_expr="documents", value_expr="text",
                              group_exprs=[("lang", "lang")], p=9)
    global_ = hll_oracle_sql(table_expr="documents", value_expr="text",
                             p=9)
    return (f"SELECT * FROM ({per_lang}) "
            f"UNION ALL "
            f"SELECT 'ALL' AS lang, est_distinct, n_filled "
            f"FROM ({global_})")


def _kmv_sql() -> str:
    """DuckDB twin of `kmv_overlap` (see
    operators/sketch.kmv_oracle_sql)."""
    from cdap_geo_spark.operators.sketch import kmv_oracle_sql
    return kmv_oracle_sql(table_expr="documents", value_expr="text",
                          group_expr="source", k=16)


def _cms_sql() -> str:
    """DuckDB twin of `cms_counts`, generated from the same constants
    (see operators/sketch.py)."""
    from cdap_geo_spark.operators.sketch import cms_oracle_sql
    toks = ("SELECT doc_id, unnest(list_filter("
            "regexp_split_to_array(lower(trim(text)), '\\s+'),"
            " x -> x <> '')) AS tok "
            "FROM documents WHERE text IS NOT NULL")
    return cms_oracle_sql(table_expr=toks, value_expr="token",
                          probe_filter="doc_id % 97 = 0",
                          depth=4, width=512)


def _pagerank_sql() -> str:
    """DuckDB twin of `pagerank`: the same region bbox-adjacency edges,
    3 iterations UNROLLED as CTEs — exact because every step is BIGINT
    arithmetic (see operators/graph.pagerank_oracle_sql)."""
    from cdap_geo_spark.operators.graph import pagerank_oracle_sql
    edges = f"""
      SELECT a.region_id AS src, c.region_id AS dst
      FROM ({_BOXES}) a JOIN ({_BOXES}) c
        ON NOT (a.minx > c.maxx OR a.miny > c.maxy
             OR a.maxx < c.minx OR a.maxy < c.miny)
      WHERE a.region_id <> c.region_id
    """
    return pagerank_oracle_sql(edges, iterations=3)


def _window_distinct_sql() -> str:
    """DuckDB twin of `window_distinct`: the same HLL constants over
    user_id grouped by the 1-hour time bucket."""
    from cdap_geo_spark.operators.sketch import hll_oracle_sql
    return hll_oracle_sql(
        table_expr="events", value_expr="CAST(user_id AS VARCHAR)",
        group_exprs=[("window_start",
                      "CAST(time_bucket(INTERVAL '1 hour', ts)"
                      " AS VARCHAR)")], p=9)


def _bloom_sql() -> str:
    """DuckDB twin of `bloom_membership` (see operators/sketch.py)."""
    from cdap_geo_spark.operators.sketch import bloom_oracle_sql
    toks = ("SELECT doc_id, unnest(list_filter("
            "regexp_split_to_array(lower(trim(text)), '\\s+'),"
            " x -> x <> '')) AS tok "
            "FROM documents WHERE text IS NOT NULL")
    probes = (f"SELECT tok FROM ({toks}) WHERE doc_id % 97 = 0 "
              f"UNION ALL "
              f"SELECT tok || '?' FROM ({toks}) WHERE doc_id % 97 = 0")
    return bloom_oracle_sql(table_expr=toks, value_expr="token",
                            probe_expr=probes, m_bits=4096, k=4)


def _hist_quantiles_sql() -> str:
    """DuckDB twin of `hist_quantiles` (same literal bin arithmetic,
    same lower-edge-at-ceil rule; see operators/sketch.py)."""
    from cdap_geo_spark.operators.sketch import hist_quantiles_oracle_sql
    return hist_quantiles_oracle_sql(
        table_expr="lineitem", value_expr="l_extendedprice",
        group_exprs=[("l_returnflag", "l_returnflag")],
        lo=900.0, hi=105000.0, nbins=256)


def _semantic_dedup_sql(dim: int = 64, seed: int = 11) -> str:
    """Trained centroids embedded as literals (identical derivation to
    ``_ivf_ann_sql``); cluster = rank-1 by cosine (ties by cid), dup =
    EXISTS a lower-id cluster-mate at cosine >= threshold."""
    import os as _os

    from cdap_geo_spark.operators.embeddings import ivf_train_parquet
    sf_dir = _os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                             "/root/testdata/sf0.01")
    cents = ivf_train_parquet(f"{sf_dir}/embeddings.parquet",
                              dim=dim, n_clusters=SEMDEDUP_CLUSTERS,
                              seed=seed)
    cent_rows = ", ".join(
        "({}, [{}])".format(i, ", ".join(repr(v) for v in cents[i]))
        for i in range(SEMDEDUP_CLUSTERS))
    return f"""
  WITH cents AS (SELECT * FROM (VALUES {cent_rows}) t(cid, cv)),
  emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  ranked_cents AS (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_cosine_similarity(e.v, c.cv)
                                       DESC, c.cid) AS rn
    FROM emb e CROSS JOIN cents c
  ),
  cass AS (SELECT vec_id, cid FROM ranked_cents WHERE rn = 1),
  dup AS (
    SELECT DISTINCT b.vec_id
    FROM cass a JOIN cass b ON a.cid = b.cid AND a.vec_id < b.vec_id
    JOIN emb ea ON ea.vec_id = a.vec_id
    JOIN emb eb ON eb.vec_id = b.vec_id
    WHERE list_cosine_similarity(ea.v, eb.v) >= {SEMDEDUP_THRESHOLD}
  )
  SELECT CAST(c.vec_id AS BIGINT) AS vec_id,
         CAST(c.cid AS BIGINT) AS cluster_id,
         CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
             AS is_dup
  FROM cass c LEFT JOIN dup d ON c.vec_id = d.vec_id
"""


def _lsh_ann_sql(dim: int = 64, n_planes: int = 10, seed: int = 5) -> str:
    import numpy as np
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim)).astype(np.float64)
    plane_rows = ", ".join(
        "({}, [{}])".format(i, ", ".join(repr(v) for v in planes[i]))
        for i in range(n_planes))
    return f"""
  WITH planes AS (SELECT * FROM (VALUES {plane_rows}) t(pi, pv)),
  emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  bkt AS (
    SELECT e.vec_id,
           CAST(sum(CASE WHEN list_inner_product(e.v, p.pv) > 0
                    THEN CAST(pow(2, p.pi) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS bucket
    FROM emb e CROSS JOIN planes p GROUP BY 1
  ),
  q AS (
    SELECT e.vec_id AS query_id, e.v AS qv,
           CASE WHEN g.j = -1 THEN b.bucket
                ELSE xor(b.bucket, CAST(pow(2, g.j) AS BIGINT)) END AS bucket
    FROM emb e JOIN bkt b ON b.vec_id = e.vec_id
    CROSS JOIN generate_series(-1, {n_planes - 1}) g(j)
    WHERE e.vec_id % 20 = 0
  ),
  cand AS (
    SELECT q.query_id, c.vec_id,
           list_cosine_similarity(e.v, q.qv) AS cos
    FROM q JOIN bkt c ON c.bucket = q.bucket
    JOIN emb e ON e.vec_id = c.vec_id
  ),
  ranked AS (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, vec_id) AS rank
    FROM cand
  )
  SELECT CAST(query_id AS BIGINT) AS query_id,
         CAST(vec_id AS BIGINT) AS vec_id,
         CAST(rank AS BIGINT) AS rank
  FROM ranked WHERE rank <= 5
"""


_FINGERPRINTS_SQL = """
  WITH g AS (
    SELECT doc_id, CAST(i AS BIGINT) AS i, len(text) - 4 AS ng,
           CAST(concat('0x', substr(md5(substr(lower(text), CAST(i AS INT),
                                               5)), 1, 15)) AS BIGINT) AS h
    FROM documents, generate_series(1, 4000) s(i)
    WHERE i <= len(text) - 4
  ),
  m AS (
    SELECT doc_id, ng, i,
           min(h) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm
    FROM g
  ),
  sliding AS (
    SELECT DISTINCT doc_id, wm FROM m WHERE ng > 4 AND i <= ng - 3
  ),
  short AS (
    SELECT doc_id, min(h) AS wm FROM g WHERE ng <= 4 GROUP BY doc_id
  )
  SELECT CAST(doc_id AS BIGINT) AS doc_id, wm AS fp FROM sliding
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) AS doc_id, wm AS fp FROM short
"""

#: png_features oracle: the Spark side encodes h rows of constant
#: pixel (doc_id*7 + 31*r) % 256 (h in {2,4}, so the mean is a sum of
#: <=4 bytes over a power-of-two divisor — exact in float32) and
#: decodes through the real PNG path; the oracle needs only the
#: closed-form row means.
_PNG_SQL = """
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         TRUE AS decode_ok,
         16 AS feat_dim,
         CASE WHEN doc_id % 2 = 0
              THEN ((doc_id*7) % 256 + (doc_id*7 + 31) % 256) / 2.0
              ELSE ((doc_id*7) % 256 + (doc_id*7 + 31) % 256
                    + (doc_id*7 + 62) % 256 + (doc_id*7 + 93) % 256) / 4.0
         END AS mean_px,
         CAST(doc_id % 2 * 2 + 2 AS BIGINT) AS h,
         CAST(doc_id % 8 + 2 AS BIGINT) AS w
  FROM documents
"""


_MEDIA_SQL = """
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         TRUE AS decode_ok,
         16 AS feat_dim,
         CAST(doc_id % 26 + 97 AS BIGINT) AS mean_px,
         CAST(doc_id % 5 + 2 AS BIGINT) AS h,
         CAST(doc_id % 8 + 2 AS BIGINT) AS w
  FROM documents
"""


#: jaccard over distinct 60-bit md5-prefix gram hashes: the exact
#: value the engine's gram_hashes() computes JVM-side (the
#: minhash-oracle pattern); identical distinct-set cardinalities up
#: to shared md5 collisions
def _ngram_sql(pct: int, k: int = 3) -> str:
    return f"""
  WITH sh AS (
    SELECT DISTINCT doc_id AS id,
           CAST(concat('0x', substr(md5(substr(lower(text),
                CAST(i AS INT), {k})), 1, 15)) AS BIGINT) AS sh
    FROM documents, generate_series(1, 2000) g(i)
    WHERE i <= len(text) - {k - 1}
  ), sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
  pair AS (
    SELECT a.id AS ida, b.id AS idb, count(*) AS inter
    FROM sh a JOIN sh b USING (sh) WHERE a.id < b.id
    GROUP BY 1, 2)
  SELECT CAST(ida AS BIGINT) AS id_a, CAST(idb AS BIGINT) AS id_b,
         CAST(inter AS BIGINT) AS inter,
         CAST(sa.sz + sb.sz - inter AS BIGINT) AS uni
  FROM pair
  JOIN sizes sa ON sa.id = ida
  JOIN sizes sb ON sb.id = idb
  WHERE 100 * inter >= {pct} * (sa.sz + sb.sz - inter)
"""


_NGRAM_SQL = _ngram_sql(40)


def oracle_sql() -> dict[str, str]:
    return {
        "sjoin_pip": _SJOIN_PIP_SQL,
        "sjoin_pip_salted": _SJOIN_PIP_SQL,
        "sjoin_bucketed": _SJOIN_PIP_SQL,
        "sjoin_bucketed_salted": _SJOIN_PIP_SQL,
        "stream_enrich": _SJOIN_PIP_SQL,
        "sjoin_bbox": f"""
          WITH d AS ({_DBOXES}), b AS ({_BOXES})
          SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                 CAST(b.region_id AS BIGINT) AS region_id
          FROM d JOIN b
            ON NOT (d.minx > b.maxx OR d.miny > b.maxy
                 OR d.maxx < b.minx OR d.maxy < b.miny)
        """,
        "distance_join": f"""
          WITH p AS ({_PTS}), b AS ({_BOXES})
          SELECT CAST(p.doc_id AS BIGINT) AS doc_id,
                 CAST(b.region_id AS BIGINT) AS region_id
          FROM p JOIN b
            ON sqrt(pow(greatest(b.minx - p.x, p.x - b.maxx, 0), 2)
                  + pow(greatest(b.miny - p.y, p.y - b.maxy, 0), 2))
               <= 25000.0
        """,
        "tile_assign": f"""
          WITH p AS ({_PTS})
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(CAST(floor(x / 70000) AS BIGINT) * 70000 AS VARCHAR)
                 || '-' ||
                 CAST(CAST(floor(y / 130000) AS BIGINT) * 130000 AS VARCHAR)
                 AS tile_id
          FROM p
        """,
        "knn": f"""
          WITH q AS ({_QPTS}), c AS ({_PTS}), ranked AS (
            SELECT q.query_id, c.doc_id,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY (q.x-c.x)*(q.x-c.x) + (q.y-c.y)*(q.y-c.y),
                              c.doc_id) AS rank
            FROM q CROSS JOIN c)
          SELECT CAST(query_id AS BIGINT) AS query_id,
                 CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(rank AS BIGINT) AS rank
          FROM ranked WHERE rank <= 5
        """,
        "idw": f"""
          WITH q AS ({_QPTS}), c AS ({_PTS}),
          v AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS val
                FROM documents),
          ranked AS (
            SELECT q.query_id,
                   CAST(q.x AS BIGINT) AS qx, CAST(q.y AS BIGINT) AS qy,
                   CAST(c.x AS BIGINT) AS cx, CAST(c.y AS BIGINT) AS cy,
                   c.doc_id,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY (q.x-c.x)*(q.x-c.x) + (q.y-c.y)*(q.y-c.y),
                              c.doc_id) AS rank
            FROM q CROSS JOIN c
          ), nb AS (
            SELECT r.query_id,
                   GREATEST((qx-cx)*(qx-cx) + (qy-cy)*(qy-cy), 1) AS d2,
                   v.val
            FROM ranked r JOIN v ON r.doc_id = v.doc_id
            WHERE rank <= 5
          ), a AS (
            SELECT query_id,
                   CAST(COUNT(*) AS BIGINT) AS n_nb,
                   CAST(SUM(CAST(ROUND(CAST(val AS DOUBLE) * 1e12
                         / CAST(d2 AS DOUBLE)) AS BIGINT)) AS BIGINT)
                     AS num,
                   CAST(SUM(CAST(ROUND(1e12 / CAST(d2 AS DOUBLE))
                         AS BIGINT)) AS BIGINT) AS den
            FROM nb GROUP BY query_id
          )
          SELECT CAST(query_id AS BIGINT) AS query_id, n_nb, num, den,
                 CAST(ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                            * 100.0) AS BIGINT) AS est_centi
          FROM a
        """,
        "knn_box": f"""
          WITH q AS ({_DBOXES}), c AS ({_BOXES}), ranked AS (
            SELECT q.doc_id AS query_id, c.region_id,
                   row_number() OVER (
                     PARTITION BY q.doc_id
                     ORDER BY
                       greatest(q.minx - c.maxx, c.minx - q.maxx, 0)
                         * greatest(q.minx - c.maxx, c.minx - q.maxx, 0)
                       + greatest(q.miny - c.maxy, c.miny - q.maxy, 0)
                         * greatest(q.miny - c.maxy, c.miny - q.maxy, 0),
                       c.region_id) AS rank
            FROM q CROSS JOIN c)
          SELECT CAST(query_id AS BIGINT) AS query_id,
                 CAST(region_id AS BIGINT) AS region_id,
                 CAST(rank AS BIGINT) AS rank
          FROM ranked WHERE rank <= 3
        """,
        "region_area": f"""
          WITH b AS ({_BOXES})
          SELECT CAST(region_id AS BIGINT) AS region_id,
                 CAST((maxx - minx) * (maxy - miny) AS BIGINT) AS area
          FROM b
        """,
        "buffer_area": f"""
          WITH b AS ({_BOXES})
          SELECT CAST(region_id AS BIGINT) AS region_id,
                 ROUND((maxx - minx) * (maxy - miny)
                       + 2 * ((maxx - minx) + (maxy - miny)) * 500
                       + 2 * 500 * 500, 2) AS buf_area
          FROM b WHERE region_id % 10 = 0
        """,
        "subdivide_area": f"""
          WITH b AS ({_BOXES})
          SELECT CAST(region_id AS BIGINT) AS region_id,
                 CAST((maxx - minx) * (maxy - miny)
                      + 2 * ((maxx - minx) + (maxy - miny)) * 500
                      + 2 * 500 * 500 AS BIGINT) AS buf_area
          FROM b WHERE region_id % 10 = 0
        """,
        "pointify_count": f"""
          WITH b AS ({_BOXES}),
          d AS (SELECT region_id, maxx - minx AS w, maxy - miny AS h
                FROM b WHERE region_id % 10 = 0)
          SELECT CAST(region_id AS BIGINT) AS region_id,
                 CAST((CASE WHEN w > 166.5
                            THEN FLOOR((w - 166.5) / 333) + 1 ELSE 0 END)
                    * (CASE WHEN h > 166.5
                            THEN FLOOR((h - 166.5) / 333) + 1 ELSE 0 END)
                   AS BIGINT) AS n_points
          FROM d
        """,
        "intersection_area": f"""
          WITH d AS ({_DBOXES}), b AS ({_BOXES})
          SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
                 CAST(b.region_id AS BIGINT) AS region_id,
                 CAST(GREATEST(0, LEAST(d.maxx, b.maxx)
                                  - GREATEST(d.minx, b.minx))
                    * GREATEST(0, LEAST(d.maxy, b.maxy)
                                  - GREATEST(d.miny, b.miny))
                   AS BIGINT) AS ia
          FROM d JOIN b
            ON NOT (d.minx > b.maxx OR d.miny > b.maxy
                 OR d.maxx < b.minx OR d.maxy < b.miny)
        """,
        "weighted_sample": _weighted_sample_sql(),
        "grid_cluster": _grid_cluster_sql(),
        "hex_bin": _hex_bin_sql(),
        "hilbert_key": _hilbert_sql(),
        "hausdorff": _hausdorff_sql(),
        "theil_sen": _theil_sen_sql(),
        "benford": _benford_sql(),
        "k_anonymity": _k_anonymity_sql(),
        "ab_test": _ab_test_sql(),
        "clip_length": _clip_length_sql(),
        "line_raster": _line_raster_sql(),
        "contours": _contours_sql(),
        "knox": _knox_sql(),
        "ripley_k": _ripley_sql(),
        "variogram": _variogram_sql(),
        "colocation": _colocation_sql(),
        "quadrat": _quadrat_sql(),
        "dbscan": _dbscan_sql(),
        "emerging": _emerging_sql(),
        "theil": _theil_sql(),
        "gravity": _gravity_sql(),
        "ks_test": _ks_sql(),
        "spearman": _spearman_sql(),
        "survival": _survival_sql(),
        "radiation": _radiation_sql(),
        "burstiness": _burstiness_sql(),
        "visit_entropy": _visit_entropy_sql(),
        "huff": _huff_sql(),
        "accessibility": _2sfca_sql(),
        "slope_aspect": _slope_sql(),
        "clark_evans": _clark_evans_sql(),
        "centrography": _centrography_sql(),
        "segregation": _segregation_sql(),
        "scan_stat": _scan_sql(),
        "spatial_markov": _spatial_markov_sql(),
        "general_g": _general_g_sql(),
        "flow_field": _flow_field_sql(),
        "radius_gyration": _radius_gyration_sql(),
        "motifs": _motifs_sql(),
        "cross_k": _cross_k_sql(),
        "mutual_info": _mutual_info_sql(),
        "cell_churn": _cell_churn_sql(),
        "idw_cv": _idw_cv_sql(),
        "spatial_entropy": _spatial_entropy_sql(),
        "variogram_aniso": _variogram_aniso_sql(),
        "bivariate_moran": _bivariate_moran_sql(),
        "smr": _smr_sql(),
        "percolation": _percolation_sql(),
        "locational_gini": _locational_gini_sql(),
        "returners": _returners_sql(),
        "langid_kappa": _langid_kappa_sql(),
        "langid_prf": _langid_prf_sql(),
        "markov_pred": _markov_pred_sql(),
        "vocab_growth": _vocab_growth_sql(),
        "location_quotient": _location_quotient_sql(),
        "join_counts": _join_counts_sql(),
        "lisa": _lisa_sql(),
        "getis_ord": _getis_sql(),
        "geofence": _geofence_sql(),
        "adaptive_tiles": _adaptive_tiles_sql(),
        "ipf": _ipf_sql(),
        "simplify": _simplify_sql(),
        "ts_gaps": _ts_gaps_sql(),
        "co_visits": _co_visits_sql(),
        "home_work": _home_work_sql(),
        "hex_smooth": _hex_smooth_sql(),
        "trajectory": """
          WITH p AS (
            SELECT user_id, ts, event_id,
                   (event_id * 48271 + 17) % 700000 AS x,
                   (event_id * 69621 + 29) % 1300000 AS y,
                   epoch_us(ts) AS us
            FROM events
          ), l AS (
            SELECT *,
                   LAG(x) OVER w AS px, LAG(y) OVER w AS py
            FROM p
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          ), b AS (
            SELECT *,
                   CASE WHEN px IS NULL
                        OR (x - px) * (x - px) + (y - py) * (y - py)
                           > 250000000000
                        THEN 1 ELSE 0 END AS brk
            FROM l
          ), s AS (
            SELECT *, SUM(brk) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS seg
            FROM b
          ), r AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY user_id, seg
                                      ORDER BY us, event_id) AS rf,
                   ROW_NUMBER() OVER (PARTITION BY user_id, seg
                                      ORDER BY us DESC, event_id DESC)
                     AS rl
            FROM s
          )
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 CAST(seg AS BIGINT) AS seg,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(MIN(us) AS BIGINT) AS first_us,
                 CAST(MAX(us) AS BIGINT) AS last_us,
                 CAST(MAX(CASE WHEN rf = 1 THEN event_id END)
                      AS BIGINT) AS first_id,
                 CAST(MAX(CASE WHEN rl = 1 THEN event_id END)
                      AS BIGINT) AS last_id
          FROM r GROUP BY user_id, seg
        """,
        "unigram_logloss": _logloss_sql(),
        "zipf": _zipf_sql(),
        "changelog": """
          WITH base AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_chars AS BIGINT) AS val,
                   CAST(0 AS BIGINT) AS v, 'U' AS op
            FROM documents
          ), ch AS (
            SELECT doc_id, val * 10 AS val, CAST(1 AS BIGINT) AS v,
                   'U' AS op
            FROM base WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id, NULL, CAST(2 AS BIGINT), 'D'
            FROM base WHERE doc_id % 7 = 0
          ), u AS (
            SELECT * FROM base UNION ALL SELECT * FROM ch
          ), r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY v DESC) AS rn
            FROM u
          )
          SELECT doc_id, val FROM r WHERE rn = 1 AND op <> 'D'
        """,
        "json_stats": """
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT))
                      AS BIGINT) AS sum_k,
                 CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT))
                      AS BIGINT) AS min_k,
                 CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT))
                      AS BIGINT) AS max_k,
                 CAST(COUNT(DISTINCT CAST(json_extract(props, '$.k')
                      AS BIGINT)) AS BIGINT) AS n_distinct_k
          FROM events GROUP BY event_type
        """,
        "cube_counts": """
          SELECT COALESCE(event_type, 'ALL') AS event_type,
                 COALESCE(CAST(hod AS VARCHAR), 'ALL') AS hod,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(v) AS BIGINT) AS sum_v
          FROM (SELECT event_type, EXTRACT(hour FROM ts) AS hod,
                       CAST(ROUND(value * 100) AS BIGINT) AS v
                FROM events)
          GROUP BY CUBE (event_type, hod)
        """,
        "gearys_c": f"""
          WITH b AS ({_BOXES}),
          v AS (SELECT region_id AS id,
                       CAST((maxx - minx) * (maxy - miny) AS BIGINT)
                         // 100000 AS x
                FROM b),
          st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(x) AS BIGINT) AS s FROM v),
          z AS (SELECT id, x, x - (SELECT s // n FROM st) AS z FROM v),
          e AS (
            SELECT a.region_id AS a, c.region_id AS bb
            FROM ({_BOXES}) a JOIN ({_BOXES}) c
              ON NOT (a.minx > c.maxx OR a.miny > c.maxy
                   OR a.maxx < c.minx OR a.maxy < c.miny)
            WHERE a.region_id <> c.region_id
          ),
          nw AS (SELECT CAST(SUM((zi.x - zj.x) * (zi.x - zj.x))
                             AS BIGINT) AS num,
                        CAST(COUNT(*) AS BIGINT) AS w_pairs
                 FROM e JOIN z zi ON e.a = zi.id
                        JOIN z zj ON e.bb = zj.id),
          dn AS (SELECT CAST(SUM(z * z) AS BIGINT) AS den,
                        (SELECT n FROM st) AS n FROM z)
          SELECT dn.n, nw.w_pairs, nw.num, dn.den,
                 CAST(ROUND(CAST((dn.n - 1) * nw.num AS DOUBLE)
                            / CAST(2 * nw.w_pairs * dn.den AS DOUBLE)
                            * 1000000.0) AS BIGINT) AS c_micro
          FROM dn CROSS JOIN nw
        """,
        "morans_i": f"""
          WITH b AS ({_BOXES}),
          v AS (SELECT region_id AS id,
                       CAST((maxx - minx) * (maxy - miny) AS BIGINT)
                         // 100000 AS x
                FROM b),
          st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(x) AS BIGINT) AS s FROM v),
          z AS (SELECT id, x - (SELECT s // n FROM st) AS z FROM v),
          e AS (
            SELECT a.region_id AS a, c.region_id AS bb
            FROM ({_BOXES}) a JOIN ({_BOXES}) c
              ON NOT (a.minx > c.maxx OR a.miny > c.maxy
                   OR a.maxx < c.minx OR a.maxy < c.miny)
            WHERE a.region_id <> c.region_id
          ),
          nw AS (SELECT CAST(SUM(zi.z * zj.z) AS BIGINT) AS num,
                        CAST(COUNT(*) AS BIGINT) AS w_pairs
                 FROM e JOIN z zi ON e.a = zi.id
                        JOIN z zj ON e.bb = zj.id),
          dn AS (SELECT CAST(SUM(z * z) AS BIGINT) AS den,
                        (SELECT n FROM st) AS n FROM z)
          SELECT dn.n, nw.w_pairs, nw.num, dn.den,
                 CAST(ROUND(CAST(dn.n * nw.num AS DOUBLE)
                            / CAST(nw.w_pairs * dn.den AS DOUBLE)
                            * 1000000.0) AS BIGINT) AS i_micro
          FROM dn CROSS JOIN nw
        """,
        # same rect-clip closed form as intersection_area; per-pair
        # share = one double divide of exact BIGINT products, rounded
        # to micro-units, summed as BIGINT
        "areal": f"""
          WITH d AS ({_DBOXES}), b AS ({_BOXES}),
          v AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS val
                FROM documents),
          pr AS (
            SELECT b.region_id,
                   CAST(ROUND(
                     CAST(v.val * CAST(
                       GREATEST(0, LEAST(d.maxx, b.maxx)
                                   - GREATEST(d.minx, b.minx))
                       * GREATEST(0, LEAST(d.maxy, b.maxy)
                                   - GREATEST(d.miny, b.miny))
                       AS BIGINT) AS DOUBLE)
                     / CAST(CAST((d.maxx - d.minx) * (d.maxy - d.miny)
                            AS BIGINT) AS DOUBLE)
                     * 1000000.0) AS BIGINT) AS c
            FROM d JOIN b
              ON NOT (d.minx > b.maxx OR d.miny > b.maxy
                   OR d.maxx < b.minx OR d.maxy < b.miny)
              JOIN v ON v.doc_id = d.doc_id
          )
          SELECT CAST(region_id AS BIGINT) AS region_id,
                 CAST(SUM(c) AS BIGINT) AS est_scaled,
                 CAST(COUNT(*) AS BIGINT) AS n_src
          FROM pr GROUP BY region_id
        """,
        "dissolve": f"""
          WITH b AS ({_BOXES}),
          g AS (SELECT region_id % 25 AS gid, minx, miny, maxx, maxy
                FROM b),
          xs AS (SELECT DISTINCT gid, x FROM (
                   SELECT gid, minx AS x FROM g
                   UNION ALL SELECT gid, maxx FROM g)),
          slabs AS (SELECT gid, x AS x0,
                           LEAD(x) OVER (PARTITION BY gid ORDER BY x)
                             AS x1
                    FROM xs),
          spans AS (SELECT s.gid, s.x0, s.x1, r.miny, r.maxy
                    FROM slabs s JOIN g r ON r.gid = s.gid
                         AND r.minx <= s.x0 AND r.maxx >= s.x1
                    WHERE s.x1 IS NOT NULL),
          mk AS (SELECT gid, x0, x1, miny, maxy,
                        MAX(maxy) OVER (PARTITION BY gid, x0
                            ORDER BY miny, maxy
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS pmax
                 FROM spans),
          iv AS (SELECT *, SUM(CASE WHEN pmax IS NULL OR miny > pmax
                                    THEN 1 ELSE 0 END)
                          OVER (PARTITION BY gid, x0
                                ORDER BY miny, maxy
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS grp
                 FROM mk),
          merged AS (SELECT gid, x0, x1, grp,
                            MIN(miny) AS b0, MAX(maxy) AS t0
                     FROM iv GROUP BY gid, x0, x1, grp)
          SELECT CAST(m.gid AS BIGINT) AS gid,
                 CAST(c.n AS BIGINT) AS n_parts,
                 CAST(SUM((m.x1 - m.x0) * (m.t0 - m.b0)) AS BIGINT)
                   AS union_area
          FROM merged m
          JOIN (SELECT gid, COUNT(*) AS n FROM g GROUP BY gid) c
            ON c.gid = m.gid
          GROUP BY m.gid, c.n
        """,
        "global_bbox": f"""
          WITH p AS ({_PTS})
          SELECT CAST(min(x) AS BIGINT) AS minx, CAST(min(y) AS BIGINT) AS miny,
                 CAST(max(x) AS BIGINT) AS maxx, CAST(max(y) AS BIGINT) AS maxy
          FROM p
        """,
        "groupmax": """
          SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
                 CAST(l_linenumber AS BIGINT) AS l_linenumber,
                 l_extendedprice
          FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
                       max(l_extendedprice) OVER (PARTITION BY l_orderkey) AS m
                FROM lineitem)
          WHERE l_extendedprice = m
        """,
        "exact_dedup": """
          SELECT md5(lower(trim(text))) AS digest,
                 CAST(min(doc_id) AS BIGINT) AS keeper,
                 CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1
        """,
        "doc_chunks": _doc_chunks_sql(),
        "span_integrity": _span_integrity_sql(),
        "filter_funnel": _filter_funnel_sql(),
        "token_count": """
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                                AS BIGINT) END AS n_tokens,
                 CAST(len(regexp_extract_all(text,
                   '''(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+'))
                   AS BIGINT) AS n_bpeish
          FROM documents
        """,
        "quality": """
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(len(text) AS BIGINT) AS n_chars_q,
                 CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                                AS BIGINT) END AS n_tokens,
                 CAST(len(text) - len(replace(text, ',', '')) AS BIGINT)
                     AS n_commas,
                 CAST(len(text) - len(replace(text, '.', '')) AS BIGINT)
                     AS n_periods,
                 CAST(len(text) - len(replace(text, ' ', '')) AS BIGINT)
                     AS n_spaces,
                 CAST((len(p) - len(replace(p, ' the ', ''))) / 5 AS BIGINT)
                     AS n_the
          FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p
                FROM documents)
        """,
        "repetition": """
          WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
          ), g AS (
            SELECT doc_id,
                   unnest(list_transform(
                     generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1])) AS gram
            FROM t
          ), c AS (
            SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2
          )
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CAST(sum(cnt) AS BIGINT) AS n_2grams,
                 CAST(count(*) AS BIGINT) AS n_distinct_2grams,
                 CAST(max(cnt) AS BIGINT) AS max_2gram_count,
                 CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)
                      AS BIGINT) AS n_dup_2gram_instances
          FROM c GROUP BY doc_id
        """,
        "decontaminate": f"""
          WITH t AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                     generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1])) AS grams
            FROM (SELECT doc_id,
                         regexp_split_to_array(trim(text), '\\s+') AS toks
                  FROM documents)
          ), p AS (
            SELECT DISTINCT unnest(grams) AS g FROM t
            WHERE doc_id % {DECONTAM_PROBE_MOD} = 0
          ), cg AS (
            SELECT doc_id, unnest(grams) AS g FROM t
          ), h AS (
            SELECT cg.doc_id, count(*) AS n_probe
            FROM cg JOIN p USING (g) GROUP BY cg.doc_id
          )
          SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
                 CAST(len(grams) AS BIGINT) AS n_distinct_ngrams,
                 CAST(coalesce(h.n_probe, 0) AS BIGINT) AS n_probe_ngrams
          FROM t LEFT JOIN h ON t.doc_id = h.doc_id
        """,
        "lang_id": _LANG_ID_SQL,
        "ngram_jaccard": _NGRAM_SQL,
        "stratified_sample": f"""
          SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
          FROM documents
          WHERE CAST(concat('0x', substr(md5(concat(
                       CAST(doc_id AS VARCHAR), ':',
                       '{SAMPLE_SEED}')), 1, 15)) AS BIGINT)
                < CASE lang
                    {' '.join(f"WHEN '{s}' THEN {int(f * (1 << 60))}"
                              for s, f in SAMPLE_FRACTIONS.items())}
                    ELSE 0 END
        """,
        "vocab_topk": r"""
          WITH toks AS (
            SELECT unnest(list_filter(
                     regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '')) AS token
            FROM documents
          ),
          c AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1)
          SELECT token, CAST(cnt AS BIGINT) AS count,
                 CAST(row_number() OVER (ORDER BY cnt DESC, token)
                      AS BIGINT) AS rank
          FROM c
          QUALIFY rank <= 20
        """,
        "dup_clusters": f"""
          -- connected components of the near-dup pair graph via
          -- recursive-CTE transitive closure (dup clusters are small,
          -- so the closure stays bounded); component = min reachable
          WITH RECURSIVE np AS ({_ngram_sql(60, k=5)}),
          edges AS (SELECT id_a AS src, id_b AS dst FROM np
                    UNION SELECT id_b, id_a FROM np),
          reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
          )
          SELECT CAST(src AS BIGINT) AS node,
                 CAST(least(src, min(dst)) AS BIGINT) AS component
          FROM reach GROUP BY src
        """,
        # dup_clusters' transitive closure extended with singleton
        # clusters and the (quality DESC, id ASC) survivor rule
        "golden_records": f"""
          WITH RECURSIVE np AS ({_ngram_sql(60, k=5)}),
          edges AS (SELECT id_a AS src, id_b AS dst FROM np
                    UNION SELECT id_b, id_a FROM np),
          reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
          ),
          assign AS (
            SELECT src AS node, LEAST(src, MIN(dst)) AS component
            FROM reach GROUP BY src
          ),
          fl AS (
            SELECT d.doc_id, d.n_chars,
                   COALESCE(a.component, d.doc_id) AS cluster
            FROM documents d LEFT JOIN assign a ON d.doc_id = a.node
          ),
          r AS (
            SELECT cluster, doc_id, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY cluster
                                      ORDER BY n_chars DESC, doc_id)
                     AS rn,
                   COUNT(*) OVER (PARTITION BY cluster) AS n_members,
                   MAX(n_chars) OVER (PARTITION BY cluster) AS mx
            FROM fl
          )
          SELECT CAST(cluster AS BIGINT) AS cluster,
                 CAST(doc_id AS BIGINT) AS golden_id,
                 CAST(n_members AS BIGINT) AS n_members,
                 CAST(mx AS BIGINT) AS max_quality
          FROM r WHERE rn = 1
        """,
        # exact squared-distance run splits over hover+excursion
        # positions; centroid = one double divide of exact sums
        "stay_points": """
          WITH p AS (
            SELECT user_id, ts, event_id,
                   (user_id*7919) % 600000
                     + (event_id*48271 + 17) % 1501
                     + CASE WHEN event_id % 13 = 0
                            THEN 150000 ELSE 0 END AS x,
                   (user_id*6133) % 1200000
                     + (event_id*69621 + 29) % 1301
                     + CASE WHEN event_id % 11 = 0
                            THEN 150000 ELSE 0 END AS y,
                   epoch_us(ts) AS us
            FROM events WHERE ts IS NOT NULL
          ), l AS (
            SELECT *, LAG(x) OVER w AS px, LAG(y) OVER w AS py
            FROM p
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          ), b AS (
            SELECT *, CASE WHEN px IS NULL
                           OR (x-px)*(x-px) + (y-py)*(y-py) > 100000000
                           THEN 1 ELSE 0 END AS brk
            FROM l
          ), s AS (
            SELECT *, SUM(brk) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS seg
            FROM b
          ), a AS (
            SELECT user_id, seg, COUNT(*) AS n_points,
                   MIN(us) AS first_us, MAX(us) AS last_us,
                   SUM(x) AS sx, SUM(y) AS sy
            FROM s GROUP BY user_id, seg
          )
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 CAST(seg AS BIGINT) AS seg,
                 CAST(n_points AS BIGINT) AS n_points,
                 CAST(first_us AS BIGINT) AS first_us,
                 CAST(last_us AS BIGINT) AS last_us,
                 CAST(last_us - first_us AS BIGINT) AS duration_us,
                 CAST(ROUND(1000000.0 * (CAST(sx AS DOUBLE)
                      / CAST(n_points AS DOUBLE))) AS BIGINT) AS cx_u,
                 CAST(ROUND(1000000.0 * (CAST(sy AS DOUBLE)
                      / CAST(n_points AS DOUBLE))) AS BIGINT) AS cy_u
          FROM a
          WHERE last_us - first_us >= 3600000000 AND n_points >= 3
        """,
        "cosine_topk": _COSINE_TOPK_SQL,
        "event_windows": """
          SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS VARCHAR)
                     AS window_start,
                 event_type,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1, 2
        """,
        "sessionize": """
          SELECT CAST(event_id AS BIGINT) AS event_id,
                 CAST(user_id AS BIGINT) AS user_id,
                 CAST(sum(new_sess) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER (
                                  PARTITION BY user_id ORDER BY ts, event_id))
                                > 1800
                        THEN 1 ELSE 0 END AS new_sess
            FROM events)
        """,
        "session_stats": """
          WITH s AS (
            SELECT event_id, user_id,
                   epoch_us(ts) // 1000000 AS e,
                   CAST(ROUND(value * 100) AS BIGINT) AS c,
                   CAST(sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS session_seq
            FROM (
              SELECT event_id, user_id, ts, value,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                               IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER (
                                    PARTITION BY user_id
                                    ORDER BY ts, event_id)) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events)
          )
          SELECT CAST(user_id AS BIGINT) AS user_id, session_seq,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(MAX(e) - MIN(e) AS BIGINT) AS duration_s,
                 CAST(SUM(c) AS BIGINT) AS sum_scaled,
                 CAST(MIN(event_id) AS BIGINT) AS first_event_id,
                 CAST(MAX(event_id) AS BIGINT) AS last_event_id
          FROM s GROUP BY 1, 2
        """,
        "fingerprints": _FINGERPRINTS_SQL,
        "simhash_pairs": _SIMHASH_SQL,
        "minhash_pairs": _minhash_sql(),
        "lsh_eval": _lsh_eval_sql(),
        "lsh_ann": _lsh_ann_sql(),
        "ivf_ann": _ivf_ann_sql(),
        "ann_recall": _ann_recall_sql(),
        "embed_dup": _embed_dup_sql(),
        "media_features": _MEDIA_SQL,
        "png_features": _PNG_SQL,
        "zonal_stats": f"""
          WITH pts AS ({_PTS}), boxes AS ({_BOXES}),
          tok AS (
            SELECT doc_id,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS n_tokens
            FROM documents
          ),
          hit AS (
            SELECT b.region_id, t.n_tokens
            FROM pts p
            JOIN boxes b
              ON p.x >= b.minx AND p.x <= b.maxx
             AND p.y >= b.miny AND p.y <= b.maxy
            JOIN tok t ON t.doc_id = p.doc_id
          )
          SELECT CAST(b.region_id AS BIGINT) AS region_id,
                 CAST(count(h.n_tokens) AS BIGINT) AS n_docs,
                 CAST(coalesce(sum(h.n_tokens), 0) AS BIGINT) AS sum_tokens,
                 CAST(coalesce(max(h.n_tokens), 0) AS BIGINT) AS max_tokens
          FROM boxes b LEFT JOIN hit h ON b.region_id = h.region_id
          GROUP BY 1
        """,
        "tile_rollup": f"""
          WITH p AS ({_PTS}),
          fine AS (
            SELECT CAST(floor(x / 70000) AS BIGINT) AS fx,
                   CAST(floor(y / 130000) AS BIGINT) AS fy,
                   count(*) AS n
            FROM p GROUP BY 1, 2
          )
          SELECT CAST(CAST(floor(fx / 2.0) AS BIGINT) * 140000 AS VARCHAR)
                 || '-' ||
                 CAST(CAST(floor(fy / 2.0) AS BIGINT) * 260000 AS VARCHAR)
                     AS parent_tile_id,
                 CAST(sum(n) AS BIGINT) AS n_docs,
                 CAST(count(*) AS BIGINT) AS n_child_tiles,
                 CAST(max(n) AS BIGINT) AS max_child_docs
          FROM fine GROUP BY 1
        """,
        "tile_pyramid": f"""
          WITH p AS ({_PTS}),
          fine AS (
            SELECT CAST(floor(x / 70000) AS BIGINT) * 70000 AS ox,
                   CAST(floor(y / 130000) AS BIGINT) * 130000 AS oy,
                   count(*) AS n
            FROM p GROUP BY 1, 2
          ),
          l1 AS (
            SELECT CAST(floor(ox / 140000.0) AS BIGINT) * 140000 AS ox,
                   CAST(floor(oy / 260000.0) AS BIGINT) * 260000 AS oy,
                   CAST(sum(n) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_child_tiles,
                   CAST(max(n) AS BIGINT) AS max_child_docs
            FROM fine GROUP BY 1, 2
          ),
          l2 AS (
            SELECT CAST(floor(ox / 280000.0) AS BIGINT) * 280000 AS ox,
                   CAST(floor(oy / 520000.0) AS BIGINT) * 520000 AS oy,
                   CAST(sum(n_docs) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_child_tiles,
                   CAST(max(n_docs) AS BIGINT) AS max_child_docs
            FROM l1 GROUP BY 1, 2
          )
          SELECT CAST(1 AS INT) AS level,
                 CAST(ox AS VARCHAR) || '-' || CAST(oy AS VARCHAR)
                   AS tile_id,
                 n_docs, n_child_tiles, max_child_docs FROM l1
          UNION ALL
          SELECT 2, CAST(ox AS VARCHAR) || '-' || CAST(oy AS VARCHAR),
                 n_docs, n_child_tiles, max_child_docs FROM l2
        """,
        "shared_ngrams": """
          WITH t AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                     generate_series(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1])) AS grams
            FROM (SELECT doc_id,
                         regexp_split_to_array(trim(text), '\\s+') AS toks
                  FROM documents
                  WHERE len(trim(text)) > 0)
          ), dg AS (
            SELECT doc_id, unnest(grams) AS g FROM t
          ), freq AS (
            SELECT g, count(*) AS df FROM dg GROUP BY g
          ), shared AS (
            SELECT dg.doc_id, count(*) AS n_shared
            FROM dg JOIN freq ON dg.g = freq.g AND freq.df >= 2
            GROUP BY dg.doc_id
          )
          SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
                 CAST(len(grams) AS BIGINT) AS n_distinct_ngrams,
                 CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared_ngrams
          FROM t LEFT JOIN shared s ON t.doc_id = s.doc_id
          WHERE len(grams) > 0
        """,
        "semantic_dedup": _semantic_dedup_sql(),
        "centroid": f"""
          WITH b AS ({_DBOXES})
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 (minx + maxx) / 2.0 AS cx,
                 (miny + maxy) / 2.0 AS cy
          FROM b
        """,
        "pack": """
          WITH t AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE CAST(len(regexp_split_to_array(trim(text),
                                                            '\\s+'))
                                  AS BIGINT) END AS n_tokens
            FROM documents
          ), s AS (
            SELECT doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS tok_offset
            FROM t
          )
          SELECT doc_id, n_tokens, tok_offset,
                 CAST(FLOOR(tok_offset / 512) AS BIGINT) AS bin_id,
                 tok_offset % 512 AS offset_in_bin
          FROM s
        """,
        "hll_distinct": _hll_sql(),
        "window_distinct": _window_distinct_sql(),
        # exact per-window counts then rank (n DESC, user ASC) — the
        # stateless readout over the mergeable count relation
        "window_topk": """
          WITH c AS (
            SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS VARCHAR)
                     AS window_start,
                   user_id, COUNT(*) AS n
            FROM events WHERE user_id IS NOT NULL
            GROUP BY 1, 2
          )
          SELECT window_start, CAST(user_id AS BIGINT) AS user_id,
                 CAST(n AS BIGINT) AS n,
                 CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                                         ORDER BY n DESC, user_id)
                      AS BIGINT) AS rank
          FROM c
          QUALIFY rank <= 5
        """,
        # cumulative md5 cut points embedded as the same python ints
        # (operators/text.hash_split_cuts — one shared accumulation)
        "hash_split": f"""
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 CASE WHEN h < {_split_cuts()[0]} THEN 'train'
                      WHEN h < {_split_cuts()[1]} THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT doc_id,
                       CAST(concat('0x', substr(md5(concat(
                            CAST(doc_id AS VARCHAR), ':',
                            '{SPLIT_SEED}')), 1, 15)) AS BIGINT) AS h
                FROM documents)
        """,
        "window_cms": """
          WITH ev AS (
            SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS VARCHAR)
                     AS w,
                   CAST(user_id AS VARCHAR) AS tok, user_id
            FROM events WHERE user_id IS NOT NULL
          ), hr AS (
            SELECT CAST(unnest(range(4)) AS INT) AS hrow
          ), rel AS (
            SELECT w, hrow,
                   CAST(concat('0x', substr(md5(concat(hrow, ':', tok)),
                                            1, 15)) AS BIGINT)
                     % 256 AS bucket,
                   COUNT(*) AS cnt
            FROM ev CROSS JOIN hr GROUP BY 1, 2, 3
          ), pw AS (
            SELECT w, tok FROM (SELECT DISTINCT w FROM ev)
            CROSS JOIN (SELECT DISTINCT tok FROM ev
                        WHERE user_id % 29 = 0)
          ), pe AS (
            SELECT pw.w, pw.tok, hr.hrow,
                   CAST(concat('0x', substr(md5(concat(hr.hrow, ':',
                                                       pw.tok)),
                                            1, 15)) AS BIGINT)
                     % 256 AS bucket
            FROM pw CROSS JOIN hr
          )
          SELECT pe.w AS window_start,
                 CAST(pe.tok AS BIGINT) AS user_id,
                 CAST(MIN(COALESCE(rel.cnt, 0)) AS BIGINT) AS est_count
          FROM pe LEFT JOIN rel
            ON pe.w = rel.w AND pe.hrow = rel.hrow
               AND pe.bucket = rel.bucket
          GROUP BY 1, 2
        """,
        "retention": """
          WITH a AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
          ), f AS (
            SELECT user_id, MIN(d) AS c FROM a GROUP BY user_id
          )
          SELECT CAST(f.c AS VARCHAR) AS cohort_day,
                 CAST(datediff('day', f.c, a.d) AS INT) AS offset_days,
                 CAST(COUNT(*) AS BIGINT) AS n_active
          FROM a JOIN f USING (user_id)
          GROUP BY 1, 2
        """,
        # interval x interval overlap via the quadratic-affordable
        # range join; closed-interval predicate matches the operator
        "interval_overlap": """
          WITH iv AS (
            SELECT CAST(p_partkey AS BIGINT) AS interval_id,
                   1704067200 + (p_partkey * 7919) % 2592000 AS s,
                   1704067200 + (p_partkey * 7919) % 2592000
                     + (p_partkey * 131 + 17) % 21600 + 600 AS e
            FROM part
          ), sess AS (
            SELECT CAST(doc_id AS BIGINT) AS session_id,
                   1704067200 + (doc_id * 48271 + 17) % 2592000 AS ss,
                   1704067200 + (doc_id * 48271 + 17) % 2592000
                     + (doc_id * 977 + 5) % 10800 + 300 AS se
            FROM documents
          )
          SELECT iv.interval_id,
                 CAST(COUNT(*) AS BIGINT) AS n_sessions,
                 CAST(SUM(sess.session_id) AS BIGINT) AS sum_sid
          FROM iv JOIN sess ON iv.s <= sess.se AND sess.ss <= iv.e
          GROUP BY 1
        """,
        # hour/day/week buckets by integer epoch-micros division
        "time_pyramid": """
          WITH b AS (
            SELECT epoch_us(ts) AS us,
                   CAST(ROUND(value * 100) AS BIGINT) AS x
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          ), h AS (
            SELECT (us // 3600000000) * 3600000000 AS bucket_start_us,
                   COUNT(*) AS n_events, SUM(x) AS sum_scaled
            FROM b GROUP BY 1
          ), d AS (
            SELECT (bucket_start_us // 86400000000) * 86400000000
                     AS bucket_start_us,
                   SUM(n_events) AS n_events, SUM(sum_scaled) AS sum_scaled
            FROM h GROUP BY 1
          ), w AS (
            SELECT (bucket_start_us // 604800000000) * 604800000000
                     AS bucket_start_us,
                   SUM(n_events) AS n_events, SUM(sum_scaled) AS sum_scaled
            FROM d GROUP BY 1
          )
          SELECT 'hour' AS level, CAST(bucket_start_us AS BIGINT)
                   AS bucket_start_us,
                 CAST(n_events AS BIGINT) AS n_events,
                 CAST(sum_scaled AS BIGINT) AS sum_scaled FROM h
          UNION ALL
          SELECT 'day', CAST(bucket_start_us AS BIGINT),
                 CAST(n_events AS BIGINT), CAST(sum_scaled AS BIGINT)
          FROM d
          UNION ALL
          SELECT 'week', CAST(bucket_start_us AS BIGINT),
                 CAST(n_events AS BIGINT), CAST(sum_scaled AS BIGINT)
          FROM w
        """,
        # NULL rule results count as violations (NOT coalesce(cond,
        # FALSE) mirrored); uniqueness = n - count(distinct)
        "dq_check": """
          WITH a AS (
            SELECT COUNT(*) AS n,
                   SUM(CASE WHEN NOT COALESCE(n_chars >= 0, FALSE)
                            THEN 1 ELSE 0 END) AS v1,
                   SUM(CASE WHEN NOT COALESCE(
                              lang IN ('en','de','fr','es'), FALSE)
                            THEN 1 ELSE 0 END) AS v2,
                   SUM(CASE WHEN NOT COALESCE(
                              text IS NOT NULL AND LENGTH(text) > 0,
                              FALSE)
                            THEN 1 ELSE 0 END) AS v3,
                   COUNT(DISTINCT doc_id) AS d1
            FROM documents
          )
          SELECT 'n_chars_nonneg' AS rule, CAST(n AS BIGINT) AS n_rows,
                 CAST(v1 AS BIGINT) AS n_violations FROM a
          UNION ALL
          SELECT 'lang_known', CAST(n AS BIGINT), CAST(v2 AS BIGINT)
          FROM a
          UNION ALL
          SELECT 'text_present', CAST(n AS BIGINT), CAST(v3 AS BIGINT)
          FROM a
          UNION ALL
          SELECT 'unique:doc_id', CAST(n AS BIGINT),
                 CAST(n - d1 AS BIGINT) FROM a
        """,
        "interval_join": """
          WITH iv AS (
            SELECT CAST(p_partkey AS BIGINT) AS interval_id,
                   1704067200 + (p_partkey * 7919) % 2592000 AS s,
                   1704067200 + (p_partkey * 7919) % 2592000
                     + (p_partkey * 131 + 17) % 21600 + 600 AS e
            FROM part
          ), ev AS (
            SELECT event_id, epoch_us(ts) // 1000000 AS p FROM events
          )
          SELECT iv.interval_id,
                 CAST(COUNT(*) AS BIGINT) AS n_events,
                 CAST(SUM(ev.event_id) AS BIGINT) AS sum_eid
          FROM ev JOIN iv ON ev.p BETWEEN iv.s AND iv.e
          GROUP BY 1
        """,
        "grouped_ols": """
          WITH b AS (
            SELECT event_type,
                   CAST(hour(ts) AS BIGINT) AS x,
                   CAST(ROUND(value * 100) AS BIGINT) AS y
            FROM events
          ), a AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx
            FROM b GROUP BY event_type
          )
          SELECT event_type, n, sx, sy, sxy, sxx,
                 CASE WHEN n * sxx - sx * sx <> 0 THEN
                   ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE)
                         * 1 / 100, 6) END AS slope,
                 CASE WHEN n * sxx - sx * sx <> 0 THEN
                   ROUND((CAST(sy AS DOUBLE)
                          - CAST(n * sxy - sx * sy AS DOUBLE)
                            / CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(sx AS DOUBLE))
                         / (CAST(n AS DOUBLE) * 100), 6) END AS intercept
          FROM a
        """,
        "outliers": """
          WITH b AS (
            SELECT event_id, event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS x
            FROM events
          ), st AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s,
                   CAST(SUM(x * x) AS BIGINT) AS q
            FROM b GROUP BY event_type
          )
          SELECT CAST(b.event_id AS BIGINT) AS event_id, b.event_type,
                 ((st.n * b.x - st.s) * (st.n * b.x - st.s))
                   > 4 * (st.n * st.q - st.s * st.s) AS is_outlier
          FROM b JOIN st USING (event_type)
        """,
        # the same ceil(q·n) rank rule over scaled ints; CAST 0.05 AS
        # DOUBLE forces DuckDB off its DECIMAL literal so both engines
        # do the identical IEEE multiply before CEIL
        "winsorize": """
          WITH b AS (
            SELECT event_id, event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS x
            FROM events
          ), r AS (
            SELECT event_type, x,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY x) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM b
          ), bo AS (
            SELECT event_type,
                   MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(
                       CAST(0.05 AS DOUBLE) * n) AS BIGINT))
                       THEN x END) AS lo,
                   MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(
                       CAST(0.95 AS DOUBLE) * n) AS BIGINT))
                       THEN x END) AS hi
            FROM r GROUP BY event_type
          )
          SELECT CAST(b.event_id AS BIGINT) AS event_id, b.event_type,
                 LEAST(GREATEST(b.x, bo.lo), bo.hi) AS value_w100
          FROM b JOIN bo USING (event_type)
        """,
        "pagerank": _pagerank_sql(),
        "triangles": _triangles_sql(),
        "convex_hull": _hull_sql(),
        "hull_diameter": _hull_diameter_sql(),
        "bm25": _bm25_sql(),
        "bfs": _bfs_sql(),
        "pmi": _pmi_sql(),
        "char_entropy": _entropy_sql(),
        "transitions": """
          WITH s AS (
            SELECT user_id, event_type,
                   LAG(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events
          )
          SELECT prev AS from_state, event_type AS to_state,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM s WHERE prev IS NOT NULL
          GROUP BY prev, event_type
        """,
        "mode": """
          WITH c AS (
            SELECT user_id, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY user_id, event_type
          ), r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY n DESC, event_type)
                      AS rn
            FROM c
          )
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 event_type AS mode, n
          FROM r WHERE rn = 1
        """,
        "click_attach": """
          SELECT CAST(c.user_id AS BIGINT) AS user_id,
                 CAST(c.event_id AS BIGINT) AS click_id,
                 CAST(v.event_id AS BIGINT) AS view_id,
                 epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
          FROM events c JOIN events v
            ON c.user_id = v.user_id
           AND v.ts >= c.ts - INTERVAL 240 MINUTE AND v.ts <= c.ts
          WHERE c.event_type = 'click' AND v.event_type = 'view'
        """,
        # same bucket rule (unix micros DIV step), same greatest-(ts,id)
        # per-bucket winner, same generate_series spine + LOCF window
        "resample": """
          WITH b AS (
            SELECT user_id,
                   epoch_us(ts) // 3600000000 AS bucket,
                   CAST(ROUND(value * 100) AS BIGINT) AS x,
                   ts, event_id
            FROM events
          ), ob AS (
            SELECT user_id, bucket, x FROM (
              SELECT user_id, bucket, x,
                     ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                                        ORDER BY ts DESC, event_id DESC)
                       AS rn
              FROM b) WHERE rn = 1
          ), sp AS (
            SELECT user_id,
                   unnest(generate_series(MIN(bucket), MAX(bucket)))
                     AS bucket
            FROM ob GROUP BY user_id
          )
          SELECT CAST(sp.user_id AS BIGINT) AS user_id, sp.bucket,
                 LAST_VALUE(ob.x IGNORE NULLS) OVER (
                   PARTITION BY sp.user_id ORDER BY sp.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS value_scaled,
                 ob.x IS NOT NULL AS observed
          FROM sp LEFT JOIN ob USING (user_id, bucket)
        """,
        # quadratic dominance NOT-EXISTS — affordable for the oracle,
        # exactly what the Spark two-phase plan avoids
        "skyline": """
          WITH t AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE CAST(len(regexp_split_to_array(trim(text),
                                  '\\s+')) AS BIGINT) END AS n_tokens
            FROM documents
          )
          SELECT a.doc_id, a.n_chars, a.n_tokens FROM t a
          WHERE NOT EXISTS (
            SELECT 1 FROM t b
            WHERE b.n_chars >= a.n_chars AND b.n_tokens <= a.n_tokens
              AND (b.n_chars > a.n_chars OR b.n_tokens < a.n_tokens))
        """,
        # union-then-window as-of semantics mirrored exactly: right rows
        # sort before left at equal ts, ties among right rows by event_id
        # ascending (last wins), NULLS FIRST to match Spark's asc default
        "asof_join": """
          WITH u AS (
            SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id,
                   event_id AS _rp_eid, value AS _rp_val,
                   epoch_us(ts) AS _rus, 0 AS side
            FROM events WHERE event_type = 'view'
            UNION ALL
            SELECT user_id, ts, event_id,
                   NULL, NULL, NULL, 1
            FROM events WHERE event_type = 'click'
          ), w AS (
            SELECT *,
              LAST_VALUE(_rp_eid IGNORE NULLS) OVER win AS r_event_id,
              LAST_VALUE(_rp_val IGNORE NULLS) OVER win AS r_value,
              LAST_VALUE(_rus IGNORE NULLS) OVER win AS _mus
            FROM u
            WINDOW win AS (PARTITION BY user_id
                           ORDER BY ts ASC, side ASC,
                                    _rp_eid ASC NULLS FIRST
                           ROWS UNBOUNDED PRECEDING)
          )
          SELECT event_id, CAST(user_id AS BIGINT) AS user_id,
                 CAST(r_event_id AS BIGINT) AS r_event_id, r_value,
                 CAST(epoch_us(ts) - _mus AS BIGINT) AS asof_lag_us
          FROM w WHERE side = 1
        """,
        "rolling_stats": """
          SELECT CAST(event_id AS BIGINT) AS event_id,
                 CAST(user_id AS BIGINT) AS user_id,
                 CAST(COUNT(*) OVER win AS BIGINT) AS n_in_window,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                      OVER win AS BIGINT) AS sum_scaled
          FROM events
          WINDOW win AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 3600000000 PRECEDING
                               AND CURRENT ROW)
        """,
        "funnel": """
          WITH s1 AS (
            SELECT user_id AS k, MIN(epoch_us(ts)) AS cus
            FROM events WHERE event_type = 'view' GROUP BY 1
          ), s2 AS (
            SELECT e.user_id AS k, MIN(s1.cus) AS pus,
                   MIN(epoch_us(e.ts)) AS cus
            FROM events e JOIN s1 ON e.user_id = s1.k
            WHERE e.event_type = 'click' AND epoch_us(e.ts) >= s1.cus
            GROUP BY 1
          ), s3 AS (
            SELECT e.user_id AS k, MIN(s2.cus) AS pus,
                   MIN(epoch_us(e.ts)) AS cus
            FROM events e JOIN s2 ON e.user_id = s2.k
            WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.cus
            GROUP BY 1
          )
          SELECT CAST(1 AS INT) AS step, 'view' AS name,
                 CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(0 AS BIGINT) AS sum_lag_us
          FROM s1 HAVING COUNT(*) > 0
          UNION ALL
          SELECT 2, 'click', CAST(COUNT(*) AS BIGINT),
                 CAST(SUM(cus - pus) AS BIGINT)
          FROM s2 HAVING COUNT(*) > 0
          UNION ALL
          SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT),
                 CAST(SUM(cus - pus) AS BIGINT)
          FROM s3 HAVING COUNT(*) > 0
        """,
        "cms_counts": _cms_sql(),
        "hist_quantiles": _hist_quantiles_sql(),
        "bloom_membership": _bloom_sql(),
        "tfidf_topk": """
          WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(
                     regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '')) AS token
            FROM documents WHERE text IS NOT NULL
          ), tf AS (
            SELECT doc_id, token, COUNT(*) AS tf
            FROM toks GROUP BY doc_id, token
          ), dfreq AS (
            SELECT token, COUNT(*) AS df FROM tf GROUP BY token
          ), n AS (
            SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS _n FROM tf
          ), scored AS (
            SELECT tf.doc_id, tf.token, tf.tf,
                   ROUND(tf.tf * (ln((n._n + 1.0) / (dfreq.df + 1.0))
                                  + 1.0), 6) AS score
            FROM tf JOIN dfreq USING (token) CROSS JOIN n
          ), ranked AS (
            SELECT doc_id, token, tf, score,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, token ASC)
                     AS rank
            FROM scored
          )
          SELECT CAST(doc_id AS BIGINT) AS doc_id, token,
                 CAST(tf AS BIGINT) AS tf, score,
                 CAST(rank AS INT) AS rank
          FROM ranked WHERE rank <= 3
        """,
        "source_cap": """
          WITH k AS (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY doc_id) AS rn
            FROM documents
          )
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_kept,
                 CAST(SUM(doc_id) AS BIGINT) AS sum_id,
                 CAST(SUM(n_chars) AS BIGINT) AS sum_chars
          FROM k WHERE rn <= 7
          GROUP BY source
        """,
        "pii_scrub": """
          WITH t AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com'
                        || ' via 10.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.3.9 tel 0207'
                        || lpad(CAST(doc_id % 100000 AS VARCHAR), 6, '0')
                       AS txt
            FROM documents
          )
          SELECT doc_id,
                 CAST(len(regexp_extract_all(txt,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   AS BIGINT) AS n_email,
                 CAST(len(regexp_extract_all(txt,
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                   AS BIGINT) AS n_ipv4,
                 CAST(len(regexp_extract_all(txt, '\\b0\\d{7,12}\\b'))
                   AS BIGINT) AS n_phone,
                 regexp_replace(regexp_replace(regexp_replace(txt,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                   '<IP>', 'g'),
                   '\\b0\\d{7,12}\\b', '<PHONE>', 'g') AS scrubbed
          FROM t
        """,
        "perimeter": f"""
          WITH b AS ({_BOXES})
          SELECT CAST(region_id AS BIGINT) AS region_id,
                 CAST(2 * ((maxx - minx) + (maxy - miny)) AS BIGINT)
                     AS perim
          FROM b
        """,
        # quadratic definition (length filter only) — the engine's
        # lossless q-gram blocking must reproduce it exactly
        "fuzzy_join": """
          WITH p AS (
            SELECT p_partkey AS pk,
                   p_name || ' ' || p_brand || ' ' || p_type || ' ' ||
                   CAST(p_size AS VARCHAR) AS s
            FROM part
          ), q AS (SELECT pk AS qk, s FROM p WHERE pk % 37 = 0)
          SELECT CAST(q.qk AS BIGINT) AS qk, CAST(p.pk AS BIGINT) AS pk,
                 CAST(levenshtein(q.s, p.s) AS BIGINT) AS dist
          FROM q JOIN p ON abs(length(q.s) - length(p.s)) <= 2
          WHERE levenshtein(q.s, p.s) <= 2
        """,
        "kcore": _kcore_sql(),
        "lpa": _lpa_sql(),
        "assortativity": _assort_sql(),
        "dq_profile": _dq_profile_sql(),
        "scd2": """
          WITH base AS (
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_chars AS BIGINT) AS val,
                   CAST(0 AS BIGINT) AS v, 'U' AS op
            FROM documents
          ), ch AS (
            SELECT * FROM base
            UNION ALL
            SELECT doc_id, val * 10, CAST(1 AS BIGINT), 'U'
            FROM base WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id, NULL, CAST(2 AS BIGINT), 'D'
            FROM base WHERE doc_id % 7 = 0
          ), w AS (
            SELECT *, LEAD(v) OVER (PARTITION BY doc_id
                                    ORDER BY v ASC) AS vt
            FROM ch
          )
          SELECT doc_id, val, v AS valid_from, vt AS valid_to,
                 CAST(CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS BIGINT)
                     AS is_current
          FROM w WHERE op = 'U'
        """,
        "adamic_adar": _adamic_sql(),
        "sssp": _sssp_sql(),
        "heatmap": _heatmap_sql(),
        "pivot": """
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 CAST(COUNT(*) FILTER (event_type = 'view')
                      AS BIGINT) AS view,
                 CAST(COUNT(*) FILTER (event_type = 'click')
                      AS BIGINT) AS click,
                 CAST(COUNT(*) FILTER (event_type = 'purchase')
                      AS BIGINT) AS purchase,
                 CAST(COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT))
                      FILTER (event_type = 'view'), 0)
                      AS BIGINT) AS view_v100
          FROM events GROUP BY user_id
        """,
        "bigram_logloss": _bigram_logloss_sql(),
        "tfidf_cosine": _tfidf_cosine_sql(),
        "percentiles": """
          WITH b AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS x
            FROM events
          ), r AS (
            SELECT event_type, x,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY x) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM b
          )
          SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                 CAST(MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(
                     CAST(0.5 AS DOUBLE) * n) AS BIGINT))
                     THEN x END) AS BIGINT) AS p5,
                 CAST(MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(
                     CAST(0.9 AS DOUBLE) * n) AS BIGINT))
                     THEN x END) AS BIGINT) AS p9,
                 CAST(MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(
                     CAST(0.99 AS DOUBLE) * n) AS BIGINT))
                     THEN x END) AS BIGINT) AS p99
          FROM r GROUP BY event_type
        """,
        "path_topk": """
          WITH s AS (
            SELECT user_id, ts, event_id, event_type,
                   LAG(event_type, 2) OVER w AS s0,
                   LAG(event_type, 1) OVER w AS s1
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC)
          ), p AS (
            SELECT s0 || ' > ' || s1 || ' > ' || event_type AS path,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM s WHERE s0 IS NOT NULL
            GROUP BY 1
          )
          SELECT path, cnt,
                 CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, path ASC)
                      AS INT) AS rank
          FROM p ORDER BY cnt DESC, path ASC LIMIT 25
        """,
        # quadratic fuzzy join + recursive-CTE transitive closure
        # (the dup_clusters pattern); the engine's prefix-blocked
        # fuzzy_join + pointer-jumping components must reproduce it
        "fuzzy_clusters": """
          WITH RECURSIVE p AS (
            SELECT p_partkey AS pk,
                   p_name || ' ' || p_brand || ' ' || p_type || ' ' ||
                   CAST(p_size AS VARCHAR) AS s
            FROM part WHERE p_partkey % 3 = 0 AND p_partkey < 6000
          ), fp AS (
            SELECT a.pk AS pa, b.pk AS pb
            FROM p a JOIN p b
              ON a.pk < b.pk
             AND abs(length(a.s) - length(b.s)) <= 2
            WHERE levenshtein(a.s, b.s) <= 2
          ), edges AS (
            SELECT pa AS src, pb AS dst FROM fp
            UNION SELECT pb, pa FROM fp
          ), reach(src, dst) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
          )
          SELECT CAST(src AS BIGINT) AS node,
                 CAST(least(src, min(dst)) AS BIGINT) AS component
          FROM reach GROUP BY src
        """,
        "hll_union": _hll_union_sql(),
        "clustering_coeff": _clustering_sql(),
        "assoc_rules": _assoc_sql(),
        # median/MAD by the exact ceil-rank rule — float-free
        "mad_outliers": """
          WITH b AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS x
            FROM events WHERE value IS NOT NULL
          ), r1 AS (
            SELECT event_type, x,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY x) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM b
          ), med AS (
            SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
                   CAST(MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(
                       CAST(0.5 AS DOUBLE) * n) AS BIGINT))
                       THEN x END) AS BIGINT) AS med
            FROM r1 GROUP BY event_type
          ), dev AS (
            SELECT b.event_type, med.n, med.med,
                   ABS(b.x - med.med) AS d
            FROM b JOIN med USING (event_type)
          ), r2 AS (
            SELECT event_type, n, med, d,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY d) AS rn
            FROM dev
          ), mad AS (
            SELECT event_type,
                   CAST(MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(
                       CAST(0.5 AS DOUBLE) * n) AS BIGINT))
                       THEN d END) AS BIGINT) AS mad
            FROM r2 GROUP BY event_type
          )
          SELECT dev.event_type, CAST(MAX(dev.n) AS BIGINT) AS n,
                 CAST(MAX(dev.med) AS BIGINT) AS med,
                 CAST(MAX(mad.mad) AS BIGINT) AS mad,
                 CAST(SUM(CASE WHEN dev.d > 3 * mad.mad
                               THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_outliers
          FROM dev JOIN mad USING (event_type)
          GROUP BY dev.event_type
        """,
        "ewma": _ewma_sql(),
        # equi-depth deciles: integer-ceil rank edges over the
        # distinct-value histogram; ties to the lower bin
        "quantile_bins": """
          WITH b AS (
            SELECT doc_id, n_chars FROM documents
            WHERE n_chars IS NOT NULL
          ), h AS (
            SELECT n_chars AS v, COUNT(*) AS cnt FROM b GROUP BY 1
          ), c AS (
            SELECT v, SUM(cnt) OVER (ORDER BY v
                                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM h
          ), n AS (SELECT COUNT(*) AS n FROM b),
          ii AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS i),
          e AS (
            SELECT ii.i, MIN(c.v) AS e
            FROM c CROSS JOIN n CROSS JOIN ii
            WHERE c.cum >= (ii.i * n.n + 9) // 10
            GROUP BY ii.i
          )
          SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
                 CAST(b.n_chars AS BIGINT) AS n_chars,
                 CAST(COUNT(e.e) AS BIGINT) AS bin
          FROM b LEFT JOIN e ON b.n_chars > e.e
          GROUP BY b.doc_id, b.n_chars
        """,
        "kmv_overlap": _kmv_sql(),
        # exact integer rect-clip rasterization; lateral range() fans
        # out each box's covered cell window
        "cell_coverage": f"""
          WITH b AS (
            SELECT CAST(minx AS BIGINT) AS x0, CAST(miny AS BIGINT) AS y0,
                   CAST(maxx AS BIGINT) AS x1, CAST(maxy AS BIGINT) AS y1
            FROM ({_BOXES})
          ), e1 AS (
            -- DuckDB range() rejects lateral column args; per-row
            -- unnest(range(..)) in two stages builds the cross fan-out
            SELECT x0, y0, x1, y1,
                   CAST(unnest(range(x0 // 50000, x1 // 50000 + 1))
                        AS BIGINT) AS cx
            FROM b
          ), e AS (
            SELECT x0, y0, x1, y1, cx,
                   CAST(unnest(range(y0 // 50000, y1 // 50000 + 1))
                        AS BIGINT) AS cy
            FROM e1
          ), c AS (
            SELECT cx, cy,
                   LEAST(x1, (cx + 1) * 50000)
                     - GREATEST(x0, cx * 50000) AS w,
                   LEAST(y1, (cy + 1) * 50000)
                     - GREATEST(y0, cy * 50000) AS h
            FROM e
          )
          SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_boxes,
                 CAST(SUM(w * h) AS BIGINT) AS covered
          FROM c WHERE w > 0 AND h > 0
          GROUP BY cx, cy
        """,
        # top-50 |residual| vs the (event_type, hour) seasonal mean;
        # baseline micro-rounded once, residual exact BIGINT
        "seasonal": """
          WITH b AS (
            SELECT event_id AS id, event_type AS g,
                   CAST(hour(ts) AS BIGINT) AS hour,
                   CAST(ROUND(value * 100) AS BIGINT) AS x
            FROM events WHERE value IS NOT NULL
          ), dim AS (
            SELECT g, hour,
                   CAST(ROUND(1000000.0 * SUM(x) / COUNT(*)) AS BIGINT)
                     AS base_u
            FROM b GROUP BY g, hour
          ), r AS (
            SELECT b.id, b.g, b.hour,
                   1000000 * b.x - dim.base_u AS resid_u
            FROM b JOIN dim USING (g, hour)
          )
          SELECT CAST(id AS BIGINT) AS event_id, g AS event_type,
                 hour, resid_u
          FROM r ORDER BY ABS(resid_u) DESC, id LIMIT 50
        """,
        # Pearson r from five exact integer sums; parens force the
        # same mul-after-div shape as the Spark plan
        "grouped_corr": """
          WITH b AS (
            SELECT event_type,
                   CAST(hour(ts) AS BIGINT) AS x,
                   CAST(ROUND(value * 100) AS BIGINT) AS y
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
          ), a AS (
            SELECT event_type, COUNT(*) AS n,
                   SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
                   SUM(x*x) AS sxx, SUM(y*y) AS syy
            FROM b GROUP BY event_type
          )
          SELECT event_type, CAST(n AS BIGINT) AS n,
                 CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
                      THEN CAST(ROUND(1000000.0 *
                           (CAST(n*sxy - sx*sy AS DOUBLE)
                            / SQRT(CAST(n*sxx - sx*sx AS DOUBLE)
                                   * CAST(n*syy - sy*sy AS DOUBLE))))
                           AS BIGINT)
                      ELSE NULL END AS corr_micro
          FROM a
        """,
        # lag-1 pairs from the same (ts, id) window order; five exact
        # BIGINT sums, sqrt-only final expression (grouped_corr shape)
        "autocorr": """
          WITH b AS (
            SELECT event_type, ts, event_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS a
            FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
          ), p AS (
            SELECT event_type, a,
                   LAG(a, 1) OVER (PARTITION BY event_type
                                   ORDER BY ts, event_id) AS bb
            FROM b
          ), agg AS (
            SELECT event_type, COUNT(*) AS n,
                   SUM(a) AS sa, SUM(bb) AS sb, SUM(a*bb) AS sab,
                   SUM(a*a) AS saa, SUM(bb*bb) AS sbb
            FROM p WHERE bb IS NOT NULL GROUP BY event_type
          )
          SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
                 CASE WHEN (n*saa - sa*sa) > 0 AND (n*sbb - sb*sb) > 0
                      THEN CAST(ROUND(1000000.0 *
                           (CAST(n*sab - sa*sb AS DOUBLE)
                            / SQRT(CAST(n*saa - sa*sa AS DOUBLE)
                                   * CAST(n*sbb - sb*sb AS DOUBLE))))
                           AS BIGINT)
                      ELSE NULL END AS autocorr_micro
          FROM agg
        """,
        # CUSUM argmax |n*S_i - i*S_n| in exact BIGINT; earliest index
        # wins ties (ORDER BY stat DESC, i)
        "changepoint": """
          WITH b AS (
            SELECT event_type, ts, event_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS x
            FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
          ), w AS (
            SELECT event_type, event_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY ts, event_id)
                        AS BIGINT) AS i,
                   SUM(x) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   CAST(COUNT(*) OVER (PARTITION BY event_type)
                        AS BIGINT) AS n,
                   SUM(x) OVER (PARTITION BY event_type) AS tot
            FROM b
          ), s AS (
            SELECT event_type, n, i, event_id,
                   ABS(n*cum - i*tot) AS stat,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY ABS(n*cum - i*tot) DESC,
                                               i) AS rn
            FROM w
          )
          SELECT event_type, n, i AS cp_index,
                 CAST(event_id AS BIGINT) AS cp_id, stat
          FROM s WHERE rn = 1
        """,
        # per-user endpoints by row_number (the twin need not share
        # the min_by plan, only the result), snapped to 100km cells
        "od_matrix": _OD_SQL,
        # exact rank-formula Gini; ties are assignment-independent
        "gini": """
          WITH b AS (
            SELECT source, CAST(n_chars AS BIGINT) AS x
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars >= 0
          ), r AS (
            SELECT source, x,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY x) AS i
            FROM b
          ), a AS (
            SELECT source, COUNT(*) AS n, SUM(x) AS sum_x,
                   SUM(i * x) AS sixi
            FROM r GROUP BY source
          )
          SELECT source, CAST(n AS BIGINT) AS n,
                 CAST(sum_x AS BIGINT) AS sum_x,
                 CASE WHEN n * sum_x > 0
                      THEN CAST(ROUND(1000000.0 *
                           (CAST(2*sixi - (n+1)*sum_x AS DOUBLE)
                            / CAST(n * sum_x AS DOUBLE))) AS BIGINT)
                      ELSE NULL END AS gini_micro
          FROM a
        """,
        # exact integer chainage target ceil(tot/2) over micro-rounded
        # sqrt steps; the matching step is unique (zero-length steps
        # never advance cum); within-step lerp has identical IEEE shape
        "path_midpoint": """
          WITH b AS (
            SELECT user_id, ts, event_id,
                   CAST((event_id*48271 + 17) % 700000  AS BIGINT) AS x,
                   CAST((event_id*69621 + 29) % 1300000 AS BIGINT) AS y
            FROM events WHERE ts IS NOT NULL
          ), l AS (
            SELECT user_id, ts, event_id, x, y,
                   LAG(x) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS px,
                   LAG(y) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS py
            FROM b
          ), st AS (
            SELECT user_id, ts, event_id, x, y, px, py,
                   CAST(ROUND(1000000.0 * SQRT(CAST(
                        (x-px)*(x-px) + (y-py)*(y-py) AS DOUBLE)))
                        AS BIGINT) AS s
            FROM l WHERE px IS NOT NULL
          ), c AS (
            SELECT user_id, x, y, px, py, s,
                   SUM(s) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   SUM(s) OVER (PARTITION BY user_id) AS tot
            FROM st
          ), m AS (
            SELECT user_id,
                   CAST(ROUND(1000000.0 * (CAST(px AS DOUBLE)
                        + (CAST((tot * 1 + 1) // 2 - (cum - s)
                                AS DOUBLE) / CAST(s AS DOUBLE))
                          * CAST(x - px AS DOUBLE))) AS BIGINT) AS x_u,
                   CAST(ROUND(1000000.0 * (CAST(py AS DOUBLE)
                        + (CAST((tot * 1 + 1) // 2 - (cum - s)
                                AS DOUBLE) / CAST(s AS DOUBLE))
                          * CAST(y - py AS DOUBLE))) AS BIGINT) AS y_u
            FROM c
            WHERE tot > 0 AND cum - s < (tot * 1 + 1) // 2
              AND (tot * 1 + 1) // 2 <= cum
          ), f AS (
            SELECT user_id, x, y,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM b
          ), sta AS (
            SELECT user_id, x*1000000 AS x_u, y*1000000 AS y_u
            FROM f WHERE rn = 1
              AND user_id NOT IN (SELECT user_id FROM m)
          )
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 CAST(x_u AS BIGINT) AS x_u, CAST(y_u AS BIGINT) AS y_u
          FROM m
          UNION ALL
          SELECT CAST(user_id AS BIGINT), CAST(x_u AS BIGINT),
                 CAST(y_u AS BIGINT) FROM sta
        """,
        # micro-rounded IEEE sqrt per step (correctly rounded by the
        # 754 spec, so both engines agree), BIGINT sum per user
        "path_length": """
          WITH b AS (
            SELECT user_id, ts, event_id,
                   CAST((event_id*48271 + 17) % 700000  AS BIGINT) AS x,
                   CAST((event_id*69621 + 29) % 1300000 AS BIGINT) AS y
            FROM events WHERE ts IS NOT NULL
          ), d AS (
            SELECT user_id,
                   x - LAG(x) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dx,
                   y - LAG(y) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dy
            FROM b
          ), s AS (
            SELECT user_id,
                   CASE WHEN dx IS NULL THEN NULL
                        ELSE CAST(ROUND(1000000.0 * SQRT(
                             CAST(dx*dx + dy*dy AS DOUBLE)))
                             AS BIGINT) END AS step
            FROM d
          )
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 CAST(COUNT(step) AS BIGINT) AS n_steps,
                 CAST(COALESCE(SUM(step), 0) AS BIGINT) AS path_u
          FROM s GROUP BY user_id
        """,
        # certified-kNN majority vote: neighbors from the exact
        # distance ranking, label counts, ties to smallest label
        "knn_classify": f"""
          WITH q AS ({_QPTS}), c AS ({_PTS}),
          lbl AS (SELECT doc_id, lang AS label FROM documents),
          ranked AS (
            SELECT q.query_id, c.doc_id,
                   row_number() OVER (
                     PARTITION BY q.query_id
                     ORDER BY (q.x-c.x)*(q.x-c.x) + (q.y-c.y)*(q.y-c.y),
                              c.doc_id) AS rank
            FROM q CROSS JOIN c),
          votes AS (
            SELECT r.query_id, lbl.label,
                   CAST(COUNT(*) AS BIGINT) AS votes
            FROM ranked r JOIN lbl ON r.doc_id = lbl.doc_id
            WHERE r.rank <= 5
            GROUP BY r.query_id, lbl.label
          ), win AS (
            SELECT query_id, label, votes,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY votes DESC, label ASC)
                     AS rn
            FROM votes
          )
          SELECT CAST(query_id AS BIGINT) AS query_id, label, votes
          FROM win WHERE rn = 1
        """,
        # island merge: start > running max of previous ends; all
        # BIGINT micros
        "interval_union": """
          WITH b AS (
            SELECT user_id, event_id, epoch_us(ts) AS s,
                   epoch_us(ts) + (event_id % 7 + 1) * 60000000 AS e
            FROM events WHERE ts IS NOT NULL
          ), m AS (
            SELECT user_id, s, e,
                   CASE WHEN MAX(e) OVER (PARTITION BY user_id
                                          ORDER BY s, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) IS NULL
                          OR s > MAX(e) OVER (PARTITION BY user_id
                                              ORDER BY s, event_id
                                              ROWS BETWEEN UNBOUNDED
                                              PRECEDING AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_isl,
                   event_id
            FROM b
          ), isl AS (
            SELECT user_id, s, e,
                   SUM(new_isl) OVER (PARTITION BY user_id
                                      ORDER BY s, event_id
                                      ROWS UNBOUNDED PRECEDING) AS isl
            FROM m
          ), per AS (
            SELECT user_id, isl, COUNT(*) AS n,
                   MIN(s) AS i_s, MAX(e) AS i_e
            FROM isl GROUP BY user_id, isl
          )
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 CAST(SUM(n) AS BIGINT) AS n_intervals,
                 CAST(COUNT(*) AS BIGINT) AS n_islands,
                 CAST(SUM(i_e - i_s) AS BIGINT) AS covered
          FROM per GROUP BY user_id
        """,
        # exact integer segment-intersection join: bbox prefilter is
        # redundant (intersecting segments always share bbox overlap),
        # kept for oracle speed; predicate = CLRS orientation test
        "segment_join": """
          WITH roads0 AS (
            SELECT p_partkey AS road_id,
                   (p_partkey*40503 + 101) % 600000 + 50000 AS ax,
                   (p_partkey*69301 + 257) % 1200000 + 50000 AS ay,
                   (p_partkey*40503 + 101) % 600000 + 50000
                     + (p_partkey*97 + 13) % 80001 - 40000 AS bx,
                   (p_partkey*69301 + 257) % 1200000 + 50000
                     + (p_partkey*89 + 37) % 80001 - 40000 AS by
            FROM part
          ), roads AS (
            -- bbox precomputed as plain columns: duckdb 1.0 IEJoin
            -- rejects LEAST/GREATEST inside a range-join condition
            SELECT *, LEAST(ax,bx) AS rx0, GREATEST(ax,bx) AS rx1,
                      LEAST(ay,by) AS ry0, GREATEST(ay,by) AS ry1
            FROM roads0
          ), trips0 AS (
            SELECT doc_id AS trip_id,
                   (doc_id*48271 + 17) % 600000 + 50000 AS cx,
                   (doc_id*69621 + 29) % 1200000 + 50000 AS cy,
                   (doc_id*48271 + 17) % 600000 + 50000
                     + (doc_id*31 + 7) % 80001 - 40000 AS dx,
                   (doc_id*69621 + 29) % 1200000 + 50000
                     + (doc_id*37 + 11) % 80001 - 40000 AS dy
            FROM documents
          ), trips AS (
            SELECT *, LEAST(cx,dx) AS tx0, GREATEST(cx,dx) AS tx1,
                      LEAST(cy,dy) AS ty0, GREATEST(cy,dy) AS ty1
            FROM trips0
          ), cand AS (
            SELECT road_id, trip_id, ax, ay, bx, by, cx, cy, dx, dy,
                   (dx-cx)*(ay-cy) - (dy-cy)*(ax-cx) AS d1,
                   (dx-cx)*(by-cy) - (dy-cy)*(bx-cx) AS d2,
                   (bx-ax)*(cy-ay) - (by-ay)*(cx-ax) AS d3,
                   (bx-ax)*(dy-ay) - (by-ay)*(dx-ax) AS d4
            FROM roads JOIN trips
              ON rx0 <= tx1 AND rx1 >= tx0
             AND ry0 <= ty1 AND ry1 >= ty0
          )
          SELECT CAST(road_id AS BIGINT) AS road_id,
                 CAST(trip_id AS BIGINT) AS trip_id
          FROM cand
          WHERE (((d1>0 AND d2<0) OR (d1<0 AND d2>0))
                 AND ((d3>0 AND d4<0) OR (d3<0 AND d4>0)))
             OR (d1 = 0 AND ax BETWEEN LEAST(cx,dx) AND GREATEST(cx,dx)
                         AND ay BETWEEN LEAST(cy,dy) AND GREATEST(cy,dy))
             OR (d2 = 0 AND bx BETWEEN LEAST(cx,dx) AND GREATEST(cx,dx)
                         AND by BETWEEN LEAST(cy,dy) AND GREATEST(cy,dy))
             OR (d3 = 0 AND cx BETWEEN LEAST(ax,bx) AND GREATEST(ax,bx)
                         AND cy BETWEEN LEAST(ay,by) AND GREATEST(ay,by))
             OR (d4 = 0 AND dx BETWEEN LEAST(ax,bx) AND GREATEST(ax,bx)
                         AND dy BETWEEN LEAST(ay,by) AND GREATEST(ay,by))
        """,
        # nearest-segment snap: exact-integer branch selection, the
        # interior branch is two correctly-rounded IEEE ops (cr*cr/len2)
        # so both engines produce the bit-identical double; candidates
        # from the r-dilated bbox range join (superset; the residual
        # d2 <= r^2 predicate decides membership identically)
        "snap_points": """
          WITH roads0 AS (
            SELECT p_partkey AS road_id,
                   (p_partkey*40503 + 101) % 600000 + 50000 AS ax,
                   (p_partkey*69301 + 257) % 1200000 + 50000 AS ay,
                   (p_partkey*40503 + 101) % 600000 + 50000
                     + (p_partkey*97 + 13) % 80001 - 40000 AS bx,
                   (p_partkey*69301 + 257) % 1200000 + 50000
                     + (p_partkey*89 + 37) % 80001 - 40000 AS by
            FROM part
          ), roads AS (
            SELECT road_id, ax, ay, bx, by,
                   LEAST(ax,bx) - 20000 AS x0, GREATEST(ax,bx) + 20000 AS x1,
                   LEAST(ay,by) - 20000 AS y0, GREATEST(ay,by) + 20000 AS y1
            FROM roads0
          ), pts AS (
            SELECT event_id,
                   CAST((event_id*48271 + 17) % 700000  AS BIGINT) AS px,
                   CAST((event_id*69621 + 29) % 1300000 AS BIGINT) AS py
            FROM events
          ), cand AS (
            SELECT event_id, road_id,
                   (px-ax)*(bx-ax) + (py-ay)*(by-ay) AS dot,
                   (bx-ax)*(bx-ax) + (by-ay)*(by-ay) AS len2,
                   (px-ax)*(px-ax) + (py-ay)*(py-ay) AS ap2,
                   (px-bx)*(px-bx) + (py-by)*(py-by) AS bp2,
                   (px-ax)*(by-ay) - (py-ay)*(bx-ax) AS cr
            FROM pts JOIN roads
              ON px BETWEEN x0 AND x1 AND py BETWEEN y0 AND y1
          ), d AS (
            SELECT event_id, road_id,
                   CASE WHEN len2 = 0 OR dot <= 0 THEN CAST(ap2 AS DOUBLE)
                        WHEN dot >= len2 THEN CAST(bp2 AS DOUBLE)
                        ELSE (CAST(cr AS DOUBLE)*CAST(cr AS DOUBLE))
                             / CAST(len2 AS DOUBLE) END AS d2,
                   CASE WHEN len2 = 0 OR dot <= 0 THEN 0.0
                        WHEN dot >= len2 THEN 1.0
                        ELSE CAST(dot AS DOUBLE)/CAST(len2 AS DOUBLE)
                        END AS t
            FROM cand
          ), r AS (
            SELECT event_id, road_id, d2, t,
                   ROW_NUMBER() OVER (PARTITION BY event_id
                                      ORDER BY d2, road_id) AS rn
            FROM d WHERE d2 <= 400000000.0
          )
          SELECT CAST(event_id AS BIGINT) AS event_id,
                 CAST(road_id AS BIGINT) AS road_id,
                 CAST(ROUND(d2 * 1000000) AS BIGINT) AS d2_u,
                 CAST(ROUND(t * 1000000) AS BIGINT) AS frac_u
          FROM r WHERE rn = 1
        """,
        # 45°-sector heading histogram: every boundary is an axis or
        # diagonal, so the CASE is pure integer comparison (no atan2)
        "heading_sectors": """
          WITH b AS (
            SELECT user_id, event_id, ts,
                   (event_id*48271 + 17) % 700000  AS x,
                   (event_id*69621 + 29) % 1300000 AS y
            FROM events WHERE ts IS NOT NULL
          ), s AS (
            SELECT user_id,
                   x - LAG(x) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dx,
                   y - LAG(y) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dy
            FROM b
          ), o AS (
            SELECT user_id,
                   CASE WHEN dx IS NULL OR dy IS NULL THEN NULL
                        WHEN dx = 0 AND dy = 0 THEN NULL
                        WHEN dx > 0 AND dy >= 0 AND dy < dx THEN 0
                        WHEN dx > 0 AND dy >= dx THEN 1
                        WHEN dx <= 0 AND dy > 0 AND dy > -dx THEN 2
                        WHEN dy > 0 AND dy <= -dx THEN 3
                        WHEN dx < 0 AND dy <= 0 AND dy > dx THEN 4
                        WHEN dx < 0 AND dy <= dx THEN 5
                        WHEN dx >= 0 AND dy < 0 AND dx < -dy THEN 6
                        ELSE 7 END AS sector
            FROM s
          )
          SELECT CAST(user_id AS BIGINT) AS user_id,
                 CAST(sector AS BIGINT) AS sector,
                 CAST(COUNT(*) AS BIGINT) AS n_steps
          FROM o WHERE sector IS NOT NULL
          GROUP BY user_id, sector
        """,
        # per-cell dwell: step duration in exact micros, attributed to
        # the starting point's 100km cell
        "cell_dwell": """
          WITH b AS (
            SELECT user_id, event_id, epoch_us(ts) AS t,
                   (event_id*48271 + 17) % 700000  AS x,
                   (event_id*69621 + 29) % 1300000 AS y
            FROM events WHERE ts IS NOT NULL
          ), s AS (
            SELECT x // 100000 AS cx, y // 100000 AS cy,
                   LEAD(t) OVER (PARTITION BY user_id
                                 ORDER BY t, event_id) - t AS dt
            FROM b
          )
          SELECT CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy,
                 CAST(COUNT(*) AS BIGINT) AS n_stays,
                 CAST(SUM(dt) AS BIGINT) AS dwell_us
          FROM s WHERE dt IS NOT NULL
          GROUP BY cx, cy
        """,
    }
