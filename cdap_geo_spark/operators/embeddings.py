"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exact baseline: one broadcast of the
  (small) query set, dot products as NATIVE higher-order functions
  (zip_with + aggregate, JVM codegen, no Python), window rank;
* random-hyperplane LSH — the scale path: signatures map-side, bucket
  equi-join generates candidates (sub-quadratic), exact cosine verify.

At 100 TB the corpus side never shuffles in either path: brute-force
broadcasts the queries; LSH shuffles only (bucket_key, id) pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from cdap_geo_spark.core.lifetime import track_checkpoint
from cdap_geo_spark.functions.relational import (broadcastable,
                                                 ensure_min_parallelism)
from pyspark.sql import DataFrame, Window, functions as F, types as T
from pyspark.sql.functions import pandas_udf


def cosine(a, b) -> F.Column:
    """Native cosine similarity of two array<float/double> columns."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x),
                            F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def cosine_topk(corpus: DataFrame, queries: DataFrame, *, k: int,
                corpus_id: str = "vec_id", query_id: str = "query_id",
                vec_col: str = "embedding",
                broadcast_queries: bool | str = "auto") -> DataFrame:
    """Exact top-k: (query_id, vec_id, rank) by cosine desc, ties by id.

    The query side is broadcast only while the planner
    (:func:`~cdap_geo_spark.functions.relational.broadcastable`) finds
    it small; a large query set falls back to a partitioned cartesian
    join — same total work (brute force is inherently |C| x |Q|), no
    driver/executor broadcast overflow.
    """
    q = queries.select(F.col(query_id),
                       F.col(vec_col).cast("array<double>").alias("_qv"))
    # widen a narrow corpus scan: with a broadcast query side the
    # |C|x|Q| dot products run on the CORPUS partitioning, so a
    # one-file input serializes the whole scoring stage (no-op on
    # well-partitioned inputs — see ensure_min_parallelism)
    c = ensure_min_parallelism(
        corpus.select(F.col(corpus_id),
                      F.col(vec_col).cast("array<double>").alias("_cv")))
    if broadcast_queries == "auto":
        broadcast_queries = broadcastable(q)
    joined = c.crossJoin(F.broadcast(q) if broadcast_queries else q)
    scored = joined.withColumn("_cos", cosine("_qv", "_cv"))
    w = Window.partitionBy(query_id).orderBy(F.col("_cos").desc(),
                                             F.col(corpus_id))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "rank"))


def hyperplane_signature_udf(dim: int, n_planes: int = 16, seed: int = 5):
    """Arrow PUDF: embedding -> int bucket signature (sign bits against
    deterministic random hyperplanes — same planes on every executor)."""
    assert n_planes <= 62
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim)).astype(np.float64)
    powers = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @pandas_udf(T.LongType())
    def _sig(vecs: pd.Series) -> pd.Series:
        # stack the whole batch -> one matmul
        mask = np.array([v is not None and len(v) == dim for v in vecs])
        out = np.zeros(len(vecs), np.int64)
        if mask.any():
            mat = np.stack([np.asarray(v, np.float64)
                            for v, m in zip(vecs, mask) if m])
            bits = (mat @ planes.T) > 0
            out[mask] = bits @ powers
        return pd.Series(out)
    return _sig


def lsh_topk(corpus: DataFrame, queries: DataFrame, *, k: int, dim: int,
             n_planes: int = 12, probes: int = 1,
             corpus_id: str = "vec_id", query_id: str = "query_id",
             vec_col: str = "embedding",
             broadcast_queries: bool | str = "auto") -> DataFrame:
    """Approximate top-k: hyperplane-bucket equi-join + exact rerank.

    ``probes`` > 1 also probes buckets at hamming distance 1 from the
    query's bucket (multi-probe LSH) to recover recall without more
    tables. The EXPLODED probe relation (queries x probed buckets) is
    broadcast only while the planner finds it small; otherwise the
    bucket match runs as a plain shuffle equi-join — the corpus side
    still never rebuckets, it just shuffles (bucket, id, vec) once.
    """
    sig = hyperplane_signature_udf(dim, n_planes)
    # signature PUDF + candidate scoring run on the corpus
    # partitioning when the probe side broadcasts — widen narrow scans
    # FIRST (the signature keeps the ORIGINAL dtype: float32 vs double
    # dot products can differ in sign near zero, changing buckets)
    c = ensure_min_parallelism(
            corpus.select(F.col(corpus_id), F.col(vec_col))) \
        .select(F.col(corpus_id),
                F.col(vec_col).cast("array<double>").alias("_cv"),
                sig(F.col(vec_col)).alias("_bucket"))
    q = queries.select(F.col(query_id),
                       F.col(vec_col).cast("array<double>").alias("_qv"),
                       sig(F.col(vec_col)).alias("_b0"))
    fanout = (n_planes + 1) if probes > 1 else 1
    if broadcast_queries == "auto":
        broadcast_queries = broadcastable(q, fanout)
    if probes > 1:
        flips = [F.col("_b0")] + [
            F.col("_b0").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]
        q = q.withColumn("_bucket", F.explode(F.array(*flips)))
    else:
        q = q.withColumn("_bucket", F.col("_b0"))
    probe = q.select(query_id, "_qv", "_bucket")
    cand = c.join(F.broadcast(probe) if broadcast_queries else probe,
                  "_bucket")
    scored = cand.withColumn("_cos", cosine("_qv", "_cv"))
    w = Window.partitionBy(query_id).orderBy(F.col("_cos").desc(),
                                             F.col(corpus_id))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "rank", "_cos"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the cluster-routed scale path
# ---------------------------------------------------------------------------

def ivf_centroids(dim: int, n_clusters: int = 16,
                  seed: int = 11) -> np.ndarray:
    """Deterministic unit-norm coarse-quantizer centroids.

    Seeded random directions (not data-trained): identical on every
    executor with no broadcast, and exactly recomputable by the SQL
    oracle as literal arrays — the same determinism contract as the
    LSH hyperplanes. For data-adapted centroids use :func:`ivf_train`.
    """
    rng = np.random.RandomState(seed)
    c = rng.normal(size=(n_clusters, dim)).astype(np.float64)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_train(corpus: DataFrame, *, dim: int, n_clusters: int = 16,
              sample_rows: int = 4096, iters: int = 10, seed: int = 11,
              corpus_id: str = "vec_id",
              vec_col: str = "embedding") -> np.ndarray:
    """Deterministic spherical k-means on a bounded driver-side sample.

    Sample = first ``sample_rows`` by id (stable under re-runs, no
    randomness from partitioning); init = seeded rows of the sample;
    ``iters`` fixed Lloyd steps on the unit sphere. The sample is the
    ONLY driver-side collect (bounded), training is a NumPy matmul
    loop — at 100 TB you train on the same bounded sample and the
    corpus is only ever touched by the map-side assignment pass.
    """
    pdf = (corpus.select(corpus_id, vec_col).orderBy(corpus_id)
           .limit(sample_rows).toPandas())
    mat = np.stack([np.asarray(v, np.float64) for v in pdf[vec_col]
                    if v is not None and len(v) == dim])
    return _spherical_kmeans(mat, n_clusters, iters, seed)


def _spherical_kmeans(mat: np.ndarray, n_clusters: int, iters: int,
                      seed: int) -> np.ndarray:
    """Fixed-iteration Lloyd on the unit sphere — pure NumPy, shared
    verbatim by the Spark sampler (:func:`ivf_train`) and the
    Spark-free oracle twin (:func:`ivf_train_parquet`) so both train
    BIT-IDENTICAL centroids from the same sample."""
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                           1e-12)
    rng = np.random.RandomState(seed)
    cents = mat[rng.choice(len(mat), n_clusters, replace=False)]
    for _ in range(iters):
        assign = (mat @ cents.T).argmax(axis=1)
        for j in range(n_clusters):
            sel = mat[assign == j]
            if len(sel):
                m = sel.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 1e-12:
                    cents[j] = m / n
    return cents


def ivf_train_parquet(path: str, *, dim: int, n_clusters: int = 16,
                      sample_rows: int = 4096, iters: int = 10,
                      seed: int = 11, corpus_id: str = "vec_id",
                      vec_col: str = "embedding") -> np.ndarray:
    """:func:`ivf_train` without a SparkSession: the oracle-SQL
    generator trains the SAME centroids from the same parquet sample
    (sorted by id, first ``sample_rows``) via pyarrow, then embeds
    them as literal arrays — keeping the ivf_ann oracle exactly
    recomputable with data-adapted centroids."""
    import pyarrow.parquet as pq
    pdf = (pq.read_table(path, columns=[corpus_id, vec_col])
           .to_pandas().sort_values(corpus_id).head(sample_rows))
    mat = np.stack([np.asarray(v, np.float64) for v in pdf[vec_col]
                    if v is not None and len(v) == dim])
    return _spherical_kmeans(mat, n_clusters, iters, seed)


def ivf_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """Arrow PUDF: embedding -> top-``nprobe`` centroid ids by cosine
    (ties by centroid id — the order the SQL oracle reproduces with
    ``ORDER BY cos DESC, cid``). One batch matmul; map-side only."""
    cents = np.ascontiguousarray(centroids, np.float64)
    dim = cents.shape[1]

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _assign(vecs: pd.Series) -> pd.Series:
        mask = np.array([v is not None and len(v) == dim for v in vecs])
        out = [None] * len(vecs)
        if mask.any():
            mat = np.stack([np.asarray(v, np.float64)
                            for v, m in zip(vecs, mask) if m])
            dots = mat @ cents.T
            # stable argsort desc => ties resolve to the lower cid
            top = np.argsort(-dots, axis=1, kind="stable")[:, :nprobe]
            it = iter(top)
            for i, m in enumerate(mask):
                if m:
                    out[i] = [int(x) for x in next(it)]
        return pd.Series(out)
    return _assign


def ivf_topk(corpus: DataFrame, queries: DataFrame, *, k: int, dim: int,
             n_clusters: int = 16, nprobe: int = 4,
             centroids: np.ndarray | None = None,
             corpus_id: str = "vec_id", query_id: str = "query_id",
             vec_col: str = "embedding",
             broadcast_queries: bool | str = "auto") -> DataFrame:
    """Approximate top-k via inverted lists: corpus rows live in their
    nearest-centroid list (ONE map-side assignment, no shuffle of the
    corpus), queries probe their ``nprobe`` nearest lists, candidates
    come from a list equi-join — query side broadcast only while the
    exploded probe set (queries x nprobe) is small, else a
    plain shuffle equi-join on the list id — and the exact cosine
    re-rank runs on candidates only. Recall rises with ``nprobe`` at
    linear candidate cost — the IVF-flat recipe.
    """
    cents = centroids if centroids is not None \
        else ivf_centroids(dim, n_clusters)
    # centroid assignment + candidate scoring run on the corpus
    # partitioning when the probe side broadcasts — widen narrow scans
    # FIRST (assignment keeps the ORIGINAL dtype so list routing is
    # bit-identical to the un-widened plan)
    c = ensure_min_parallelism(
            corpus.select(F.col(corpus_id), F.col(vec_col))) \
        .select(F.col(corpus_id),
                F.col(vec_col).cast("array<double>").alias("_cv"),
                F.element_at(ivf_assign_udf(cents, 1)(F.col(vec_col)), 1)
                .alias("_list"))
    qbase = queries.select(
        F.col(query_id),
        F.col(vec_col).cast("array<double>").alias("_qv"))
    if broadcast_queries == "auto":
        broadcast_queries = broadcastable(qbase, max(1, nprobe))
    q = queries.select(
        F.col(query_id),
        F.col(vec_col).cast("array<double>").alias("_qv"),
        F.explode(ivf_assign_udf(cents, nprobe)(F.col(vec_col)))
        .alias("_list"))
    cand = c.join(F.broadcast(q) if broadcast_queries else q, "_list")
    scored = cand.withColumn("_cos", cosine("_qv", "_cv"))
    w = Window.partitionBy(query_id).orderBy(F.col("_cos").desc(),
                                             F.col(corpus_id))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, corpus_id, "rank", "_cos"))


# ---------------------------------------------------------------------------
# embedding near-duplicate pairs (banded hyperplane LSH + exact verify)
# ---------------------------------------------------------------------------

def banded_signature_udf(dim: int, bands: int, rows_per_band: int,
                         seed: int = 5):
    """Arrow PUDF: embedding -> array of ``bands`` int band-keys
    (each the sign-bit pattern of ``rows_per_band`` hyperplanes).
    One matmul per batch; constants deterministic from ``seed`` so the
    SQL oracle recomputes identical keys."""
    n_planes = bands * rows_per_band
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim)).astype(np.float64)
    powers = (np.int64(1) << np.arange(rows_per_band, dtype=np.int64))

    @pandas_udf(T.ArrayType(T.LongType()))
    def _sig(vecs: pd.Series) -> pd.Series:
        mask = np.array([v is not None and len(v) == dim for v in vecs])
        out = [None] * len(vecs)
        if mask.any():
            mat = np.stack([np.asarray(v, np.float64)
                            for v, m in zip(vecs, mask) if m])
            bits = (mat @ planes.T) > 0                # (m, bands*r)
            keys = bits.reshape(len(mat), bands,
                                rows_per_band) @ powers  # (m, bands)
            it = iter(keys)
            for i, m in enumerate(mask):
                if m:
                    out[i] = [int(x) for x in next(it)]
        return pd.Series(out)
    return _sig


def embedding_dup_pairs(df: DataFrame, *, dim: int,
                        threshold: float = 0.9, bands: int = 4,
                        rows_per_band: int = 4, seed: int = 5,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Near-duplicate pairs by embedding cosine — the vector analogue
    of MinHash dedup: banded sign-bit LSH generates candidates (same
    band key in ANY band -> sub-quadratic; never an all-pairs join),
    exact cosine (native zip_with/aggregate, JVM codegen) verifies
    ``>= threshold``. Output: distinct (id_a, id_b), id_a < id_b.

    Scale: the corpus shuffles only (band, key, id) triples; verify
    re-joins vectors by id. Raise ``rows_per_band`` as the corpus
    grows (collision rate ~ n/2^r per band) and ``bands`` to recover
    recall — the standard LSH operating curve.
    """
    sig = banded_signature_udf(dim, bands, rows_per_band, seed)
    # materialized ONCE (lineage-truncating): base feeds four plan
    # sites (key explode + both verify sides) and the Arrow signature
    # UDF would otherwise re-run per site — same re-derivation trap as
    # minhash/simhash (operators/dedup.py), measured 2.7x there
    base = track_checkpoint(
        ensure_min_parallelism(
            df.select(F.col(id_col).alias("_id"), F.col(vec_col)))
          .select("_id",
                  F.col(vec_col).cast("array<double>").alias("_v"),
                  sig(F.col(vec_col)).alias("_sig"))
          .localCheckpoint())
    keys = base.select(
        "_id",
        F.posexplode("_sig").alias("band", "key")).where(
        F.col("key").isNotNull())
    cand = (keys.toDF("ida", "band", "key")
            .join(keys.toDF("idb", "band", "key"), ["band", "key"])
            .filter(F.col("ida") < F.col("idb"))
            .select("ida", "idb").dropDuplicates(["ida", "idb"]))
    va = base.select(F.col("_id").alias("ida"), F.col("_v").alias("_va"))
    vb = base.select(F.col("_id").alias("idb"), F.col("_v").alias("_vb"))
    verified = (cand.join(va, "ida").join(vb, "idb")
                .withColumn("_cos", cosine("_va", "_vb"))
                .filter(F.col("_cos") >= F.lit(float(threshold))))
    return verified.select("ida", "idb")


def semantic_dedup(df: DataFrame, *, dim: int, threshold: float,
                   n_clusters: int = 16,
                   centroids: np.ndarray | None = None,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space, then mark as duplicate any document
    whose cosine similarity to a LOWER-id document in the SAME cluster
    reaches ``threshold``. Output: one row per input vector —
    ``(id, cluster_id, is_dup)`` with ``is_dup`` ∈ {0, 1}; survivors
    are the ``is_dup = 0`` rows.

    This is the deterministic pairwise-to-any-lower-id variant (the
    paper's greedy keep-one-per-group chain is order-dependent and
    inherently sequential within a cluster; anchoring on the id order
    makes the flag a pure EXISTS, parallel and exactly recomputable by
    the SQL oracle). Relative to :func:`embedding_dup_pairs` the
    candidate bound comes from the CLUSTER partition, not LSH bands:
    cost is Σ|c|² over clusters — the SemDeDup design point, with
    ``n_clusters`` grown with the corpus (the paper uses ~√N-scale k)
    so mean cluster size, and with it the per-cluster quadratic term,
    stays bounded.

    Plan: centroid assignment is ONE map-side Arrow batch matmul
    (:func:`ivf_assign_udf` — the corpus never shuffles to be
    assigned); the self equi-join shuffles (cluster, id, vec) once on
    cluster id, AQE splitting any hot cluster; the verify is native
    zip_with/aggregate cosine in whole-stage codegen; the flag folds
    back as a left semi-style aggregation on the dup side only.

    ``centroids``: pass :func:`ivf_train` output (trained spherical
    k-means, unit rows) for real corpora; defaults to the seeded unit
    directions of :func:`ivf_centroids` when omitted.
    """
    cents = centroids if centroids is not None \
        else ivf_centroids(dim, n_clusters)
    base = track_checkpoint(
        ensure_min_parallelism(
            df.select(F.col(id_col), F.col(vec_col)))
          .select(F.col(id_col).alias("_id"),
                  F.col(vec_col).cast("array<double>").alias("_v"),
                  F.element_at(ivf_assign_udf(cents, 1)(F.col(vec_col)), 1)
                   .alias("cluster_id"))
          .localCheckpoint())
    a = base.select(F.col("_id").alias("_ida"),
                    F.col("_v").alias("_va"), "cluster_id")
    b = base.select(F.col("_id").alias("_idb"),
                    F.col("_v").alias("_vb"), "cluster_id")
    dups = (a.join(b, "cluster_id")
             .filter(F.col("_ida") < F.col("_idb"))
             .withColumn("_cos", cosine("_va", "_vb"))
             .filter(F.col("_cos") >= F.lit(float(threshold)))
             .select(F.col("_idb").alias("_id"))
             .distinct()
             .withColumn("_dup", F.lit(1)))
    return (base.join(dups, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.col("cluster_id").cast("long"),
                    F.coalesce(F.col("_dup"), F.lit(0))
                     .cast("long").alias("is_dup")))
