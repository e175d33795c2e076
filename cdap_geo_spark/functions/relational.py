"""Relational utility operators from the reference's utils layer."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sdf_groupmax(df: DataFrame, group, maximise: str) -> DataFrame:
    """Per-group argmax: keep rows whose ``maximise`` equals the group
    max (ties kept) — verbatim semantics of the reference's
    ``sdf_groupmax`` (``cdap_geo/utils.py:82-89``), expressed with the
    same window aggregate."""
    group = [group] if isinstance(group, str) else list(group)
    w = Window.partitionBy(*group)
    return (df.withColumn("_gmax", F.max(maximise).over(w))
              .filter(F.col(maximise) == F.col("_gmax"))
              .drop("_gmax"))


def global_bounds(df: DataFrame, minx="minx", miny="miny",
                  maxx="maxx", maxy="maxy") -> DataFrame:
    """Dataset bbox aggregate — the reference's ``geoparquetify`` stats
    pass (``cdap_geo/write.py:43-54``) as one partial+final hash agg."""
    return df.agg(F.min(minx).alias("minx"), F.min(miny).alias("miny"),
                  F.max(maxx).alias("maxx"), F.max(maxy).alias("maxy"))


def sdf_unique(df: DataFrame, col: str) -> list:
    """Distinct values of one column, collected driver-side — verbatim
    semantics of the reference's ``sdf_unique``
    (``cdap_geo/utils.py:61-62``). Driver-bounded only by the column's
    cardinality; for corpus-cardinality columns prefer keeping the
    ``distinct()`` relation distributed."""
    return df.select(col).distinct().collect()


def sdf_memsize(df: DataFrame) -> int:
    """Estimated in-memory size of the relation in bytes.

    Name parity with the reference's ``sdf_memsize``
    (``cdap_geo/utils.py:66-69``), which reserializes the whole RDD
    through the JVM ``SizeEstimator`` — a full scan plus a pickle
    round-trip per row. Here the estimate comes from Catalyst's
    optimized-plan statistics (the same source ``sdf_autopartition``
    uses): zero jobs, safe at any scale, and it reflects parquet
    min/max-pruned scans rather than the pickled-Python
    representation. Absolute numbers therefore differ from the
    reference; ratios between relations are comparable."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(str(stats.sizeInBytes()))


#: Row cap of the fallback probe in :func:`broadcastable`, for frames
#: whose size Catalyst cannot estimate (RDD-backed relations). The
#: broadcast side of the engine's joins is a few hundred bytes per row
#: (ids + bounds + WKB), so 250k rows stays well under a 256 MB
#: broadcast.
BROADCAST_PROBE_ROWS = 250_000


def broadcast_enabled(spark) -> bool:
    """Spark's own switch for broadcast joins: off when
    ``spark.sql.autoBroadcastJoinThreshold`` is negative."""
    conf = spark._jsparkSession.sessionState().conf()
    return conf.autoBroadcastJoinThreshold() >= 0


def broadcastable(df: DataFrame, fanout: int = 1) -> bool:
    """True when ``df``, replicated ``fanout`` times by the join that
    consumes it, is small enough to broadcast.

    Spark's own ``JoinSelection`` rule on the optimizer's estimate
    (:func:`sdf_memsize`, zero jobs): ``size x fanout <=
    spark.sql.autoBroadcastJoinThreshold``, and never when that
    threshold is negative (broadcast disabled). Only when the estimate
    is unknown — it is ``spark.sql.defaultSizeInBytes`` for RDD-backed
    frames — fall back to a bounded ``limit(cap+1).count()`` probe with
    ``cap = BROADCAST_PROBE_ROWS // fanout``: two small jobs that read
    at most cap+1 rows, never a full scan."""
    if not broadcast_enabled(df.sparkSession):
        return False
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    threshold = conf.autoBroadcastJoinThreshold()
    size = sdf_memsize(df)
    if size < conf.defaultSizeInBytes():
        return size * fanout <= threshold
    cap = max(1, BROADCAST_PROBE_ROWS // fanout)
    return df.limit(cap + 1).count() <= cap


def sdf_print_stats(df: DataFrame, name: str | None = None) -> DataFrame:
    """Print ``name: Count=…, Size=…, Parts=…`` and return the frame —
    the reference's debug helper (``cdap_geo/utils.py:71-78``), minus
    its stack-frame variable-name sniffing (pass ``name=``). Count is
    one job; Size/Parts are plan-side (no extra scan, unlike the
    reference's SizeEstimator pass)."""
    if name is None:
        name = "sdf"
    count = df.count()
    size = sdf_memsize(df)
    parts = df.rdd.getNumPartitions()
    print(f"{name}:  Count={count},  Size={size},  Parts={parts}")
    return df


def sdf_autopartition(df: DataFrame, partition_by=None, *,
                      count_ratio: float = 1e-6,
                      mem_ratio: float = 1 / 1024 ** 2,
                      thread_ratio: float = 1.5,
                      jobs_cap: int = 100_000) -> DataFrame:
    """Widen the partition count to max(rows*count_ratio,
    bytes*mem_ratio, parallelism*thread_ratio), capped — the exact
    sizing rule of the reference's ``sdf_autopartition``
    (``cdap_geo/write.py:82-97``: 1M rows/partition, 1 MB/partition,
    1.5 tasks/core), but estimated from Catalyst plan STATISTICS
    instead of the reference's two extra jobs (``rdd.countApprox`` +
    a full memsize scan). Never shrinks (AQE coalescing already
    handles over-partitioning at runtime). Returns the (possibly)
    repartitioned frame."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    size_bytes = int(str(stats.sizeInBytes()))
    rc = stats.rowCount()
    rows = int(str(rc.get())) if rc.isDefined() else None
    spark = df.sparkSession
    targets = [round(size_bytes * mem_ratio),
               round(spark.sparkContext.defaultParallelism * thread_ratio)]
    if rows is not None:
        targets.append(round(rows * count_ratio))
    target = max(min(t, jobs_cap) for t in targets)
    current = df.rdd.getNumPartitions()
    if target <= current:
        return df
    if partition_by:
        cols = ([partition_by] if isinstance(partition_by, str)
                else list(partition_by))
        return df.repartition(target, *[F.col(c) for c in cols])
    return df.repartition(target)


def ensure_min_parallelism(df: DataFrame, target: int | None = None
                           ) -> DataFrame:
    """Widen a NARROW scan to the session parallelism — the
    single-input-file trap: a one-file parquet scan plans one task
    regardless of cluster size (parquet only splits at row-group
    boundaries), so any map-heavy stage downstream (gram hashing,
    fingerprints, signature PUDFs) runs serialized on one core.
    Measured at sf0.1/local[32]: the ngram gram-hash stage dropped
    8.3 s -> 1.3 s from this one exchange.

    Deliberately conservative, unlike ``sdf_autopartition`` (the
    reference's widening rule): it fires ONLY when the planned
    partition count is below ``defaultParallelism``, so at production
    scale — thousands of input files, partitions >> cores — it is a
    pure no-op and never inserts a shuffle. When it does fire, the
    exchange moves only the raw input rows (ids + text), which is
    strictly cheaper than serializing the downstream compute."""
    spark = df.sparkSession
    target = target or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def apply_changelog(base: DataFrame, changes: DataFrame, *,
                    key: str, version_col: str = "version",
                    op_col: str = "op") -> DataFrame:
    """CDC / lakehouse merge: apply a changelog of upserts and deletes
    to a base snapshot, latest version per key wins. ``changes``
    carries ``(key, version, op, <payload...>)`` with op ``'U'``
    (upsert) or ``'D'`` (delete); base rows are implicit version-0
    upserts. Returns the new snapshot (base schema, no ``version``/
    ``op`` columns).

    Deterministic by contract: ``(key, version)`` must be unique in
    ``changes`` (the usual CDC log invariant) — the winner is then
    well-defined without arbitrary ties.

    Plan: ONE exchange — tag sides, ``unionByName``, a per-key window
    takes the max-version row, a filter drops deletions. This is the
    compaction a 100 TB table's nightly merge needs: no join of base
    against changes (the classic MERGE anti-pattern shuffles both
    sides TWICE through join + dedup), just union + one keyed window.
    """
    from pyspark.sql import Window
    payload = [c for c in base.columns if c != key]
    b = base.select(key, *payload,
                    F.lit(0).cast("long").alias("_v"),
                    F.lit("U").alias("_op"))
    c = changes.select(
        key, *payload,
        F.col(version_col).cast("long").alias("_v"),
        F.col(op_col).alias("_op"))
    u = b.unionByName(c)
    w = Window.partitionBy(key).orderBy(F.desc("_v"))
    return (u.withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") == 1) & (F.col("_op") != "D"))
            .select(key, *payload))


def scd2_build(changes: DataFrame, *, key: str,
               version_col: str = "version",
               op_col: str = "op") -> DataFrame:
    """Slowly-Changing-Dimension Type 2 history build — the lakehouse
    twin of :func:`apply_changelog`: from the same CDC changelog
    ``(key, version, op, <payload...>)`` (op 'U' upsert / 'D' delete,
    ``(key, version)`` unique — the CDC determinism contract) build the
    full validity-interval history: one row per UPSERT carrying
    ``valid_from`` (its version), ``valid_to`` (the next change's
    version, NULL while current) and ``is_current``. A delete closes
    the preceding interval and emits no row of its own.

    Plan: ONE keyed exchange — a per-key ``LEAD`` over the version
    order assigns every change its successor version, then a filter
    keeps upserts. No join of the log against itself (the pairwise
    MERGE formulation shuffles twice); at 100 TB the nightly history
    rebuild costs exactly one shuffle of the changelog. Versions are
    exact BIGINTs, so the interval relation is cross-engine hashable.
    """
    from pyspark.sql import Window
    payload = [c for c in changes.columns
               if c not in (key, version_col, op_col)]
    w = Window.partitionBy(key).orderBy(F.col(version_col).cast("long"))
    return (changes
            .withColumn("_vt",
                        F.lead(F.col(version_col).cast("long")).over(w))
            .where(F.col(op_col) == "U")
            .select(key, *payload,
                    F.col(version_col).cast("long").alias("valid_from"),
                    F.col("_vt").alias("valid_to"),
                    F.col("_vt").isNull().cast("long")
                    .alias("is_current")))


def pivot_counts(df: DataFrame, *, group_col: str, pivot_col: str,
                 values: list, value_col: str | None = None) -> DataFrame:
    """Wide-format pivot over an EXPLICIT category list — the
    reporting surface (Catalyst grouping with one map-side-combining
    exchange). Returns one row per ``group_col`` with a BIGINT count
    column per category (named after the category), counting rows —
    or, with ``value_col``, summing its integer values.

    ``values`` is required, not inferred: passing the pivot domain
    explicitly skips the extra distinct-scan job Spark otherwise runs
    AND keeps the output schema static — the property a production
    pipeline (and a cross-engine hash compare) needs. Unmatched
    categories yield 0, never NULL.
    """
    if not values:
        raise ValueError("pivot_counts: values must be non-empty")
    agg = (F.sum(F.col(value_col)) if value_col
           else F.count(F.lit(1)))
    out = (df.groupBy(group_col)
           .pivot(pivot_col, values)
           .agg(agg.alias("_v")))
    return out.select(
        group_col,
        *[F.coalesce(F.col(f"`{v}`"), F.lit(0)).cast("long").alias(str(v))
          for v in values])


def profile_columns(df: DataFrame, cols: list) -> DataFrame:
    """Data-quality column profile (the Deequ/Great-Expectations
    staple): one row per column with ``(column, n_rows, n_nulls,
    n_distinct, min_s, max_s)``. min/max aggregate on the NATIVE type
    and stringify afterwards, so numeric columns order numerically;
    restrict ``cols`` to string/integer columns when the output must
    be cross-engine hashable (float stringification is engine-
    specific).

    Plan: ONE pass over the scan into a single 1-row aggregate, then
    a driver-free literal explode to the per-column relation. The k
    exact ``count(distinct)``s plan as one Expand (×k row
    multiplication before the partial aggregate) — the inherent cost
    of exact multi-column distinct in one pass; when k·rows is too
    much at corpus scale, profile per column, or take the approximate
    path (``operators/sketch.hll_relation`` per column: mergeable,
    bounded exchange).
    """
    if not cols:
        raise ValueError("profile_columns: cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}"),
            F.count_distinct(F.col(c)).alias(f"_dist_{c}"),
            F.min(c).cast("string").alias(f"_min_{c}"),
            F.max(c).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col("_n").cast("long").alias("n_rows"),
                 F.col(f"_nulls_{c}").cast("long").alias("n_nulls"),
                 F.col(f"_dist_{c}").cast("long").alias("n_distinct"),
                 F.col(f"_min_{c}").alias("min_s"),
                 F.col(f"_max_{c}").alias("max_s"))
        for c in cols])
    return (one.select(F.explode(rows).alias("_r"))
            .select("_r.column", "_r.n_rows", "_r.n_nulls",
                    "_r.n_distinct", "_r.min_s", "_r.max_s"))


def dq_check(df: DataFrame, rules: dict, *,
             unique_cols: list = ()) -> DataFrame:
    """Data-quality expectation checking (the Deequ/Great-Expectations
    verify step, companion of :func:`profile_columns`): ``rules`` maps
    rule name -> boolean Column (True = row passes; NULL counts as a
    VIOLATION — null-hostile by design, like SQL CHECK constraints
    are not); ``unique_cols`` adds ``unique:<col>`` rules with
    ``n_rows − n_distinct`` violations (exact). Returns one row per
    rule: ``(rule, n_rows, n_violations)``.

    Plan: ONE pass — every rule folds into a single 1-row aggregate
    (map-side partials; uniqueness rules add one Expand, the
    :func:`profile_columns` cost note), then a literal explode. At
    100 TB this is a scan plus k counters.
    """
    if not rules and not unique_cols:
        raise ValueError("dq_check: need at least one rule")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, cond in rules.items():
        aggs.append(F.sum((~F.coalesce(cond, F.lit(False)))
                          .cast("long")).alias(f"_v_{name}"))
    for c in unique_cols:
        aggs.append(F.count_distinct(F.col(c)).alias(f"_d_{c}"))
    one = df.agg(*aggs)
    entries = [
        F.struct(F.lit(name).alias("rule"),
                 F.col("_n").cast("long").alias("n_rows"),
                 F.coalesce(F.col(f"_v_{name}"), F.lit(0)).cast("long")
                 .alias("n_violations"))
        for name in rules]
    entries += [
        F.struct(F.lit(f"unique:{c}").alias("rule"),
                 F.col("_n").cast("long").alias("n_rows"),
                 (F.col("_n") - F.col(f"_d_{c}")).cast("long")
                 .alias("n_violations"))
        for c in unique_cols]
    return (one.select(F.explode(F.array(*entries)).alias("_r"))
            .select("_r.rule", "_r.n_rows", "_r.n_violations"))


# Benford first-digit frequencies log10(1 + 1/d), computed once in
# Python and embedded as literals in BOTH engines (same literal text ⇒
# same double ⇒ identical IEEE arithmetic downstream).
BENFORD_P = tuple(__import__("math").log10(1.0 + 1.0 / d)
                  for d in range(1, 10))


def benford_deviation(df: DataFrame, *, value_col: str,
                      value_scale: int = 100) -> DataFrame:
    """Benford's-law conformity check (the classic fraud/DQ screen for
    naturally-occurring magnitudes): the observed first-significant-
    digit distribution of ``value_col`` against the Benford expectation
    ``log10(1 + 1/d)``, plus the chi² statistic. Returns 9 rows
    ``(digit, n_obs, exp_u, chi2_u)`` — exact counts, micro-rounded
    expected count, and the (shared) micro-rounded chi² total.

    Determinism: values are integer-scaled; the first digit is read
    from the BIGINT's decimal string (engines print integers
    identically — no log10/float in the digit path). The chi² sum is
    a LEFT FOLD over the digit-sorted term array, so the 9-term float
    accumulation order is pinned in both engines.

    Plan: one scan → 9-group count, then literal-dimension joins on a
    9-row frame — scan + counters at any scale.
    """
    if value_scale < 1:
        raise ValueError("benford_deviation: value_scale must be >= 1")
    scaled = F.round(F.abs(F.col(value_col)) * value_scale).cast("long")
    obs = (df.where(F.col(value_col).isNotNull())
           .select(scaled.alias("_s")).where(F.col("_s") > 0)
           .select(F.substring(F.col("_s").cast("string"), 1, 1)
                   .cast("long").alias("digit"))
           .groupBy("digit")
           .agg(F.count(F.lit(1)).cast("long").alias("n_obs")))
    digits = df.sparkSession.range(1, 10).select(
        F.col("id").alias("digit"))
    full = (digits.join(obs, "digit", "left")
            .select("digit",
                    F.coalesce("n_obs", F.lit(0)).cast("long")
                    .alias("n_obs")))
    exp_frac = None
    for d, p in enumerate(BENFORD_P, start=1):
        lit = F.lit(p)
        exp_frac = (F.when(F.col("digit") == d, lit) if exp_frac is None
                    else exp_frac.when(F.col("digit") == d, lit))
    n_total = full.agg(F.sum("n_obs").cast("long").alias("_n"))
    terms = (full.crossJoin(F.broadcast(n_total))
             .withColumn("_e", F.col("_n").cast("double") * exp_frac)
             .withColumn("_t", (F.col("n_obs").cast("double")
                                - F.col("_e"))
                         * (F.col("n_obs").cast("double") - F.col("_e"))
                         / F.col("_e")))
    chi2 = terms.agg(
        F.aggregate(F.array_sort(F.collect_list(
            F.struct(F.col("digit"), F.col("_t").alias("t")))),
            F.lit(0.0), lambda acc, x: acc + x["t"]).alias("_chi2"))
    return (terms.crossJoin(F.broadcast(chi2))
            .select("digit", "n_obs",
                    F.round(F.lit(1_000_000.0) * F.col("_e"))
                    .cast("long").alias("exp_u"),
                    F.round(F.lit(1_000_000.0) * F.col("_chi2"))
                    .cast("long").alias("chi2_u")))


def k_anonymity(df: DataFrame, *, quasi_cols: list,
                k: int = 5) -> DataFrame:
    """k-anonymity audit (the privacy gate a dataset must pass before
    release): group rows by the quasi-identifier columns and report how
    many equivalence classes — and how many ROWS — fall below the
    anonymity threshold ``k``. One row: ``(n_rows, n_classes,
    n_violating_classes, rows_at_risk, min_class_size)``, all exact
    BIGINT.

    NULL handling: a NULL quasi-identifier value is its own class value
    (SQL GROUP BY semantics, identical cross-engine).

    Plan: one groupBy on the quasi columns (map-side partials), then a
    1-row rollup — two exchanges, the second over class counts only.
    """
    if not quasi_cols:
        raise ValueError("k_anonymity: quasi_cols must be non-empty")
    if k < 2:
        raise ValueError("k_anonymity: k must be >= 2")
    classes = (df.groupBy(*[F.col(c) for c in quasi_cols])
               .agg(F.count(F.lit(1)).cast("long").alias("_sz")))
    viol = F.col("_sz") < k
    return classes.agg(
        F.sum("_sz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(viol.cast("long")).cast("long")
         .alias("n_violating_classes"),
        F.sum(F.when(viol, F.col("_sz")).otherwise(0)).cast("long")
         .alias("rows_at_risk"),
        F.min("_sz").cast("long").alias("min_class_size"))
