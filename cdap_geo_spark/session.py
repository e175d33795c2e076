"""SparkSession factory with the engine's scale-oriented defaults.

Single place for the conf the 100 TB design relies on: AQE (runtime
broadcast conversion, partition coalescing, skew-join splitting),
Arrow batches for the kernels' UDFs and passes, and shuffle-partition
sizing. On a real cluster the same conf ships via
``spark-submit --py-files`` (north rule); locally we pin
``local[N]`` so the bench can compare N vs 4N cores.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.traceback_utils import SCCallSiteSync

ENGINE_CONF = {
    # AQE: runtime re-plan — broadcast conversion, coalesce, skew split
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # Arrow boundary for the kernels' UDFs and mapInArrow passes (and
    # the other operators' pandas UDFs). 64k-row batches: a
    # same-window A/B at sf0.1/local[32] measured 135 s (10k rows) vs
    # 62.8 s (64k rows) for the headline — per-batch socket/IPC/pandas
    # overhead multiplied across 32 task pipelines dominates at small
    # batches. 64k rows of (ids + bounds + WKB) is ~15 MB per batch —
    # well inside executor memory at any scale.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # pinned: forked python workers persist across tasks AND stages so
    # the per-worker import cost is paid once per core
    "spark.python.worker.reuse": "true",
    # throughput GC: the headline's warm main stage spent 609 s of its
    # 1261 s JVM CPU in G1 pauses at 32 task threads; ParallelGC + the
    # larger default heap below cut the same run 158 s -> 104 s
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    # parquet scans keep pushdown + vectorized reader (defaults, pinned)
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.session.timeZone": "UTC",
    # id->payload fetch-back relations (narrow, few MB per million rows)
    # should broadcast rather than shuffle the wide pair side
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64m",
}


def _tune_malloc_env() -> None:
    """Pin glibc to reuse heap pages instead of munmap'ing large blocks.

    This sandbox is a microVM where FIRST-TOUCH page faults cost ~0.8ms
    per 4K page (~5 MB/s!); freed mmap'ed blocks return pages to the
    host and re-fault on the next allocation. Forcing large allocations
    onto the (retained) heap makes every allocation after the first
    touch fast. Must run BEFORE the JVM launches so the python workers
    forked from it inherit the environment.
    """
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")


def _default_driver_memory() -> str:
    """Half the host's physical memory, at most 24g: a local session's
    heap has to fit beside its Python workers and the rest of the host."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2, 24 << 30) >> 20}m"


def get_spark(app: str = "cdap_geo_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None,
              master: str | None = None) -> SparkSession:
    """``master`` overrides the default ``local[cores]`` — e.g.
    ``local-cluster[4,4,4096]`` runs 4 SEPARATE executor JVMs with 4
    cores each (the sandbox's closest analogue to the north rule's
    multi-executor cluster; ``cores`` should then be the TOTAL so
    shuffle partitioning is sized correctly)."""
    _tune_malloc_env()
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    import tempfile
    b = (SparkSession.builder.appName(app)
         .master(master or f"local[{cores}]")
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         # bucketed tables (operators/bucketed.py) register in the
         # in-memory catalog; point the default warehouse at tmp so a
         # path-less saveAsTable never drops spark-warehouse/ into cwd
         .config("spark.sql.warehouse.dir",
                 os.environ.get("SPARK_WAREHOUSE_DIR",
                                os.path.join(tempfile.gettempdir(),
                                             "cdap_geo_warehouse")))
         .config("spark.driver.memory",
                 os.environ.get("SPARK_DRIVER_MEMORY",
                                _default_driver_memory())))
    if master and master.startswith("local-cluster"):
        # Each executor JVM must be told its OWN core budget: without
        # -XX:ActiveProcessorCount every JVM sizes GC/JIT/netty pools
        # for all machine cores (n executors x 32 GC threads on this
        # box), which measured as a per-core throughput collapse from
        # ~25k rows/s/core at 1-2 executors to ~10k at 4 and ~1-4k at
        # 8. Real clusters don't have this failure mode because the
        # container cgroup caps visible cores — this flag emulates
        # exactly that.
        try:
            exec_cores = int(master.split("[")[1].split(",")[1])
        except (IndexError, ValueError):
            exec_cores = 4
        b = (b.config("spark.executor.memory",
                      os.environ.get("SPARK_EXECUTOR_MEMORY", "4g"))
             .config("spark.executor.extraJavaOptions",
                     "-XX:+UseParallelGC "
                     f"-XX:ActiveProcessorCount={exec_cores}")
             # all executors share one box: a "remote" shuffle fetch is
             # loopback, so waiting 3s per task for a process-local
             # slot buys nothing (measured +47% on 4 executors). On a
             # REAL cluster keep the default — there locality saves
             # network.
             .config("spark.locality.wait", "0"))
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if master and master.startswith("local-cluster"):
        # separate executor JVMs spawn their own python workers, which
        # do NOT inherit the driver's sys.path — ship the package the
        # way a real cluster does (`spark-submit --py-files`, north
        # rule): zip cdap_geo_spark and addPyFile it.
        import shutil
        import tempfile
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        zip_base = os.path.join(tempfile.gettempdir(),
                                f"cdap_geo_spark_pyfiles_{os.getpid()}")
        shutil.make_archive(zip_base, "zip", root_dir=root,
                            base_dir="cdap_geo_spark")
        spark.sparkContext.addPyFile(zip_base + ".zip")
    return spark


@contextmanager
def job_label(spark: SparkSession, label: str):
    """Name every Spark job started inside the block ``label``.

    Sets the jobs' short call site (the name the Spark UI and status
    API list them under; the job description stays the caller's) and
    restores the previous one on exit. PySpark's own actions
    (``collect``, ``first``, ``toPandas``) overwrite the call site
    only when no other ``SCCallSiteSync`` is open, so the block holds
    one level of that nesting count while it runs.
    """
    sc = spark.sparkContext
    prev = sc.getLocalProperty("callSite.short")
    sc.setLocalProperty("callSite.short", label)
    SCCallSiteSync._spark_stack_depth += 1
    try:
        yield
    finally:
        SCCallSiteSync._spark_stack_depth -= 1
        sc.setLocalProperty("callSite.short", prev)
