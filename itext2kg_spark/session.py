"""SparkSession helpers tuned for this engine.

Local sandbox runs on local[N]; on a real cluster the same settings apply via
spark-submit --conf. AQE is on so skew joins re-plan at runtime; Arrow is on
because the three UDF families (distill/extract/embed) are all Arrow-batched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _export_pythonpath() -> str:
    """Make the engine importable in Spark's Python workers regardless of the
    caller's cwd (local-mode workers resolve modules via PYTHONPATH, not the
    driver's sys.path; on a cluster spark-submit --py-files does this job).
    Returns the resulting PYTHONPATH."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
        )
    return os.environ["PYTHONPATH"]


def _engine_conf(b: SparkSession.Builder, shuffle_partitions: int):
    """The session settings every topology shares."""
    return (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow record batch = the "API batch" of the reference's LLM batching
        # (langchain_output_parser.py:168-221): extraction/embedding UDFs see
        # bounded batches.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # Size scan splits for CPU-heavy UDF stages, not for scan bytes: at
        # the default 128MB a compact pages table collapses to a handful of
        # splits and the distill/extract pandas stages run at parallelism ~2.
        # 16MB keeps split count >= cores for any non-trivial input; on a
        # 100TB table the split count is huge either way and this only
        # bounds per-task memory.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )


def get_spark(
    app_name: str = "itext2kg_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """`master=None` (default) respects a master already supplied via
    spark-submit / SparkConf — local[cores] is only the fallback when none is
    configured, so `spark-submit --master yarn ... run_batch.py` actually
    runs on the cluster instead of silently dropping to single-JVM local."""
    _export_pythonpath()
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    if master is None:
        from pyspark import SparkConf

        try:
            # spark-submit injects spark.master into the JVM conf; only fall
            # back to local mode when nothing is configured
            if not SparkConf(loadDefaults=True).contains("spark.master"):
                master = f"local[{cores}]"
        except Exception:
            master = f"local[{cores}]"
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    b = (
        _engine_conf(b, shuffle_partitions)
        # Heap scales with task slots: a fixed 8g at local[32] is 0.25 GB
        # per concurrent task — far below any real executor provisioning
        # (2-4 GB/core) — and the unified pool starves: measured
        # AGGREGATE_OUT_OF_MEMORY in kg_build_graph's distinct-entity hash
        # agg at 500k docs, where localCheckpoint storage blocks held the
        # protected storage fraction while 32 hash-agg tasks contended for
        # the rest. 0.5 GB/core (min 8g) fixed it outright at 100x sf0.1.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", f"{max(8, cores // 2)}g"),
        )
        # ... and checkpoint/cache blocks must YIELD to execution rather
        # than deadlock it: the default storageFraction protects 50% of the
        # pool for storage; the engine's localCheckpoints are re-computable
        # lineage truncations, so eviction is always safe here.
        .config("spark.memory.storageFraction", "0.3")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def get_spark_cluster(
    n_executors: int,
    cores_per_executor: int = 2,
    executor_mem_mb: int = 3072,
    app_name: str = "itext2kg_spark-cluster",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Multi-JVM executor topology via Spark's local-cluster mode.

    Unlike local[n] (one shared JVM — one GC, one Arrow/IPC path), this
    spawns `n_executors` REAL executor JVMs with their own heaps and Python
    worker pools, so an N vs 4N executor comparison measures the engine, not
    single-JVM contention. This is the closest spark-submit-on-a-cluster
    stand-in a single host offers.
    """
    import pyspark

    os.environ.setdefault("SPARK_HOME", pyspark.__path__[0])
    pythonpath = _export_pythonpath()
    if shuffle_partitions is None:
        shuffle_partitions = max(n_executors * cores_per_executor, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(
            f"local-cluster[{n_executors},{cores_per_executor},{executor_mem_mb}]"
        )
        .config("spark.executor.memory", f"{executor_mem_mb - 512}m")
        .config("spark.executorEnv.PYTHONPATH", pythonpath)
    )
    return _engine_conf(b, shuffle_partitions).getOrCreate()
