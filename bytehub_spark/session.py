"""SparkSession factory with scale-aware defaults.

Configs chosen for the 100 TB design point, applied identically in
local[32] testing:
- AQE on (runtime partition coalescing, skew-join splitting)
- shuffle partitions sized to cores locally; on a real cluster AQE
  coalesces from a high initial number
- Arrow enabled for every pandas boundary (transforms, toPandas)
- UTC session timezone so parquet timestamps compare exactly with the
  DuckDB oracle
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bytehub_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Partition discovery: below this many paths, list driver-side
        # instead of launching a Spark job (~0.3s scheduling overhead per
        # listing). 1024 favors fast-metadata filesystems (local, HDFS);
        # deployments on high-latency object stores should lower it via
        # extra_conf so wide listings fan out to executors.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # PySpark 4's DataFrame-debugging wrapper (_with_origin) costs
        # THREE extra Py4J round-trips per Column/DataFrame API call
        # (conf.get of stackTracesInDataFrameContext + PySparkCurrentOrigin
        # .set + .clear) plus a Python stack walk — pure driver-side
        # plan-BUILD overhead that buys only richer error call-site
        # context, never a different result. Measured (r14 opt, guide
        # §7.3 driver-cost class): ~36s of the 92-query battery was
        # Python-side construction; chatty builders drop ~3x with this
        # off (dedup_band_balance build 2.2s -> 0.7s, cur_funnel_flags
        # 0.8s -> 0.5s). Scale-independent: driver chatter costs the
        # same on a 100 TB cluster as on local[32].
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # InferFiltersFromGenerate derives `size(arr)>0 AND isnotnull(arr)`
        # from every explode() and pushes it down — results-identical by
        # definition (Generate itself drops empty/null arrays), but every
        # generator in this codebase explodes a DERIVED expression
        # (shingle transforms, PassJoin segment lambdas, hash arrays), so
        # after project-collapse the inferred filter RE-EVALUATES that
        # expression per row (twice: size + isnotnull), and filter
        # pushdown parks it BELOW the ensure_parallelism fan-out exchange,
        # serializing the most expensive lambda of the query onto the
        # narrow pre-shuffle scan tasks. Measured on the shingle source
        # (sf0.1, warm): aggregate over exploded shingles 5.07s -> 0.64s,
        # jaccard_plan collect 7.3s -> 1.95s. The rule's upside (early
        # row pruning before other operators) never applies here — no
        # operator explodes a stored column where emptiness is data.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spark_work(spark: SparkSession, fn):
    """Call ``fn``; returns (Spark jobs, tasks run, ``fn``'s return value)
    for the jobs it started, read from the status tracker once the
    listener bus has caught up."""
    sc = spark.sparkContext

    def next_job() -> int:
        return sc._jsc.sc().dagScheduler().nextJobId()

    j0 = next_job()
    result = fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    status, jobs, tasks = sc.statusTracker(), range(j0, next_job()), 0
    for j in jobs:
        job = status.getJobInfo(j)
        for s in job.stageIds if job else ():
            stage = status.getStageInfo(s)
            tasks += stage.numCompletedTasks if stage else 0
    return len(jobs), tasks, result
