"""SparkSession factory for the crawl engine.

Arrow-enabled (every UDF in this engine is a vectorized pandas UDF —
input_hint mandates no per-row Python), AQE on (skew-join splitting +
runtime coalescing), small broadcast threshold kept at default so config
tables broadcast automatically.

In the sandbox the table store is parquet-backed (brink_spark.storage);
on a real cluster the same session would add the Iceberg catalog configs
(commented template below) and the store's writes map 1:1 to Iceberg
appends/snapshots.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Production (cluster) template — requires the iceberg-spark-runtime jar,
# which is not baked into this sandbox:
#   .config("spark.sql.extensions",
#           "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
#   .config("spark.sql.catalog.crawl", "org.apache.iceberg.spark.SparkCatalog")
#   .config("spark.sql.catalog.crawl.type", "hadoop")
#   .config("spark.sql.catalog.crawl.warehouse", <warehouse-uri>)


def get_spark(
    master: str | None = None,
    app_name: str = "brink_spark",
    shuffle_partitions: int = 32,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    # master="inherit": do NOT set a master — the session takes whatever
    # spark-submit / the surrounding deployment provided (builder.master
    # would override `spark-submit --master`, silently turning a cluster
    # run into a local one). Anything else (or None -> local[$CPUS]) is
    # the in-process path used by tests/bench.
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = SparkSession.builder.appName(app_name)
    if master != "inherit":
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    if master != "inherit":
        # Commit algorithm v2: task output moves to the destination at task
        # commit instead of being renamed again file-by-file at job commit
        # (a DRIVER-serial loop). The wave loop commits 5 small tables per
        # wave, so the v1 job-commit rename tax is pure fixed cost; v2's
        # weaker failure contract (a failed job can leave partial files) is
        # already handled by the store's manifest protocol — a wave dir
        # without _SUCCESS is never read and is recomputed on resume.
        # v2's non-atomic task commit is safe only without speculation or
        # task retries mid-commit, so cluster deploys keep v1.
        builder = builder.config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
        # In-process local masters: Python workers fork from
        # brink_spark.pydaemon, which preloads numpy/pandas/pyarrow so
        # copy-on-write forks skip the per-worker import storm after the
        # JVM's hardcoded 1-minute idle-worker cull (see pydaemon
        # docstring; measured 42.5 s → 10-16 s cold start for 32
        # workers). The daemon launcher resolves modules from the worker
        # python's base PYTHONPATH — NOT from --py-files — so the package
        # directory is passed explicitly, and the whole preload is
        # skipped for master="inherit" (cluster deploys add the package
        # to the workers' PYTHONPATH and set these two configs
        # themselves if they want the preload).
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        worker_pp = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.python.daemon.module", "brink_spark.pydaemon"
        ).config(
            "spark.executorEnv.PYTHONPATH",
            f"{pkg_parent}{os.pathsep}{worker_pp}" if worker_pp else pkg_parent,
        )
    evlog = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if evlog:
        os.makedirs(evlog, exist_ok=True)
        builder = builder.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", f"file://{evlog}"
        )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
