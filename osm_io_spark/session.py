"""SparkSession factory with scale-appropriate defaults.

The reference engine (osm-io) hand-tunes its parallel pipeline: per-blob
tasks, 8000-element blocks, bounded ordering buffers
(/root/reference/src/osm/pbf/parallel_writer.rs:321-323). In Spark those
choices map to configuration, not code: AQE for runtime re-planning and
skew-join splitting, Arrow batch size mirroring the reference's block
granularity, and shuffle-partition counts sized to the cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Mirrors the reference's 8000-element block contract
# (/root/reference/src/osm/pbf/element_accumulator.rs:18).
ARROW_BATCH_ROWS = 8000

DEFAULT_CONF = {
    # Local mode runs driver + all executor threads in ONE JVM; the
    # Spark default heap (1g) starves 32 threads of Arrow-heavy work
    # (observed: GCLocker retry warnings, then hard OOM in the kNN
    # ring-expansion at sf0.1). On a real cluster spark-submit supplies
    # per-executor memory instead; this only applies when WE launch the
    # JVM. -Xlog:disable keeps JVM unified-logging warnings off stdout
    # (bench.py's contract is ONE JSON line on stdout).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
    "spark.driver.maxResultSize": "4g",
    "spark.driver.extraJavaOptions": "-Xlog:disable",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "3",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "osm-io-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` when no
    cluster master is supplied; on a real cluster, spark-submit supplies
    the master and these settings still apply.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if "local" in master else 2048

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_bench_spark(app_name: str, cpus: int) -> SparkSession:
    """local[cpus] session for bench.py timing runs, with the Python
    worker pool already spawned: the first pandas-UDF stage of a
    session pays worker spawn + numpy/pandas import — a once-per-
    executor cost on a real cluster, not a per-query cost."""
    spark = get_spark(app_name, master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    wdf = spark.range(0, 256, 1, cpus)
    wdf.mapInPandas(lambda it: it, wdf.schema).count()
    return spark
