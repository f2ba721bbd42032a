"""SparkSession factory with the configs this engine assumes.

Local mode is a stand-in for a multi-executor cluster: every knob here is
cluster-valid (AQE, skew join, Arrow exchange); only master/memory are
sandbox-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session-level SQL settings the engine's plans assume — the one set that
# get_spark and every spark-submit job (apply_engine_conf) apply.
ENGINE_SQL_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # extras merge (parse.py) concats flat + unwrapped maps; inner wins
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # LWW max_by is a TypedImperativeAggregate => ObjectHashAggregate;
    # the default 128-key fallback degrades the partial combine to a
    # sort over full-width rows. 64k keys * ~2KB row buffer stays well
    # inside task memory.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "65536",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # CDC batches are wide-but-short; don't let tiny files dominate
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Lake reads name every bucket dir of the manifest (64+ paths). Above
    # this many paths Spark lists them with a parallel Spark job, one task
    # per directory; on a local or POSIX filesystem the driver lists a
    # few hundred dirs faster than that job launches, so lake reads list
    # on the driver (SCALING.md, "Listing lake directories").
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "100000",
}


def apply_engine_conf(spark: SparkSession) -> None:
    """Set ENGINE_SQL_CONF on a session a spark-submit job obtained with
    getOrCreate. A key the submitter passed with --conf keeps its value."""
    submitted = spark.sparkContext.getConf()
    for k, v in ENGINE_SQL_CONF.items():
        if not submitted.contains(k):
            spark.conf.set(k, v)


def get_spark(
    app_name: str = "pyspark_cdc",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the CDC replay workload.

    cores=None -> local[*]. shuffle_partitions defaults to the core count:
    on a real cluster this would be ~2-3x total executor cores; AQE
    coalesces down when batches are small.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(map=ENGINE_SQL_CONF)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("PYSPARK_CDC_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate silently returns an EXISTING session with its original
    # configs — under spark-submit the driver JVM (and spark.driver.memory)
    # is fixed before Python runs, and a second in-process get_spark with
    # different knobs changes nothing. Make the silent part loud: warn on
    # the mismatches that alter semantics or sizing. (Session-level SQL
    # confs like mapKeyDedupPolicy ARE applied by getOrCreate; static/JVM
    # ones are not.)
    got_parallelism = spark.sparkContext.defaultParallelism
    if got_parallelism != cores:
        print(
            f"[pyspark_cdc.session] note: reusing existing SparkSession "
            f"(defaultParallelism={got_parallelism}, requested local[{cores}]);"
            " JVM-level configs from this call were not applied",
            flush=True,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
