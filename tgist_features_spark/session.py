"""SparkSession factory with the engine's baseline configs (SURVEY.md §4.3).

Every knob here exists for the 100 TB design point and is harmless locally:
AQE (runtime re-planning + skew-join splitting), Arrow for every pandas UDF
boundary, and shuffle partitions sized to the live cluster's parallelism
rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def get_spark(
    master: str | None = None,
    app_name: str = "tgist-features-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine baseline configs.

    ``master=None`` leaves the master to the launcher: spark-submit's
    ``--master`` wins, and a plain ``python`` run gets Spark's own default
    (``local[*]``). Shuffle partitions come from, in order: the caller's
    ``shuffle_partitions``, the launcher's ``spark.sql.shuffle.partitions``,
    else ``max(4, 2 x defaultParallelism)`` of the session just started.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet writes at the design point are bucketed + day partitioned;
        # local runs keep files small enough that the defaults suffice
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if master:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(_SHUFFLE_PARTITIONS, str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if spark.conf.get(_SHUFFLE_PARTITIONS, None) is None:
        n = spark.sparkContext.defaultParallelism
        spark.conf.set(_SHUFFLE_PARTITIONS, str(max(4, 2 * n)))
    return spark


def warm_python_workers(spark: SparkSession, tasks: int | None = None) -> None:
    """Force-start every Python worker (pandas/numpy import + Arrow path).

    Daemon workers are forked lazily per core on first use; on a wide local
    master the simultaneous cold imports during the first real UDF stage
    cost tens of seconds. One trivial pandas-UDF stage with >= 2x-cores
    tasks touches every worker up front — benchmark and latency hygiene.
    """
    from pyspark.sql.functions import col, pandas_udf  # noqa: PLC0415

    if tasks is None:
        tasks = 2 * int(spark.sparkContext.defaultParallelism)

    # no type hints: `from __future__ import annotations` would stringify
    # them and break pandas_udf's eval-type inference; hint-less defaults
    # to the scalar Series->Series eval type
    _warm = pandas_udf(lambda s: s, "long")

    spark.range(0, tasks, 1, numPartitions=tasks).select(
        _warm(col("id"))
    ).write.mode("overwrite").format("noop").save()
