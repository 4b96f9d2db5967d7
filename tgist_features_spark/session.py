"""SparkSession factory with the engine's baseline configs (SURVEY.md §4.3).

Every knob here exists for the 100 TB design point and is harmless locally:
AQE (runtime re-planning + skew-join splitting), Arrow for every pandas UDF
boundary, and shuffle partitions sized to the cluster's parallelism rather
than the 200 default.

Imported inside a Python worker (the package is first imported there while
a task unpickles an engine UDF), the module also installs a zip-directory
guard. Before every task PySpark calls ``importlib.invalidate_caches()``,
and on CPython 3.11 each ``zipimport.zipimporter`` then re-reads its
archive's whole central directory: a reused worker holds one importer per
package it imported from ``pyspark.zip`` or the py4j zip (and from a
``--py-files`` zip), ~0.1 s of CPU per task on an idle 4-vCPU VM. The guard
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs from
what that importer last read, so a new or replaced archive (``addPyFile``)
is read exactly as upstream does. The key is kept per importer, since
several importers share one archive and each holds its own directory. The
driver is left untouched, and there is no setting: the guard is on in
every worker that imports the package.
"""

from __future__ import annotations

import os
import re
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_upstream_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only if
    it changed since this importer last read it (stat taken before the read,
    so a change racing the read is caught by the next call)."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None  # gone or unreadable: upstream drops the directory
    if key is None or key != getattr(self, "_read_key", None):
        _upstream_invalidate(self)
        self._read_key = key


if TaskContext.get() is not None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def _declared_parallelism(master: str | None, conf: dict[str, str]) -> int | None:
    """Task slots the launcher declared, known before any executor has
    registered: ``spark.default.parallelism`` when set (what
    ``defaultParallelism`` reads first), else N x C of a
    ``local-cluster[N,C,MB]`` master, else ``spark.executor.instances`` x
    ``spark.executor.cores`` when both are set; None when nothing is
    declared."""
    if "spark.default.parallelism" in conf:
        return int(conf["spark.default.parallelism"])
    m = re.fullmatch(r"local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*\d+\s*\]", master or "")
    if m:
        return int(m[1]) * int(m[2])
    n, c = conf.get("spark.executor.instances"), conf.get("spark.executor.cores")
    if n and c:
        return int(n) * int(c)
    return None


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
    else ``max(4, 2 x n)``, where ``n`` is the parallelism the launcher
    declared (``_declared_parallelism``) or, when it declared none, the
    ``defaultParallelism`` of the session just started. On a cluster
    master executors register asynchronously, so ``defaultParallelism``
    read at start can count only those registered so far.
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
        sc = spark.sparkContext
        n = _declared_parallelism(sc.master, dict(sc.getConf().getAll()))
        spark.conf.set(_SHUFFLE_PARTITIONS, str(max(4, 2 * (n or sc.defaultParallelism))))
    return spark


def _identity(s):
    # no type hints: `from __future__ import annotations` would stringify
    # them and break pandas_udf's eval-type inference; hint-less defaults
    # to the scalar Series->Series eval type
    return s


def warm_python_workers(spark: SparkSession, tasks: int | None = None) -> None:
    """Force-start every Python worker (pandas/numpy import + Arrow path)
    and install the zip-directory guard in each.

    Daemon workers are forked lazily per core on first use; on a wide local
    master the simultaneous cold imports during the first real UDF stage
    cost tens of seconds. One trivial pandas-UDF stage with >= 2x-cores
    tasks touches every worker up front — benchmark and latency hygiene.
    Its function is module-level, so cloudpickle pickles it by reference
    and every worker imports the package while unpickling it: the passes
    that follow start with the guard (module docstring) already installed.
    """
    from pyspark.sql.functions import col, pandas_udf  # noqa: PLC0415

    if tasks is None:
        tasks = 2 * int(spark.sparkContext.defaultParallelism)

    spark.range(0, tasks, 1, numPartitions=tasks).select(
        pandas_udf(_identity, "long")(col("id"))
    ).write.mode("overwrite").format("noop").save()
