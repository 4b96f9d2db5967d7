"""Lineage manifest + idempotent resume (S4/J6, SURVEY.md §4.2.3).

The reference kept per-file done-markers so re-runs skipped processed
documents; the engine's generalization is a checkpoint manifest at
partition (bucket-of-conv_id) granularity:

* every completed bucket appends one lineage row:
  (run_id, snapshot_id, bucket, rows_in, rows_out, watermark_us)
* resume = anti-join the input's buckets against the manifest rows for
  the SAME input snapshot — only unfinished buckets are recomputed.

Bucket-level resume is *exact* because every feature is a pure function
of its own conversation (zero cross-conversation state — the same
property that makes the reference's per-file skip sound), and
bucket = f(conv_id) never splits a conversation.

Failure model: a crash mid-bucket leaves parquet part-files without a
manifest row; the rerun overwrites that bucket's directory (dynamic
partition overwrite) before re-appending — at-least-once write, exactly-
once visibility through the manifest.

Cost model: one run is one manifest read, one feature write and one
manifest append — nothing else launches a Spark job. The per-bucket
manifest figures are ``Observation`` metrics of the feature write itself
(no count over the input, no read-back of the written partitions). The
observation sits on the frame being written, ABOVE the range exchange of
``canonical_order``: there it runs in the write's result stage, where
Spark applies each partition's metric update exactly once. Observed on
the input instead, it counts every row twice — the ``repartitionByRange``
sampling job re-runs everything below the exchange and the accumulator
adds both runs. ``tests/test_lineage.py`` pins the job budget and checks
the observed figures against a read-back of the written partitions.
"""
from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from tgist_features_spark.functions.timeu import us
from tgist_features_spark.plans.backfill import turn_features
from tgist_features_spark.sources.table_io import TableIO

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("snapshot_id", T.StringType(), False),
        T.StructField("bucket", T.LongType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("watermark_us", T.LongType(), True),
    ]
)
_MANIFEST_ARROW = to_arrow_schema(MANIFEST_SCHEMA)

FEATURES_TABLE = "features"
MANIFEST_TABLE = "manifest"


def bucket_of(col: str, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("long")


def done_buckets(io: TableIO, snapshot_id: str) -> list[int]:
    """Sorted, unique buckets the manifest records for ``snapshot_id``.
    One job: the manifest holds at most n_buckets rows per snapshot, so
    the dedupe runs on the driver instead of behind a shuffle."""
    if not io.exists(MANIFEST_TABLE):
        return []
    rows = (
        io.spark.read.schema(MANIFEST_SCHEMA)
        .parquet(io.path(MANIFEST_TABLE))
        .filter(F.col("snapshot_id") == snapshot_id)
        .select("bucket")
        .collect()
    )
    return sorted({r["bucket"] for r in rows})


def _bucket_metrics(pending: list[int]) -> list:
    """Per pending bucket: its row count and max event time (epoch us)."""
    metrics = []
    for b in pending:
        in_b = F.col("bucket") == F.lit(b)
        metrics.append(F.count_if(in_b).alias(f"n_{b}"))
        metrics.append(F.max(F.when(in_b, us("ts"))).alias(f"wm_{b}"))
    return metrics


def run_incremental(
    spark: SparkSession,
    io: TableIO,
    transcripts: DataFrame,
    snapshot_id: str,
    run_id: str,
    n_buckets: int = 16,
    gap_s: float = 1800.0,
    fail_after_buckets: int | None = None,
) -> dict:
    """Compute + sink per-turn features for every bucket not yet in the
    manifest for this input snapshot. Returns a small summary dict.

    Each bucket's ``rows_out`` and ``watermark_us`` come from one
    ``Observation`` on the written frame. ``turn_features`` emits exactly
    one row per input turn, so ``rows_in == rows_out`` by construction and
    the manifest takes both from that same observed count.

    ``fail_after_buckets`` (tests only) simulates a crash by processing
    just the first K pending buckets — manifest rows exist only for them,
    exactly like a mid-run kill between bucket commits.
    """
    done = set(done_buckets(io, snapshot_id))
    pending = sorted(set(range(n_buckets)) - done)
    if fail_after_buckets is not None:
        pending = pending[:fail_after_buckets]
    if not pending:
        return {"snapshot_id": snapshot_id, "buckets_done": sorted(done),
                "buckets_run": [], "rows_out": 0}

    todo = transcripts.filter(bucket_of("conv_id", n_buckets).isin(pending))
    obs = Observation()
    feats = (
        turn_features(todo, gap_s=gap_s)
        .withColumn("bucket", bucket_of("conv_id", n_buckets))
        .observe(obs, *_bucket_metrics(pending))
    )
    # overwrite exactly the pending bucket partitions (crash-safe rerun),
    # leaving completed buckets untouched; a per-write option, so other
    # writers on the session keep their own overwrite mode
    (
        feats.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(io.path(FEATURES_TABLE))
    )
    seen = obs.get
    rows_out = {b: int(seen[f"n_{b}"]) for b in pending}

    # a pending bucket with ZERO rows is never touched by the dynamic
    # partition overwrite, so a PRIOR snapshot's data could linger in its
    # directory and pollute read_features — clear such directories
    # explicitly (the Iceberg form of this is the REPLACE semantics of the
    # snapshot commit)
    for b in pending:
        if rows_out[b] == 0:
            io.delete_partition(FEATURES_TABLE, f"bucket={b}")

    # every pending bucket gets a manifest row — including zero-row
    # buckets (rows_out=0, watermark NULL), which otherwise would be
    # re-selected as pending on every resume forever
    manifest = pa.table(
        {
            "run_id": [run_id] * len(pending),
            "snapshot_id": [snapshot_id] * len(pending),
            "bucket": pending,
            "rows_in": [rows_out[b] for b in pending],
            "rows_out": [rows_out[b] for b in pending],
            "watermark_us": [seen[f"wm_{b}"] for b in pending],
        },
        schema=_MANIFEST_ARROW,
    )
    # one part file per append; an Arrow table needs no per-row Python
    # conversion
    spark.createDataFrame(manifest).coalesce(1).write.mode("append").parquet(
        io.path(MANIFEST_TABLE)
    )
    return {
        "snapshot_id": snapshot_id,
        "buckets_done": sorted(done),
        "buckets_run": pending,
        "rows_out": sum(rows_out.values()),
    }


def read_features(io: TableIO) -> DataFrame:
    return io.spark.read.parquet(io.path(FEATURES_TABLE))
