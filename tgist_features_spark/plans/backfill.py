"""The flagship plan: leakage-free per-turn feature vectors + as-of backfill.

Pipeline (engine lifecycle, SURVEY.md §3.2):

    scan -> derive -> canonical order (ONE range shuffle, reused by every
    window pass) -> W1-W6 window features -> F6 text features (one
    ``arrow_udf``, Arrow batches in and out) -> per-(entity, ts) feature
    vector -> J1 as-of merge against the probe/label side (one
    ``mapInPandas`` merge-scan) -> sink + lineage.

Every feature is strictly backward-looking (frames end at -1, or at 0 only
where the current turn's own content is legitimately visible at its own
timestamp) — the zero-temporal-leakage contract. ``next_role`` is emitted as
an explicitly label-side column and excluded from the feature vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tgist_features_spark.functions.text import with_ngram_features
from tgist_features_spark.operators.asof import asof_join
from tgist_features_spark.operators.ordering import canonical_order

# ordered numeric feature vector layout (allclose contract is per-position)
FEATURE_COLS = [
    "gap_s",
    "turn_no",
    "session_id",
    "n_user_5",
    "n_tool_5",
    "roll_chars_5",
    "cum_chars",
    "plen",
    "n_distinct",
    "bigram_distinct",
    "distinct_ratio",
]


def turn_features(df: DataFrame, gap_s: float = 1800.0) -> DataFrame:
    """transcripts -> one feature row per turn (entity x timestamp).

    Fused form of the modular operators (windows.py / sessionize.py —
    semantics identical, oracle-gated): expressions sharing a frame share
    one Window node, so the whole feature pass is 4 window passes over the
    single canonical-order sort instead of 8.
    """
    from pyspark.sql import Window

    from tgist_features_spark.functions.timeu import us

    out = canonical_order(df)
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    w_all = Window.partitionBy("conv_id")
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    w_roll = w.rowsBetween(-5, -1)

    # pass 1 — plain offset/frame-free expressions (lag/lead family)
    prev_ts = F.lag("ts").over(w)
    out = out.select(
        "*",
        ((us(F.col("ts")) - us(prev_ts)) / F.lit(1_000_000.0)).alias("gap_s"),
        F.lag("role").over(w).alias("prev_role"),
        F.lead("role").over(w).alias("next_role"),
        F.count(F.lit(1)).over(w_all).alias("turns_total"),
    )
    # pass 2 — cumulative frame (row_number shares the running frame)
    boundary = F.when(F.col("gap_s") > F.lit(gap_s), 1).otherwise(0)
    out = out.select(
        "*",
        F.row_number().over(w).alias("turn_no"),
        F.sum(boundary).over(w_cum).cast("long").alias("session_id"),
        F.last("tool", ignorenulls=True).over(w_cum).alias("last_tool"),
        F.sum(F.length("text")).over(w_cum).cast("long").alias("cum_chars"),
    )
    out = out.withColumn("turns_remaining", F.col("turns_total") - F.col("turn_no"))
    # pass 3 — trailing row frame (-5..-1): leakage-safe rolling features
    out = out.select(
        "*",
        F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).over(w_roll).alias("n_user_5"),
        F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)).over(w_roll).alias("n_tool_5"),
        F.avg(F.length("text")).over(w_roll).alias("roll_chars_5"),
    )
    # empty frame on the first turn -> null; counts are 0 by definition
    out = out.withColumn("n_user_5", F.coalesce("n_user_5", F.lit(0)).cast("long"))
    out = out.withColumn("n_tool_5", F.coalesce("n_tool_5", F.lit(0)).cast("long"))
    out = with_ngram_features(out)
    vec = F.array(*[F.col(c).cast("double") for c in FEATURE_COLS])
    return out.withColumn("feature_vec", vec)


def backfill_features(features: DataFrame, queries: DataFrame) -> DataFrame:
    """Point-in-time backfill: for each (conv_id, query_ts) probe attach the
    latest feature vector with ts <= query_ts (zero leakage by construction:
    backward direction, exact matches allowed — a feature stamped at ts is
    valid AT ts).

    The join is ``asof_join``: a feature table that fits one merge-scan task
    runs the merge-scan with no extra job; a bigger one has its hot
    conversations time-sliced (same rows). ``features`` should be persisted
    (or read from a table), because the as-of's range sampling and any hot
    conversation aggregation each read it again; ``run_backfill`` does that.
    """
    value_cols = ["ts", "turn_idx", "feature_vec"]
    build = features.select("conv_id", *value_cols)
    return asof_join(
        queries, build, by="conv_id", left_on="query_ts", right_on="ts",
        direction="backward", value_cols=value_cols,
    )


def run_backfill(
    transcripts: DataFrame, probes: DataFrame, output: str, gap_s: float = 1800.0
) -> None:
    """The backfill pass: ``turn_features`` of ``transcripts``, persisted
    for the as-of's several reads, ``backfill_features`` of ``probes`` and
    one parquet write to ``output`` (``"noop"``: Spark's noop sink, for
    timing). The features are unpersisted even when the write fails."""
    feats = turn_features(transcripts, gap_s=gap_s).persist()
    try:
        w = backfill_features(feats, probes).write.mode("overwrite")
        if output == "noop":
            w.format("noop").save()
        else:
            w.parquet(output)
    finally:
        feats.unpersist()
