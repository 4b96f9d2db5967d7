"""The flagship plan: leakage-free per-turn feature vectors + as-of backfill.

Pipeline (engine lifecycle, SURVEY.md §3.2):

    scan -> derive -> canonical order (ONE range shuffle, reused by every
    window pass) -> W1-W6 window features -> F6 text features (one
    ``arrow_udf``, Arrow batches in and out) -> per-(entity, ts) feature
    vector -> J1 as-of merge against the probe/label side (one
    ``mapInArrow`` merge-scan: pandas matches entity keys, event times and
    row positions, and the values stay in Arrow) -> sink + lineage.

Every feature is strictly backward-looking (frames end at -1, or at 0 only
where the current turn's own content is legitimately visible at its own
timestamp) — the zero-temporal-leakage contract. ``next_role`` is emitted as
an explicitly label-side column and excluded from the feature vector.

The feature expressions are SQL text, one ``selectExpr`` per window pass.
In classic PySpark a Column method or a function such as ``col`` or
``when`` costs 11-14 Py4J round trips (``_with_origin`` looks up the
active session, reads a conf and sets and clears the call-site origin),
and each DataFrame operation re-analyses the plan; an expression string
is one round trip however large (``functions/sqltext.py``). Built with Column
calls, the plans of ``turn_features`` and ``backfill_features`` cost
~1,800 round trips and ~0.5 s on the ``backfill`` benchmark input
before the first job ran; as SQL text, ~320 and ~0.3 s.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from tgist_features_spark.functions.sqltext import double_lit, epoch_us
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


# the window specs of the feature passes, as SQL text (plain strings: no
# JVM objects, parsed once per expression by the JVM)
_W = "PARTITION BY conv_id ORDER BY ts, turn_idx"
_W_ALL = "PARTITION BY conv_id"
_W_CUM = f"{_W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
_W_ROLL = f"{_W} ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING"


def turn_features(df: DataFrame, gap_s: float = 1800.0) -> DataFrame:
    """transcripts -> one feature row per turn (entity x timestamp).

    Fused form of the modular operators (windows.py / sessionize.py —
    semantics identical, oracle-gated): expressions sharing a frame share
    one Window node, so the whole feature pass is 4 window passes over the
    single canonical-order sort instead of 8.

    Each pass is one ``selectExpr`` of SQL text (a few hundred Py4J calls
    for the whole plan instead of over a thousand; module docstring).
    ``gap_s`` enters the text as a checked DOUBLE literal, inf included
    (``sqltext.double_lit``).
    """
    out = canonical_order(df)
    # pass 1 — plain offset/frame-free expressions (lag/lead family)
    out = out.selectExpr(
        "*",
        f"({epoch_us('ts')} - {epoch_us(f'lag(ts) OVER ({_W})')}) / 1000000.0D"
        " AS gap_s",
        f"lag(role) OVER ({_W}) AS prev_role",
        f"lead(role) OVER ({_W}) AS next_role",
        f"count(1) OVER ({_W_ALL}) AS turns_total",
    )
    # pass 2 — cumulative frame (row_number shares the running frame)
    boundary = f"CASE WHEN gap_s > {double_lit(gap_s)} THEN 1 ELSE 0 END"
    out = out.selectExpr(
        "*",
        f"row_number() OVER ({_W}) AS turn_no",
        f"CAST(sum({boundary}) OVER ({_W_CUM}) AS BIGINT) AS session_id",
        f"last(tool, true) OVER ({_W_CUM}) AS last_tool",
        f"CAST(sum(length(text)) OVER ({_W_CUM}) AS BIGINT) AS cum_chars",
    )
    # pass 3 — trailing row frame (-5..-1): leakage-safe rolling features;
    # an empty frame on the first turn is null, and counts are 0 there
    out = out.selectExpr(
        "*",
        "turns_total - turn_no AS turns_remaining",
        *[
            f"CAST(coalesce(sum(CASE WHEN role = '{r}' THEN 1 ELSE 0 END)"
            f" OVER ({_W_ROLL}), 0) AS BIGINT) AS n_{r}_5"
            for r in ("user", "tool")
        ],
        f"avg(length(text)) OVER ({_W_ROLL}) AS roll_chars_5",
    )
    out = with_ngram_features(out)
    vec = ", ".join(f"CAST({c} AS DOUBLE)" for c in FEATURE_COLS)
    return out.selectExpr("*", f"array({vec}) AS feature_vec")


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
    return asof_join(
        queries, features, by="conv_id", left_on="query_ts", right_on="ts",
        direction="backward", value_cols=["ts", "turn_idx", "feature_vec"],
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
