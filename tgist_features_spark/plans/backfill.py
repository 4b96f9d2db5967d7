"""The flagship plan: leakage-free per-turn feature vectors + as-of backfill.

Pipeline (engine lifecycle, SURVEY.md §3.2):

    scan -> canonical order (ONE range shuffle) -> one ``mapInArrow``
    kernel over each range partition's Arrow batches: W1-W6 window
    features (numpy over the sorted ``conv_id`` groups), F6 text features
    (``ngram_stats_batch``) and the per-(entity, ts) feature vector -> J1
    as-of merge against the probe/label side (one ``mapInArrow`` streaming
    merge-scan over entity-major order; the values stay in Arrow) -> sink +
    lineage.

Every feature is strictly backward-looking (frames end at -1, or at 0 only
where the current turn's own content is legitimately visible at its own
timestamp) — the zero-temporal-leakage contract. ``next_role`` is emitted as
an explicitly label-side column and excluded from the feature vector.

Window and text features share the kernel, so each row crosses the
JVM/Python boundary once, with no Catalyst ``Window`` node and no separate
Python UDF stage, and the plan is built in one DataFrame operation after
the sort. The modular Catalyst operators (``operators/windows.py``,
``operators/sessionize.py``) define the window semantics; the kernel is
tested against them value for value (tests/test_windows_ops.py).
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from tgist_features_spark.functions.arrowu import concat, run_starts
from tgist_features_spark.functions.text import NGRAM_STRUCT, ngram_stats_batch
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

# the trailing row frame of the rolling features: turns -5..-1
_ROLL = 5


def _feature_schema(schema: T.StructType) -> T.StructType:
    """``schema`` plus the columns ``turn_features`` appends, in the
    kernel's order, with the types and nullability the Catalyst window
    plan gave them (count, row_number and the coalesced rolling counts are
    never null)."""
    role, tool = schema["role"].dataType, schema["tool"].dataType
    return T.StructType([
        *schema.fields,
        T.StructField("gap_s", T.DoubleType()),
        T.StructField("prev_role", role),
        T.StructField("next_role", role),
        T.StructField("turns_total", T.LongType(), False),
        T.StructField("turn_no", T.IntegerType(), False),
        T.StructField("session_id", T.LongType()),
        T.StructField("last_tool", tool),
        T.StructField("cum_chars", T.LongType()),
        T.StructField("turns_remaining", T.LongType(), False),
        T.StructField("n_user_5", T.LongType(), False),
        T.StructField("n_tool_5", T.LongType(), False),
        T.StructField("roll_chars_5", T.DoubleType()),
        *NGRAM_STRUCT.fields,
        T.StructField("feature_vec", T.ArrayType(T.DoubleType()), False),
    ])


def _prefix(x: np.ndarray) -> np.ndarray:
    """Exclusive prefix sums: ``p[k]`` is the sum of ``x[:k]``."""
    return np.concatenate(([0], np.cumsum(x, dtype=np.int64)))


def _features(rows: pa.RecordBatch, new: np.ndarray, gap_s: float) -> pa.RecordBatch:
    """``rows`` (whole conversations in canonical order; ``new`` flags each
    conversation's first turn) plus the feature columns. Each window
    feature is numpy over the group starts: lags and leads are ``take``s
    masked at the group edges, the cumulative and the -5..-1 frame sums are
    differences of prefix sums, ``last_tool`` is a running maximum of the
    positions holding a tool."""
    n = rows.num_rows
    i = np.arange(n)
    starts = np.flatnonzero(new)
    conv = np.cumsum(new) - 1
    first = starts[conv]
    turn_no = i - first + 1
    total = np.diff(starts, append=n)[conv]
    ends = np.append(new[1:], True)

    ts, role, tool, text = (rows.column(c) for c in ("ts", "role", "tool", "text"))
    # gap_s: the difference of the epoch microseconds, then / 1e6 as a double
    us = pc.fill_null(ts.cast(pa.int64()), 0).to_numpy()
    has_ts = ts.is_valid().to_numpy(zero_copy_only=False)
    gap_ok = ~new & has_ts & np.append(False, has_ts[:-1])
    gap = np.diff(us, prepend=us[:1]) / 1e6
    sessions = np.cumsum(gap_ok & (gap > gap_s))
    has_tool = tool.is_valid().to_numpy(zero_copy_only=False)
    seen = np.maximum.accumulate(np.where(has_tool, i, -1))

    chars = pc.utf8_length(text)
    has_text = _prefix(chars.is_valid().to_numpy(zero_copy_only=False))
    n_chars = _prefix(pc.fill_null(chars, 0).to_numpy())
    lo = np.maximum(i - _ROLL, first)
    rolled = has_text[i] - has_text[lo]
    by_role = {
        r: _prefix(pc.fill_null(pc.equal(role, r), False).to_numpy(zero_copy_only=False))
        for r in ("user", "tool")
    }

    cols = {
        "gap_s": pa.array(gap, mask=~gap_ok),
        "prev_role": role.take(pa.array(i - 1, mask=new)),
        "next_role": role.take(pa.array(i + 1, mask=ends)),
        "turns_total": pa.array(total, pa.int64()),
        "turn_no": pa.array(turn_no.astype(np.int32)),
        "session_id": pa.array(sessions - sessions[first]),
        "last_tool": tool.take(pa.array(seen, mask=seen < first)),
        "cum_chars": pa.array(n_chars[i + 1] - n_chars[first],
                              mask=has_text[i + 1] == has_text[first]),
        "turns_remaining": pa.array(total - turn_no, pa.int64()),
        **{f"n_{r}_5": pa.array(p[i] - p[lo]) for r, p in by_role.items()},
        "roll_chars_5": pa.array((n_chars[i] - n_chars[lo]) / np.maximum(rolled, 1),
                                 mask=rolled == 0),
    }
    text_stats = ngram_stats_batch(text)
    for f, a in zip(NGRAM_STRUCT.fields, text_stats.flatten()):
        cols[f.name] = a
    vec = [cols[c].cast(pa.float64()) for c in FEATURE_COLS]
    values = np.column_stack([pc.fill_null(v, 0.0).to_numpy() for v in vec]).ravel()
    nulls = np.column_stack(
        [v.is_null().to_numpy(zero_copy_only=False) for v in vec]).ravel()
    offsets = pa.array(np.arange(0, len(values) + 1, len(vec), dtype=np.int32))
    cols["feature_vec"] = pa.ListArray.from_arrays(
        offsets, pa.array(values, mask=nulls), pa.list_(pa.field("element", pa.float64())))
    return pa.RecordBatch.from_arrays(
        [*rows.columns, *cols.values()], names=[*rows.schema.names, *cols])


def _turn_kernel(batches, gap_s: float):
    """``turn_features``' ``mapInArrow`` function: one range partition's
    batches in canonical order in, the same rows with their features out.

    Features are computed for whole conversations only. A batch's trailing
    conversation may go on in the next batch, so it is held back (as
    slices, with its start flags) until a later batch starts another
    conversation or the partition ends. The cut is searched in each
    incoming batch only, so a conversation over k batches costs k batches'
    work, and a task holds at most one batch plus the held conversation."""
    held, flags, before = [], [], None
    for b in batches:
        if b.num_rows == 0:
            continue
        conv = b.column("conv_id")
        new = run_starts([conv], before)
        before = [conv.slice(b.num_rows - 1)]
        starts = np.flatnonzero(new)
        if len(starts):
            cut = int(starts[-1])
            if held or cut:
                yield _features(concat([*held, b.slice(0, cut)]),
                                np.concatenate([*flags, new[:cut]]), gap_s)
            held, flags = [], []
            b, new = b.slice(cut), new[cut:]
        held.append(b)
        flags.append(new)
    if held:
        yield _features(concat(held), np.concatenate(flags), gap_s)


def turn_features(df: DataFrame, gap_s: float = 1800.0) -> DataFrame:
    """transcripts -> one feature row per turn (entity x timestamp).

    ``canonical_order`` (one range exchange and a sort) and then one
    ``mapInArrow`` of ``_turn_kernel``: per range partition it computes
    the 12 window columns, the six n-gram columns and ``feature_vec`` of
    each whole conversation, in Arrow batches of
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows. A task holds one
    batch plus the conversation that batch ends in, so its memory is
    bounded by the batch size and the longest conversation, not by the
    partition. The semantics are those of the modular window operators
    (``operators/windows.py``, ``operators/sessionize.py``): a session
    starts after a gap of more than ``gap_s`` seconds, and the rolling
    features read turns -5..-1. The ``gap_s`` column is the difference of
    the timestamps' own microseconds (for a TIMESTAMP_NTZ column, of the
    wall clock's, which equals the operators' cast to TIMESTAMP in the
    engine's UTC session).

    ``gap_s`` must be a number (``float`` refuses anything else, at build
    time); inf means one session per conversation.
    """
    gap = float(gap_s)
    out = canonical_order(df)
    kernel = functools.partial(_turn_kernel, gap_s=gap)
    return out.mapInArrow(kernel, _feature_schema(out.schema))


def backfill_features(features: DataFrame, queries: DataFrame) -> DataFrame:
    """Point-in-time backfill: for each (conv_id, query_ts) probe attach the
    latest feature vector with ts <= query_ts (zero leakage by construction:
    backward direction, exact matches allowed — a feature stamped at ts is
    valid AT ts).

    The join is ``asof_join``: one range exchange and one streaming
    merge-scan whose task memory does not grow with a hot conversation.
    ``features`` should be persisted (or read from a table), because the
    as-of's range sampling reads it again; ``run_backfill`` does that.
    """
    return asof_join(
        queries, features, by="conv_id", left_on="query_ts", right_on="ts",
        direction="backward", value_cols=["ts", "turn_idx", "feature_vec"],
    )


def run_backfill(
    transcripts: DataFrame, probes: DataFrame, output: str, gap_s: float = 1800.0
) -> None:
    """The backfill pass: ``turn_features`` of ``transcripts``, persisted
    for the as-of's two reads (range sampling and the exchange),
    ``backfill_features`` of ``probes`` and
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
