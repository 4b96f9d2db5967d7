"""Direct unit coverage for the modular window operators (windows.py) —
the feature kernel of plans/backfill.py must stay equivalent to these."""

from __future__ import annotations

import datetime
import random

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tgist_features_spark.operators.ordering import canonical_order
from tgist_features_spark.operators.sessionize import session_bounds, sessionize
from tgist_features_spark.operators.windows import (
    with_cumulative,
    with_delta_ts,
    with_ffill,
    with_lag_lead,
    with_position,
    with_rolling_counts,
    with_rolling_time,
)
from tgist_features_spark.plans import backfill
from tgist_features_spark.plans.backfill import turn_features
from tgist_features_spark.sources.corpus import TRANSCRIPT_SCHEMA, transcripts_df


def _sorted(df):
    return (
        df.toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )


# the 12 window columns of turn_features
_WINDOW_NUM = ["gap_s", "turn_no", "turns_total", "turns_remaining", "session_id",
               "n_user_5", "n_tool_5", "roll_chars_5", "cum_chars"]
_WINDOW_STR = ["prev_role", "next_role", "last_tool"]


def _modular(df):
    """The window columns of ``turn_features`` composed from the modular
    Catalyst operators."""
    out = with_delta_ts(canonical_order(df))
    out = with_position(out)
    out = sessionize(out)
    out = with_lag_lead(out, ["role"])
    out = with_ffill(out, ["tool"])
    out = with_rolling_counts(
        out,
        5,
        {
            "n_user_5": F.sum(F.when(F.col("role") == "user", 1).otherwise(0)),
            "n_tool_5": F.sum(F.when(F.col("role") == "tool", 1).otherwise(0)),
            "roll_chars_5": F.avg(F.length("text")),
        },
    )
    out = out.withColumn("n_user_5", F.coalesce("n_user_5", F.lit(0)))
    out = out.withColumn("n_tool_5", F.coalesce("n_tool_5", F.lit(0)))
    return with_cumulative(out, {"cum_chars": F.sum(F.length("text"))})


def _assert_window_cols_equal(modular, kernel):
    assert len(modular) == len(kernel)
    for col in ["conv_id", "turn_idx", *_WINDOW_STR]:
        a, b = modular[col], kernel[col]
        assert ((a.isna() & b.isna()) | (a == b)).all(), col
    for col in _WINDOW_NUM:
        np.testing.assert_array_equal(
            modular[col].astype(float).to_numpy(),
            kernel[col].astype(float).to_numpy(),
            err_msg=col,
        )


def test_modular_ops_equal_fused_plan(spark, tiny_pdf):
    """Composing the modular operators reproduces turn_features' window
    columns exactly."""
    df = transcripts_df(spark, tiny_pdf)
    _assert_window_cols_equal(_sorted(_modular(df)), _sorted(turn_features(df)))


_NULLABLE = T.StructType([T.StructField(f.name, f.dataType, True) for f in TRANSCRIPT_SCHEMA])
_BATCH = 7  # Arrow batch rows in the boundary test
_LONG = 60 * _BATCH  # turns of the conversation that spans 60 batches


def _adversarial_rows() -> list[tuple]:
    """Transcript rows for the batch-boundary test: one conversation of
    ``_LONG`` turns; single-turn and short conversations; a conversation
    with a null ``conv_id``; duplicate timestamps (ordered by
    ``turn_idx``), gaps of exactly 1800 s (the default ``gap_s``, no new
    session) and 1801 s (a new session); nulls in ``role``, ``text``,
    ``tool`` and ``ts``. The rows are shuffled."""
    roles = ["user", "assistant", "tool", None, "user"]
    steps = [0, 1, 1800, 1801, 60, 0, 7200]  # seconds before each turn
    t0 = datetime.datetime(2024, 1, 1)

    def conv(cid, n, start):
        out, t = [], t0 + datetime.timedelta(hours=start)
        for k in range(n):
            t += datetime.timedelta(seconds=steps[(k + start) % len(steps)])
            text = None if k % 11 == 4 else " ".join(["a", "b", "a", "cd"][: k % 5])
            out.append((cid, k, roles[(k + start) % len(roles)], text,
                        "grep" if k % 6 == 2 else None, None if k % 29 == 7 else t))
        return out

    rows = conv("long", _LONG, 0) + conv(None, 9, 1)
    for c in range(12):
        rows += conv(f"c{c:02d}", [1, 1, 2, 6, 13][c % 5], c)
    random.Random(5).shuffle(rows)
    return rows


def test_kernel_equals_modular_ops_across_batches(spark):
    """The feature kernel sees Arrow batches of 7 rows, so every
    conversation longer than that crosses batch boundaries, and the long
    one spans 60 batches. Its 12 window columns equal the modular Catalyst
    operators' value for value, on the whole input and on the long
    conversation alone (a partition holding a single conversation)."""
    rows = _adversarial_rows()
    whole = spark.createDataFrame(rows, _NULLABLE)
    alone = spark.createDataFrame([r for r in rows if r[0] == "long"], _NULLABLE)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, str(_BATCH))
    try:
        for df in (whole, alone):
            _assert_window_cols_equal(_sorted(_modular(df)), _sorted(turn_features(df)))
    finally:
        spark.conf.set(key, before)


def _batches(rows: list[tuple], size: int) -> list[pa.RecordBatch]:
    """``rows`` in canonical order as Arrow batches of ``size`` rows."""
    key = [(r[0] is not None, r[0] or "", r[5] is not None, r[5] or 0, r[1]) for r in rows]
    ordered = [r for _, r in sorted(zip(key, rows), key=lambda kr: kr[0])]
    cols = list(zip(*ordered))
    table = pa.table({
        "conv_id": pa.array(cols[0], pa.string()), "turn_idx": pa.array(cols[1], pa.int32()),
        "role": pa.array(cols[2], pa.string()), "text": pa.array(cols[3], pa.string()),
        "tool": pa.array(cols[4], pa.string()), "ts": pa.array(cols[5], pa.timestamp("us")),
    })
    return table.to_batches(max_chunksize=size)


def test_kernel_sees_each_row_once(monkeypatch):
    """Without Spark: the kernel's output does not depend on the batch
    size, and each row is computed exactly once, however many batches its
    conversation spans (cost linear in the batches, not quadratic)."""
    rows = _adversarial_rows()
    whole = pa.Table.from_batches(
        backfill._turn_kernel(iter(_batches(rows, len(rows))), 1800.0))
    seen = []
    features = backfill._features

    def counting(rows_, new, gap_s):
        seen.append(rows_.num_rows)
        return features(rows_, new, gap_s)

    monkeypatch.setattr(backfill, "_features", counting)
    for size in (1, 2, _BATCH, 64):
        seen.clear()
        got = pa.Table.from_batches(
            backfill._turn_kernel(iter(_batches(rows, size)), 1800.0))
        assert got.equals(whole), size
        assert sum(seen) == len(rows), size


# turn_features' output schema: (name, type, nullable) of the 25 columns,
# for an input with TRANSCRIPT_SCHEMA
_SCHEMA = [
    ("conv_id", "string", False), ("turn_idx", "int", False),
    ("role", "string", False), ("text", "string", False),
    ("tool", "string", True), ("ts", "timestamp", False),
    ("gap_s", "double", True), ("prev_role", "string", True),
    ("next_role", "string", True), ("turns_total", "bigint", False),
    ("turn_no", "int", False), ("session_id", "bigint", True),
    ("last_tool", "string", True), ("cum_chars", "bigint", True),
    ("turns_remaining", "bigint", False), ("n_user_5", "bigint", False),
    ("n_tool_5", "bigint", False), ("roll_chars_5", "double", True),
    ("plen", "bigint", True), ("n_distinct", "bigint", True),
    ("bigram_distinct", "bigint", True), ("trigram_distinct", "bigint", True),
    ("ngram_sig", "bigint", True), ("distinct_ratio", "double", True),
    ("feature_vec", "array<double>", False),
]


def test_turn_features_schema(spark, tiny_pdf):
    """The input's columns as they are, then the 19 feature columns with
    fixed types and nullability (a nullable input changes only its own
    columns); ``feature_vec`` is never null but holds nulls."""
    got = turn_features(transcripts_df(spark, tiny_pdf)).schema
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in got] == _SCHEMA
    assert got["feature_vec"].dataType.containsNull
    nullable = turn_features(spark.createDataFrame([], _NULLABLE)).schema
    assert [f.nullable for f in nullable][:6] == [True] * 6
    assert nullable.fields[6:] == got.fields[6:]


def test_rolling_time_frame(spark, tiny_pdf):
    """W4 time-range frame vs a pandas per-conv double loop oracle."""
    df = transcripts_df(spark, tiny_pdf)
    got = _sorted(
        with_rolling_time(df, 60, {"n_60s": F.count(F.lit(1))})
    )
    ref = tiny_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    exp = []
    for _cid, g in ref.groupby("conv_id", sort=True):
        ts = g["ts"].astype("int64").to_numpy()
        for t in ts:
            exp.append(int(((ts >= t - 60_000_000) & (ts <= t)).sum()))
    ref = ref.assign(n=exp).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (got["n_60s"].to_numpy() == ref["n"].to_numpy()).all()


def test_session_bounds(spark, tiny_pdf):
    df = sessionize(canonical_order(transcripts_df(spark, tiny_pdf)))
    b = session_bounds(df).toPandas()
    assert (b["n_turns"] >= 1).all()
    assert (b["session_start"] <= b["session_end"]).all()
    assert b.groupby("conv_id")["n_turns"].sum().sum() == len(tiny_pdf)


def test_resample_ffill_matches_pandas(spark):
    """Grid + forward-fill must equal a pandas resample-ffill reference on
    an irregular stream with gaps, timestamp ties, and one-event users."""
    import numpy as np
    import pandas as pd

    from tgist_features_spark.operators.windows import resample_ffill

    rng = np.random.default_rng(5)
    rows = []
    eid = 0
    for uid in range(6):
        n = rng.integers(1, 30)
        # seconds offsets with deliberate duplicates and big gaps
        offs = np.sort(rng.choice(np.arange(0, 3600 * 72, 60), size=n))
        for o in offs:
            rows.append((uid, int(o), float(rng.normal()), eid))
            eid += 1
    # a duplicate-timestamp pair: larger event_id must win
    rows.append((9, 100, 1.0, eid)); eid += 1
    rows.append((9, 100, 2.0, eid)); eid += 1
    pdf = pd.DataFrame(rows, columns=["user_id", "off_s", "value", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf["off_s"], unit="s")
    df = spark.createDataFrame(pdf[["user_id", "ts", "value", "event_id"]])
    got = (
        resample_ffill(df, interval_s=3600, tiebreak=("event_id",))
        .toPandas()
        .sort_values(["user_id", "bucket_start_us"])
        .reset_index(drop=True)
    )

    ref_rows = []
    for uid, g in pdf.groupby("user_id"):
        g = g.sort_values(["off_s", "event_id"])
        buckets = g["off_s"] // 3600
        last_per_bucket = g.groupby(buckets)["value"].last()
        for b in range(int(buckets.min()), int(buckets.max()) + 1):
            in_bucket = b in last_per_bucket.index
            carried = last_per_bucket.loc[:b].iloc[-1]
            ref_rows.append((uid, b * 3600 * 1_000_000, carried, int(not in_bucket)))
    ref = pd.DataFrame(
        ref_rows, columns=["user_id", "bucket_start_us", "value", "is_gap"]
    ).sort_values(["user_id", "bucket_start_us"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"is_gap": "int64"}), ref.astype({"is_gap": "int64"})
    )
    assert got[got.user_id == 9]["value"].iloc[0] == 2.0  # tiebreak: larger event_id


def test_ohlc_buckets_matches_pandas(spark):
    """W18: OHLC panel equals a pandas reference; ties on the timestamp
    resolve by the tiebreak column (pinned); NULL values are weightless
    but counted, and an all-NULL bucket keeps its row with NULL
    o/h/l/c."""
    import numpy as np
    import pandas as pd

    from tgist_features_spark.operators.windows import ohlc_buckets

    rng = np.random.default_rng(151)
    n = 2000
    base = 1_700_000_000
    pdf = pd.DataFrame({
        "event_id": np.arange(n),
        "e": rng.choice(["u1", "u2"], n),
        # coarse second grid forces duplicate timestamps -> tie rule
        "ts": pd.to_datetime(
            base + rng.integers(0, 7200, n) // 10 * 10, unit="s"),
        "v": np.round(rng.normal(5, 2, n), 2),
    })
    pdf.loc[rng.choice(n, 100, replace=False), "v"] = None
    # one bucket that is entirely NULL (dtype pinned to float64 so the
    # concat of an all-NA column stays warning-free under pandas 2.x)
    allnull_ts = pd.to_datetime(base + 4 * 3600, unit="s")
    pdf = pd.concat([pdf, pd.DataFrame({
        "event_id": [n, n + 1], "e": ["u1", "u1"],
        "ts": [allnull_ts, allnull_ts],
        "v": np.array([np.nan, np.nan], dtype="float64")})],
        ignore_index=True)
    got = (
        ohlc_buckets(spark.createDataFrame(pdf), "e", "ts", "v",
                     "event_id", interval_s=3600, scale=100)
        .toPandas().set_index(["e", "bucket"]).sort_index()
    )
    pdf["x"] = (pdf["v"] * 100).round()
    pdf["u"] = pdf["ts"].astype("int64") // 1000
    pdf["bucket"] = pdf["u"] // 3_600_000_000
    for (e, b), grp in pdf.groupby(["e", "bucket"]):
        row = got.loc[(e, b)]
        nn = grp.dropna(subset=["x"]).sort_values(["u", "event_id"])
        assert row["n_obs"] == len(nn)
        assert row["n_null"] == grp["x"].isna().sum()
        if len(nn):
            assert row["open_x"] == nn.iloc[0]["x"]
            assert row["close_x"] == nn.iloc[-1]["x"]
            assert row["low_x"] == nn["x"].min()
            assert row["high_x"] == nn["x"].max()
        else:
            assert pd.isna(row["open_x"]) and pd.isna(row["close_x"])
            assert pd.isna(row["low_x"]) and pd.isna(row["high_x"])
    assert len(got) == pdf.groupby(["e", "bucket"]).ngroups
