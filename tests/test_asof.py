"""As-of join: engine vs pandas.merge_asof oracle vs DuckDB ASOF JOIN,
plain and salted, all directions/variants, edge cases."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from tgist_features_spark.operators.asof import asof_join, asof_join_salted
from tgist_features_spark.oracle.pandas_oracle import oracle_backfill
from tgist_features_spark.plans.backfill import backfill_features, turn_features
from tgist_features_spark.sources.corpus import queries_df, transcripts_df


def _vec_eq(a, b) -> bool:
    an = a is None or (isinstance(a, float) and np.isnan(a))
    bn = b is None or (isinstance(b, float) and np.isnan(b))
    if an or bn:
        return an == bn
    return np.allclose(np.asarray(a, float), np.asarray(b, float), equal_nan=True)


@pytest.fixture(scope="module")
def feats(spark, small_pdf):
    return turn_features(transcripts_df(spark, small_pdf)).cache()


@pytest.fixture(scope="module")
def oracle_feats(small_pdf):
    from tgist_features_spark.oracle.pandas_oracle import oracle_turn_features

    return oracle_turn_features(small_pdf)


def _check(bf_pdf, oracle_pdf):
    bf = bf_pdf.sort_values("query_id").reset_index(drop=True)
    ob = oracle_pdf.sort_values("query_id").reset_index(drop=True)
    assert len(bf) == len(ob)
    mt, ot = bf["ts"].to_numpy(), ob["ts"].to_numpy()
    assert bool(((pd.isna(mt) & pd.isna(ot)) | (mt == ot)).all())
    assert all(_vec_eq(a, b) for a, b in zip(bf["feature_vec"], ob["feature_vec"]))


def test_backward(spark, feats, oracle_feats, queries_pdf):
    q = queries_df(spark, queries_pdf)
    _check(backfill_features(feats, q).toPandas(), oracle_backfill(oracle_feats, queries_pdf))


def test_backward_salted_equals_plain(spark, feats, oracle_feats, queries_pdf):
    q = queries_df(spark, queries_pdf)
    _check(
        backfill_features(feats, q, salted=True, slice_width_s=600).toPandas(),
        oracle_backfill(oracle_feats, queries_pdf),
    )


@pytest.mark.parametrize("direction", ["forward"])
def test_forward(spark, feats, oracle_feats, queries_pdf, direction):
    q = queries_df(spark, queries_pdf)
    got = asof_join(
        q,
        feats.select("conv_id", "ts", "turn_idx", "feature_vec"),
        by="conv_id",
        left_on="query_ts",
        right_on="ts",
        direction=direction,
        value_cols=["ts", "turn_idx", "feature_vec"],
    ).toPandas()
    _check(got, oracle_backfill(oracle_feats, queries_pdf, direction=direction))


def test_forward_salted(spark, feats, oracle_feats, queries_pdf):
    got = asof_join_salted(
        queries_df(spark, queries_pdf),
        feats.select("conv_id", "ts", "turn_idx", "feature_vec"),
        by="conv_id",
        left_on="query_ts",
        right_on="ts",
        direction="forward",
        value_cols=["ts", "turn_idx", "feature_vec"],
        slice_width_s=600,
    ).toPandas()
    _check(got, oracle_backfill(oracle_feats, queries_pdf, direction="forward"))


@pytest.mark.parametrize("tol", [60.0, 3600.0])
def test_tolerance(spark, feats, oracle_feats, queries_pdf, tol):
    got = asof_join(
        queries_df(spark, queries_pdf),
        feats.select("conv_id", "ts", "turn_idx", "feature_vec"),
        by="conv_id",
        left_on="query_ts",
        right_on="ts",
        tolerance=tol,
        value_cols=["ts", "turn_idx", "feature_vec"],
    ).toPandas()
    _check(got, oracle_backfill(oracle_feats, queries_pdf, tolerance_s=tol))


def test_strict_inequality(spark, feats, oracle_feats, queries_pdf):
    """allow_exact_matches=False: strictly ts < query_ts (hard leakage form)."""
    got = asof_join(
        queries_df(spark, queries_pdf),
        feats.select("conv_id", "ts", "turn_idx", "feature_vec"),
        by="conv_id",
        left_on="query_ts",
        right_on="ts",
        allow_exact_matches=False,
        value_cols=["ts", "turn_idx", "feature_vec"],
    ).toPandas()
    _check(got, oracle_backfill(oracle_feats, queries_pdf, allow_exact_matches=False))


def test_duckdb_asof_cross_check(spark, feats, oracle_feats, queries_pdf):
    """Second, independent oracle: DuckDB's native ASOF JOIN."""
    got = (
        backfill_features(feats, queries_df(spark, queries_pdf))
        .select("query_id", "conv_id", "query_ts", "ts")
        .toPandas()
        .sort_values("query_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    f = oracle_feats[["conv_id", "ts", "turn_idx"]]
    q = queries_pdf
    con.register("f", f)
    con.register("q", q)
    ref = con.sql(
        """
        SELECT q.query_id, f.ts AS ts
        FROM q ASOF LEFT JOIN f
          ON q.conv_id = f.conv_id AND q.query_ts >= f.ts
        ORDER BY q.query_id
        """
    ).df()
    mt, ot = got["ts"].to_numpy(), ref["ts"].to_numpy()
    assert bool(((pd.isna(mt) & pd.isna(ot)) | (mt == ot)).all())


def test_unseen_conv_and_null_ts(spark, feats):
    q = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["zzz_unseen", "c00000000"],
                "query_ts": [pd.Timestamp("2024-02-01"), pd.NaT],
                "query_id": [0, 1],
            }
        ),
        schema="conv_id string, query_ts timestamp, query_id long",
    )
    got = backfill_features(feats, q).toPandas().sort_values("query_id")
    assert len(got) == 2
    assert got["ts"].isna().all()
    assert got["feature_vec"].isna().all()


def test_duplicate_ts_tiebreak(spark):
    """Build rows with identical ts: backward picks max turn_idx, forward min."""
    build = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c"] * 3,
                "ts": pd.to_datetime(["2024-01-01 00:00:00"] * 2 + ["2024-01-01 00:10:00"]),
                "turn_idx": pd.array([0, 1, 2], dtype="int32"),
                "v": [10.0, 11.0, 12.0],
            }
        ),
        schema="conv_id string, ts timestamp, turn_idx int, v double",
    )
    probe = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c", "c"],
                "query_ts": pd.to_datetime(["2024-01-01 00:05:00"] * 2),
                "query_id": [0, 1],
            }
        ),
        schema="conv_id string, query_ts timestamp, query_id long",
    )
    back = asof_join(probe, build, value_cols=["v", "turn_idx"]).toPandas()
    assert set(back["v"]) == {11.0}, "backward tie resolves to max turn_idx"
    fwd = asof_join(probe, build, direction="forward", value_cols=["v", "turn_idx"]).toPandas()
    assert set(fwd["v"]) == {12.0}


def test_auto_skew_split_equals_plain(spark, feats, oracle_feats, queries_pdf):
    """asof_join_auto: hot entities salted, cold plain — same results."""
    from tgist_features_spark.operators.asof import asof_join_auto

    got = asof_join_auto(
        queries_df(spark, queries_pdf),
        feats.select("conv_id", "ts", "turn_idx", "feature_vec"),
        by="conv_id",
        left_on="query_ts",
        right_on="ts",
        value_cols=["ts", "turn_idx", "feature_vec"],
        hot_threshold=20,   # low threshold so both paths are exercised
        slice_width_s=600,
    ).toPandas()
    _check(got, oracle_backfill(oracle_feats, queries_pdf))


def test_asof_auto_partitions_equals_plain(spark, tiny_pdf):
    from tgist_features_spark.operators.asof import _auto_num_partitions
    from tgist_features_spark.sources.corpus import (
        generate_queries_pdf,
        queries_df,
        transcripts_df,
    )

    t = transcripts_df(spark, tiny_pdf)
    q = queries_df(spark, generate_queries_pdf(tiny_pdf, n_queries=80))
    plain = asof_join(q, t, value_cols=["ts", "turn_idx"]).toPandas()
    auto = asof_join(
        q, t, value_cols=["ts", "turn_idx"], num_partitions="auto"
    ).toPandas()
    key = ["conv_id", "query_ts", "query_id"] if "query_id" in plain else list(plain.columns)
    plain = plain.sort_values(list(plain.columns), kind="mergesort").reset_index(drop=True)
    auto = auto.sort_values(list(auto.columns), kind="mergesort").reset_index(drop=True)
    assert plain.equals(auto)
    # the sizing itself: tiny input floors at default parallelism, and the
    # estimate scales linearly in input bytes
    n = _auto_num_partitions(t)
    assert n == spark.sparkContext.defaultParallelism


def test_partitions_for_size_rule():
    from tgist_features_spark.operators.asof import (
        ASOF_TARGET_PARTITION_BYTES,
        _partitions_for_size,
    )

    floor = 8
    assert _partitions_for_size(0, floor) == floor          # no stats
    assert _partitions_for_size(-1, floor) == floor
    assert _partitions_for_size(1 << 62, floor) == floor     # unknown sentinel
    assert _partitions_for_size(1, floor) == floor           # tiny -> floor
    gb64 = 64 * ASOF_TARGET_PARTITION_BYTES
    assert _partitions_for_size(gb64, floor) == 65           # linear scaling
    assert _partitions_for_size((1 << 59), floor) == 1 << 20  # hard cap


def test_coerce_fails_loudly_on_uncoercible_column():
    from pyspark.sql import types as T

    from tgist_features_spark.operators.asof import _coerce

    fields = [T.StructField("n", T.LongType()), T.StructField("x", T.DoubleType())]
    ok = _coerce(pd.DataFrame({"n": [1.0, np.nan], "x": [1, 2]}), fields)
    assert str(ok["n"].dtype) == "Int64" and ok["n"].isna().tolist() == [False, True]
    assert str(ok["x"].dtype) == "float64"
    bad = pd.DataFrame({"n": ["seven", "8"], "x": [1.0, 2.0]})
    with pytest.raises(TypeError, match=r"'n'.*Int64"):
        _coerce(bad, fields)


def test_asof_num_partitions_rejects_bad_string(spark, tiny_pdf):
    import pytest as _pytest

    from tgist_features_spark.sources.corpus import (
        generate_queries_pdf,
        queries_df,
        transcripts_df,
    )

    t = transcripts_df(spark, tiny_pdf)
    q = queries_df(spark, generate_queries_pdf(tiny_pdf, n_queries=5))
    with _pytest.raises(ValueError, match="auto"):
        asof_join(q, t, value_cols=["ts"], num_partitions="Auto")


@pytest.mark.parametrize("direction", ["nearest"])
def test_nearest(spark, feats, oracle_feats, queries_pdf, direction):
    """J-family completeness: direction='nearest' (closest row on either
    side) through the same merge-scan, vs the pandas oracle."""
    q = queries_df(spark, queries_pdf)
    got = asof_join(
        q,
        feats.select("conv_id", "ts", "turn_idx", "feature_vec"),
        by="conv_id",
        left_on="query_ts",
        right_on="ts",
        direction=direction,
        value_cols=["ts", "turn_idx", "feature_vec"],
    ).toPandas()
    _check(got, oracle_backfill(oracle_feats, queries_pdf, direction=direction))


def test_nearest_supported_by_salted(spark, feats, queries_pdf):
    """Round 5: 'nearest' is no longer rejected by the salted path — it
    composes the two directional passes; on the golden corpus it must
    equal the plain merge-scan (the dedicated tie/slice test exercises
    the hard cases)."""
    from tgist_features_spark.operators.asof import asof_join, asof_join_salted

    q = queries_df(spark, queries_pdf)
    kw = dict(by="conv_id", left_on="query_ts", right_on="ts",
              direction="nearest", value_cols=["ts", "turn_idx"])
    plain = (
        asof_join(q, feats.select("conv_id", "ts", "turn_idx"), **kw)
        .toPandas().sort_values("query_id").reset_index(drop=True)
    )
    salted = (
        asof_join_salted(q, feats.select("conv_id", "ts", "turn_idx"), **kw)
        .toPandas().sort_values("query_id").reset_index(drop=True)
    )
    import pandas as pd

    for c in ["ts", "turn_idx"]:
        a, b = plain[c].to_numpy(), salted[c].to_numpy()
        assert ((pd.isna(a) & pd.isna(b)) | (a == b)).all(), c


def test_salted_probe_only_slice_gets_carry(spark):
    """A probe whose time slice contains NO build rows must still match
    the last build row from an earlier slice. This is exactly what the
    probe tag in the fused carry aggregation buys: a build-only
    aggregation would never emit a row for the probe's slice, so no carry
    would exist and the probe would wrongly return null (the faster
    tag-free variant measured in round 4 fails this case)."""
    import pandas as pd

    from tgist_features_spark.operators.asof import asof_join, asof_join_salted

    build = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c"] * 3,
                "ts": pd.to_datetime([1000, 2000, 3000], unit="s"),
                "turn_idx": [0, 1, 2],
            }
        )
    )
    # probe sits 5 hours later: its 1h slice (and the 4 before it) hold no
    # build rows at all
    probe = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c"],
                "query_ts": pd.to_datetime([5 * 3600 + 100], unit="s"),
            }
        )
    )
    kw = dict(
        by="conv_id", left_on="query_ts", right_on="ts",
        direction="backward", value_cols=["ts", "turn_idx"],
    )
    plain = asof_join(probe, build, **kw).toPandas()
    salted = asof_join_salted(probe, build, slice_width_s=3600, **kw).toPandas()
    assert salted["turn_idx"].tolist() == plain["turn_idx"].tolist() == [2]


def test_salted_nearest_matches_plain_with_ties_and_slices(spark):
    """Salted 'nearest' (round 5 — the last asof direction gap) must equal
    the plain merge-scan on a frame engineered to exercise everything the
    composition can get wrong: exact-distance ties (backward must win),
    matches that live in NEIGHBORING slices on either side, probe-only
    slices, tolerance rejection, and null probe timestamps."""
    import numpy as np
    import pandas as pd

    from tgist_features_spark.operators.asof import asof_join, asof_join_salted

    base = pd.Timestamp("2024-01-01")
    rows = []
    # entity e0: build events every 100s; probes sit exactly between two
    # events (tie: |50| both sides), exactly on events, and far away
    for i in range(40):
        rows.append(("e0", base + pd.Timedelta(seconds=100 * i), i))
    build = pd.DataFrame(rows, columns=["conv_id", "ts", "turn_idx"])
    probes = []
    for i, off in enumerate([50, 150, 0, 3950, 12, 88, None]):
        probes.append(
            ("e0", None if off is None else base + pd.Timedelta(seconds=off), i)
        )
    # e1 exists only on the probe side (null match), e2 has one event far
    # from its probe (tolerance rejects)
    probes.append(("e1", base, 100))
    rows.append(("e2", base, 999))
    probes.append(("e2", base + pd.Timedelta(seconds=5000), 101))
    probe = pd.DataFrame(probes, columns=["conv_id", "query_ts", "query_id"])
    build = pd.DataFrame(rows, columns=["conv_id", "ts", "turn_idx"])
    b = spark.createDataFrame(build, schema="conv_id string, ts timestamp, turn_idx int")
    p = spark.createDataFrame(probe, schema="conv_id string, query_ts timestamp, query_id long")

    for tol in [None, 60.0]:
        kw = dict(by="conv_id", left_on="query_ts", right_on="ts",
                  direction="nearest", tolerance=tol,
                  value_cols=["ts", "turn_idx"])
        plain = (
            asof_join(p, b, **kw)
            .toPandas().sort_values("query_id").reset_index(drop=True)
        )
        # slice width 100s: every inter-event probe needs a neighbor-slice
        # candidate on at least one side
        salted = (
            asof_join_salted(p, b, slice_width_s=100, **kw)
            .toPandas().sort_values("query_id").reset_index(drop=True)
        )
        for c in ["ts", "turn_idx"]:
            a, bb = plain[c].to_numpy(), salted[c].to_numpy()
            assert ((pd.isna(a) & pd.isna(bb)) | (a == bb)).all(), (tol, c)
        # tie at +-50s resolves BACKWARD (pandas nearest semantics)
        tie = plain[plain["query_id"] == 0]["turn_idx"].iloc[0]
        assert tie == 0
