"""As-of join: engine vs pandas.merge_asof oracle vs DuckDB ASOF JOIN,
both routes of ``asof_join`` (plain and time-sliced), all
directions/variants, edge cases, the exchange's sizing, and the sliced
route's plan shape, job budget and slice sizes."""

from __future__ import annotations

import datetime
import re
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
import pytest

import tgist_features_spark.operators.asof as asof_ops
from tgist_features_spark.operators.asof import asof_join
from tgist_features_spark.oracle.pandas_oracle import oracle_backfill
from tgist_features_spark.plans.backfill import backfill_features, turn_features
from tgist_features_spark.sources.corpus import (
    generate_queries_pdf,
    queries_df,
    transcripts_df,
)


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


@pytest.fixture
def hot20(hot_above, small_pdf):
    """``hot20(build)``: conversations with more than 20 build rows are hot;
    ``small_pdf`` holds both hot and cold ones, so they share one
    exchange."""
    sizes = small_pdf.groupby("conv_id").size()
    assert (sizes > 20).any() and (sizes <= 20).any()
    return lambda build: hot_above(build, 20)


def _is_sliced(df) -> bool:
    """Did ``asof_join`` take the time-sliced route (not plain)?"""
    return "__slice" in df._jdf.queryExecution().analyzed().toString()


def test_backward_salted_equals_plain(spark, feats, oracle_feats, queries_pdf, hot20):
    q = queries_df(spark, queries_pdf)
    hot20(feats.select("conv_id", "ts", "turn_idx", "feature_vec"))
    out = backfill_features(feats, q)
    assert _is_sliced(out)
    _check(out.toPandas(), oracle_backfill(oracle_feats, queries_pdf))


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


def test_forward_salted(spark, feats, oracle_feats, queries_pdf, hot20):
    got = asof_join(
        queries_df(spark, queries_pdf),
        hot20(feats.select("conv_id", "ts", "turn_idx", "feature_vec")),
        by="conv_id",
        left_on="query_ts",
        right_on="ts",
        direction="forward",
        value_cols=["ts", "turn_idx", "feature_vec"],
    )
    assert _is_sliced(got)
    _check(got.toPandas(),
           oracle_backfill(oracle_feats, queries_pdf, direction="forward"))


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


_VALUES = ("sig long, far timestamp, dec decimal(38,18), d date, ntz timestamp_ntz, "
           "bin binary, st struct<a:int,b:string>, m map<string,int>, arr array<string>")


@pytest.mark.parametrize("route", ["plain", "sliced"])
def test_values_keep_exact_type(spark, hot_above, tmp_path, route):
    """Every value crosses the merge-scan unchanged in its own type: 64-bit
    integers above 2^53 (a probe column and a carried one), timestamps past
    2262, decimal(38,18), date, timestamp_ntz, binary, struct, map and
    array<string>; a probe ``int`` entity against a build ``long`` one stays
    ``int``. One probe matches, one has no earlier build row, and one has
    a null entity, which matches nothing (not the null-entity build row)."""
    big, day = 2**62, datetime.datetime(2024, 1, 1)

    def values(k):
        return (big + k, datetime.datetime(2500, 1, 1, 0, 0, k),
                Decimal(f"12345678901234567890.{k:018d}"),
                datetime.date(9999, 12, 31 - k), datetime.datetime(2600, 6, 1, 0, 0, k),
                bytes([0, 255, k]), (k, f"s{k}"), {"k": k}, ["a", f"b{k}"])

    # read from parquet, so the build has a size estimate and the plain
    # route runs unless ``hot_above`` shrinks the task budget
    spark.createDataFrame(
        [(1, day - datetime.timedelta(days=31), 0, *values(1)),
         (1, day, 1, *values(2)),
         (2, day, 2, *values(3)),
         (None, day, 3, *values(4))],
        f"uid long, ts timestamp, turn_idx int, {_VALUES}",
    ).write.parquet(str(tmp_path / "build"))
    build = spark.read.parquet(str(tmp_path / "build"))
    later = day + datetime.timedelta(days=1)
    probe = spark.createDataFrame(
        [(1, later, big + 1, datetime.datetime(2500, 2, 1)),
         (2, day - datetime.timedelta(days=1), big + 2, datetime.datetime(2500, 2, 2)),
         (None, later, big + 3, datetime.datetime(2500, 2, 3))],
        "uid int, query_ts timestamp, query_id long, asked timestamp",
    )
    carried = [c for c in build.columns if c not in ("uid", "ts")]
    if route == "sliced":
        hot_above(build, 1)  # uid 1's two rows are hot
    out = asof_join(probe, build, by="uid", value_cols=["ts", *carried])
    assert _is_sliced(out) == (route == "sliced")
    assert out.schema["uid"].dataType == probe.schema["uid"].dataType
    for c in ["ts", *carried]:
        assert out.schema[c].dataType == build.schema[c].dataType, c

    got = {r["query_id"]: r.asDict() for r in out.collect()}
    assert len(got) == 3
    for p in probe.collect():
        assert {c: got[p["query_id"]][c] for c in probe.columns} == p.asDict()
    match = build.filter("turn_idx = 1").first().asDict()
    assert {c: got[big + 1][c] for c in ["ts", *carried]} == {
        c: match[c] for c in ["ts", *carried]}
    for q in (big + 2, big + 3):
        assert all(got[q][c] is None for c in ["ts", *carried]), q


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_null_entity_matches_nothing(spark, direction):
    """A probe with a null entity matches no build row, not even one whose
    entity is null too, as in DuckDB's ASOF LEFT JOIN (checked for
    backward and forward; nearest must give null likewise)."""
    base = pd.Timestamp("2024-01-01")
    build = pd.DataFrame({
        "conv_id": ["a", "a", None, None, "b"],
        "ts": [base + pd.Timedelta(seconds=s) for s in (10, 20, 14, 30, 5)],
        "turn_idx": [0, 1, 2, 3, 4],
    })
    probe = pd.DataFrame({
        "conv_id": ["a", None, "b", None],
        "query_ts": [base + pd.Timedelta(seconds=s) for s in (15, 15, 1, 40)],
        "query_id": [0, 1, 2, 3],
    })
    got = asof_join(
        spark.createDataFrame(probe, "conv_id string, query_ts timestamp, query_id long"),
        spark.createDataFrame(build, "conv_id string, ts timestamp, turn_idx int"),
        direction=direction, value_cols=["turn_idx"],
    ).toPandas().set_index("query_id")["turn_idx"]
    assert got.loc[[1, 3]].isna().all()
    if direction == "nearest":
        return
    op = ">=" if direction == "backward" else "<="
    con = duckdb.connect()
    con.register("b", build)
    con.register("p", probe)
    ref = con.sql(f"""
        SELECT p.query_id, b.turn_idx FROM p ASOF LEFT JOIN b
          ON p.conv_id = b.conv_id AND p.query_ts {op} b.ts
    """).df().set_index("query_id")["turn_idx"]
    assert got.sort_index().astype("Int64").tolist() == \
        ref.sort_index().astype("Int64").tolist()


def test_auto_skew_split_equals_plain(spark, feats, oracle_feats, queries_pdf, hot20):
    """asof_join's sliced route: hot entities time-sliced, cold ones in
    slice 0, one exchange — same results as the oracle."""
    got = asof_join(
        queries_df(spark, queries_pdf),
        hot20(feats.select("conv_id", "ts", "turn_idx", "feature_vec")),
        by="conv_id",
        left_on="query_ts",
        right_on="ts",
        value_cols=["ts", "turn_idx", "feature_vec"],
    )
    assert _is_sliced(got)
    _check(got.toPandas(), oracle_backfill(oracle_feats, queries_pdf))


def test_probe_side_sizes_the_exchange(spark, tiny_pdf, monkeypatch):
    """The probe side sizes the exchange too. With the per-task target
    lowered so that the probe estimate alone needs more tasks than
    ``spark.sql.shuffle.partitions`` (and the build alone would not), the
    range exchange gets that many partitions as a fixed count; the build
    still fits one task's budget, so nothing is sliced."""
    t = transcripts_df(spark, tiny_pdf).select("conv_id", "ts", "turn_idx")
    qpdf = generate_queries_pdf(tiny_pdf, n_queries=2000)
    q = queries_df(spark, qpdf)
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    probe_est, build_est = asof_ops._size_estimate(q), asof_ops._size_estimate(t)
    target = probe_est // (2 * default)
    assert 0 < build_est <= asof_ops.ASOF_TASK_BYTES
    assert build_est // target + 1 <= default < probe_est // target + 1
    monkeypatch.setattr(asof_ops, "ASOF_TARGET_PARTITION_BYTES", target)

    out = asof_join(q, t, value_cols=["ts", "turn_idx"])
    assert not _is_sliced(out)
    plan = _final_plan(out)
    exchanges = re.findall(r"rangepartitioning\(.*?, (\d+)\), (REPARTITION_BY_\w+)", plan)
    assert len(exchanges) == 1, plan
    n, origin = exchanges[0]
    assert int(n) > default and origin == "REPARTITION_BY_NUM", plan

    got = out.toPandas().sort_values("query_id").reset_index(drop=True)
    ref = pd.merge_asof(
        qpdf.sort_values("query_ts", kind="mergesort"),
        tiny_pdf[["conv_id", "ts", "turn_idx"]].sort_values(
            ["ts", "turn_idx"], kind="mergesort"),
        left_on="query_ts", right_on="ts", by="conv_id",
    ).sort_values("query_id").reset_index(drop=True)
    assert got["query_id"].tolist() == ref["query_id"].tolist()
    for c in ("ts", "turn_idx"):
        a, b = got[c].to_numpy(), ref[c].to_numpy()
        assert bool(((pd.isna(a) & pd.isna(b)) | (a == b)).all()), c


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


def test_nearest_supported_by_salted(spark, feats, queries_pdf, hot20):
    """'nearest' through the skew-safe path (one merge over each slice plus
    both of its carries) must equal the plain merge-scan on the golden
    corpus (the dedicated tie/slice test exercises the hard cases)."""
    q = queries_df(spark, queries_pdf)
    kw = dict(by="conv_id", left_on="query_ts", right_on="ts",
              direction="nearest", value_cols=["ts", "turn_idx"])
    plain = asof_join(q, feats.select("conv_id", "ts", "turn_idx"), **kw)
    assert not _is_sliced(plain)
    plain = plain.toPandas().sort_values("query_id").reset_index(drop=True)
    auto = asof_join(q, hot20(feats.select("conv_id", "ts", "turn_idx")), **kw)
    assert _is_sliced(auto)
    salted = auto.toPandas().sort_values("query_id").reset_index(drop=True)
    for c in ["ts", "turn_idx"]:
        a, b = plain[c].to_numpy(), salted[c].to_numpy()
        assert ((pd.isna(a) & pd.isna(b)) | (a == b)).all(), c


def test_salted_probe_only_slice_gets_carry(spark, hot_above):
    """A probe whose time slice contains NO build rows must still match
    the last build row from an earlier slice. This is exactly what the
    probe tag in the fused carry aggregation buys: a build-only
    aggregation would never emit a row for the probe's slice, so no carry
    would exist and the probe would wrongly return null (the faster
    tag-free variant measured in round 4 fails this case)."""
    build = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c"] * 3,
                "ts": pd.to_datetime([1000, 2000, 3000], unit="s"),
                "turn_idx": [0, 1, 2],
            }
        )
    )
    # probe sits 5 hours later: with ~667 s slices, its slice (and the 22
    # before it) hold no build rows at all
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
    plain = asof_join(probe, build, **kw)
    assert not _is_sliced(plain)
    plain = plain.toPandas()
    hot_above(build, 1)
    hot = asof_ops._hot_slices(build, ["conv_id"], "ts")
    b_slices = {r["__slice"] for r in
                asof_ops._tag_slices(build, hot, ["conv_id"], "ts").collect()}
    p_slice = asof_ops._tag_slices(probe, hot, ["conv_id"], "query_ts").first()["__slice"]
    assert p_slice > max(b_slices), (p_slice, b_slices)
    auto = asof_join(probe, build, **kw)
    assert _is_sliced(auto)
    salted = auto.toPandas()
    assert salted["turn_idx"].tolist() == plain["turn_idx"].tolist() == [2]


def test_salted_nearest_matches_plain_with_ties_and_slices(spark, hot_above):
    """Skew-safe 'nearest' must equal the plain merge-scan on a frame
    engineered to exercise everything the carries can get wrong:
    exact-distance ties (backward must win), matches that live in
    NEIGHBORING slices on either side, probe-only slices, tolerance
    rejection, and null probe timestamps."""
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
    # e3: two bursts 10000 s apart (~500 s slices); probes in the gap sit in
    # probe-only slices and match a carry from either side — backward
    # nearer (200), an exact tie between the two carries (201), forward
    # nearer (202)
    for i in range(10):
        rows.append(("e3", base + pd.Timedelta(seconds=i), i))
        rows.append(("e3", base + pd.Timedelta(seconds=10_000 + i), 10 + i))
    for qid, off in [(200, 5000.0), (201, 5004.5), (202, 6000.0)]:
        probes.append(("e3", base + pd.Timedelta(seconds=off), qid))
    probe = pd.DataFrame(probes, columns=["conv_id", "query_ts", "query_id"])
    build = pd.DataFrame(rows, columns=["conv_id", "ts", "turn_idx"])
    b = spark.createDataFrame(build, schema="conv_id string, ts timestamp, turn_idx int")
    p = spark.createDataFrame(probe, schema="conv_id string, query_ts timestamp, query_id long")
    kws = {tol: dict(by="conv_id", left_on="query_ts", right_on="ts",
                     direction="nearest", tolerance=tol,
                     value_cols=["ts", "turn_idx"])
           for tol in [None, 60.0]}
    plains = {}
    for tol, kw in kws.items():
        plain = asof_join(p, b, **kw)
        assert not _is_sliced(plain)
        plains[tol] = plain.toPandas().sort_values("query_id").reset_index(drop=True)
    # every entity with 2+ rows is hot; slices are ~span/n wide
    hot_above(b, 1)

    # the slicing really forces neighbour-slice carries: query 0's forward
    # match (100 s) lies in the next slice, and each e3 gap probe's slice
    # holds no build row, with build slices on both sides
    hot = asof_ops._hot_slices(b, ["conv_id"], "ts")
    b_sl = asof_ops._tag_slices(b, hot, ["conv_id"], "ts").toPandas()
    p_sl = asof_ops._tag_slices(p, hot, ["conv_id"], "query_ts").toPandas()
    slice_of = dict(zip(zip(b_sl["conv_id"], b_sl["turn_idx"]), b_sl["__slice"]))
    q0 = p_sl.loc[p_sl["query_id"] == 0, "__slice"].iloc[0]
    assert slice_of[("e0", 0)] == q0 < slice_of[("e0", 1)]
    e3 = set(b_sl.loc[b_sl["conv_id"] == "e3", "__slice"])
    for qid in (200, 201, 202):
        s = p_sl.loc[p_sl["query_id"] == qid, "__slice"].iloc[0]
        assert s not in e3 and min(e3) < s < max(e3), (qid, s, e3)

    for tol, kw in kws.items():
        plain = plains[tol]
        auto = asof_join(p, b, **kw)
        assert _is_sliced(auto)
        salted = auto.toPandas().sort_values("query_id").reset_index(drop=True)
        for c in ["ts", "turn_idx"]:
            a, bb = plain[c].to_numpy(), salted[c].to_numpy()
            assert ((pd.isna(a) & pd.isna(bb)) | (a == bb)).all(), (tol, c)
        # tie at +-50s resolves BACKWARD (pandas nearest semantics)
        tie = plain[plain["query_id"] == 0]["turn_idx"].iloc[0]
        assert tie == 0
        if tol is None:
            gap = plain.set_index("query_id")["turn_idx"]
            assert (gap[200], gap[201], gap[202]) == (9, 9, 10)


def test_derived_slice_width_bounds_rows_per_slice(spark, hot_above):
    """With evenly spaced, equally wide build rows and a task budget of B
    rows, no hot (entity, slice) holds more than B + 1 rows, whatever the
    spacing; an entity with exactly B rows is cold and keeps slice 0."""
    B = 50
    base = pd.Timestamp("2024-01-01")
    # equal-length ids, so every row has the same payload width
    spacing_us = {"h7s": 7_000_000, "h3u": 3, "h1u": 1, "cld": 60_000_000}
    n_rows = {"h7s": 1000, "h3u": 997, "h1u": 700, "cld": B}
    pdf = pd.concat([
        pd.DataFrame({
            "conv_id": e,
            "ts": base + pd.to_timedelta(np.arange(n_rows[e]) * d, unit="us"),
        })
        for e, d in spacing_us.items()
    ])
    build = hot_above(
        spark.createDataFrame(pdf, schema="conv_id string, ts timestamp"), B)
    hot = asof_ops._hot_slices(build, ["conv_id"], "ts")
    per_slice = (
        asof_ops._tag_slices(build, hot, ["conv_id"], "ts")
        .groupBy("conv_id", "__slice", "__hot").count().toPandas()
    )
    for e, n in n_rows.items():
        g = per_slice[per_slice["conv_id"] == e]
        if e == "cld":
            assert g["__slice"].tolist() == [0] and not g["__hot"].any()
            continue
        assert g["__hot"].all(), e
        assert g["count"].max() <= B + 1, (e, g["count"].max())
        assert len(g) >= -(-n // (B + 1)), e


def _final_plan(df) -> str:
    """The executed (final adaptive) physical plan of ``df`` after a run."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().executedPlan().toString()


@pytest.fixture(scope="module")
def parquet_sides(spark, small_pdf, queries_pdf, tmp_path_factory):
    """Build/probe read from parquet, so any RDD scan in a plan would come
    from the operator itself (a checkpoint), not from the test data."""
    d = tmp_path_factory.mktemp("asof_sides")
    transcripts_df(spark, small_pdf).select("conv_id", "ts", "turn_idx").write.parquet(
        str(d / "build"))
    queries_df(spark, queries_pdf).write.parquet(str(d / "probe"))
    return spark.read.parquet(str(d / "probe")), spark.read.parquet(str(d / "build"))


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_auto_plan_is_one_exchange_one_merge(parquet_sides, hot20, direction):
    p, b = parquet_sides
    out = asof_join(p, hot20(b), direction=direction, value_cols=["ts", "turn_idx"])
    assert _is_sliced(out)
    plan = _final_plan(out)
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan, plan
    assert len(re.findall(r"Exchange rangepartitioning", plan)) == 1, plan
    assert "ExistingRDD" not in plan, "no checkpointed (RDD-scanned) input"


def test_auto_nearest_job_budget(spark, parquet_sides, hot20):
    """'nearest' is the same single pass as 'backward': no extra jobs."""
    p, b = parquet_sides
    hot20(b)
    sc = spark.sparkContext
    jobs = {}
    for direction in ("backward", "nearest"):
        group = f"asof-auto-{direction}"
        sc.setJobGroup(group, group)
        try:
            asof_join(p, b, direction=direction, value_cols=["ts", "turn_idx"]) \
                .write.mode("overwrite").format("noop").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[direction] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs["nearest"] <= jobs["backward"], jobs


def test_auto_routes_small_build_to_plain(parquet_sides, monkeypatch):
    """A build whose size estimate fits one task cannot hold a hot entity,
    so ``asof_join`` then runs the plain merge-scan (no hot-set job); with
    the budget below the estimate it takes the sliced route."""
    p, b = parquet_sides
    est = asof_ops._size_estimate(b)
    assert 0 < est <= asof_ops.ASOF_TASK_BYTES
    assert not _is_sliced(asof_join(p, b, value_cols=["ts", "turn_idx"]))
    monkeypatch.setattr(asof_ops, "ASOF_TASK_BYTES", est - 1)
    assert _is_sliced(asof_join(p, b, value_cols=["ts", "turn_idx"]))


def test_size_estimate_raises_python_side_errors():
    """Only a JVM-side failure means "no statistics" (estimate 0); a
    Python-side error such as a missing ``_jdf`` must surface."""
    with pytest.raises(AttributeError):
        asof_ops._size_estimate(object())


def test_row_bytes_measures_payload(spark):
    """Hot detection sums per-row payload bytes: byte length for strings
    (UTF-8), elements for arrays (0 when null), fixed widths otherwise
    (null or not)."""
    df = spark.createDataFrame(
        [("abé", [1.0, 2.0], ["x", "yz"], 7, None),
         ("", None, [], None, "q")],
        "s string, a array<double>, sa array<string>, i int, n string",
    )
    got = [r[0] for r in df.select(asof_ops._row_bytes(df)).collect()]
    assert got == [4 + 16 + 3 + 4 + 0, 0 + 0 + 0 + 4 + 1]
