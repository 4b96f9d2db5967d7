"""As-of join: engine vs pandas.merge_asof oracle vs DuckDB ASOF JOIN, all
directions/variants, edge cases, exact value types, the plan shape and job
budget, and the streaming kernel's memory bound (run without Spark)."""

from __future__ import annotations

import datetime
import re
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pytest

import tgist_features_spark.operators.asof as asof_ops
from tgist_features_spark.operators.asof import asof_join
from tgist_features_spark.oracle.pandas_oracle import oracle_backfill
from tgist_features_spark.plans.backfill import backfill_features, turn_features
from tgist_features_spark.sources.corpus import (
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


def test_rejects_bad_direction_and_negative_tolerance():
    """Refused before any plan is built, as ``pandas.merge_asof`` refuses a
    negative tolerance."""
    with pytest.raises(ValueError, match="direction"):
        asof_join(None, None, direction="sideways")
    with pytest.raises(ValueError, match="tolerance"):
        asof_join(None, None, tolerance=-1.0)


_VALUES = ("sig long, far timestamp, dec decimal(38,18), d date, ntz timestamp_ntz, "
           "bin binary, st struct<a:int,b:string>, m map<string,int>, arr array<string>")


def test_values_keep_exact_type(spark, tmp_path):
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
    out = asof_join(probe, build, by="uid", value_cols=["ts", *carried])
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


def test_salted_nearest_matches_plain_with_ties_and_slices(spark, arrow_batch_rows):
    """'nearest' equals ``pandas.merge_asof`` on a frame engineered to
    exercise everything the kernel's carry can get wrong, read in 3-row
    Arrow batches so that batch boundaries fall inside every entity:
    exact-distance ties (backward must win), matches several batches away
    on either side, probes in long gaps between build rows, tolerance
    rejection, an unseen entity and null probe timestamps."""
    base = pd.Timestamp("2024-01-01")
    rows = []
    # entity e0: build events every 100s; probes sit exactly between two
    # events (tie: |50| both sides), exactly on events, and far away
    for i in range(40):
        rows.append(("e0", base + pd.Timedelta(seconds=100 * i), i))
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
    # e3: two bursts 10000 s apart; probes in the gap match a row on either
    # side — backward nearer (200), an exact tie between the two (201),
    # forward nearer (202)
    for i in range(10):
        rows.append(("e3", base + pd.Timedelta(seconds=i), i))
        rows.append(("e3", base + pd.Timedelta(seconds=10_000 + i), 10 + i))
    for qid, off in [(200, 5000.0), (201, 5004.5), (202, 6000.0)]:
        probes.append(("e3", base + pd.Timedelta(seconds=off), qid))
    probe = pd.DataFrame(probes, columns=["conv_id", "query_ts", "query_id"])
    build = pd.DataFrame(rows, columns=["conv_id", "ts", "turn_idx"])
    b = spark.createDataFrame(build, schema="conv_id string, ts timestamp, turn_idx int")
    p = spark.createDataFrame(probe, schema="conv_id string, query_ts timestamp, query_id long")
    arrow_batch_rows(3)
    for tol in [None, 60.0]:
        got = asof_join(p, b, by="conv_id", left_on="query_ts", right_on="ts",
                        direction="nearest", tolerance=tol,
                        value_cols=["ts", "turn_idx"])
        got = got.toPandas().sort_values("query_id").reset_index(drop=True)
        live = probe.dropna(subset=["query_ts"]).sort_values("query_ts")
        ref = pd.merge_asof(
            live, build.sort_values(["ts", "turn_idx"], kind="mergesort"),
            left_on="query_ts", right_on="ts", by="conv_id", direction="nearest",
            tolerance=None if tol is None else pd.Timedelta(seconds=tol))
        ref = probe[["query_id"]].merge(ref, how="left", on="query_id")
        ref = ref.sort_values("query_id").reset_index(drop=True)
        for c in ["ts", "turn_idx"]:
            a, bb = got[c].to_numpy(), ref[c].to_numpy()
            assert ((pd.isna(a) & pd.isna(bb)) | (a == bb)).all(), (tol, c)
        # tie at +-50s resolves BACKWARD (pandas nearest semantics)
        got = got.set_index("query_id")["turn_idx"]
        assert got[0] == 0 and pd.isna(got[6]) and pd.isna(got[100])
        if tol is None:
            assert (got[200], got[201], got[202]) == (9, 9, 10)


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
def test_auto_plan_is_one_exchange_one_merge(parquet_sides, direction):
    """Every direction is one range exchange on the session's partition
    count (``REPARTITION_BY_COL``, which AQE may coalesce) and one
    ``mapInArrow``."""
    p, b = parquet_sides
    out = asof_join(p, b, direction=direction, value_cols=["ts", "turn_idx"])
    plan = _final_plan(out)
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan, plan
    assert len(re.findall(r"Exchange rangepartitioning", plan)) == 1, plan
    assert re.search(r"rangepartitioning\([^)]*\), REPARTITION_BY_COL", plan), plan
    assert "ExistingRDD" not in plan, "no checkpointed (RDD-scanned) input"


def test_auto_nearest_job_budget(spark, parquet_sides):
    """'nearest' is the same single pass as 'backward': no extra jobs."""
    p, b = parquet_sides
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


def _hot_stream(seed: int, n_build: int = 20_000, n_probe: int = 2_000):
    """The merge input of one entity, sorted as ``asof_join`` sorts it:
    ``n_build`` build rows (duplicate times included) and ``n_probe``
    probes, in 100-row Arrow batches. About five rows share each time, so
    runs of equal times often cross a batch boundary. Returns the batches
    and, per probe's ``query_id``, the index of the batch holding it."""
    rng = np.random.default_rng(seed)
    key = rng.integers(0, (n_build + n_probe) // 5, n_build + n_probe)
    side = np.repeat(np.int32([0, 1]), [n_build, n_probe])
    tb = np.r_[rng.integers(0, 50, n_build), np.zeros(n_probe, dtype=int)]
    order = np.lexsort((tb, side, key))
    key, side, tb = key[order], side[order], tb[order]
    build = side == 0
    qid = np.cumsum(~build) - 1
    table = pa.table({
        "conv_id": pa.array(["hot"] * len(key)),
        "__key": pa.array(key),
        "__side": pa.array(side),
        "query_id": pa.array(qid, mask=build),
        "ts": pa.array(key, mask=~build),
        "turn_idx": pa.array(tb, mask=~build),
    })
    batches = table.to_batches(max_chunksize=100)
    batch_of = (np.arange(len(key)) // 100)[~build]
    return batches, batch_of


@pytest.mark.parametrize("exact", [True, False])
@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_kernel_streams_with_bounded_carry(monkeypatch, direction, exact):
    """The merge-scan kernel, called directly on 100-row batches of one hot
    entity (20k build rows, 2k probes): it carries at most 3 build rows
    between batches, plus (forward, nearest) the probes still waiting for
    a later build row; for backward it carries nothing else and yields the
    output of batch k before it pulls batch k + 2. The result equals
    ``pandas.merge_asof``."""
    batches, batch_of = _hot_stream(seed=11)
    pulled, carries = [], []

    def feed():
        for k, b in enumerate(batches):
            pulled.append(k)
            yield b

    step = asof_ops._step

    def spy(chunk, last, **spec):
        out, carry = step(chunk, last, **spec)
        if carry is not None:
            carries.append(carry)
        return out, carry

    monkeypatch.setattr(asof_ops, "_step", spy)
    outs = []
    for out in asof_ops._scan(
        feed(), by=["conv_id"], direction=direction, tol=None, exact=exact,
        probe_cols=["conv_id", "query_id"], carried=["ts", "turn_idx"], narrow={},
        names=["conv_id", "query_id", "ts", "turn_idx"],
    ):
        qids = out.column("query_id").to_numpy()
        if direction == "backward":
            assert len(pulled) <= batch_of[qids].min() + 2
        outs.append(out)

    assert carries
    for carry in carries:
        waiting = int(pc.sum(carry.column("__side")).as_py() or 0)
        assert carry.num_rows - waiting <= 3
        if direction == "backward":
            assert waiting == 0

    got = pa.Table.from_batches(outs).to_pandas().sort_values("query_id")
    rows = pa.Table.from_batches(batches).to_pandas()
    probe = rows[rows["__side"] == 1][["query_id", "__key"]]
    build = rows[rows["__side"] == 0][["__key", "ts", "turn_idx"]]
    ref = pd.merge_asof(probe, build, on="__key", direction=direction,
                        allow_exact_matches=exact).sort_values("query_id")
    assert got["query_id"].tolist() == list(range(len(probe)))
    for c in ("ts", "turn_idx"):
        a, b = got[c].to_numpy(), ref[c].to_numpy()
        assert ((pd.isna(a) & pd.isna(b)) | (a == b)).all(), c
