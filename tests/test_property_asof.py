"""Hypothesis property tests: engine as-of == pandas.merge_asof on random
skewed frames (every direction, exact or strict, with and without a
tolerance, in Arrow batches small enough to split an entity); sessionize
invariants."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tgist_features_spark.operators.asof import asof_join
from tgist_features_spark.operators.sessionize import sessionize

SPARK = None  # filled by fixture-wrapped tests below


def _rand_frames(seed: int, n_entities: int, n_build: int, n_probe: int):
    rng = np.random.default_rng(seed)
    ents = [f"e{i}" for i in range(n_entities)]
    base = pd.Timestamp("2024-01-01")
    # skewed: entity 0 gets half the rows
    def pick_entities(n):
        p = np.full(n_entities, 0.5 / max(n_entities - 1, 1))
        p[0] = 0.5
        return rng.choice(ents, size=n, p=p)

    build = pd.DataFrame(
        {
            "conv_id": pick_entities(n_build),
            "ts": base + pd.to_timedelta(rng.integers(0, 10**6, n_build), unit="s"),
            "turn_idx": rng.integers(0, 100, n_build).astype("int32"),
            "v": rng.normal(size=n_build),
        }
    )
    # force duplicate timestamps
    if n_build >= 4:
        build.loc[1, "ts"] = build.loc[0, "ts"]
        build.loc[1, "conv_id"] = build.loc[0, "conv_id"]
    probe = pd.DataFrame(
        {
            "conv_id": pick_entities(n_probe),
            "query_ts": base + pd.to_timedelta(rng.integers(0, 10**6, n_probe), unit="s"),
            "query_id": np.arange(n_probe, dtype="int64"),
        }
    )
    # probes on build times (exact matches), a null time, a null entity
    # and an entity with no build rows
    probe.loc[:4, ["conv_id", "query_ts"]] = build.loc[:4, ["conv_id", "ts"]].to_numpy()
    probe.loc[5, "query_ts"] = pd.NaT
    probe.loc[6, "conv_id"] = None
    probe.loc[7, "conv_id"] = "unseen"
    build["ts"] = build["ts"].astype("datetime64[us]")
    probe["query_ts"] = probe["query_ts"].astype("datetime64[us]")
    return build, probe


def _oracle(build, probe, direction, allow_exact_matches, tolerance):
    """``pandas.merge_asof`` of the probes with a time and an entity; the
    others match nothing."""
    b = build.sort_values(["ts", "turn_idx"], kind="mergesort")
    q = probe.dropna(subset=["conv_id", "query_ts"]).sort_values("query_ts", kind="mergesort")
    ref = pd.merge_asof(
        q, b, left_on="query_ts", right_on="ts", by="conv_id", direction=direction,
        allow_exact_matches=allow_exact_matches,
        tolerance=None if tolerance is None else pd.Timedelta(seconds=tolerance),
    )
    return (
        probe[["query_id"]].merge(ref[["query_id", "ts", "v"]], how="left", on="query_id")
        .sort_values("query_id")
        .reset_index(drop=True)
    )


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(0, 2**31 - 1),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    allow_exact_matches=st.booleans(),
    tolerance=st.sampled_from([None, 30.0]),
    batch_rows=st.sampled_from([3, 7, 10000]),
)
def test_asof_matches_merge_asof(spark, arrow_batch_rows, seed, direction,
                                 allow_exact_matches, tolerance, batch_rows):
    """Small Arrow batches put batch boundaries inside entities, where the
    kernel's carry decides the match."""
    build, probe = _rand_frames(seed, n_entities=5, n_build=60, n_probe=40)
    b = spark.createDataFrame(build, schema="conv_id string, ts timestamp, turn_idx int, v double")
    p = spark.createDataFrame(probe, schema="conv_id string, query_ts timestamp, query_id long")
    arrow_batch_rows(batch_rows)
    out = asof_join(p, b, by="conv_id", left_on="query_ts", right_on="ts",
                    direction=direction, tolerance=tolerance,
                    allow_exact_matches=allow_exact_matches,
                    value_cols=["ts", "turn_idx", "v"])
    got = out.toPandas().sort_values("query_id").reset_index(drop=True)
    ref = _oracle(build, probe, direction, allow_exact_matches, tolerance)
    assert got["query_id"].tolist() == ref["query_id"].tolist()
    mt, ot = got["ts"].to_numpy(), ref["ts"].to_numpy()
    assert bool(((pd.isna(mt) & pd.isna(ot)) | (mt == ot)).all())
    gv, rv = got["v"].to_numpy(), ref["v"].to_numpy()
    assert bool(((np.isnan(gv) & np.isnan(rv)) | (gv == rv)).all())


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(seed=st.integers(0, 2**31 - 1), gap_s=st.sampled_from([60.0, 1800.0]))
def test_sessionize_invariants(spark, seed, gap_s):
    rng = np.random.default_rng(seed)
    n = 80
    pdf = pd.DataFrame(
        {
            "conv_id": rng.choice(["a", "b", "c"], size=n),
            "ts": (
                pd.Timestamp("2024-01-01")
                + pd.to_timedelta(np.sort(rng.integers(0, 10**5, n)), unit="s")
            ).astype("datetime64[us]"),
            "turn_idx": np.arange(n, dtype="int32"),
        }
    )
    df = spark.createDataFrame(pdf, schema="conv_id string, ts timestamp, turn_idx int")
    got = (
        sessionize(df, gap_s=gap_s)
        .toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )
    for _cid, g in got.groupby("conv_id"):
        sid = g["session_id"].to_numpy()
        assert sid[0] == 0
        steps = np.diff(sid)
        assert ((steps == 0) | (steps == 1)).all(), "session ids increment by <=1"
        gaps = np.diff(g["ts"].to_numpy()).astype("timedelta64[us]").astype(np.int64)
        expected = (gaps > gap_s * 1e6).astype(np.int64)
        assert (steps == expected).all()


# ---------------------------------------------------- packing properties


@given(
    weights=st.lists(st.integers(min_value=0, max_value=700), min_size=1, max_size=60),
    chunk=st.integers(min_value=1, max_value=300),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_pack_chunks_property(spark, weights, chunk):
    """For ANY weights/chunk size: per-doc token conservation, full
    interior chunks, contiguous chunk ids, offsets in range."""
    import pandas as pd

    from tgist_features_spark.operators.packing import pack_chunks

    pdf = pd.DataFrame({"k": range(len(weights)), "w": weights})
    got = pack_chunks(
        spark.createDataFrame(pdf), "k", "w", chunk, n_parts=3
    ).toPandas()
    pos = {k: w for k, w in zip(pdf.k, pdf.w) if w > 0}
    # token conservation per doc
    per_doc = got.groupby("k")["n_in_chunk"].sum().to_dict()
    assert per_doc == pos
    total = sum(pos.values())
    if total:
        # chunk ids are exactly 0..ceil(total/chunk)-1 and interior full
        per_chunk = got.groupby("chunk_id")["n_in_chunk"].sum().sort_index()
        assert per_chunk.index.tolist() == list(range((total + chunk - 1) // chunk))
        assert (per_chunk.iloc[:-1] == chunk).all()
        assert per_chunk.iloc[-1] == total - chunk * (len(per_chunk) - 1)
    assert ((got["offset_in_chunk"] >= 0) & (got["offset_in_chunk"] < chunk)).all()
    assert (got["n_in_chunk"] >= 1).all()


# ------------------------------------------ round-4 operator properties


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "boiler", "plate", "xx"]),
            min_size=0, max_size=14,
        ).map(" ".join),
        min_size=1, max_size=12,
    ),
    n=st.integers(min_value=2, max_value=4),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_remove_dup_spans_property(spark, docs, n):
    """For ANY corpus over a tiny alphabet (dense gram collisions): the
    Spark span removal equals a naive reference, and removed+kept token
    counts conserve."""
    import pandas as pd

    from tgist_features_spark.operators.dedup import remove_dup_spans

    from collections import defaultdict

    gram_docs = defaultdict(set)
    for d, txt in enumerate(docs):
        tk = txt.split(" ")
        for p in range(len(tk) - n + 1):
            gram_docs[" ".join(tk[p : p + n])].add(d)

    got = (
        remove_dup_spans(
            spark.createDataFrame(
                pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
            ),
            n=n,
        )
        .toPandas().set_index("doc_id").sort_index()
    )
    assert len(got) == len(docs)
    for d, txt in enumerate(docs):
        tk = txt.split(" ")
        cov = set()
        for p in range(len(tk) - n + 1):
            if len(gram_docs[" ".join(tk[p : p + n])]) >= 2:
                cov.update(range(p, p + n))
        clean = " ".join(t for i, t in enumerate(tk) if i not in cov)
        row = got.loc[d]
        assert row.clean_text == clean, (d, txt)
        assert row.n_tokens == len(tk) and row.n_removed == len(cov)


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["t1", "t2", "t3", "rare1", "rare2"]),
            min_size=1, max_size=10,
        ).map(" ".join),
        min_size=1, max_size=10,
    ),
    min_count=st.integers(min_value=1, max_value=6),
    hot_min=st.sampled_from([1, 3, 10**9]),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_token_frequency_stats_property(spark, docs, min_count, hot_min):
    """Integer outputs must equal the naive reference for ANY corpus,
    min_count, and hot_min (the head/tail split must never change
    values — it is physical only)."""
    import pandas as pd

    from tgist_features_spark.functions.text import token_frequency_stats

    from collections import Counter

    C = Counter(t for txt in docs for t in txt.split(" "))
    got = (
        token_frequency_stats(
            spark.createDataFrame(
                pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
            ),
            min_count=min_count,
            hot_min=hot_min,
        )
        .toPandas().set_index("doc_id").sort_index()
    )
    for d, txt in enumerate(docs):
        tk = txt.split(" ")
        n = len(tk)
        sum_tf = sum(C[t] for t in tk)
        oov = sum(1 for t in tk if C[t] < min_count)
        row = got.loc[d]
        assert row.n_tokens == n and row.sum_tf == sum_tf
        assert row.mean_tf_x1e4 == (sum_tf * 10_000) // n
        assert row.oov_count == oov
        assert row.oov_rate_x1e6 == (oov * 1_000_000) // n


@given(
    n_events=st.integers(min_value=1, max_value=80),
    lo=st.integers(min_value=-400, max_value=200),
    width=st.integers(min_value=1, max_value=500),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_bounded_range_join_property(spark, n_events, lo, width, seed):
    """For ANY window (lo, lo+width] and random event times — including
    PRE-1970 (negative epoch) ones, which pin the floor-div bucket math
    against trunc-div bucket loss — the binned join equals the naive
    equi+filter join."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from tgist_features_spark.operators.ranges import bounded_range_join

    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "eid": range(n_events),
        "u": rng.integers(0, 3, n_events),
        "off": rng.integers(-2000, 2000, n_events),
    })
    pdf["ts"] = pd.to_datetime(pdf["off"], unit="s")
    df = spark.createDataFrame(pdf[["eid", "u", "ts"]])
    a = df.select(F.col("eid").alias("aid"), F.col("u"), F.col("ts").alias("ats"))
    b = df.select(
        F.col("eid").alias("bid"), F.col("u").alias("bu"), F.col("ts").alias("bts")
    )
    hi = lo + width
    got = {
        (r.aid, r.bid)
        for r in bounded_range_join(a, b, "u", "bu", "ats", "bts", lo, hi)
        .select("aid", "bid").collect()
    }
    want = {
        (r.aid, r.bid)
        for r in a.join(
            b,
            on=[
                F.col("u") == F.col("bu"),
                F.col("bts") > F.col("ats") + F.expr(f"INTERVAL {lo} SECONDS"),
                F.col("bts") <= F.col("ats") + F.expr(f"INTERVAL {hi} SECONDS"),
            ],
        ).select("aid", "bid").collect()
    }
    assert got == want


@given(
    n=st.integers(min_value=1, max_value=120),
    n_groups=st.integers(min_value=1, max_value=4),
    budget=st.integers(min_value=0, max_value=2000),
    wmax=st.integers(min_value=1, max_value=80),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_budget_sample_property(spark, n, n_groups, budget, wmax, seed):
    """For ANY weights/budgets (zero-weight rows, budget 0, budget larger
    than the group total, single-row groups), the histogram-cut selection
    equals the naive md5-ordered prefix rule."""
    import hashlib

    import numpy as np
    import pandas as pd

    from tgist_features_spark.operators.sampling import budget_sample

    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "doc_id": range(n),
        "g": [f"g{i}" for i in rng.integers(0, n_groups, n)],
        "w": rng.integers(0, wmax, n),
    })
    budgets = {f"g{i}": budget for i in range(n_groups)}
    got = set(
        budget_sample(spark.createDataFrame(pdf), "g", "w", budgets, "doc_id")
        .toPandas()["doc_id"]
    )
    want = set()
    for g, sub in pdf.groupby("g"):
        hv = {
            int(d): int(hashlib.md5(f"{d}budget".encode()).hexdigest()[:15], 16)
            for d in sub["doc_id"]
        }
        run = 0
        for d in sorted(sub["doc_id"], key=lambda x: (hv[int(x)], x)):
            wv = int(sub.loc[sub["doc_id"] == d, "w"].iloc[0])
            if run + wv > budget:
                break
            run += wv
            want.add(int(d))
    assert got == want


# --- round-6 interval-islands properties (placed here with the other
# Spark-backed hypothesis suites; module spark fixture already scoped)

from hypothesis import given as _given, settings as _settings
from hypothesis import strategies as _st

_ivs = _st.lists(
    _st.tuples(
        _st.integers(0, 4),          # entity
        _st.integers(-1000, 1000),   # start (pre-1970-analog negatives too)
        _st.integers(0, 120),        # length
    ),
    min_size=1,
    max_size=60,
)


@_settings(max_examples=25, deadline=None)
@_given(_ivs)
def test_interval_islands_properties(spark, ivs):
    """Invariants for arbitrary interval sets: islands are disjoint with
    strict gaps, each tiles exactly its members, per-entity span counts
    conserve, and the salted two-phase route is EXACTLY equal."""
    from tgist_features_spark.operators.ranges import (
        interval_islands,
        interval_islands_salted,
    )

    rows = [(i, e, s, s + ln) for i, (e, s, ln) in enumerate(ivs)]
    df = spark.createDataFrame(rows, ["id", "e", "s", "t"])
    got = interval_islands(df, "e", "s", "t", "id").toPandas()
    salted = interval_islands_salted(df, "e", "s", "t", "id", n_salts=3).toPandas()
    key = ["e", "island_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True).astype("int64"),
        salted.sort_values(key).reset_index(drop=True).astype("int64"),
    )
    byent: dict[int, list[tuple[int, int]]] = {}
    for _, e, s, t in rows:
        byent.setdefault(e, []).append((s, t))
    assert got["n_spans"].sum() == len(rows)
    for e, grp in got.groupby("e"):
        grp = grp.sort_values("island_id")
        # island ids are dense from 1
        assert list(grp["island_id"]) == list(range(1, len(grp) + 1))
        # strict gaps between consecutive islands
        starts = grp["island_start"].to_numpy()
        ends = grp["island_end"].to_numpy()
        assert (starts[1:] > ends[:-1]).all()
        # every input interval is contained in exactly one island
        for s, t in byent[e]:
            hits = ((starts <= s) & (t <= ends)).sum()
            assert hits == 1
