"""Physical-plan regression tests: the plans we designed for 100 TB must
stay the plans Catalyst produces (SURVEY.md §4)."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F
from pyspark.util import PythonEvalType

from tgist_features_spark.functions.text import ngram_features
from tgist_features_spark.operators.asof import asof_join
from tgist_features_spark.plans.backfill import turn_features
from tgist_features_spark.sources.corpus import (
    generate_queries_pdf,
    queries_df,
    transcripts_df,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def frames(spark, tiny_pdf):
    t = transcripts_df(spark, tiny_pdf)
    q = queries_df(spark, generate_queries_pdf(tiny_pdf, n_queries=50))
    return t, q


def test_asof_is_single_range_exchange_mergescan(spark, frames):
    t, q = frames
    p = _plan(asof_join(q, t, value_cols=["ts", "turn_idx", "role"]))
    assert "MapInArrow" in p and "MapInPandas" not in p, "as-of must be the bulk merge-scan"
    assert "FlatMapCoGroupsInPandas" not in p, "no per-group Python calls"
    assert len(re.findall(r"rangepartitioning", p)) == 1, (
        "exactly one range exchange feeds the merge"
    )
    # a small input keeps the session-default exchange, which AQE may coalesce
    assert re.search(r"rangepartitioning\([^)]*\), REPARTITION_BY_COL", p), p


def test_turn_features_single_layout_shuffle(spark, frames):
    t, _ = frames
    p = _plan(turn_features(t))
    # one planned exchange: the canonical-order range repartition, which
    # the feature kernel consumes shuffle-free
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1, p[:1500]
    assert len(re.findall(r"rangepartitioning", p)) == 1
    # the n-gram UDF stays an Arrow UDF for its other callers
    # (doc_features, perfbench's text span)
    assert ngram_features.evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF
    feats = turn_features(t)
    feats.collect()
    final = _plan(feats).split("== Initial Plan ==")[0]
    assert "== Final Plan ==" in final
    # window and text features are one Arrow kernel: one MapInArrow node,
    # no Catalyst Window and no separate ArrowEvalPython stage
    assert len(re.findall(r"MapInArrow \(\d+\)", final)) == 1, final
    assert "Window" not in final and "ArrowEvalPython" not in final, final


def test_scan_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.col("event_type") == "error")
        .select("event_id", "ts")
    )
    p = _plan(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]" in p
    assert re.search(r"ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,event_type:string>", p)


def test_broadcast_dim_join(spark):
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    p = _plan(o.join(F.broadcast(c), o.o_custkey == c.c_custkey))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bucket_day_layout_partition_pruning(spark, tiny_pdf, tmp_path):
    """The parquet-fallback feature layout (bucket(conv_id) x day(ts)
    directories, sources/table_io.py) must actually prune: a bucket+day
    filter has to reach the scan as PartitionFilters, not a post-scan
    Filter over all files."""
    from tgist_features_spark.sources.table_io import TableIO

    io_ = TableIO(spark, str(tmp_path), n_buckets=8)
    io_.write(transcripts_df(spark, tiny_pdf), "features")
    df = spark.read.parquet(io_.path("features")).filter(
        (F.col("bucket") == 3) & (F.col("day") >= "2024-01-02")
    )
    p = _plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m, p[:1500]
    pf = m.group(1)
    assert "bucket" in pf and "day" in pf, pf
    # pruned read returns exactly the rows a full-scan filter returns
    full = spark.read.parquet(io_.path("features"))
    expect = full.filter(
        (F.col("bucket") == 3) & (F.col("day") >= "2024-01-02")
    ).count()
    assert df.count() == expect
    # and reading one bucket directory directly also works (layout contract)
    one = spark.read.parquet(io_.path("features") + "/bucket=3")
    assert one.count() == full.filter(F.col("bucket") == 3).count()


def test_bucketed_tables_join_without_shuffle(spark, tiny_pdf, tmp_path):
    """Two tables bucketed on the same key/count must sort-merge join with
    ZERO Exchange nodes — the co-located-join contract TableIO.write_bucketed
    exists for (pay the layout once, join shuffle-free forever)."""
    from tgist_features_spark.sources.table_io import TableIO

    io_ = TableIO(spark, str(tmp_path), n_buckets=8)
    t = transcripts_df(spark, tiny_pdf)
    agg = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
    tbl_a = io_.write_bucketed(t.select("conv_id", "turn_idx", "ts"), "turns",
                               key="conv_id")
    tbl_b = io_.write_bucketed(agg, "convstats", key="conv_id")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path: at real scale neither side broadcasts,
        # and THAT is the plan bucketing exists to de-shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a, b = spark.table(tbl_a), spark.table(tbl_b)
        joined = a.join(b, "conv_id")
        p = _plan(joined)
        assert "SortMergeJoin" in p, p[:2000]
        assert "Exchange hashpartitioning" not in p, p[:2000]
        assert "ShuffleExchange" not in p, p[:2000]
        assert joined.count() == t.count()
        # cross-check one value against the non-bucketed computation
        got = joined.filter(F.col("n_turns") > 0).select("conv_id", "n_turns").distinct()
        ref = agg
        assert got.count() == ref.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {tbl_a}")
        spark.sql(f"DROP TABLE IF EXISTS {tbl_b}")


def test_deterministic_split_adds_no_exchange(spark):
    """Split assignment is a pure projection — it must fuse into whatever
    scan already runs (zero shuffles added at any corpus size)."""
    from tgist_features_spark.operators.sampling import deterministic_split

    df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p = _plan(deterministic_split(df, "user_id", {"train": 0.8, "rest": 0.2}))
    assert "Exchange" not in p, p[:1500]
    assert "* Project" in p  # inside whole-stage codegen, no Python


def test_tfidf_corpus_count_is_broadcast(spark):
    """The idf denominator (corpus doc count) must join in as a broadcast
    of a 1-row aggregate — never a shuffled join against the term table."""
    from tgist_features_spark.functions.text import tfidf_topk

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(tfidf_topk(df, k=3))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p[:2000]


def test_pack_chunks_prefix_sum_is_partitioned(spark):
    """The global running token count must be the two-phase prefix sum:
    the corpus-side window partitions by __part (parallel), the only
    SinglePartition exchange feeds the tiny per-partition-totals window,
    and the offsets come back via broadcast — never a global sort of the
    corpus."""
    from tgist_features_spark.operators.packing import pack_chunks

    d = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("n_toks", F.size(F.split("text", " ")).cast("bigint"))
    )
    p = _plan(pack_chunks(d, "doc_id", "n_toks", 256, n_parts=8))
    assert "BroadcastHashJoin" in p, "offsets must broadcast-join back"
    # exactly one SinglePartition exchange: the n_parts-row totals window
    assert len(re.findall(r"SinglePartition", p)) == 1, p[:1500]
    # the big window shuffles by __part, so the prefix sum runs in parallel
    assert len(re.findall(r"hashpartitioning\(__part", p)) >= 1, p[:1500]
    # column pruning: the scan reads only (doc_id, text)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and set(m.group(1).split(",")) == {"doc_id:bigint", "text:string"}


def test_gopher_quality_is_zero_shuffle(spark):
    """Repetition filters are per-row higher-order-function arithmetic —
    the whole feature pass must fuse into the scan with NO Exchange."""
    from tgist_features_spark.functions.text import with_repetition_features

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(with_repetition_features(d))
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0, p[:1500]


def test_temperature_resample_never_shuffles_corpus(spark):
    """The corpus side flows scan -> broadcast join -> explode; the only
    exchanges belong to the tiny per-group count aggregation (rows =
    n_groups), and both joins broadcast."""
    from tgist_features_spark.operators.sampling import temperature_resample

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(temperature_resample(d.select("doc_id", "lang"), "lang", "doc_id"))
    assert "SortMergeJoin" not in p
    assert len(re.findall(r"BroadcastHashJoin", p)) == 2, p[:1500]
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 3, p[:1500]


def test_gram_explode_not_reevaluated_by_inferred_filter(spark):
    """Regression guard for InferFiltersFromGenerate: a plain explode of
    the gram array makes Catalyst infer size(grams) > 0 and push it below
    the token projection, re-evaluating the whole gram expression per row
    (measured 4.4s -> 1.3s at sf0.1 when fixed). With explode_outer the
    gram expression must appear in the plan EXACTLY once."""
    from tgist_features_spark.operators.dedup import _distinct_grams

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(_distinct_grams(d, "doc_id", "text", 3))
    assert p.count("array_distinct") == 1, p[:2000]
    # and the tokenize step survives as its own projection (split once)
    assert p.count("split(") <= 2, p[:2000]  # expr text appears in its
    # defining Project and nowhere else (a second count comes from the
    # Generate's child column listing at most)


def test_tf_stats_head_join_broadcasts_and_prunes(spark):
    """The hot-token (head) vocabulary side must broadcast — the whole
    point of the head/tail split — and the scan must read only
    (doc_id, text)."""
    from tgist_features_spark.functions.text import token_frequency_stats

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = _plan(token_frequency_stats(d, hot_min=100))
    assert "BroadcastHashJoin" in p, p[:1500]
    m = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert m and all(set(x.split(",")) == {"doc_id:bigint", "text:string"} for x in m)


def test_resample_grid_is_single_window_and_prunes(spark):
    """One ffill window, grid explode bounded per entity, and the bounds
    branch reads only (user_id, ts) — no value/props columns."""
    from tgist_features_spark.operators.windows import resample_ffill

    d = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p = _plan(resample_ffill(d, tiebreak=("event_id",)))
    assert len(re.findall(r"^\(\d+\) Window", p, re.M)) == 1, p[:1500]
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert any(
        set(x.split(",")) == {"user_id:bigint", "ts:timestamp_ntz"} for x in schemas
    ), schemas
    assert all("props" not in x and "event_type" not in x for x in schemas)


def test_round6_single_exchange_claims(spark):
    """The round-6 continuation operators whose 100 TB story is 'ONE
    shuffle': interval_islands (the island aggregation's keys are a
    superset of its window partitioning, so EnsureRequirements must
    insert no second exchange), scd2_intervals (the change-flag lag and
    the post-filter lead share one partitioning), group_winsorize (the
    boundary join is broadcast, the big side never reshuffled),
    with_level_shift and group_weighted_median (windows + aggregation
    fold into the entity/group partitioning)."""
    from tgist_features_spark.operators.aggregates import (
        group_weighted_median,
        group_winsorize,
    )
    from tgist_features_spark.operators.ranges import interval_islands
    from tgist_features_spark.operators.windows import (
        scd2_intervals,
        with_level_shift,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    iv = ev.select(
        "event_id", "user_id",
        F.col("event_id").alias("s"),
        (F.col("event_id") + 10).alias("t"),
    )
    cases = {
        "interval_islands": _plan(
            interval_islands(iv, "user_id", "s", "t", "event_id")
        ),
        "scd2_intervals": _plan(
            scd2_intervals(ev, "user_id", "event_type", ("ts", "event_id"))
        ),
        "level_shift": _plan(
            with_level_shift(ev, "value", "user_id", ("ts", "event_id"))
        ),
        "weighted_median": _plan(
            group_weighted_median(
                docs.withColumn("w", F.lit(1)), "n_chars", "w", "lang",
                "doc_id",
            )
        ),
    }
    def _shuffles(p: str) -> int:
        # formatted plans name shuffle nodes "(n) Exchange" with the
        # partitioning in the detail section; broadcasts are
        # "(n) BroadcastExchange" and must not count here
        return len(re.findall(r"^\(\d+\) Exchange", p, re.M))

    for name, p in cases.items():
        assert _shuffles(p) == 1, f"{name}: {_shuffles(p)} exchanges\n{p[:1500]}"
    # winsorize: one hash exchange for the rank window; the boundary
    # join must be broadcast (big side never reshuffled)
    pw = _plan(group_winsorize(docs, "n_chars", "lang", "doc_id"))
    assert _shuffles(pw) == 1, pw[:1500]
    assert "BroadcastExchange" in pw, pw[:1500]


def test_session3_plan_claims(spark):
    """Session-3 plan pins: group_moments and ohlc_buckets are each ONE
    exchange (open/close ride min_by/max_by inside the same partial-agg
    pass — no window node); triangle_enumerate's internal checkpoints
    keep the caller's upstream plan from re-expanding (no parquet
    re-scan, no single-partition window in the final plan)."""
    from tgist_features_spark.operators.aggregates import group_moments
    from tgist_features_spark.operators.components import triangle_enumerate
    from tgist_features_spark.operators.windows import ohlc_buckets

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    def _shuffles(p: str) -> int:
        return len(re.findall(r"^\(\d+\) Exchange", p, re.M))

    p = _plan(group_moments(ev, "value", ["event_type"]))
    assert _shuffles(p) == 1 and "Window" not in p

    p = _plan(ohlc_buckets(ev, "user_id", "ts", "value", "event_id"))
    assert _shuffles(p) == 1 and "Window" not in p

    edges = ev.select(
        F.col("event_id").alias("src"),
        F.pmod(F.col("event_id") * 7 + 3, F.lit(500)).alias("dst"),
    )
    p = _plan(triangle_enumerate(edges))
    assert "Scan parquet" not in p  # inputs materialized once, up front
    assert "SinglePartition" not in p


def test_session4_plan_claims(spark):
    """Session-4 plan pins: ewma_smooth is ONE exchange with no window
    and no Python stage (SQL-lambda fold); rfm_scores reuses ONE
    segment exchange across all four window passes (the per-entity agg
    is the only other shuffle); group_auc is ONE exchange — the peer
    count rides the rank window's partitioning via the range frame, no
    (group, score) secondary shuffle; pagerank_fixed_point's
    per-iteration checkpoints keep the final plan free of re-scans."""
    from tgist_features_spark.operators.aggregates import group_auc, rfm_scores
    from tgist_features_spark.operators.components import pagerank_fixed_point
    from tgist_features_spark.operators.windows import ewma_smooth

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    def _shuffles(p: str) -> int:
        return len(re.findall(r"^\(\d+\) Exchange", p, re.M))

    p = _plan(
        ewma_smooth(
            ev.select("user_id", "ts", "event_id",
                      F.col("value").cast("bigint").alias("v")),
            "v", "user_id", ("ts", "event_id"),
        )
    )
    assert _shuffles(p) == 1 and "Window" not in p
    assert "Python" not in p and "MapInPandas" not in p

    rf = ev.select(
        F.col("user_id").alias("ent"),
        F.pmod("user_id", F.lit(3)).alias("seg"),
        F.col("event_id").alias("ts_us"),
        F.col("event_id").alias("cents"),
    )
    p = _plan(rfm_scores(rf, "ent", "seg", "ts_us", "cents"))
    # per-entity agg + ONE segment window exchange + the corpus-max
    # 1-row aggregate's SinglePartition exchange (1-row stats, legit)
    assert _shuffles(p) == 3, p.count("Exchange")
    assert len(re.findall(r"^\(\d+\) Window", p, re.M)) == 4

    p = _plan(
        group_auc(
            ev.select("user_id", "value",
                      (F.col("event_type") == "purchase").alias("y")),
            "value", "y", "user_id",
        )
    )
    assert _shuffles(p) == 1

    edges = ev.select(
        F.pmod("event_id", F.lit(50)).alias("src"),
        F.pmod(F.col("event_id") * 3 + 1, F.lit(50)).alias("dst"),
        F.lit(1).alias("w"),
    )
    p = _plan(pagerank_fixed_point(edges, iters=2, src="src", dst="dst",
                                   weight="w"))
    assert "Scan parquet" not in p  # inputs materialized once, up front
