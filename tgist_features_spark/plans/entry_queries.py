"""Driver-contract query registry (SURVEY.md §3.3).

One entry per implemented operator from SURVEY.md §2 plus the training-data
ops (dedup / similarity / text analysis). Each Spark query has
a DuckDB oracle that computes the same result over the same parquet —
except the genuinely non-SQL-expressible ones (MinHash/SimHash/LSH,
approx_count_distinct), which ship without an oracle (rows-only check).

Parity conventions (hash-compare discipline):
* every computed column aliased identically on both sides;
* timestamps surfaced as epoch microseconds (BIGINT) — engine-neutral;
* count-ish ints cast to BIGINT on both sides (DuckDB SUM(int) is HUGEINT);
* float aggregates rounded (2-6 dp) on both sides to absorb summation-order
  ulps; raw pass-through doubles left exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tgist_features_spark.functions.text import (
    ngram_features,
    with_lang_id,
    with_quality_features,
)
from tgist_features_spark.operators.asof import asof_join
from tgist_features_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    ngram_jaccard_score,
    simhash_near_pairs,
)
from tgist_features_spark.operators.sessionize import sessionize
from tgist_features_spark.operators.similarity import (
    cosine_topk,
    lsh_ann_topk,
    queries_from_ids,
)

EV_ORDER = ("ts", "event_id")

from tgist_features_spark.functions.timeu import us as _US  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")



def _stable_round(col: Column | str, dp: int):
    """Engine-neutral half-up rounding: floor(x*10^dp + 0.5)/10^dp in plain
    double arithmetic. Spark's ROUND (BigDecimal HALF_UP over the double's
    exact binary expansion) and DuckDB's ROUND (float multiply) disagree at
    exact decimal ties — e.g. avg of 2-decimal data hit 5/1500 such ties at
    sf0.1. The same floor formula on both sides is bitwise-identical by
    construction (non-negative inputs) — PROVIDED the input double is
    itself bitwise-identical across engines. Averages of double columns
    are NOT (partial-aggregation sum order differs), so those first go
    through ``_cents`` to make the sum an order-independent integer."""
    c = F.col(col) if isinstance(col, str) else col
    p = 10 ** dp
    return F.floor(c * p + F.lit(0.5)) / float(p)


def _cents(col: str) -> Column:
    """Exact integer cents of a 2-decimal double column: per-row round to
    the nearest integer of value*100 (within an ulp of integral, never
    near .5, so both engines agree), summed as BIGINT — an ORDER-
    INDEPENDENT aggregate. Double sums differ by an ulp between Spark's
    partial aggregation and DuckDB's sequential fold; when a group's true
    average sits exactly on a decimal tie (common: 2-decimal data, power-
    of-two group sizes), that ulp flips any rounding rule. Integer sums
    cannot. (Exact while total cents < 2^53 per group — far past any real
    corpus.)"""
    return F.round(F.col(col) * 100).cast("bigint")


def _events_w():
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


# --------------------------------------------------------------------------
# events: windowed feature core (W1-W6, P1-P3, O1-O3)
# --------------------------------------------------------------------------


def q_canonical_order(spark, sf):
    e = _t(spark, sf, "events")
    return e.select(
        "event_id",
        "user_id",
        _US("ts").alias("ts_us"),
        F.row_number().over(_events_w()).alias("rn"),
    )


SQL_CANONICAL = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn
FROM events
"""


def q_lag_lead(spark, sf):
    e = _t(spark, sf, "events")
    w = _events_w()
    return e.select(
        "user_id",
        "event_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        ((_US("ts") - _US(F.lag("ts").over(w))) / F.lit(1000000.0)).alias("gap_s"),
    )


SQL_LAG_LEAD = """
SELECT user_id, event_id,
       LAG(value) OVER w AS prev_value,
       LEAD(value) OVER w AS next_value,
       (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) / 1000000.0 AS gap_s
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_sessionize(spark, sf):
    e = _t(spark, sf, "events")
    return sessionize(e, gap_s=1800.0, entity="user_id", order=EV_ORDER).select(
        "user_id", "event_id", "session_id"
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS b
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT user_id, event_id,
       CAST(SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM g
"""


def q_session_stats(spark, sf):
    e = _t(spark, sf, "events")
    s = sessionize(e, gap_s=1800.0, entity="user_id", order=EV_ORDER)
    return s.groupBy("user_id", "session_id").agg(
        _US(F.min("ts")).alias("start_us"),
        _US(F.max("ts")).alias("end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


SQL_SESSION_STATS = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS b
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, value,
         CAST(SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g)
SELECT user_id, session_id, epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM s GROUP BY user_id, session_id
"""


def q_rolling_counts(spark, sf):
    e = _t(spark, sf, "events")
    w = _events_w().rowsBetween(-3, -1)
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_prev3"),
        F.round(F.sum("value").over(w), 4).alias("sum_prev3"),
    )


SQL_ROLLING_COUNTS = """
SELECT user_id, event_id,
       COUNT(*) OVER w3 AS n_prev3,
       ROUND(SUM(value) OVER w3, 4) AS sum_prev3
FROM events WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
"""


def q_rolling_time(spark, sf):
    e = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(_US("ts"))
        .rangeBetween(-3600 * 1000000, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
    )


SQL_ROLLING_TIME = """
SELECT user_id, event_id,
       COUNT(*) OVER wr AS n_1h,
       ROUND(SUM(value) OVER wr, 4) AS sum_1h
FROM events WINDOW wr AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_cumulative(spark, sf):
    e = _t(spark, sf, "events")
    w = _events_w().rowsBetween(Window.unboundedPreceding, 0)
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("cum_n"),
        F.round(F.sum("value").over(w), 2).alias("cum_value"),
    )


SQL_CUMULATIVE = """
SELECT user_id, event_id,
       COUNT(*) OVER wc AS cum_n,
       ROUND(SUM(value) OVER wc, 2) AS cum_value
FROM events WINDOW wc AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_ffill(spark, sf):
    e = _t(spark, sf, "events")
    w = _events_w().rowsBetween(Window.unboundedPreceding, 0)
    last_err = F.last(
        F.when(F.col("event_type") == "error", _US("ts")), ignorenulls=True
    ).over(w)
    return e.select("user_id", "event_id", last_err.alias("last_error_us"))


SQL_FFILL = """
SELECT user_id, event_id,
       LAST_VALUE(CASE WHEN event_type = 'error' THEN epoch_us(ts) END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_error_us
FROM events
"""


def q_topk_per_user(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", "event_id", _US("ts").alias("ts_us"), "rk")
    )


SQL_TOPK_PER_USER = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS INT) AS rk
FROM events QUALIFY rk <= 3
"""


def q_global_topk(spark, sf):
    e = _t(spark, sf, "events")
    return e.orderBy(F.desc("value"), F.asc("event_id")).limit(10).select(
        "event_id", "value"
    )


SQL_GLOBAL_TOPK = """
SELECT event_id, value FROM events ORDER BY value DESC, event_id LIMIT 10
"""

# --------------------------------------------------------------------------
# as-of joins (J1/J2/J3 + skewed J8) on events
# --------------------------------------------------------------------------


def _asof_sides(spark, sf):
    e = _t(spark, sf, "events")
    probe = e.filter(F.col("event_id") % 7 == 0).select(
        F.col("event_id").alias("query_id"),
        "user_id",
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("query_ts"),
    )
    dw = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    build = (
        e.withColumn("rn", F.row_number().over(dw))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "value")
    )
    return probe, build


_SQL_ASOF_CTES = """
WITH probe AS (
  SELECT event_id AS query_id, user_id, ts + INTERVAL 300 SECOND AS query_ts
  FROM events WHERE event_id % 7 = 0),
build AS (
  SELECT user_id, ts, value FROM (
    SELECT user_id, ts, value,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events) WHERE rn = 1)
"""


def _asof_project(joined: DataFrame) -> DataFrame:
    return joined.select(
        "query_id",
        "user_id",
        _US("query_ts").alias("query_us"),
        _US("ts").alias("matched_us"),
        F.col("value").alias("matched_value"),
    )


def q_asof_backward(spark, sf):
    probe, build = _asof_sides(spark, sf)
    j = asof_join(
        probe, build, by="user_id", left_on="query_ts", right_on="ts",
        direction="backward", value_cols=["ts", "value"], tiebreak=(),
    )
    return _asof_project(j)


SQL_ASOF_BACKWARD = _SQL_ASOF_CTES + """
SELECT p.query_id, p.user_id, epoch_us(p.query_ts) AS query_us,
       epoch_us(b.ts) AS matched_us, b.value AS matched_value
FROM probe p ASOF LEFT JOIN build b
  ON p.user_id = b.user_id AND p.query_ts >= b.ts
"""


def q_asof_forward(spark, sf):
    probe, build = _asof_sides(spark, sf)
    j = asof_join(
        probe, build, by="user_id", left_on="query_ts", right_on="ts",
        direction="forward", value_cols=["ts", "value"], tiebreak=(),
    )
    return _asof_project(j)


SQL_ASOF_FORWARD = _SQL_ASOF_CTES + """,
m AS (
  SELECT p.query_id, p.user_id, p.query_ts,
         (SELECT MIN(b.ts) FROM build b
           WHERE b.user_id = p.user_id AND b.ts >= p.query_ts) AS mts
  FROM probe p)
SELECT m.query_id, m.user_id, epoch_us(m.query_ts) AS query_us,
       epoch_us(m.mts) AS matched_us, b.value AS matched_value
FROM m LEFT JOIN build b ON b.user_id = m.user_id AND b.ts = m.mts
"""


def q_asof_tolerance(spark, sf):
    probe, build = _asof_sides(spark, sf)
    j = asof_join(
        probe, build, by="user_id", left_on="query_ts", right_on="ts",
        direction="backward", tolerance=600.0, value_cols=["ts", "value"],
        tiebreak=(),
    )
    return _asof_project(j)


SQL_ASOF_TOLERANCE = _SQL_ASOF_CTES + """,
j AS (
  SELECT p.query_id, p.user_id, p.query_ts, b.ts AS mts, b.value AS mv
  FROM probe p ASOF LEFT JOIN build b
    ON p.user_id = b.user_id AND p.query_ts >= b.ts)
SELECT query_id, user_id, epoch_us(query_ts) AS query_us,
       epoch_us(CASE WHEN query_ts - mts <= INTERVAL 600 SECOND THEN mts END) AS matched_us,
       CASE WHEN query_ts - mts <= INTERVAL 600 SECOND THEN mv END AS matched_value
FROM j
"""


# J8, the skewed as-of: ``asof_join`` has one streaming route whose task
# memory does not grow with a hot entity, so the key runs the same plan and
# oracle as ``asof_backward``
q_asof_salted = q_asof_backward
SQL_ASOF_SALTED = SQL_ASOF_BACKWARD

# --------------------------------------------------------------------------
# relational joins & aggregates (J4-J7, A1-A4, U1/U2) on TPC-H tables
# --------------------------------------------------------------------------


def q_broadcast_join(spark, sf):
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice")).cast("long").alias("revenue"),
        )
    )


SQL_BROADCAST_JOIN = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(o_totalprice)) AS BIGINT) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_smj_join(spark, sf):
    l = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("long")
            .alias("revenue"),
        )
    )


SQL_SMJ_JOIN = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount))) AS BIGINT) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_semi_join(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


SQL_SEMI_JOIN = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
"""


def q_anti_join(spark, sf):
    # customers with no URGENT order: non-empty at every SF (every customer
    # has SOME order in the synthetic data, so the unfiltered anti-join is
    # vacuously empty — filtering the right side keeps the check meaningful)
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


SQL_ANTI_JOIN = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT' AND o_custkey IS NOT NULL)
"""


def q_range_join(spark, sf):
    """Interval join via bucket binning (round-4 rewrite of the naive
    equi+filter plan): per-key multiplicity is bounded by events per
    (user, 5-minute window) instead of events per user, so a hot user
    cannot quadratically degenerate the join (operators/ranges.py;
    naive-equivalence pinned in tests, hot-entity speedup measured in
    BASELINE.md). Left-count semantics restored by joining the pair
    counts back onto the probe side."""
    from tgist_features_spark.operators.ranges import bounded_range_join

    e = _t(spark, sf, "events")
    a = e.filter(F.col("event_id") % 23 == 0).select(
        F.col("event_id").alias("query_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("ats"),
    )
    b = e.select(
        F.col("event_id").alias("bid"), F.col("user_id").alias("bu"),
        F.col("ts").alias("bts"),
    )
    pairs = bounded_range_join(
        a, b, a_entity="u", b_entity="bu", a_ts="ats", b_ts="bts",
        lo_s=0, hi_s=300,
    )
    counts = pairs.groupBy("query_id").agg(F.count(F.lit(1)).alias("__n"))
    return a.join(counts, "query_id", "left").select(
        "query_id", F.coalesce("__n", F.lit(0)).alias("n_follow")
    )


SQL_RANGE_JOIN = """
SELECT a.event_id AS query_id, COUNT(e.event_id) AS n_follow
FROM events a LEFT JOIN events e
  ON e.user_id = a.user_id AND e.ts > a.ts AND e.ts <= a.ts + INTERVAL 300 SECOND
WHERE a.event_id % 23 = 0
GROUP BY a.event_id
"""


def q_per_user_agg(spark, sf):
    e = _t(spark, sf, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        _US(F.min("ts")).alias("first_us"),
        _US(F.max("ts")).alias("last_us"),
        F.count_distinct("event_type").alias("n_types"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        (
            F.floor(
                F.sum(_cents("value")).cast("double") * 100
                / F.count("value") + 0.5
            ) / 10000.0
        ).alias("avg_value"),
    )


SQL_PER_USER_AGG = """
SELECT user_id, COUNT(*) AS n_events, epoch_us(MIN(ts)) AS first_us,
       epoch_us(MAX(ts)) AS last_us, COUNT(DISTINCT event_type) AS n_types,
       ROUND(SUM(value), 2) AS sum_value,
       FLOOR((SUM(CAST(ROUND(value * 100) AS BIGINT)))::DOUBLE * 100
             / COUNT(value) + 0.5) / 10000.0 AS avg_value
FROM events GROUP BY user_id
"""


def q_pivot_counts(spark, sf):
    e = _t(spark, sf, "events")
    aggs = [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
        .cast("long")
        .alias(f"n_{t}")
        for t in ["click", "error", "purchase", "signup", "view"]
    ]
    return e.groupBy("user_id").agg(
        *aggs,
        F.round(F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), 4)
        .alias("purchase_value"),
    )


SQL_PIVOT_COUNTS = """
SELECT user_id,
       CAST(COUNT(*) FILTER (WHERE event_type='click') AS BIGINT) AS n_click,
       CAST(COUNT(*) FILTER (WHERE event_type='error') AS BIGINT) AS n_error,
       CAST(COUNT(*) FILTER (WHERE event_type='purchase') AS BIGINT) AS n_purchase,
       CAST(COUNT(*) FILTER (WHERE event_type='signup') AS BIGINT) AS n_signup,
       CAST(COUNT(*) FILTER (WHERE event_type='view') AS BIGINT) AS n_view,
       ROUND(SUM(value) FILTER (WHERE event_type='purchase'), 4) AS purchase_value
FROM events GROUP BY user_id
"""


def q_tpch_q1(spark, sf):
    l = _t(spark, sf, "lineitem")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity")).cast("long").alias("sum_qty"),
            F.round(F.sum("l_extendedprice")).cast("long").alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("long")
            .alias("sum_disc"),
            (
                F.floor(
                    F.sum(_cents("l_quantity")).cast("double") * 100
                    / F.count("l_quantity") + 0.5
                ) / 10000.0
            ).alias("avg_qty"),
            (
                F.floor(
                    F.sum(_cents("l_extendedprice")).cast("double")
                    / F.count("l_extendedprice") + 0.5
                ) / 100.0
            ).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(l_quantity)) AS BIGINT) AS sum_qty,
       CAST(ROUND(SUM(l_extendedprice)) AS BIGINT) AS sum_base,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount))) AS BIGINT) AS sum_disc,
       FLOOR((SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)))::DOUBLE * 100
             / COUNT(l_quantity) + 0.5) / 10000.0 AS avg_qty,
       FLOOR((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)))::DOUBLE
             / COUNT(l_extendedprice) + 0.5) / 100.0 AS avg_price,
       COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_rollup(spark, sf):
    l = _t(spark, sf, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity")).cast("long").alias("sum_qty"),
    )


SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(ROUND(SUM(l_quantity)) AS BIGINT) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube(spark, sf):
    l = _t(spark, sf, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_CUBE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_distinct_agg(spark, sf):
    l = _t(spark, sf, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct("l_partkey").alias("n_part"),
    )


SQL_DISTINCT_AGG = """
SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
       COUNT(DISTINCT l_partkey) AS n_part
FROM lineitem GROUP BY l_returnflag
"""


def q_approx_distinct(spark, sf):
    """A3 with a SELF-BANDING oracle (same trick as approx_percentile):
    the HLL++ sketch value itself is engine-specific, but the query emits a
    boolean asserting it lands within the documented relative error of the
    exact distinct count (default rsd 0.05 — band at 3x for slack), which
    the DuckDB oracle matches as literal TRUE. A broken sketch now
    hash-mismatches instead of passing a rows-only check."""
    e = _t(spark, sf, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("au"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("au") - F.col("exact_users"))
            <= F.lit(0.15) * F.col("exact_users")
        ).alias("approx_ok"),
    )


SQL_APPROX_DISTINCT = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
FROM events GROUP BY event_type
"""


def q_set_except(spark, sf):
    # (user, day) granularity: per-user EXCEPT is vacuously empty (every
    # synthetic user eventually hits an error); days-with-purchase minus
    # days-with-error is non-empty at every SF
    e = _t(spark, sf, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    purch = e.filter(F.col("event_type") == "purchase").select("user_id", day).distinct()
    err = e.filter(F.col("event_type") == "error").select("user_id", day).distinct()
    return purch.subtract(err)


SQL_SET_EXCEPT = """
SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
FROM events WHERE event_type = 'error'
"""


def q_union_counts(spark, sf):
    e = _t(spark, sf, "events")
    a = e.filter(F.col("event_type") == "purchase").select("user_id")
    b = e.filter(F.col("event_type") == "signup").select("user_id")
    return a.unionByName(b).groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))


SQL_UNION_COUNTS = """
SELECT user_id, COUNT(*) AS n FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id FROM events WHERE event_type = 'signup'
) GROUP BY user_id
"""

# --------------------------------------------------------------------------
# scalar functions: json / date / hash (F3-F5)
# --------------------------------------------------------------------------


def q_json_extract(spark, sf):
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _stable_round(F.avg(k), 4).alias("avg_k"),
        F.sum(k).cast("long").alias("sum_k"),
    )


SQL_JSON_EXTRACT = """
SELECT event_type, COUNT(*) AS n,
       FLOOR(AVG(CAST(json_extract_string(props, '$.k') AS INT)) * 10000 + 0.5)
         / 10000.0 AS avg_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""


def q_date_parts(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.withColumn("hr", F.hour("ts").cast("long"))
        .withColumn("dom", F.dayofmonth("ts").cast("long"))
        .groupBy("hr", "dom")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.floor(
                    F.sum(_cents("value")).cast("double") * 100
                    / F.count("value") + 0.5
                ) / 10000.0
            ).alias("avg_value"),
        )
    )


SQL_DATE_PARTS = """
SELECT CAST(hour(ts) AS BIGINT) AS hr, CAST(day(ts) AS BIGINT) AS dom,
       COUNT(*) AS n,
       FLOOR((SUM(CAST(ROUND(value * 100) AS BIGINT)))::DOUBLE * 100
             / COUNT(value) + 0.5) / 10000.0 AS avg_value
FROM events GROUP BY 1, 2
"""


def q_fingerprint(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("fp"),
        F.pmod(F.col("doc_id"), F.lit(16)).cast("long").alias("bucket"),
    )


SQL_FINGERPRINT = """
SELECT doc_id, md5(text) AS fp, CAST(doc_id % 16 AS BIGINT) AS bucket
FROM documents
"""

# --------------------------------------------------------------------------
# text analysis (F1/F2/F6 + quality + lang-id) on documents
# --------------------------------------------------------------------------


def q_tokenize(spark, sf):
    d = _t(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.element_at(toks, 1).alias("first_word"),
        F.element_at(toks, -1).alias("last_word"),
        F.expr("right(element_at(split(text, ' '), -1), 3)").alias("suffix3"),
    )


SQL_TOKENIZE = """
SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       string_split(text, ' ')[1] AS first_word,
       string_split(text, ' ')[-1] AS last_word,
       right(string_split(text, ' ')[-1], 3) AS suffix3
FROM documents
"""


def q_ngram_stats(spark, sf):
    d = _t(spark, sf, "documents")
    nf = ngram_features(F.col("text"))
    return d.select("doc_id", nf.alias("nf")).select(
        "doc_id",
        F.col("nf.plen").alias("plen"),
        F.col("nf.n_distinct").alias("n_distinct"),
        F.col("nf.bigram_distinct").alias("bigram_distinct"),
        F.round(F.col("nf.distinct_ratio"), 6).alias("distinct_ratio"),
    )


SQL_NGRAM_STATS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
SELECT doc_id, len(l) AS plen, len(list_distinct(l)) AS n_distinct,
       len(list_distinct(list_transform(range(1, len(l)),
           i -> l[i] || ' ' || l[i+1]))) AS bigram_distinct,
       ROUND(len(list_distinct(l)) / greatest(len(l), 1), 6) AS distinct_ratio
FROM t
"""


def q_quality(spark, sf):
    d = _t(spark, sf, "documents")
    out = with_quality_features(d)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("upper_ratio", 6).alias("upper_ratio"),
        "quality_score",
    )


# tokenization and punct class aligned with the Spark side (split on \s+,
# punct = [^\w\s]) so tabs/newlines/double spaces cannot diverge the surfaces
SQL_QUALITY = r"""
WITH t AS (
  SELECT doc_id, text, string_split_regex(text, '\s+') AS l,
         greatest(length(text), 1) AS slen,
         length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper
  FROM documents)
SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
       ROUND(len(list_filter(l, x -> lower(x) IN ('the','a','of','and','to','in','is')))
             / greatest(len(l), 1), 6) AS stopword_ratio,
       ROUND(n_punct / slen, 6) AS punct_ratio,
       ROUND(n_upper / slen, 6) AS upper_ratio,
       ROUND(least(1.0, ln(1 + len(l)) / 5.0) * (1.0 - n_punct / slen), 6) AS quality_score
FROM t
"""


def q_lang_id(spark, sf):
    d = _t(spark, sf, "documents")
    return with_lang_id(d).select("doc_id", "lang_pred")


SQL_LANG_ID = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
c AS (
  SELECT doc_id,
         len(list_filter(l, x -> lower(x) IN ('the','and','of','to','is'))) AS c_en,
         len(list_filter(l, x -> lower(x) IN ('el','la','de','que','los'))) AS c_es,
         len(list_filter(l, x -> lower(x) IN ('der','die','und','das','ist'))) AS c_de,
         len(list_filter(l, x -> lower(x) IN ('le','la','les','et','des'))) AS c_fr
  FROM t)
SELECT doc_id,
       CASE WHEN greatest(c_en, c_es, c_de, c_fr) = 0 THEN 'und'
            WHEN c_en = greatest(c_en, c_es, c_de, c_fr) THEN 'en'
            WHEN c_es = greatest(c_en, c_es, c_de, c_fr) THEN 'es'
            WHEN c_de = greatest(c_en, c_es, c_de, c_fr) THEN 'de'
            ELSE 'fr' END AS lang_pred
FROM c
"""


def q_bpeish_tokens(spark, sf):
    d = _t(spark, sf, "documents")
    pat = "[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).cast("long").alias("n_bpeish"),
    )


SQL_BPEISH_TOKENS = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS BIGINT) AS n_bpeish
FROM documents
"""


def q_multimodal_bytes(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.length("text").cast("long").alias("n_chars"),
    )


SQL_MULTIMODAL_BYTES = """
SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""

# --------------------------------------------------------------------------
# dedup & similarity (training-data ops)
# --------------------------------------------------------------------------


def q_dedup_exact(spark, sf):
    return exact_dedup(_t(spark, sf, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS fp, COUNT(*) AS n, MIN(doc_id) AS keep_id
FROM documents GROUP BY md5(text)
"""


def q_ngram_jaccard(spark, sf):
    # max_df=100: bigrams present in >100 docs (stopword grams) are dropped
    # before the self-join on BOTH sides; Jaccard is over the capped gram
    # universe (consistent intersection + union). The DF cap bounds the
    # hot-gram blowup only — exact all-pairs Jaccard output is inherently
    # |true pairs| on a self-similar corpus, so the 100 TB discovery path
    # is MinHash candidates (dedup_minhash) with this operator as the exact
    # scorer over candidate pairs (operators/dedup.py docstring).
    pairs = ngram_jaccard_pairs(
        _t(spark, sf, "documents"), n=2, min_intersection=2, max_df=100
    )
    return pairs.select("a", "b", "inter", F.round("jaccard", 6).alias("jaccard"))


SQL_NGRAM_JACCARD = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
grams0 AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l)),
         i -> l[i] || ' ' || l[i+1]))) AS g
  FROM t),
grams AS (
  SELECT doc_id, g FROM grams0
  WHERE g IN (SELECT g FROM grams0 GROUP BY g HAVING COUNT(*) <= 100)),
counts AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
  FROM grams x JOIN grams y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
SELECT i.a, i.b, CAST(i.inter AS BIGINT) AS inter,
       ROUND(i.inter / (ca.n + cb.n - i.inter), 6) AS jaccard
FROM inter i JOIN counts ca ON ca.doc_id = i.a JOIN counts cb ON cb.doc_id = i.b
"""


def q_dedup_minhash(spark, sf):
    """MinHash+LSH candidates -> EXACT trigram-Jaccard re-rank, fully
    driver-verified: candidates from 64x32 banding (candidate threshold
    ~(1/32)^(1/2) ~= 0.18), exact distinct-3-gram Jaccard scored on the
    candidates only (``ngram_jaccard_score`` — the stated 100 TB
    composition: bounded LSH discovery + exact scoring), and only pairs at
    jaccard >= 0.5 emitted. The oracle is the EXHAUSTIVE all-pairs trigram
    Jaccard in DuckDB at the same threshold; on this corpus true-pair
    similarity is bimodal (>= 0.9 or <= 0.3), so a >= 0.5 pair misses the
    candidate set only if all 32 bands miss (p ~ (1-0.9^2)^32 ~ 6e-23) AND
    est filter at 0.25 is ~17 sigma below the true estimate. Thin-margin
    recall on adversarial corpora is gated separately in
    tests/test_recall.py."""
    from tgist_features_spark.operators.dedup import _lsh_pairs_lazy

    docs = _t(spark, sf, "documents")
    # LAZY pair core + persist WITHOUT a count barrier: the scorer's own
    # first action (its gram-relation checkpoint) is the job that
    # materializes the candidate pairs into the cache, so the pipeline
    # pays one fewer serial materialization than the public
    # minhash_lsh_pairs path while computing the identical pair set
    pairs_lazy, sigs, _banded = _lsh_pairs_lazy(
        docs, "doc_id", "text", n_hashes=64, bands=32, shingle=3, seed=42,
        min_est_jaccard=0.25, max_bucket=200,
    )
    pairs = pairs_lazy.persist()
    out = (
        ngram_jaccard_score(docs, pairs, n=3)
        .filter(F.col("jaccard") >= 0.5)
        .select("a", "b", "inter", F.round("jaccard", 6).alias("jaccard"))
        # eager localCheckpoint, NOT persist: materializes the (tiny) scored
        # result before the candidate-pair cache is released below, and the
        # blocks self-clean when the driver drops the DataFrame — repeated
        # registry runs in one session leave no CacheManager residue
        # (measured at sf0.1: 3.9-4.1s steady vs 4.4-5.1s for persist+count)
        .localCheckpoint(eager=True)
    )
    sigs.unpersist()
    pairs.unpersist()
    return out


SQL_DEDUP_MINHASH = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 1),
         i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
  FROM t),
counts AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
  FROM grams x JOIN grams y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2)
SELECT i.a, i.b, CAST(i.inter AS BIGINT) AS inter,
       ROUND(i.inter / (ca.n + cb.n - i.inter), 6) AS jaccard
FROM inter i JOIN counts ca ON ca.doc_id = i.a JOIN counts cb ON cb.doc_id = i.b
WHERE i.inter / (ca.n + cb.n - i.inter) >= 0.5
"""


def q_dedup_simhash(spark, sf):
    """SimHash near-dup pairs, fully driver-verified: signatures hash
    tokens with md5 (engine-reproducible — ``operators/dedup.py``
    ``_md5_token_hashes``), banding is the 4x16-bit pigeonhole (hamming<=3
    ==> >=1 band equal: an EXACT guarantee, not probabilistic), and the
    oracle recomputes the identical signatures in DuckDB SQL and takes
    exhaustive all-pairs hamming<=3. ``max_bucket=None`` here keeps the
    pigeonhole guarantee unconditional; the capped path is exercised by
    the dedup pipeline and tests/test_dedup.py."""
    return simhash_near_pairs(
        _t(spark, sf, "documents"), max_hamming=3, max_bucket=None
    )


SQL_DEDUP_SIMHASH = """
WITH toks AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
              FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS hv FROM toks),
bits AS (SELECT doc_id, j,
                SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS acc
         FROM h, LATERAL (SELECT unnest(range(0, 64)) AS j) t(j)
         GROUP BY doc_id, j),
sig AS (SELECT doc_id,
               SUM(CASE WHEN acc > 0 THEN (1::UBIGINT << j)::HUGEINT
                        ELSE 0 END)::UBIGINT AS s
        FROM bits GROUP BY doc_id)
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.s, y.s)) AS INT) AS hamming
FROM sig x JOIN sig y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.s, y.s)) <= 3
"""


_BM25_TERMS = ["hash", "merge", "window"]


def q_bm25(spark, sf):
    """Top-10 docs by BM25 for a fixed 3-term query (retrieval scoring for
    corpus curation) — hash-verified against the identical formula in
    DuckDB."""
    from tgist_features_spark.functions.text import bm25_topk

    return bm25_topk(_t(spark, sf, "documents"), _BM25_TERMS, k=10)


SQL_BM25 = f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS tok
  FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
       FROM toks WHERE tok IN ('hash', 'merge', 'window') GROUP BY 1, 2),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs,
                 AVG(len(string_split(text, ' '))) AS avg_dl
          FROM documents),
scored AS (
  SELECT doc_id,
         ROUND(SUM(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avg_dl)))
         ), 6) AS bm25
  FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
  GROUP BY doc_id)
SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
"""


def q_dup_clusters(spark, sf):
    """Duplicate CLUSTERS: SimHash near-dup pairs (hamming<=3, the
    driver-verified generator) closed into connected components via
    iterative min-label propagation with pointer jumping
    (operators/components.py). cluster_id = min doc_id per component. The
    oracle computes the same pairs and closes them with a recursive CTE —
    the distributed iterative algorithm is verified against a SQL
    fixpoint.

    ``max_bucket=1024`` bounds a degenerate band bucket's join output at
    C(1024, 2) pairs at ANY corpus scale (the 100 TB posture — one hot
    16-bit band must never go quadratic in corpus size); at the driver's
    SFs the hottest bucket holds 291 rows (sf0.1; 28 at sf0.01), so the
    cap provably never binds and the exhaustive all-pairs oracle stays
    bitwise (capped == uncapped pinned in tests/test_operators.py)."""
    from tgist_features_spark.operators.components import connected_components

    pairs = simhash_near_pairs(
        _t(spark, sf, "documents"), max_hamming=3, max_bucket=1024
    )
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


SQL_DUP_CLUSTERS = """
WITH RECURSIVE
toks AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
         FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS hv FROM toks),
bits AS (SELECT doc_id, j,
                SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS acc
         FROM h, LATERAL (SELECT unnest(range(0, 64)) AS j) t(j)
         GROUP BY doc_id, j),
sig AS (SELECT doc_id,
               SUM(CASE WHEN acc > 0 THEN (1::UBIGINT << j)::HUGEINT
                        ELSE 0 END)::UBIGINT AS s
        FROM bits GROUP BY doc_id),
pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
          FROM sig x JOIN sig y ON x.doc_id < y.doc_id
          WHERE bit_count(xor(x.s, y.s)) <= 3),
e AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
),
nodes AS (SELECT DISTINCT s AS id FROM e)
SELECT n.id AS doc_id, LEAST(n.id, MIN(r.d)) AS cluster_id
FROM nodes n LEFT JOIN reach r ON r.s = n.id
GROUP BY n.id
"""


def q_funnel(spark, sf):
    """Funnel step conversions (round 5): view -> click -> purchase
    within 120s per user (operators/ranges.py funnel_step_conversions —
    each step pair is an interval-binned bounded range join, so a hot
    user bounds join multiplicity by window occupancy, not event
    volume)."""
    from tgist_features_spark.operators.ranges import funnel_step_conversions

    e = _t(spark, sf, "events")
    return funnel_step_conversions(
        e, ["view", "click", "purchase"], window_s=120.0
    )


SQL_FUNNEL = """
SELECT 'view' AS step_from, 'click' AS step_to,
       (SELECT COUNT(*) FROM events WHERE event_type = 'view')::BIGINT AS n_from,
       (SELECT COUNT(DISTINCT a.event_id) FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'view' AND b.event_type = 'click'
         AND epoch_us(b.ts) > epoch_us(a.ts)
         AND epoch_us(b.ts) <= epoch_us(a.ts) + 120000000)::BIGINT AS n_converted
UNION ALL
SELECT 'click', 'purchase',
       (SELECT COUNT(*) FROM events WHERE event_type = 'click')::BIGINT,
       (SELECT COUNT(DISTINCT a.event_id) FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'purchase'
         AND epoch_us(b.ts) > epoch_us(a.ts)
         AND epoch_us(b.ts) <= epoch_us(a.ts) + 120000000)::BIGINT
"""


def q_funnel_chain(spark, sf):
    """CHAINED funnel (round 6): entities that did view, then click
    within 1 day of that view, then purchase within 1 day of THAT click
    — each step conditioned on the previous step's matched event
    (operators/ranges.py funnel_chain; earliest-match semantics, so the
    chain is uniquely determined). One per-entity sorted fold — a single
    shuffle — instead of k chained range joins. The oracle unrolls the
    same chain step-by-step: per user the anchor is MIN(view ts) and
    each stage's match is MIN(ts) within the window of the previous
    stage's match — only the matched timestamp propagates between
    stages, so min-ts per stage reproduces the greedy fold exactly."""
    from tgist_features_spark.operators.ranges import funnel_chain

    e = _t(spark, sf, "events")
    return funnel_chain(
        e, ["view", "click", "purchase"], window_s=86400.0
    )


SQL_FUNNEL_CHAIN = """
WITH s0 AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t
  FROM events WHERE event_type = 'view' GROUP BY user_id),
s1 AS (
  SELECT s0.user_id, MIN(epoch_us(b.ts)) AS t
  FROM s0 JOIN events b ON b.user_id = s0.user_id
   AND b.event_type = 'click'
   AND epoch_us(b.ts) > s0.t AND epoch_us(b.ts) <= s0.t + 86400000000
  GROUP BY s0.user_id),
s2 AS (
  SELECT s1.user_id, MIN(epoch_us(b.ts)) AS t
  FROM s1 JOIN events b ON b.user_id = s1.user_id
   AND b.event_type = 'purchase'
   AND epoch_us(b.ts) > s1.t AND epoch_us(b.ts) <= s1.t + 86400000000
  GROUP BY s1.user_id)
SELECT 0::INT AS step_idx, 'view' AS step,
       (SELECT COUNT(*) FROM s0)::BIGINT AS n_reached
UNION ALL
SELECT 1::INT, 'click', (SELECT COUNT(*) FROM s1)::BIGINT
UNION ALL
SELECT 2::INT, 'purchase', (SELECT COUNT(*) FROM s2)::BIGINT
"""


def q_dedup_fuzzy(spark, sf):
    """Normalization-robust exact dedup (round 5): documents hash over
    NORMALIZED text (functions/text.py normalize_for_dedup — lowercase,
    punctuation/whitespace collapse), so case/punct variants of the same
    passage collapse together; per surviving group: count and kept id.
    The synthetic corpus has no punct variants, so groups mostly mirror
    plain exact dedup — the oracle equivalence is what's being proven:
    the normalization chain is bit-reproducible in another engine."""
    from tgist_features_spark.functions.text import normalize_for_dedup

    d = _t(spark, sf, "documents")
    norm = normalize_for_dedup(F.col("text"))
    return (
        d.select(F.md5(norm).alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("doc_id").alias("keep_id"),
        )
    )


SQL_DEDUP_FUZZY = """
WITH n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
  FROM documents)
SELECT fp, COUNT(*)::BIGINT AS n, MIN(doc_id) AS keep_id
FROM n GROUP BY fp
"""


def q_cluster_sizes(spark, sf):
    """Duplicate-cluster size distribution (round 5): how much of the
    corpus sits in near-dup clusters of each size — the number a
    curation report leads with ("12% of docs are in clusters of 5+").
    Composition: the driver-verified SimHash pair generator -> connected
    components -> per-cluster count -> size histogram. The oracle closes
    the same pairs with a recursive CTE and aggregates identically.

    ``max_bucket=1024`` (same rationale as ``q_dup_clusters``): bounds a
    degenerate band bucket at C(1024, 2) pairs at any scale; never binds
    at the driver's SFs (hottest bucket 291 at sf0.1), so the exhaustive
    oracle stays bitwise — pinned capped == uncapped in tests."""
    from tgist_features_spark.operators.components import connected_components

    pairs = simhash_near_pairs(
        _t(spark, sf, "documents"), max_hamming=3, max_bucket=1024
    )
    comps = connected_components(pairs)
    return (
        comps.groupBy("comp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
        )
    )


SQL_CLUSTER_SIZES = """
WITH RECURSIVE
toks AS (SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
         FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS hv FROM toks),
bits AS (SELECT doc_id, j,
                SUM(CASE WHEN (hv >> j) & 1 = 1 THEN 1 ELSE -1 END) AS acc
         FROM h, LATERAL (SELECT unnest(range(0, 64)) AS j) t(j)
         GROUP BY doc_id, j),
sig AS (SELECT doc_id,
               SUM(CASE WHEN acc > 0 THEN (1::UBIGINT << j)::HUGEINT
                        ELSE 0 END)::UBIGINT AS s
        FROM bits GROUP BY doc_id),
pairs AS (SELECT x.doc_id AS a, y.doc_id AS b
          FROM sig x JOIN sig y ON x.doc_id < y.doc_id
          WHERE bit_count(xor(x.s, y.s)) <= 3),
e AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
reach(s, d) AS (
  SELECT s, d FROM e
  UNION
  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s
),
nodes AS (SELECT DISTINCT s AS id FROM e),
labels AS (SELECT n.id AS doc_id, LEAST(n.id, MIN(r.d)) AS cluster_id
           FROM nodes n LEFT JOIN reach r ON r.s = n.id
           GROUP BY n.id),
sizes AS (SELECT cluster_id, COUNT(*)::BIGINT AS cluster_size
          FROM labels GROUP BY cluster_id)
SELECT cluster_size, COUNT(*)::BIGINT AS n_clusters,
       SUM(cluster_size)::BIGINT AS n_docs
FROM sizes GROUP BY cluster_size
"""


def q_cosine_topk(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return cosine_topk(emb, queries_from_ids(emb, [0]), k=10)


SQL_COSINE_TOPK = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos
  FROM embeddings e, q WHERE e.vec_id <> 0)
SELECT CAST(0 AS BIGINT) AS q_id,
       CAST(row_number() OVER (ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       neighbor_id, cos
FROM s ORDER BY rank LIMIT 10
"""


def q_knn_brute(spark, sf):
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return cosine_topk(emb, q, k=3)


SQL_KNN_BRUTE = """
WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id % 100 = 0),
s AS (
  SELECT q.q_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos
  FROM embeddings e JOIN q ON e.vec_id <> q.q_id)
SELECT q_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       neighbor_id, cos
FROM s QUALIFY rank <= 3
"""


def q_hard_negatives(spark, sf):
    """Hard-negative mining (round 5): per query vector, the top-3 most
    cosine-similar embeddings with a DIFFERENT label — the contrastive-
    batch construction step (operators/similarity.py hard_negatives;
    broadcast queries, corpus never shuffled)."""
    from tgist_features_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_vec"),
    )
    return hard_negatives(emb, q, k=3)


SQL_HARD_NEGATIVES = """
WITH q AS (SELECT vec_id AS q_id, label AS q_label,
                  CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id % 100 = 0),
s AS (
  SELECT q.q_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cos
  FROM embeddings e JOIN q ON e.label <> q.q_label)
SELECT q_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       neighbor_id, neighbor_label, cos
FROM s QUALIFY rank <= 3
"""


_ANN_CLUSTERS = 8
_ANN_SCALE = 4.0


def _clustered_embeddings(emb):
    """Deterministic planted-cluster corpus derived from the embeddings
    table: append a one-hot block (cluster = vec_id % 8, magnitude 4.0) to
    each unit-norm embedding. Within-cluster cosine ~0.94, cross-cluster
    ~0 — the standard recall-evaluation construction for ANN (ground truth
    = within-cluster neighbors), expressible identically in Spark and the
    DuckDB oracle. The raw testdata embeddings are near-orthogonal, where
    NO sublinear ANN structure can have recall (BASELINE.md); planting
    clusters makes the registry entry a REAL end-to-end hash check of the
    approximate path rather than a rows-only count."""
    onehot = F.array(*[
        F.when(F.col("vec_id") % _ANN_CLUSTERS == i, F.lit(_ANN_SCALE))
        .otherwise(F.lit(0.0))
        for i in range(_ANN_CLUSTERS)
    ])
    return emb.select(
        "vec_id",
        F.concat(F.col("embedding").cast("array<double>"), onehot).alias("embedding"),
    )


_SQL_CLUSTERED = (
    "SELECT vec_id, list_concat(CAST(embedding AS DOUBLE[]), ["
    + ", ".join(
        f"CASE WHEN vec_id % {_ANN_CLUSTERS} = {i} THEN {_ANN_SCALE} ELSE 0.0 END"
        for i in range(_ANN_CLUSTERS)
    )
    + "]) AS v FROM embeddings"
)


def _sql_ann_brute(query_mod_residue: int, k: int) -> str:
    """Brute-force cosine top-k oracle over the planted-cluster corpus."""
    return f"""
WITH t AS ({_SQL_CLUSTERED}),
q AS (SELECT vec_id AS q_id, v AS qv FROM t WHERE vec_id % 100 = {query_mod_residue}),
s AS (SELECT q.q_id, t.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(t.v, q.qv), 6) AS cos
      FROM t JOIN q ON t.vec_id <> q.q_id)
SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank,
       neighbor_id, cos
FROM s QUALIFY rank <= {k}
"""


def q_ann_lsh(spark, sf):
    """LSH-bucketed approximate NN, driver-verified end-to-end: on the
    planted-cluster corpus (``_clustered_embeddings``) 12 tables x 8
    hyperplanes recover the exact top-3 (within-cluster neighbors are
    near-parallel, so they collide in >=1 table with overwhelming margin)
    at BOTH sf0.01 and sf0.1 — the full-registry sweep is bitwise at 10x
    the driver scale (8 tables sufficed at sf0.01 but missed 12/60
    neighbors at sf0.1; 10 is the measured minimum, 12 adds margin for
    ~0.6s steady). Result hash-matches the DuckDB brute-force oracle.
    Thin-margin recall behavior is gated separately in
    tests/test_recall.py; max_bucket guards degenerate buckets (never
    binds here)."""
    emb = _clustered_embeddings(_t(spark, sf, "embeddings"))
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return lsh_ann_topk(
        emb, q, dim=64 + _ANN_CLUSTERS, k=3, n_planes=8, n_tables=12,
        max_bucket=4096,
    )


SQL_ANN_LSH = _sql_ann_brute(query_mod_residue=0, k=3)


def q_ivf_ann(spark, sf):
    """IVF-cell approximate NN, driver-verified end-to-end: on the
    planted-cluster corpus the k-means-lite centroids track the planted
    clusters, so 16 cells / nprobe=4 recover the exact top-3 and the
    result hash-matches the DuckDB brute-force oracle (different query
    residue than ann_lsh so the two entries verify different probes).
    Recall-vs-nprobe and layout independence are gated in
    tests/test_recall.py."""
    from tgist_features_spark.operators.similarity import ivf_ann_topk

    emb = _clustered_embeddings(_t(spark, sf, "embeddings"))
    q = emb.filter(F.col("vec_id") % 100 == 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_ann_topk(
        emb, q, dim=64 + _ANN_CLUSTERS, k=3, n_centroids=16, nprobe=4
    )


SQL_IVF_ANN = _sql_ann_brute(query_mod_residue=50, k=3)


# --------------------------------------------------------------------------
# deterministic sampling / splitting & TF-IDF (training-data ops, round 3)
# --------------------------------------------------------------------------


def q_train_split(spark, sf):
    """Deterministic md5-hash train/val/test split keyed on user_id (all of
    a user's events land in one split — the grouping that prevents
    train/test leakage through shared users); per-split row counts, user
    counts and value sums. The oracle recomputes the identical md5 bucket
    arithmetic in DuckDB — split assignment is verified row-for-row, not
    just proportionally."""
    from tgist_features_spark.operators.sampling import deterministic_split

    e = _t(spark, sf, "events")
    s = deterministic_split(
        e, "user_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


SQL_TRAIN_SPLIT = """
WITH b AS (
  SELECT *, ('0x' || substr(md5(user_id::VARCHAR || 'split'), 1, 15))::UBIGINT
            % 1000000 AS bk
  FROM events),
s AS (
  SELECT *, CASE WHEN bk < 800000 THEN 'train'
                 WHEN bk < 900000 THEN 'val'
                 ELSE 'test' END AS split
  FROM b)
SELECT split, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 2) AS sum_value
FROM s GROUP BY split
"""


def q_group_sample(spark, sf):
    """Deterministic 3-per-user sample (hash-ordered rank — the
    layout-independent reservoir-sample equivalent); md5 ordering is
    recomputed by the oracle, so the exact sampled rows are verified."""
    from tgist_features_spark.operators.sampling import per_group_sample

    e = _t(spark, sf, "events")
    return per_group_sample(e, "user_id", 3, "event_id").select(
        "user_id", "event_id", "event_type", F.round("value", 2).alias("value")
    )


SQL_GROUP_SAMPLE = """
SELECT user_id, event_id, event_type, ROUND(value, 2) AS value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id
    ORDER BY ('0x' || substr(md5(event_id::VARCHAR || 'sample'), 1, 15))::UBIGINT
             % 1000000, event_id) AS rn
  FROM events)
WHERE rn <= 3
"""


def q_tfidf(spark, sf):
    """Top-3 TF-IDF terms per document (text-analysis staple), ranked by
    rounded score then term — fully hash-verified against the same
    computation in DuckDB."""
    from tgist_features_spark.functions.text import tfidf_topk

    return tfidf_topk(_t(spark, sf, "documents"), k=3)


SQL_TFIDF = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tok, ROUND(tf * ln(n_docs::DOUBLE / df), 6) AS score
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS INT) AS rank,
       tok, score
FROM scored QUALIFY rank <= 3
"""


def q_grouping_sets(spark, sf):
    """A4 via the SQL surface: GROUPING SETS over lineitem."""
    _t(spark, sf, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(ROUND(SUM(l_quantity)) AS BIGINT) AS sum_qty
        FROM v_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(ROUND(SUM(l_quantity)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def q_sql_shipping(spark, sf):
    """Multi-join aggregate through the SQL surface (TPC-H Q3 shape)."""
    _t(spark, sf, "customer").createOrReplaceTempView("v_customer")
    _t(spark, sf, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT c_mktsegment, o_orderpriority,
               COUNT(DISTINCT o_orderkey) AS n_orders,
               CAST(ROUND(SUM(l_extendedprice * (1 - l_discount))) AS BIGINT) AS revenue
        FROM v_customer
        JOIN v_orders ON c_custkey = o_custkey
        JOIN v_lineitem ON l_orderkey = o_orderkey
        GROUP BY c_mktsegment, o_orderpriority
        """
    )


SQL_SQL_SHIPPING = """
SELECT c_mktsegment, o_orderpriority,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount))) AS BIGINT) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY c_mktsegment, o_orderpriority
"""


def q_embed_near_dup(spark, sf):
    """Embedding-cosine near-duplicate pairs (brute-force a<b).

    Norms are hoisted below the n² join (one fold per ROW instead of two
    folds per PAIR — the hoisted fold is `_cosine`'s own expression, so
    every double is bit-identical); only the dot runs per pair, and the
    join condition is authored with the cheap `a < b` FIRST so the And
    short-circuits half the ordered pairs before any fold runs (the
    pushed-filter form evaluated the full cosine first, for all n²)."""
    from tgist_features_spark.operators.similarity import _dot, _l2norm

    emb = _t(spark, sf, "embeddings")
    a = emb.select(F.col("vec_id").alias("a"),
                   F.col("embedding").cast("array<double>").alias("va"))
    # the streamed side of the n² nested-loop join inherits the SCAN's
    # partitioning — a single-file corpus would run the whole O(n²) compute
    # on one core. One narrow round-robin exchange of the n-row side is
    # negligible against n² fold work at any scale, so fan it out
    # unconditionally (cluster-parameterised, not a local[32] constant).
    a = a.repartition(spark.sparkContext.defaultParallelism)
    a = a.withColumn("na", _l2norm("va"))
    b = emb.select(F.col("vec_id").alias("b"),
                   F.col("embedding").cast("array<double>").alias("vb"))
    b = b.withColumn("nb", _l2norm("vb"))
    cos = F.round(_dot("va", "vb") / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, (F.col("a") < F.col("b")) & (cos >= 0.45))
        .withColumn("cos", cos)
        .select("a", "b", "cos")
    )


# threshold 0.45 (not 0.9): the synthetic embeddings are near-orthogonal, so
# 0.9 matches nothing and the oracle pass would be vacuous; 0.45 yields a
# small non-empty pair set at sf0.01
SQL_EMBED_NEAR_DUP = """
WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT x.vec_id AS a, y.vec_id AS b,
       ROUND(list_cosine_similarity(x.v, y.v), 6) AS cos
FROM t x JOIN t y ON x.vec_id < y.vec_id
WHERE ROUND(list_cosine_similarity(x.v, y.v), 6) >= 0.45
"""


def q_intersect(spark, sf):
    e = _t(spark, sf, "events")
    a = e.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    b = e.filter(F.col("event_type") == "error").select("user_id").distinct()
    return a.intersect(b)


SQL_INTERSECT = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
"""


def q_window_ranks(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return e.select(
        "user_id",
        "event_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


SQL_WINDOW_RANKS = """
SELECT user_id, event_id,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk,
       ROUND(percent_rank() OVER w, 6) AS prnk,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
"""


def q_string_funcs(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 10)).alias("head_upper"),
        F.length(F.regexp_replace("text", "the", "")).cast("long").alias("len_no_the"),
        F.lpad(F.col("lang"), 5, "_").alias("lang_pad"),
        F.concat_ws("|", "lang", "source").alias("tag"),
        F.reverse(F.substring("text", 1, 8)).alias("head_rev"),
    )


SQL_STRING_FUNCS = """
SELECT doc_id,
       upper(substring(text, 1, 10)) AS head_upper,
       CAST(length(regexp_replace(text, 'the', '', 'g')) AS BIGINT) AS len_no_the,
       lpad(lang, 5, '_') AS lang_pad,
       concat_ws('|', lang, source) AS tag,
       reverse(substring(text, 1, 8)) AS head_rev
FROM documents
"""


def q_array_stats(spark, sf):
    emb = _t(spark, sf, "embeddings")
    v = F.col("embedding").cast("array<double>")
    l2 = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(l2, 4).alias("l2"),
        F.round(F.element_at(v, 1), 6).alias("first_val"),
        F.round(F.aggregate(v, F.lit(0.0), lambda s, x: s + x), 4).alias("vsum"),
    )


SQL_ARRAY_STATS = """
WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, embedding FROM embeddings)
SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
       ROUND(sqrt(list_sum(list_transform(v, x -> x * x))), 4) AS l2,
       ROUND(v[1], 6) AS first_val,
       ROUND(list_sum(v), 4) AS vsum
FROM t
"""


def q_percentiles(spark, sf):
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


SQL_PERCENTILES = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.9), 4) AS p90,
       ROUND(MIN(value), 4) AS vmin,
       ROUND(MAX(value), 4) AS vmax
FROM events GROUP BY event_type
"""


def q_approx_percentile(spark, sf):
    """Scale-safe quantiles: approx_percentile (GK sketch — mergeable, one
    pass, bounded memory; the 100 TB form of exact ``percentile``).

    Hash-parity with a non-deterministic-by-engine sketch is made exact by
    SELF-BANDING: the query emits booleans asserting the sketch value lands
    inside the exact [p-0.05, p+0.05] quantile band (computed in the same
    aggregation); the oracle emits literal TRUE. A sketch outside tolerance
    hash-mismatches — the tolerance check IS driver-verified.
    """
    e = _t(spark, sf, "events")
    agg = e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("ap50"),
        F.expr("approx_percentile(value, 0.9, 10000)").alias("ap90"),
        F.expr("percentile(value, 0.45)").alias("lo50"),
        F.expr("percentile(value, 0.55)").alias("hi50"),
        F.expr("percentile(value, 0.85)").alias("lo90"),
        F.expr("percentile(value, 0.95)").alias("hi90"),
    )
    return agg.select(
        "event_type",
        F.col("ap50").between(F.col("lo50"), F.col("hi50")).alias("p50_ok"),
        F.col("ap90").between(F.col("lo90"), F.col("hi90")).alias("p90_ok"),
        F.round("lo50", 4).alias("lo50"),
        F.round("hi90", 4).alias("hi90"),
    )


SQL_APPROX_PERCENTILE = """
SELECT event_type, TRUE AS p50_ok, TRUE AS p90_ok,
       ROUND(quantile_cont(value, 0.45), 4) AS lo50,
       ROUND(quantile_cont(value, 0.95), 4) AS hi90
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# flagship: full leakage-free feature vector per event
# --------------------------------------------------------------------------


def q_feature_vector(spark, sf):
    e = _t(spark, sf, "events")
    w = _events_w()
    wp = w.rowsBetween(-3, -1)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    s = sessionize(e, gap_s=1800.0, entity="user_id", order=EV_ORDER)
    return s.select(
        "user_id",
        "event_id",
        _US("ts").alias("ts_us"),
        ((_US("ts") - _US(F.lag("ts").over(w))) / F.lit(1000000.0)).alias("gap_s"),
        "session_id",
        F.row_number().over(w).alias("turn_no"),
        F.count(F.lit(1)).over(wp).alias("n_prev3"),
        F.round(F.sum("value").over(wp), 2).alias("sum_prev3"),
        F.round(F.sum("value").over(wc), 2).alias("cum_value"),
        F.last(
            F.when(F.col("event_type") == "error", _US("ts")), ignorenulls=True
        ).over(wc).alias("last_error_us"),
    )


SQL_FEATURE_VECTOR = """
WITH g AS (
  SELECT user_id, event_id, ts, value, event_type,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS b,
         (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) / 1000000.0 AS gap_s,
         CAST(row_number() OVER w AS INT) AS turn_no,
         COUNT(*) OVER wp AS n_prev3,
         ROUND(SUM(value) OVER wp, 2) AS sum_prev3,
         ROUND(SUM(value) OVER wc, 2) AS cum_value,
         LAST_VALUE(CASE WHEN event_type = 'error' THEN epoch_us(ts) END IGNORE NULLS)
           OVER wc AS last_error_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
         wp AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
         wc AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, event_id, epoch_us(ts) AS ts_us, gap_s,
       CAST(SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id,
       turn_no, n_prev3, sum_prev3, cum_value, last_error_us
FROM g
"""

# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

# Ordered dict: the driver checks queries in registry order and caps a round
# at the first 50 entries (CORRECTNESS_r01/r02 each recorded exactly the
# first 50 keys). Rotation policy: anything whose semantics changed this
# round comes first, then the 5 entries that sat in the tail last round
# (re-verified now, so no query's newest green row is ever older than one
# round); the new tail holds 5 queries hash-green in BOTH r01 and r02,
# untouched since, with operator coverage redundantly evidenced by earlier
# entries (named per-entry below).
def q_pack_chunks(spark, sf):
    """Concat-and-chunk sequence packing (how pretraining corpora become
    fixed-size context windows): every document mapped to its span of
    256-token chunks via the distributed two-phase prefix sum in
    operators/packing.py — n_parts=8 exercises the multi-partition path
    even at sf0.01. Integer-exact, so the oracle (a single-window DuckDB
    cumsum, fine at oracle scale) must match bit-for-bit."""
    from tgist_features_spark.operators.packing import pack_chunks

    d = _t(spark, sf, "documents").withColumn(
        "n_toks", F.size(F.split("text", " ")).cast("bigint")
    )
    return pack_chunks(d, "doc_id", "n_toks", chunk_size=256, n_parts=8).select(
        "doc_id", "n_tokens", "chunk_id", "offset_in_chunk", "n_in_chunk"
    )


SQL_PACK_CHUNKS = """
WITH w AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n FROM documents),
c AS (SELECT doc_id, n, (SUM(n) OVER (ORDER BY doc_id))::BIGINT AS cum
      FROM w WHERE n > 0),
s AS (SELECT doc_id, n, cum, cum - n AS prev FROM c)
SELECT doc_id, n AS n_tokens, chunk_id,
       GREATEST(prev, chunk_id * 256) - chunk_id * 256 AS offset_in_chunk,
       LEAST(cum, (chunk_id + 1) * 256) - GREATEST(prev, chunk_id * 256) AS n_in_chunk
FROM s, unnest(generate_series(prev // 256, (cum - 1) // 256)) AS u(chunk_id)
"""


def q_pack_padded(spark, sf):
    """Document-boundary-respecting packing (round 4): every doc starts at
    a fresh chunk boundary (no chunk mixes documents — the no-cross-doc-
    attention training layout); same two-phase prefix sum, run over padded
    weights. Integer-exact."""
    from tgist_features_spark.operators.packing import pack_chunks

    d = _t(spark, sf, "documents").withColumn(
        "n_toks", F.size(F.split("text", " ")).cast("bigint")
    )
    return pack_chunks(
        d, "doc_id", "n_toks", chunk_size=256, n_parts=8, pad_to_boundary=True
    ).select("doc_id", "n_tokens", "chunk_id", "offset_in_chunk", "n_in_chunk")


SQL_PACK_PADDED = """
WITH w AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n FROM documents),
c AS (SELECT doc_id, n,
             (SUM(((n + 255) // 256) * 256) OVER (ORDER BY doc_id))::BIGINT AS pcum
      FROM w WHERE n > 0),
s AS (SELECT doc_id, n,
             pcum - ((n + 255) // 256) * 256 AS prev,
             pcum - ((n + 255) // 256) * 256 + n AS cum
      FROM c)
SELECT doc_id, n AS n_tokens, chunk_id,
       GREATEST(prev, chunk_id * 256) - chunk_id * 256 AS offset_in_chunk,
       LEAST(cum, (chunk_id + 1) * 256) - GREATEST(prev, chunk_id * 256) AS n_in_chunk
FROM s, unnest(generate_series(prev // 256, (cum - 1) // 256)) AS u(chunk_id)
"""


def q_corpus_report(spark, sf):
    """One-row corpus datasheet (round 4): the summary a training-data
    curation run publishes next to its output — doc/token totals, exact
    token-length quantiles, exact vocabulary size, exact duplicate-text
    count. Doc-grain and token-grain aggregations meet in a 1-row x 1-row
    cross join (both sides partial-agged; nothing big moves)."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.col("text"), " ")
    per = d.select(
        F.size(toks).cast("bigint").alias("n_tok"),
        F.coalesce(F.md5("text"), F.lit("__null__")).alias("fp"),
    )
    doc_stats = per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_tok") > 0, F.col("n_tok")).otherwise(0)).alias(
            "n_tokens"
        ),
        F.round(F.expr("percentile(n_tok, 0.5)"), 4).alias("p50_tokens"),
        F.round(F.expr("percentile(n_tok, 0.95)"), 4).alias("p95_tokens"),
        (F.count(F.lit(1)) - F.count_distinct("fp")).alias("n_dup_texts"),
    )
    vocab = (
        d.select(F.explode_outer(toks).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .agg(F.count_distinct("tok").alias("vocab_size"))
    )
    return doc_stats.crossJoin(vocab).select(
        "n_docs",
        "n_tokens",
        F.expr("(n_tokens * 10000) div n_docs").alias("avg_tokens_x1e4"),
        "p50_tokens",
        "p95_tokens",
        "vocab_size",
        "n_dup_texts",
    )


SQL_CORPUS_REPORT = """
WITH per AS (
  SELECT len(string_split(text, ' '))::BIGINT AS n_tok,
         COALESCE(md5(text), '__null__') AS fp
  FROM documents),
doc_stats AS (
  SELECT COUNT(*)::BIGINT AS n_docs,
         SUM(CASE WHEN n_tok > 0 THEN n_tok ELSE 0 END)::BIGINT AS n_tokens,
         ROUND(quantile_cont(n_tok, 0.5), 4) AS p50_tokens,
         ROUND(quantile_cont(n_tok, 0.95), 4) AS p95_tokens,
         (COUNT(*) - COUNT(DISTINCT fp))::BIGINT AS n_dup_texts
  FROM per),
vocab AS (
  SELECT COUNT(DISTINCT tok)::BIGINT AS vocab_size
  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL))
SELECT n_docs, n_tokens,
       ((n_tokens * 10000) // n_docs)::BIGINT AS avg_tokens_x1e4,
       p50_tokens, p95_tokens, vocab_size, n_dup_texts
FROM doc_stats, vocab
"""


def q_gopher_quality(spark, sf):
    """Gopher-style repetition filters (type-token ratio, top-bigram token
    coverage, duplicated-trigram fraction, composite keep flag) — zero-
    shuffle higher-order-function arithmetic; the oracle recomputes the
    same metrics with explode+group SQL (oracle-scale only)."""
    from tgist_features_spark.functions.text import with_repetition_features

    d = _t(spark, sf, "documents")
    return with_repetition_features(d).select(
        "doc_id",
        "n_tokens",
        "ttr",
        "top_bigram_frac",
        "dup_trigram_frac",
        F.col("keep").cast("int").alias("keep"),
    )


SQL_GOPHER_QUALITY = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
big AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
        FROM t, unnest(generate_series(1, len(tk) - 1)) AS u(i)),
bc AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY 1, 2),
mb AS (SELECT doc_id, MAX(c) AS best FROM bc GROUP BY 1),
tri AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
        FROM t, unnest(generate_series(1, len(tk) - 2)) AS u(i)),
td AS (SELECT doc_id, COUNT(*) AS n_tri, COUNT(DISTINCT g) AS n_tri_d
       FROM tri GROUP BY 1),
m AS (SELECT t.doc_id, len(tk)::BIGINT AS n_tokens,
             ROUND(len(list_distinct(tk))::DOUBLE / GREATEST(len(tk), 1), 6) AS ttr,
             ROUND(2 * COALESCE(best, 0)::DOUBLE / GREATEST(len(tk), 1), 6)
               AS top_bigram_frac,
             CASE WHEN COALESCE(n_tri, 0) = 0 THEN 0.0
                  ELSE ROUND(1.0 - n_tri_d::DOUBLE / n_tri, 6)
             END AS dup_trigram_frac
      FROM t LEFT JOIN mb USING (doc_id) LEFT JOIN td USING (doc_id))
SELECT doc_id, n_tokens, ttr, top_bigram_frac, dup_trigram_frac,
       (ttr >= 0.35 AND top_bigram_frac <= 0.15
        AND dup_trigram_frac <= 0.02)::INT AS keep
FROM m
"""


def q_temperature_resample(spark, sf):
    """Temperature-0.5 mixture rebalancing over the language column:
    under-represented languages upsampled by min(4, sqrt(max_count/count))
    with deterministic md5-hash fractional copies — every emitted copy is
    verified row-for-row by the oracle (sqrt is correctly-rounded IEEE in
    both engines, so multipliers are bitwise identical)."""
    from tgist_features_spark.operators.sampling import temperature_resample

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return temperature_resample(d, "lang", "doc_id", tau=0.5, cap=4.0).select(
        "doc_id", "lang", "n_copies", "copy_idx"
    )


SQL_TEMPERATURE_RESAMPLE = """
WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
mx AS (SELECT MAX(cnt) AS mxc FROM c),
m AS (SELECT lang, LEAST(4.0, sqrt(mxc::DOUBLE / cnt::DOUBLE)) AS mult
      FROM c CROSS JOIN mx),
r AS (SELECT d.doc_id, d.lang,
             FLOOR(mult)::BIGINT
             + CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR || 'resample'), 1, 15))
                         ::UBIGINT % 1000000
                         < ROUND((mult - FLOOR(mult)) * 1000000)::BIGINT
                    THEN 1 ELSE 0 END AS n_copies
      FROM documents d JOIN m USING (lang))
SELECT doc_id, lang, n_copies, copy_idx
FROM r, unnest(generate_series(1::BIGINT, n_copies)) AS u(copy_idx)
"""


def q_decontaminate(spark, sf):
    """Pretraining decontamination: train docs sharing any token trigram
    with the held-out 'eval' slice (doc_id % 97 == 0 stands in for a
    benchmark suite). Eval grams broadcast; the corpus is never shuffled
    (see operators/dedup.py contamination_hits). Integer counts —
    bitwise-verifiable."""
    from tgist_features_spark.operators.dedup import contamination_hits

    d = _t(spark, sf, "documents")
    ev = d.filter(F.col("doc_id") % 97 == 0)
    tr = d.filter(F.col("doc_id") % 97 != 0)
    return contamination_hits(tr, ev, n=3)


SQL_DECONTAMINATE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
g AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
      FROM t, unnest(generate_series(1, len(tk) - 2)) AS u(i)),
ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0)
SELECT doc_id, COUNT(*)::BIGINT AS n_hit_grams
FROM g WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM ev)
GROUP BY doc_id
"""


def q_shuffle_order(spark, sf):
    """Deterministic training-order shuffle: 0-based global rank in
    md5-hash order via the two-phase prefix sum (n_parts=8 exercises the
    multi-range path). The oracle recomputes the identical rank with a
    single DuckDB window — every rank verified row-for-row."""
    from tgist_features_spark.operators.packing import deterministic_shuffle

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return deterministic_shuffle(d, "doc_id", n_parts=8).select(
        "doc_id", "lang", "shuffle_rank"
    )


SQL_SHUFFLE_ORDER = """
SELECT doc_id, lang,
       (row_number() OVER (
          ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || 'shuffle'), 1, 15))
                   ::UBIGINT % 1000000,
                   doc_id) - 1)::BIGINT AS shuffle_rank
FROM documents
"""


def q_redact(spark, sf):
    """PII scrubbing audit: deterministic synthetic PII (email/URL/SSN
    built from existing columns) injected into every doc, then redacted +
    counted per rule. Patterns live in the Java∩RE2 regex subset, so the
    oracle replays the identical regexp_replace chain in DuckDB —
    redacted text verified byte-for-byte."""
    from tgist_features_spark.functions.text import with_redaction

    d = _t(spark, sf, "documents").withColumn(
        "text",
        F.concat(
            "text",
            F.lit(" contact "),
            "source",
            F.lit("@example.com or https://"),
            "lang",
            F.lit(".example.org/x id 123-45-6789"),
        ),
    )
    return with_redaction(d).select(
        "doc_id", "n_email", "n_url", "n_ssn", "redacted"
    )


SQL_REDACT = """
WITH d AS (SELECT doc_id,
                  text || ' contact ' || source || '@example.com or https://'
                       || lang || '.example.org/x id 123-45-6789' AS text
           FROM documents)
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_email,
       len(regexp_extract_all(text, 'https?://[^ ]+'))::BIGINT AS n_url,
       len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}'))::BIGINT AS n_ssn,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           'https?://[^ ]+', '<URL>', 'g'),
         '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g') AS redacted
FROM d
"""


def q_chunk_windows(spark, sf):
    """Sliding-window chunking (size 48, stride 24) — zero-shuffle per-doc
    explode; window text and token counts verified byte-for-byte against
    the same slice arithmetic in DuckDB."""
    from tgist_features_spark.functions.text import chunk_windows

    return chunk_windows(_t(spark, sf, "documents"), size=48, stride=24)


SQL_CHUNK_WINDOWS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk, len(string_split(text, ' ')) AS n
           FROM documents),
w AS (SELECT doc_id, tk, n,
             CASE WHEN n > 48 THEN (n - 48 + 24 - 1) // 24 ELSE 0 END AS last_i
      FROM t)
SELECT doc_id, i::BIGINT AS win_idx,
       array_to_string(tk[i * 24 + 1 : i * 24 + 48], ' ') AS window_text,
       LEAST(48, n - i * 24)::BIGINT AS n_window_tokens
FROM w, unnest(generate_series(0, last_i)) AS u(i)
"""


def q_span_dup(spark, sf):
    """Sequence-level duplication stats: per doc, the fraction of token
    8-gram positions shared with other documents (what doc-level dedup
    misses — the near-dup families in the corpus light up, the rest sit
    at 0). Integer counts + one exact ratio — bitwise-verifiable."""
    from tgist_features_spark.operators.dedup import cross_doc_span_stats

    return cross_doc_span_stats(_t(spark, sf, "documents"), n=8)


SQL_SPAN_DUP = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
g AS (SELECT doc_id,
             tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]
                   || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6]
                   || ' ' || tk[i+7] AS g
      FROM t, unnest(generate_series(1, len(tk) - 7)) AS u(i)),
gd AS (SELECT g, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1),
j AS (SELECT doc_id, COUNT(*)::BIGINT AS n_spans,
             SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans
      FROM g JOIN gd USING (g) GROUP BY 1)
SELECT doc_id, n_spans, n_dup_spans,
       ROUND(n_dup_spans::DOUBLE / n_spans, 6) AS dup_span_frac,
       (ROUND(n_dup_spans::DOUBLE / n_spans, 6) <= 0.5)::INT AS keep
FROM j
"""


def q_span_removal(spark, sf):
    """Span-level dedup as an ACTION (round 4): delete every token covered
    by a cross-doc duplicated 8-gram, keep the rest of the document — the
    ExactSubstr removal rule at token-n-gram granularity. Strings +
    integer counts only: byte-exact verifiable."""
    from tgist_features_spark.operators.dedup import remove_dup_spans

    return remove_dup_spans(_t(spark, sf, "documents"), n=8, min_docs=2)


SQL_SPAN_REMOVAL = """
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
pos AS (
  SELECT t.doc_id, u.i AS p, array_to_string(l[u.i : u.i + 7], ' ') AS g
  FROM t, unnest(generate_series(1, len(l) - 7)) AS u(i)),
gd AS (SELECT g FROM pos GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
dup AS (SELECT DISTINCT p.doc_id, p.p FROM pos p JOIN gd USING (g)),
cov AS (SELECT DISTINCT doc_id, u.c AS c
        FROM dup, unnest(generate_series(p, p + 7)) AS u(c)),
covl AS (SELECT doc_id, list(c) AS cs FROM cov GROUP BY doc_id)
SELECT t.doc_id,
       CASE WHEN t.text IS NULL THEN NULL
            -- array_to_string([]) is NULL in DuckDB but '' under Spark's
            -- array_join: coalesce the fully-removed-doc case
            ELSE COALESCE(array_to_string(
                   list_filter(l, (x, i) -> NOT list_contains(COALESCE(cs, []), i)),
                   ' '), '')
       END AS clean_text,
       CASE WHEN t.text IS NULL THEN 0 ELSE len(l) END::BIGINT AS n_tokens,
       COALESCE(len(cs), 0)::BIGINT AS n_removed
FROM t LEFT JOIN covl USING (doc_id)
"""


def q_tf_stats(spark, sf):
    """Corpus-relative token-frequency scoring (round 4) — the
    integer-exact stand-in for unigram-perplexity quality filtering; the
    head/tail vocabulary split (hot tokens broadcast) is exercised at the
    driver's own scales via hot_min=500. Every output column is a BIGINT,
    so parity is bitwise by construction."""
    from tgist_features_spark.functions.text import token_frequency_stats

    return token_frequency_stats(
        _t(spark, sf, "documents"), min_count=5, hot_min=500
    )


SQL_TF_STATS = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l
           FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(l) AS tok FROM t),
dt AS (SELECT doc_id, tok, COUNT(*)::BIGINT AS cnt FROM tok GROUP BY 1, 2),
vocab AS (SELECT tok, SUM(cnt)::BIGINT AS c FROM dt GROUP BY tok),
pd AS (SELECT dt.doc_id,
              SUM(dt.cnt)::BIGINT AS n_tokens,
              SUM(dt.cnt * v.c)::BIGINT AS sum_tf,
              SUM(CASE WHEN v.c < 5 THEN dt.cnt ELSE 0 END)::BIGINT AS oov_count
       FROM dt JOIN vocab v USING (tok) GROUP BY 1)
SELECT doc_id, n_tokens, sum_tf,
       ((sum_tf // n_tokens) * 10000
        + ((sum_tf % n_tokens) * 10000) // n_tokens)::BIGINT AS mean_tf_x1e4,
       oov_count,
       ((oov_count // n_tokens) * 1000000
        + ((oov_count % n_tokens) * 1000000) // n_tokens)::BIGINT AS oov_rate_x1e6
FROM pd
"""


def q_centroids(spark, sf):
    """Per-label embedding centroids (round 5 reshape): mean-pool over
    fixed-point quantized components (floor(v * 1e7 + 0.5) bigint sums —
    exact and order-independent). Emitted as flat (label, dim, n_vecs,
    value_x1e7) scalar rows rather than an array<double> column: the
    values are identical (value_x1e7/1e7 reassembled over dim is the
    centroid, pinned by pytest against group_centroids), but every column
    is a scalar a row-canonicalizing comparator can hash."""
    from tgist_features_spark.operators.similarity import group_centroid_components

    return group_centroid_components(
        _t(spark, sf, "embeddings"), vec_col="embedding", group_col="label"
    )


SQL_CENTROIDS = """
WITH e AS (SELECT label, u.i - 1 AS dim, embedding[u.i] AS v
           FROM embeddings,
                unnest(range(1, len(embedding) + 1)) AS u(i)),
q AS (SELECT label, dim,
             SUM(CAST(floor(CAST(v AS DOUBLE) * 10000000 + 0.5) AS BIGINT))::BIGINT AS s,
             COUNT(*)::BIGINT AS n
      FROM e GROUP BY 1, 2)
SELECT label, dim::INT AS dim, n AS n_vecs,
       ((s - ((s % n) + n) % n) // n)::BIGINT AS value_x1e7
FROM q
"""


def q_cross_dedup(spark, sf):
    """Cross-corpus near-dedup (round 4): documents with doc_id % 5 != 0
    play the incoming training corpus, % 5 == 0 the already-held corpus;
    LSH discovery runs BETWEEN the two sides only (two-sided bucket join,
    identical signatures/seed), then the exact trigram-Jaccard re-rank
    keeps pairs >= 0.5 — the same discovery-then-exact-verify composition
    (and the same bimodal-corpus recall argument) as ``dedup_minhash``,
    against an exhaustive cross-pairs DuckDB oracle."""
    from tgist_features_spark.operators.dedup import (
        cross_corpus_near_pairs,
        ngram_jaccard_score,
    )

    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    ref = docs.filter(F.col("doc_id") % 5 == 0)
    # lazy pair core (same pair set as the materializing path): the
    # scorer's first action materializes the persisted pairs, skipping
    # the separate count barrier — the q_dedup_minhash discipline
    pairs_lazy, sig_a, sig_b = cross_corpus_near_pairs(
        corpus, ref, n_hashes=64, bands=32, min_est_jaccard=0.25, lazy=True
    )
    pairs = pairs_lazy.persist()
    out = (
        ngram_jaccard_score(docs, pairs, n=3)
        .filter(F.col("jaccard") >= 0.5)
        .select("a", "b", "inter", F.round("jaccard", 6).alias("jaccard"))
        .localCheckpoint(eager=True)  # materialize, then drop the pair cache
    )
    sig_a.unpersist()
    if sig_b is not None:
        sig_b.unpersist()
    pairs.unpersist()
    return out


SQL_CROSS_DEDUP = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(l) - 1),
         i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
  FROM t),
counts AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
  FROM grams x JOIN grams y ON x.g = y.g
  WHERE x.doc_id % 5 <> 0 AND y.doc_id % 5 = 0
  GROUP BY 1, 2)
SELECT i.a, i.b, CAST(i.inter AS BIGINT) AS inter,
       ROUND(i.inter / (ca.n + cb.n - i.inter), 6) AS jaccard
FROM inter i JOIN counts ca ON ca.doc_id = i.a JOIN counts cb ON cb.doc_id = i.b
WHERE i.inter / (ca.n + cb.n - i.inter) >= 0.5
"""


def q_resample(spark, sf):
    """Fixed-interval resample + forward fill (round 4): one row per
    (user, active day), carrying the latest event value at or before each
    day's end; value column moved verbatim (no arithmetic), so parity is
    exact."""
    from tgist_features_spark.operators.windows import resample_ffill

    return resample_ffill(
        _t(spark, sf, "events"),
        by="user_id",
        ts_col="ts",
        value_col="value",
        interval_s=86_400,
        tiebreak=("event_id",),
    )


SQL_RESAMPLE = """
WITH b AS (SELECT user_id, epoch_us(ts) AS u, value, event_id
           FROM events WHERE ts IS NOT NULL),
v AS (SELECT user_id, u // 86400000000 AS b, value,
             row_number() OVER (PARTITION BY user_id, u // 86400000000
                                ORDER BY u DESC, event_id DESC) AS rn
      FROM b),
vals AS (SELECT user_id, b, value AS lastv FROM v WHERE rn = 1),
bounds AS (SELECT user_id, min(u // 86400000000) AS b0,
                  max(u // 86400000000) AS b1
           FROM b GROUP BY 1),
grid AS (SELECT user_id, g.b AS b
         FROM bounds, unnest(generate_series(b0, b1)) AS g(b)),
j AS (SELECT grid.user_id, grid.b, vals.lastv
      FROM grid LEFT JOIN vals USING (user_id, b))
SELECT user_id, (b * 86400000000)::BIGINT AS bucket_start_us,
       last_value(lastv IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY b
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
       (lastv IS NULL)::INT AS is_gap
FROM j
"""


def q_group_norm(spark, sf):
    """Per-group standardization (round 5): each doc's integer-exact
    fixed-point deviation from its language stratum's mean char count
    (operators/aggregates.py group_standardize — tiny stats broadcast,
    corpus never shuffled, zero floats)."""
    from tgist_features_spark.operators.aggregates import group_standardize

    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return group_standardize(d, value_col="n_chars", group_col="lang").select(
        "doc_id", "lang", "n_chars", "n_group", "mean_x10000", "dev_x10000"
    )


SQL_GROUP_NORM = """
WITH s AS (SELECT lang, COUNT(*)::BIGINT AS n_group, SUM(n_chars)::BIGINT AS sm
           FROM documents GROUP BY lang)
SELECT d.doc_id, d.lang, d.n_chars, s.n_group,
       ((sm * 10000 - (((sm * 10000) % n_group) + n_group) % n_group)
        // n_group)::BIGINT AS mean_x10000,
       (((d.n_chars * n_group - sm) * 10000
         - ((((d.n_chars * n_group - sm) * 10000) % n_group) + n_group) % n_group)
        // n_group)::BIGINT AS dev_x10000
FROM documents d JOIN s USING (lang)
"""


def q_debounce(spark, sf):
    """Burst debounce (round 5): per (user, event_type) stream, keep only
    events >= 30s after the previous event (operators/windows.py
    debounce — one window pass, lag-based rule; event_id tiebreak makes
    equal-timestamp order deterministic)."""
    from tgist_features_spark.operators.windows import debounce

    e = _t(spark, sf, "events").select("event_id", "user_id", "event_type", "ts")
    return debounce(
        e, ["user_id", "event_type"], "ts", 30.0, order_tiebreak="event_id"
    ).select("event_id", "user_id", "event_type", "gap_us")


SQL_DEBOUNCE = """
WITH g AS (
  SELECT event_id, user_id, event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
  FROM events)
SELECT event_id, user_id, event_type, gap_us
FROM g WHERE gap_us IS NULL OR gap_us >= 30000000
"""


def q_budget_sample(spark, sf):
    """Token-budget mixture sampling (round 5): per-language char budgets
    consumed in deterministic md5-hash order (operators/sampling.py
    budget_sample — histogram-cut selection, only the boundary bucket is
    ever window-sorted). Budgets chosen so every language truncates at
    sf0.01 and larger SFs alike (en capped hardest — the down-weighting
    a real mixture spec does to a dominant source)."""
    from tgist_features_spark.operators.sampling import budget_sample

    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    budgets = {"en": 9_000, "de": 7_000, "es": 7_000, "fr": 7_000, "zh": 7_000}
    return budget_sample(
        d, group_col="lang", weight_col="n_chars", budgets=budgets,
        id_col="doc_id",
    )


SQL_BUDGET_SAMPLE = """
WITH b(lang, budget) AS (VALUES ('en', 9000), ('de', 7000), ('es', 7000),
                                ('fr', 7000), ('zh', 7000)),
h AS (SELECT d.doc_id, d.lang, d.n_chars, b.budget,
             ('0x' || substr(md5(d.doc_id::VARCHAR || 'budget'), 1, 15))::UBIGINT AS hv
      FROM documents d JOIN b USING (lang)),
c AS (SELECT *, SUM(n_chars) OVER (PARTITION BY lang ORDER BY hv, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
      FROM h)
SELECT doc_id, lang, n_chars FROM c WHERE cum <= budget
"""


def q_mad_outliers(spark, sf):
    """Robust outlier flags (round 5): per-lang exact median + MAD over
    doc char counts, |x - med| > 3*mad flag (operators/aggregates.py
    group_mad_outliers — exact percentiles, broadcast stats, integer
    inputs keep every statistic exactly representable)."""
    from tgist_features_spark.operators.aggregates import group_mad_outliers

    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return group_mad_outliers(d, value_col="n_chars", group_col="lang").select(
        "doc_id", "lang", "n_chars", "med", "mad", "is_outlier"
    )


SQL_MAD_OUTLIERS = """
WITH med AS (SELECT lang, median(n_chars::DOUBLE) AS med
             FROM documents GROUP BY lang),
mad AS (SELECT d.lang, median(abs(d.n_chars::DOUBLE - m.med)) AS mad
        FROM documents d JOIN med m USING (lang) GROUP BY d.lang)
SELECT d.doc_id, d.lang, d.n_chars, m.med, a.mad,
       (abs(d.n_chars::DOUBLE - m.med) > 3.0 * a.mad)::INT AS is_outlier
FROM documents d JOIN med m USING (lang) JOIN mad a USING (lang)
"""


def q_length_histogram(spark, sf):
    """Corpus length histogram (round 5): 64-char-wide doc-length buckets
    with per-bucket counts and extrema — the datasheet companion of
    corpus_report; one hash aggregation, integer bucket arithmetic (no
    doubles near 2^53)."""
    d = _t(spark, sf, "documents")
    b = F.expr("n_chars div 64")
    return (
        d.groupBy(b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_docs", "min_chars", "max_chars", "sum_chars",
        )
    )


SQL_LENGTH_HISTOGRAM = """
SELECT (n_chars // 64)::BIGINT AS bucket, COUNT(*)::BIGINT AS n_docs,
       MIN(n_chars)::BIGINT AS min_chars, MAX(n_chars)::BIGINT AS max_chars,
       SUM(n_chars)::BIGINT AS sum_chars
FROM documents GROUP BY 1
"""


def q_transitions(spark, sf):
    """First-order transition counts (round 6): how often each event
    type is followed by each other type within a user's stream
    (operators/windows.py transition_counts — one window pass, then a
    count aggregation over the tiny |types|^2 domain; the second
    shuffle moves at most |types|^2 rows per partition after partial
    aggregation)."""
    from tgist_features_spark.operators.windows import transition_counts

    e = _t(spark, sf, "events").select("event_id", "user_id", "event_type", "ts")
    return transition_counts(e, "user_id", "event_type", ("ts", "event_id"))


SQL_TRANSITIONS = """
WITH g AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events)
SELECT from_type, to_type, COUNT(*)::BIGINT AS n_transitions
FROM g WHERE to_type IS NOT NULL GROUP BY 1, 2
"""


def q_rolling_distinct(spark, sf):
    """Trailing-window variety signal (round 6): distinct event types in
    each user's last 5 events (operators/windows.py
    with_rolling_distinct — size(collect_set() over w); per-row state
    bounded by min(n, |type domain|), so this is NOT the unbounded
    collect_list trap)."""
    from tgist_features_spark.operators.windows import with_rolling_distinct

    e = _t(spark, sf, "events").select("event_id", "user_id", "event_type", "ts")
    return with_rolling_distinct(
        e, "event_type", "user_id", ("ts", "event_id"), n=5
    ).select("event_id", "user_id", "n_distinct")


SQL_ROLLING_DISTINCT = """
SELECT event_id, user_id,
       count(DISTINCT event_type) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)::BIGINT AS n_distinct
FROM events
"""


def q_group_trend(spark, sf):
    """Per-user engagement trend (round 6): integer-exact least-squares
    slope of event value over each user's event sequence
    (operators/aggregates.py group_trend — slope kept as the exact
    (num, den) integer pair; fixed-point y at scale=100; the
    exact-arithmetic bound is enforced in-plan per group)."""
    from tgist_features_spark.operators.aggregates import group_trend

    e = _t(spark, sf, "events").select("event_id", "user_id", "value", "ts")
    return group_trend(e, "value", "user_id", ("ts", "event_id"), scale=100)


SQL_GROUP_TREND = """
WITH p AS (
  SELECT user_id,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id)::BIGINT AS x,
         round(value * 100)::BIGINT AS y
  FROM events)
SELECT user_id, COUNT(*)::BIGINT AS n,
       (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))::BIGINT AS slope_num,
       (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))::BIGINT AS slope_den
FROM p GROUP BY user_id
"""


def q_overlap_join(spark, sf):
    """Interval overlap join (round 6): which of a user's 5-minute
    view windows intersected which of their 2-minute click windows
    (operators/ranges.py interval_overlap_join — interval-binned
    bucket join; each pair emitted exactly once via the
    canonical-left-edge bucket rule, no dedup shuffle; per-key
    multiplicity bounded by intervals ACTIVE per bucket)."""
    from tgist_features_spark.operators.ranges import interval_overlap_join

    e = _t(spark, sf, "events")
    a = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("a_id"),
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_s"),
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("a_e"),
    )
    b = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("b_id"),
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_s"),
        (F.col("ts") + F.expr("INTERVAL 120 SECONDS")).alias("b_e"),
    )
    return interval_overlap_join(
        a, b, "a_user", "b_user", "a_s", "a_e", "b_s", "b_e", bucket_s=120.0
    ).select("a_id", "b_id", F.col("a_user").alias("user_id"))


SQL_OVERLAP_JOIN = """
SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'click'
 AND a.ts < b.ts + INTERVAL 120 SECOND
 AND b.ts < a.ts + INTERVAL 300 SECOND
"""


def q_token_bigrams(spark, sf):
    """Corpus bigram LM count table (round 6): consecutive-token pair
    counts over the whole corpus (functions/text.py token_bigram_counts
    — zero-shuffle arrays_zip pair construction, one map-side
    combinable count aggregation)."""
    from tgist_features_spark.functions.text import token_bigram_counts

    return token_bigram_counts(_t(spark, sf, "documents"))


SQL_TOKEN_BIGRAMS = """
WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
p AS (SELECT unnest(list_zip(ws[1:len(ws) - 1], ws[2:len(ws)])) AS z
      FROM t WHERE len(ws) >= 2)
SELECT z[1] AS w1, z[2] AS w2, COUNT(*)::BIGINT AS n_pairs
FROM p GROUP BY 1, 2
"""


def q_cooccurrence(spark, sf):
    """Document co-occurrence counts (round 6): for every unordered
    ASCII-token pair co-occurring in a doc, n_ab + marginal doc
    frequencies + corpus size — the integer core of PMI
    (functions/text.py cooccurrence_counts — per-doc token set capped
    at 32, in-plan HOF pair generation, broadcast marginal joins)."""
    from tgist_features_spark.functions.text import cooccurrence_counts

    return cooccurrence_counts(_t(spark, sf, "documents"), max_tokens=32)


SQL_COOCCURRENCE = """
WITH toks AS (
  SELECT doc_id, list_sort(list_distinct(list_filter(
    list_transform(string_split(lower(text), ' '),
                   t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
    t -> t <> ''))) AS ws
  FROM documents),
capped AS (SELECT doc_id, ws[1:32] AS ws FROM toks),
rel AS (SELECT doc_id, unnest(ws) AS tok FROM capped),
marg AS (SELECT tok, COUNT(*)::BIGINT AS df_tok FROM rel GROUP BY tok),
n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM capped),
pairs AS (SELECT a.tok AS a, b.tok AS b, COUNT(*)::BIGINT AS n_ab
          FROM rel a JOIN rel b ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY 1, 2)
SELECT p.a, p.b, p.n_ab, ma.df_tok AS n_a, mb.df_tok AS n_b, n.n_docs
FROM pairs p
JOIN marg ma ON ma.tok = p.a
JOIN marg mb ON mb.tok = p.b
CROSS JOIN n
"""


def q_group_cdf(spark, sf):
    """Per-language empirical CDF position (round 6): each doc's exact
    integer (rank_m1, n_m1) percent-rank pair over char count
    (operators/windows.py with_group_cdf — one window pass, no float
    division in pipeline state)."""
    from tgist_features_spark.operators.windows import with_group_cdf

    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return with_group_cdf(d, "n_chars", "lang", "doc_id")


SQL_GROUP_CDF = """
SELECT doc_id, lang, n_chars,
       (rank() OVER (PARTITION BY lang ORDER BY n_chars) - 1)::BIGINT
         AS rank_m1,
       (COUNT(*) OVER (PARTITION BY lang) - 1)::BIGINT AS n_m1
FROM documents
"""


def q_equidepth_bins(spark, sf):
    """Per-language equi-depth decile profile (round 6): bin populations
    differ by at most one even under ties (operators/windows.py
    equidepth_bins — row_number binning with integer div, no
    interpolated percentiles)."""
    from tgist_features_spark.operators.windows import equidepth_bins

    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return equidepth_bins(d, "n_chars", "lang", "doc_id", n_bins=10)


SQL_EQUIDEPTH_BINS = """
WITH r AS (
  SELECT lang, n_chars,
         (row_number() OVER (
            PARTITION BY lang ORDER BY n_chars, doc_id) - 1)::BIGINT AS rnk,
         COUNT(*) OVER (PARTITION BY lang)::BIGINT AS n
  FROM documents)
SELECT lang, ((rnk * 10) // n)::BIGINT AS bin, COUNT(*)::BIGINT AS n_rows,
       MIN(n_chars)::BIGINT AS min_v, MAX(n_chars)::BIGINT AS max_v,
       SUM(n_chars)::BIGINT AS sum_v
FROM r GROUP BY 1, 2
"""


def q_conversion_latency(spark, sf):
    """Time-to-conversion (round 6): per user, first view to first
    at-or-after purchase, censored users kept with NULL latency
    (operators/ranges.py conversion_latency — two map-side aggs over
    the same key, broadcast first-event join, integer microseconds)."""
    from tgist_features_spark.operators.ranges import conversion_latency

    e = _t(spark, sf, "events").select("user_id", "event_type", "ts")
    return conversion_latency(e, "user_id", "event_type", "view", "purchase")


SQL_CONVERSION_LATENCY = """
WITH f AS (SELECT user_id, MIN(epoch_us(ts)) AS from_us
           FROM events WHERE event_type = 'view' GROUP BY user_id),
t AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS to_us
      FROM events e JOIN f USING (user_id)
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= f.from_us
      GROUP BY e.user_id)
SELECT f.user_id, f.from_us, t.to_us, t.to_us - f.from_us AS latency_us
FROM f LEFT JOIN t USING (user_id)
"""


def q_rolling_outliers(spark, sf):
    """Rolling integer-exact anomaly flags (round 6): per-user trailing
    20-event z>3 spike detection with the z-test in squared integer
    form — no division, no sqrt, engine-exact (operators/windows.py
    with_rolling_outliers)."""
    from tgist_features_spark.operators.windows import with_rolling_outliers

    e = _t(spark, sf, "events").select("event_id", "user_id", "value", "ts")
    return with_rolling_outliers(
        e, "value", "user_id", ("ts", "event_id"), n=20, z=3, scale=100
    ).select(
        "event_id", "user_id", "win_cnt", "win_sum", "win_sumsq", "is_outlier"
    )


SQL_ROLLING_OUTLIERS = """
WITH w AS (
  SELECT event_id, user_id, ts, round(value * 100)::BIGINT AS y
  FROM events),
r AS (
  SELECT event_id, user_id, y,
         COUNT(*) OVER win::BIGINT AS win_cnt,
         SUM(y) OVER win::BIGINT AS win_sum,
         SUM(y * y) OVER win::BIGINT AS win_sumsq
  FROM w
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, win_cnt, win_sum, win_sumsq,
       CASE WHEN win_cnt * win_sumsq - win_sum * win_sum > 0
            THEN (y * win_cnt - win_sum) * (y * win_cnt - win_sum)
                 > 9 * (win_cnt * win_sumsq - win_sum * win_sum)
            ELSE y * win_cnt - win_sum <> 0 END AS is_outlier
FROM r
"""


def q_population_drift(spark, sf):
    """Corpus drift profile (round 6): PSI-style per-bin counts of the
    'new half' of the corpus against the 'reference half''s equi-depth
    char-count bins (operators/aggregates.py population_drift —
    boundary math over the distinct-value relation, integer counts
    end-to-end)."""
    from tgist_features_spark.operators.aggregates import population_drift

    d = _t(spark, sf, "documents").select("source", "n_chars")
    ref = d.filter(F.length("source") == 4)
    new = d.filter(F.length("source") != 4)
    return population_drift(ref, new, "n_chars", n_bins=10)


SQL_POPULATION_DRIFT = """
WITH refc AS (SELECT n_chars AS v FROM documents WHERE len(source) = 4),
newc AS (SELECT n_chars AS v FROM documents WHERE len(source) <> 4),
ranked AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS rnk,
                  (SELECT COUNT(*) FROM refc) AS n
           FROM refc),
edges AS (SELECT ((rnk * 10) // n)::BIGINT AS bin, MIN(v)::BIGINT AS lo,
                 MAX(v)::BIGINT AS hi
          FROM ranked GROUP BY 1),
ar AS (SELECT greatest(coalesce(
         (SELECT MAX(e.bin) FROM edges e WHERE e.lo <= r.v), 0), 0) AS bin
       FROM refc r),
an AS (SELECT greatest(coalesce(
         (SELECT MAX(e.bin) FROM edges e WHERE e.lo <= s.v), 0), 0) AS bin
       FROM newc s),
rc AS (SELECT bin, COUNT(*)::BIGINT AS ref_n FROM ar GROUP BY 1),
nc AS (SELECT bin, COUNT(*)::BIGINT AS new_n FROM an GROUP BY 1)
SELECT e.bin, e.lo, e.hi,
       COALESCE(rc.ref_n, 0)::BIGINT AS ref_n,
       COALESCE(nc.new_n, 0)::BIGINT AS new_n,
       (SELECT COUNT(*) FROM refc)::BIGINT AS ref_total,
       (SELECT COUNT(*) FROM newc)::BIGINT AS new_total
FROM edges e LEFT JOIN rc USING (bin) LEFT JOIN nc USING (bin)
"""


def q_interval_islands(spark, sf):
    """Merged per-user activity islands (round 6): each event spans
    [ts, ts + value seconds]; overlapping/touching spans coalesce into
    maximal islands with extent and span count — union-of-intervals
    coverage without double counting (operators/ranges.py
    interval_islands — one shuffle: the island aggregation reuses the
    window's entity partitioning)."""
    from tgist_features_spark.operators.ranges import interval_islands

    e = _t(spark, sf, "events").select(
        "event_id",
        "user_id",
        _US(F.col("ts")).alias("s_us"),
        (
            _US(F.col("ts"))
            + F.round(F.col("value") * 1_000_000).cast("bigint")
        ).alias("e_us"),
    )
    return interval_islands(e, "user_id", "s_us", "e_us", "event_id")


SQL_INTERVAL_ISLANDS = """
WITH iv AS (
  SELECT event_id, user_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + round(value * 1000000)::BIGINT AS e_us
  FROM events),
fl AS (
  SELECT user_id, event_id, s_us, e_us,
         CASE WHEN max(e_us) OVER w_prev IS NULL
                OR s_us > max(e_us) OVER w_prev THEN 1 ELSE 0 END AS opener
  FROM iv
  WINDOW w_prev AS (PARTITION BY user_id ORDER BY s_us, e_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
isl AS (
  SELECT user_id, s_us, e_us,
         SUM(opener) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                          )::BIGINT AS island_id
  FROM fl)
SELECT user_id, island_id, MIN(s_us)::BIGINT AS island_start,
       MAX(e_us)::BIGINT AS island_end, COUNT(*)::BIGINT AS n_spans
FROM isl GROUP BY 1, 2
"""


def q_vocab_edit1(spark, sf):
    """Exact edit-distance-1 vocabulary pairs (round 6): every distinct
    token pair at Levenshtein distance exactly 1 over the corpus's
    content words AND provenance labels — typo/variant/near-identical-
    label detection with PERFECT recall via deletion-neighborhood
    signatures, whose bucket sizes are combinatorially bounded (no cap
    needed) (operators/dedup.py vocab_edit1_pairs). Provenance labels
    are in scope because near-identical source tags (src0/src1,
    shard-01/shard-02) are exactly the label-space confusions this
    audit exists to surface."""
    from tgist_features_spark.operators.dedup import vocab_edit1_pairs

    d = _t(spark, sf, "documents").select(
        F.concat_ws(" ", "source", "text").alias("text")
    )
    return vocab_edit1_pairs(d, min_len=4)


SQL_VOCAB_EDIT1 = """
WITH toks AS (
  SELECT DISTINCT tok FROM (
    SELECT unnest(list_transform(
             string_split(lower(source || ' ' || text), ' '),
             t -> regexp_replace(t, '[^a-z0-9]', '', 'g'))) AS tok
    FROM documents)
  WHERE len(tok) >= 4)
SELECT a.tok AS w_a, b.tok AS w_b,
       len(a.tok)::BIGINT AS len_a, len(b.tok)::BIGINT AS len_b
FROM toks a JOIN toks b
  ON a.tok < b.tok AND abs(len(a.tok) - len(b.tok)) <= 1
 AND levenshtein(a.tok, b.tok) = 1
"""


def q_cohort_retention(spark, sf):
    """Weekly cohort retention table (round 6): users cohorted by
    first-event week; each (cohort, offset) cell counts users active
    that many weeks later — exact integers, rate left to the reader
    (operators/aggregates.py cohort_retention — one shuffle on the
    user, no join)."""
    from tgist_features_spark.operators.aggregates import cohort_retention

    e = _t(spark, sf, "events").select("user_id", "ts")
    return cohort_retention(e, "user_id", "ts", bucket_s=604_800)


SQL_COHORT_RETENTION = """
WITH b AS (SELECT user_id, epoch_us(ts) // 604800000000 AS bkt FROM events),
per AS (SELECT user_id, MIN(bkt) AS cohort_bucket FROM b GROUP BY 1),
act AS (SELECT DISTINCT user_id, bkt FROM b)
SELECT p.cohort_bucket::BIGINT AS cohort_bucket,
       (a.bkt - p.cohort_bucket)::BIGINT AS bucket_offset,
       COUNT(*)::BIGINT AS n_active
FROM act a JOIN per p USING (user_id)
GROUP BY 1, 2
"""


def q_stratified_kfold(spark, sf):
    """Stratified 5-fold assignment over documents by language
    (round 6): md5-ordered round-robin within each stratum, per-label
    fold sizes differ by at most one (operators/sampling.py
    stratified_kfold — engine-reproducible md5 ordering)."""
    from tgist_features_spark.operators.sampling import stratified_kfold

    d = _t(spark, sf, "documents").select("doc_id", "lang")
    return stratified_kfold(d, "lang", "doc_id", k=5)


SQL_STRATIFIED_KFOLD = """
SELECT doc_id, lang,
       ((row_number() OVER (PARTITION BY lang
           ORDER BY md5(doc_id::VARCHAR || 'fold'), doc_id) - 1) % 5
       )::BIGINT AS fold
FROM documents
"""


def q_level_shift(spark, sf):
    """Rolling level-shift flags (round 6): per-user trailing-10 vs
    prior-10 mean comparison in multiplied-out integer form — the
    changepoint screen next to the z-score outlier flags
    (operators/windows.py with_level_shift)."""
    from tgist_features_spark.operators.windows import with_level_shift

    e = _t(spark, sf, "events").select("event_id", "user_id", "value", "ts")
    return with_level_shift(
        e, "value", "user_id", ("ts", "event_id"), n=10, thr_cents=2000
    ).select(
        "event_id", "user_id", "recent_cnt", "recent_sum",
        "prior_cnt", "prior_sum", "is_shift",
    )


SQL_LEVEL_SHIFT = """
WITH w AS (
  SELECT event_id, user_id, ts, round(value * 100)::BIGINT AS y
  FROM events),
r AS (
  SELECT event_id, user_id,
         COUNT(y) OVER recent::BIGINT AS recent_cnt,
         COALESCE(SUM(y) OVER recent, 0)::BIGINT AS recent_sum,
         COUNT(y) OVER prior::BIGINT AS prior_cnt,
         COALESCE(SUM(y) OVER prior, 0)::BIGINT AS prior_sum,
         COUNT(*) OVER prior::BIGINT AS n_prior_rows
  FROM w
  WINDOW recent AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
         prior AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND 10 PRECEDING))
SELECT event_id, user_id, recent_cnt, recent_sum, prior_cnt, prior_sum,
       (n_prior_rows = 10 AND prior_cnt > 0 AND recent_cnt > 0
        AND abs(recent_sum * prior_cnt - prior_sum * recent_cnt)
            > 2000 * recent_cnt * prior_cnt) AS is_shift
FROM r
"""


def q_gap_histogram(spark, sf):
    """Inter-arrival gap histogram (round 6): per event type of the
    later event, log2-bucketed consecutive-event gap distribution with
    exact min/max/sum microseconds — the table a sessionize threshold
    is chosen from (operators/windows.py interarrival_histogram —
    exact integer log2 via length(bin(gap)), no float log)."""
    from tgist_features_spark.operators.windows import interarrival_histogram

    e = _t(spark, sf, "events").select("event_id", "user_id", "event_type", "ts")
    return interarrival_histogram(
        e, "user_id", ("ts", "event_id"), ts_col="ts", by_col="event_type"
    )


SQL_GAP_HISTOGRAM = """
WITH g AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events)
SELECT event_type, length(bin(gap))::BIGINT AS gap_bucket,
       COUNT(*)::BIGINT AS n_gaps, MIN(gap)::BIGINT AS min_us,
       MAX(gap)::BIGINT AS max_us, SUM(gap)::BIGINT AS sum_us
FROM g WHERE gap IS NOT NULL GROUP BY 1, 2
"""


def q_scd2_intervals(spark, sf):
    """SCD2 validity intervals (round 6): each user's event-type change
    stream collapsed into [valid_from, valid_to) runs, current state
    open-ended — the dimension-snapshot shape point-in-time enrichment
    range-joins against (operators/windows.py scd2_intervals —
    NULL-safe change detection, one shuffle)."""
    from tgist_features_spark.operators.windows import scd2_intervals

    e = _t(spark, sf, "events").select("event_id", "user_id", "event_type", "ts")
    return scd2_intervals(e, "user_id", "event_type", ("ts", "event_id"))


SQL_SCD2_INTERVALS = """
WITH s AS (
  SELECT user_id, event_type, event_id, ts, epoch_us(ts) AS u,
         row_number() OVER w AS rn,
         lag(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT user_id, event_type, ts, event_id, u FROM s
  WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
SELECT user_id, event_type, u AS valid_from_us,
       lead(u) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ) AS valid_to_us
FROM runs
"""


def q_transition_latency(spark, sf):
    """Transition latency profile (round 6): per (from_type, to_type)
    consecutive-event pair, count plus exact min/max/sum gap
    microseconds — transition_counts' "how fast", means left to the
    reader (operators/windows.py transition_latency)."""
    from tgist_features_spark.operators.windows import transition_latency

    e = _t(spark, sf, "events").select("event_id", "user_id", "event_type", "ts")
    return transition_latency(e, "user_id", "event_type", ("ts", "event_id"))


SQL_TRANSITION_LATENCY = """
WITH g AS (
  SELECT event_type AS to_type,
         lag(event_type) OVER w AS from_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT from_type, to_type, COUNT(*)::BIGINT AS n_transitions,
       MIN(gap)::BIGINT AS min_us, MAX(gap)::BIGINT AS max_us,
       SUM(gap)::BIGINT AS sum_us
FROM g WHERE from_type IS NOT NULL GROUP BY 1, 2
"""


def q_winsorize(spark, sf):
    """Per-language winsorized char counts (round 6): clamp at the
    exact rank-rule P5/P95 order statistics — no interpolating
    percentile, bit-identical in any engine
    (operators/aggregates.py group_winsorize)."""
    from tgist_features_spark.operators.aggregates import group_winsorize

    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    return group_winsorize(d, "n_chars", "lang", "doc_id", lo_pct=5, hi_pct=95)


SQL_WINSORIZE = """
WITH r AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents),
b AS (SELECT lang,
             MAX(CASE WHEN rn = (n - 1) * 5 // 100 + 1 THEN n_chars END) AS lo,
             MAX(CASE WHEN rn = (n - 1) * 95 // 100 + 1 THEN n_chars END) AS hi
      FROM r GROUP BY lang)
SELECT r.doc_id, r.lang, r.n_chars,
       least(greatest(r.n_chars, b.lo), b.hi)::BIGINT AS value_wins
FROM r JOIN b USING (lang)
"""


def q_char_pairs(spark, sf):
    """BPE first-merge statistic (round 6): corpus-occurrence-weighted
    adjacent character-pair counts inside words — the table a BPE
    trainer's argmax folds (functions/text.py char_pair_counts — the
    pair explode runs over the distinct vocabulary, not the corpus)."""
    from tgist_features_spark.functions.text import char_pair_counts

    return char_pair_counts(_t(spark, sf, "documents"))


SQL_CHAR_PAIRS = """
WITH wd AS (
  SELECT tok AS w, COUNT(*)::BIGINT AS n FROM (
    SELECT unnest(list_transform(string_split(lower(text), ' '),
           t -> regexp_replace(t, '[^a-z0-9]', '', 'g'))) AS tok
    FROM documents)
  WHERE len(tok) >= 2 GROUP BY tok),
p AS (SELECT n, unnest(list_transform(range(1, len(w)),
          i -> substr(w, i::INT, 2))) AS pair FROM wd)
SELECT pair, SUM(n)::BIGINT AS n_pairs FROM p GROUP BY pair
"""


def q_weighted_median(spark, sf):
    """Token-weighted median doc length per language (round 6): the
    smallest n_chars whose cumulative token weight reaches half the
    stratum's total — exact bigint arithmetic, lower-median convention
    pinned (operators/aggregates.py group_weighted_median)."""
    from tgist_features_spark.operators.aggregates import (
        group_weighted_median,
    )

    d = _t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("w"),
    )
    return group_weighted_median(d, "n_chars", "w", "lang", "doc_id")


SQL_WEIGHTED_MEDIAN = """
WITH b AS (
  SELECT lang, n_chars, doc_id,
         len(string_split(text, ' '))::BIGINT AS w
  FROM documents),
c AS (
  SELECT lang, n_chars, w,
         SUM(w) OVER (PARTITION BY lang ORDER BY n_chars, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum,
         SUM(w) OVER (PARTITION BY lang) AS tot,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM b)
SELECT lang, MIN(n_chars)::BIGINT AS wmedian,
       MAX(tot)::BIGINT AS total_weight, MAX(n)::BIGINT AS n_rows
FROM c WHERE cum * 2 >= tot GROUP BY lang
"""


def q_heavy_hitters(spark, sf):
    """Top-5 tokens per language (round 6): exact per-stratum heavy
    hitters with the pinned (count desc, token asc) tie rule — the
    exact counterpart the CMS estimates are checked against
    (operators/aggregates.py group_heavy_hitters — the rank window runs
    over the already-aggregated distinct-value relation, never raw
    rows)."""
    from tgist_features_spark.operators.aggregates import group_heavy_hitters

    toks = _t(spark, sf, "documents").select(
        F.col("lang"),
        F.explode(
            F.filter(
                F.transform(
                    F.split(F.lower(F.col("text")), " "),
                    lambda t: F.regexp_replace(t, "[^a-z0-9]", ""),
                ),
                lambda t: t != "",
            )
        ).alias("tok"),
    )
    return group_heavy_hitters(toks, "lang", "tok", k=5)


SQL_HEAVY_HITTERS = """
WITH rel AS (
  SELECT lang, unnest(list_filter(
           list_transform(string_split(lower(text), ' '),
                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
           t -> t <> '')) AS tok
  FROM documents),
c AS (SELECT lang, tok, COUNT(*)::BIGINT AS n FROM rel GROUP BY 1, 2)
SELECT lang, tok, n,
       rank FROM (
  SELECT lang, tok, n,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n DESC, tok ASC)::BIGINT AS rank
  FROM c)
WHERE rank <= 5
"""


def q_time_weighted_avg(spark, sf):
    """Per-user time-weighted value average (round 6): the step-signal
    integral as the exact integer fraction (twa_num, twa_den) — the
    gauge statistic an event-weighted mean fakes under irregular
    sampling (operators/windows.py time_weighted_avg)."""
    from tgist_features_spark.operators.windows import time_weighted_avg

    e = _t(spark, sf, "events").select("event_id", "user_id", "value", "ts")
    return time_weighted_avg(e, "value", "user_id", ("ts", "event_id"))


SQL_TIME_WEIGHTED_AVG = """
WITH s AS (
  SELECT user_id, epoch_us(ts) AS u, round(value * 100)::BIGINT AS y,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
  FROM events)
SELECT user_id,
       SUM(CASE WHEN nxt IS NOT NULL AND y IS NOT NULL
                THEN y * (nxt - u) ELSE 0 END)::BIGINT AS twa_num,
       (MAX(u) - MIN(u))::BIGINT AS twa_den,
       COUNT(*)::BIGINT AS n_obs
FROM s GROUP BY user_id
"""


def q_behavior_fp(spark, sf):
    """Behavioral sequence fingerprints (round 6): md5 of each user's
    full ordered event-type sequence — the bot/replay collapse key;
    NULL types sentinel-encoded so "a, NULL, b" never collides with
    "a, b" (operators/dedup.py behavior_fingerprints)."""
    from tgist_features_spark.operators.dedup import behavior_fingerprints

    e = _t(spark, sf, "events").select("event_id", "user_id", "event_type", "ts")
    return behavior_fingerprints(e, "user_id", "event_type")


SQL_BEHAVIOR_FP = """
SELECT user_id,
       md5(string_agg(coalesce(event_type, chr(1)), ' '
                      ORDER BY ts, event_id)) AS behavior_fp,
       COUNT(*)::BIGINT AS n_events
FROM events GROUP BY user_id
"""


def q_moments(spark, sf):
    """Per-event-type exact moments profile (round 6): (n_obs, n_null,
    sum, sumsq, min, max, var_num) over round(value*100) as pure bigint
    — the MERGEABLE exact panel of the corpus datasheet (per-batch
    profiles merged with merge_group_moments are bit-equal to this
    one-pass form; operators/aggregates.py group_moments)."""
    from tgist_features_spark.operators.aggregates import group_moments

    e = _t(spark, sf, "events").select("event_type", "value")
    return group_moments(e, "value", ["event_type"], scale=100)


SQL_MOMENTS = """
WITH s AS (
  SELECT event_type, round(value * 100)::BIGINT AS x FROM events),
b AS (
  SELECT event_type,
         COUNT(x)::BIGINT AS n_obs,
         (COUNT(*) - COUNT(x))::BIGINT AS n_null,
         COALESCE(SUM(x), 0)::BIGINT AS sum_x,
         COALESCE(SUM(x * x), 0)::BIGINT AS sumsq_x,
         MIN(x)::BIGINT AS min_x,
         MAX(x)::BIGINT AS max_x
  FROM s GROUP BY event_type)
SELECT event_type, n_obs, n_null, sum_x, sumsq_x, min_x, max_x,
       (n_obs * sumsq_x - sum_x * sum_x)::BIGINT AS var_num
FROM b
"""


def q_triangles(spark, sf):
    """Exact triangle enumeration (round 6): degree-ordered orientation
    over a deterministic md5-synthesized interaction graph on the event
    users (6 pseudo-random neighbors per user — both engines reproduce
    the identical edge set from the same md5 arithmetic, so the oracle
    is an exhaustive three-way self-join). The ORIENTATION is the scale
    story: out-degrees are sqrt-bounded so hub users never fan out
    (operators/components.py triangle_enumerate). The global row_number
    here only numbers the |V|-row node relation of the SYNTHETIC
    benchmark graph — the operator itself takes any edge relation."""
    from tgist_features_spark.operators.components import triangle_enumerate

    nodes = _t(spark, sf, "events").select("user_id").distinct()
    num = nodes.select(
        (F.row_number().over(Window.orderBy("user_id")) - 1)
        .cast("bigint")
        .alias("rid")
    )
    n = num.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    gen = (
        num.crossJoin(F.broadcast(n))
        .withColumn("j", F.explode(F.sequence(F.lit(1), F.lit(6))))
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("rid").cast("string"),
                    F.lit("tri"),
                    F.col("j").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    edges = gen.select(
        F.col("rid").alias("src"),
        F.pmod(h, F.col("__n")).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return triangle_enumerate(edges, "src", "dst")


SQL_TRIANGLES = """
WITH nodes AS (SELECT DISTINCT user_id FROM events),
num AS (SELECT (row_number() OVER (ORDER BY user_id) - 1)::BIGINT AS rid
        FROM nodes),
cnt AS (SELECT COUNT(*)::BIGINT AS n FROM num),
gen AS (SELECT rid, unnest(range(1, 7)) AS j FROM num),
raw AS (SELECT rid,
        (('0x' || substr(md5(rid::VARCHAR || 'tri' || j::VARCHAR), 1, 15))
         ::UBIGINT % (SELECT n FROM cnt))::BIGINT AS nid
        FROM gen),
e AS (SELECT DISTINCT least(rid, nid) AS a, greatest(rid, nid) AS b
      FROM raw WHERE rid <> nid)
SELECT e1.a AS a, e1.b AS b, e2.b AS c
FROM e e1
JOIN e e2 ON e2.a = e1.b
JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
"""


def q_zorder(spark, sf):
    """Z-order layout keys (round 6): Morton interleave of
    (n_chars, doc_id mod 2^21) per document — the two-dimensional
    clustering key whose sorted layout keeps file min/max spans tight
    in BOTH dimensions (operators/ordering.py zorder_key; pure integer
    bit arithmetic, recomputed bit-for-bit by the SQL oracle)."""
    from tgist_features_spark.operators.ordering import zorder_layout

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.col("n_chars").alias("x"),
        F.pmod(F.col("doc_id"), F.lit(1 << 21)).cast("bigint").alias("y"),
    )
    return zorder_layout(d, "x", "y", bits=21).select("doc_id", "zkey")


SQL_ZORDER = """
WITH v AS (
  SELECT doc_id, n_chars AS x, (doc_id % 2097152)::BIGINT AS y
  FROM documents),
b AS (SELECT doc_id, x, y, unnest(range(0, 21)) AS i FROM v)
SELECT doc_id,
       SUM((((x >> i) & 1) << (2 * i)) +
           (((y >> i) & 1) << (2 * i + 1)))::BIGINT AS zkey
FROM b GROUP BY doc_id
"""


def q_tf_cosine(spark, sf):
    """All-pairs TF-cosine near-dup pairs (round 6): word-trigram
    term-frequency vectors, inverted-index discovery bounded to terms
    with df <= 10, cosine >= 0.6 tested as exact integer cross-products
    (operators/dedup.py tf_cosine_pairs — the weighted counterpart to
    set-based ngram_jaccard; hot terms diverted from candidate
    generation, scored exactly for discovered pairs)."""
    from tgist_features_spark.operators.dedup import tf_cosine_pairs

    toks = _t(spark, sf, "documents").select(
        "doc_id",
        F.filter(
            F.transform(
                F.split(F.lower(F.col("text")), " "),
                lambda t: F.regexp_replace(t, "[^a-z0-9]", ""),
            ),
            lambda t: t != "",
        ).alias("ts"),
    )
    grams = toks.select(
        "doc_id",
        F.when(
            F.size("ts") >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size("ts") - 3),
                lambda i: F.concat_ws(
                    " ",
                    F.col("ts")[i],
                    F.col("ts")[i + 1],
                    F.col("ts")[i + 2],
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("gs"),
    )
    rel = (
        grams.select("doc_id", F.explode_outer("gs").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    return tf_cosine_pairs(rel, "doc_id", "gram", threshold_pct=60, max_df=10)


SQL_TF_COSINE = """
WITH toks AS (
  SELECT doc_id, list_filter(
    list_transform(string_split(lower(text), ' '),
                   t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
    t -> t <> '') AS ts
  FROM documents),
g AS (
  SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
         i -> ts[i::INT] || ' ' || ts[(i+1)::INT] || ' ' || ts[(i+2)::INT]))
         AS gram
  FROM toks),
tf AS (SELECT doc_id, gram, COUNT(*)::BIGINT AS tf FROM g GROUP BY 1, 2),
n2 AS (SELECT doc_id, SUM(tf * tf)::BIGINT AS n2 FROM tf GROUP BY 1),
rare AS (SELECT gram FROM (SELECT gram, COUNT(*)::BIGINT AS df FROM tf
                           GROUP BY gram) WHERE df <= 10),
posts AS (SELECT tf.gram, tf.doc_id FROM tf JOIN rare USING (gram)),
cand AS (SELECT DISTINCT pa.doc_id AS a, pb.doc_id AS b
         FROM posts pa JOIN posts pb ON pa.gram = pb.gram
         WHERE pa.doc_id < pb.doc_id),
dots AS (SELECT c.a, c.b, SUM(ta.tf * tb.tf)::BIGINT AS dot
         FROM cand c
         JOIN tf ta ON ta.doc_id = c.a
         JOIN tf tb ON tb.doc_id = c.b AND tb.gram = ta.gram
         GROUP BY c.a, c.b)
SELECT d.a, d.b, d.dot, na.n2 AS n2_a, nb.n2 AS n2_b
FROM dots d
JOIN n2 na ON na.doc_id = d.a
JOIN n2 nb ON nb.doc_id = d.b
WHERE d.dot * d.dot * 10000 >= 3600 * na.n2 * nb.n2
"""


def q_ohlc(spark, sf):
    """Hourly OHLC panel per user (round 6): open/high/low/close over
    round(value*100) bigints with the (ts, event_id) tie rule pinned —
    one map-side-combinable aggregation, min_by/max_by keep open/close
    inside the same pass as the extrema (operators/windows.py
    ohlc_buckets)."""
    from tgist_features_spark.operators.windows import ohlc_buckets

    e = _t(spark, sf, "events").select("event_id", "user_id", "value", "ts")
    return ohlc_buckets(e, "user_id", "ts", "value", "event_id",
                        interval_s=3600, scale=100)


SQL_OHLC = """
WITH s AS (
  SELECT user_id, event_id, epoch_us(ts) AS u,
         round(value * 100)::BIGINT AS x,
         (epoch_us(ts) // 3600000000)::BIGINT AS bucket
  FROM events),
base AS (
  SELECT user_id, bucket,
         MIN(x)::BIGINT AS low_x, MAX(x)::BIGINT AS high_x,
         COUNT(x)::BIGINT AS n_obs,
         (COUNT(*) - COUNT(x))::BIGINT AS n_null
  FROM s GROUP BY 1, 2),
nn AS (
  SELECT user_id, bucket, x,
         row_number() OVER (PARTITION BY user_id, bucket
                            ORDER BY u, event_id) AS rf,
         row_number() OVER (PARTITION BY user_id, bucket
                            ORDER BY u DESC, event_id DESC) AS rl
  FROM s WHERE x IS NOT NULL)
SELECT b.user_id, b.bucket, f.x AS open_x, l.x AS close_x,
       b.low_x, b.high_x, b.n_obs, b.n_null
FROM base b
LEFT JOIN (SELECT user_id, bucket, x FROM nn WHERE rf = 1) f
  USING (user_id, bucket)
LEFT JOIN (SELECT user_id, bucket, x FROM nn WHERE rl = 1) l
  USING (user_id, bucket)
"""


def q_rank_fusion(spark, sf):
    """Borda rank fusion (round 6): per language, fuse the length
    ranking with a deterministic md5 'diversity' ranking into one
    top-10 — integer-exact list ensembling, missing items penalized at
    that list's N+1 (operators/similarity.py borda_fuse)."""
    from tgist_features_spark.operators.similarity import borda_fuse

    d = _t(spark, sf, "documents")
    wa = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wb = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    ra = (
        d.select("lang", "doc_id", F.row_number().over(wa).alias("rank"))
        .filter(F.col("rank") <= 20)
    )
    rb = (
        d.select("lang", "doc_id", F.row_number().over(wb).alias("rank"))
        .filter(F.col("rank") <= 20)
    )
    return borda_fuse(ra, rb, "lang", "doc_id", "rank", k=10)


SQL_RANK_FUSION = """
WITH ra AS (
  SELECT lang AS q, doc_id AS item,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id)::BIGINT AS r_a
  FROM documents QUALIFY r_a <= 20),
rb AS (
  SELECT lang AS q, doc_id AS item,
         row_number() OVER (PARTITION BY lang
                            ORDER BY md5(doc_id::VARCHAR), doc_id)::BIGINT
           AS r_b
  FROM documents QUALIFY r_b <= 20),
na AS (SELECT q, MAX(r_a)::BIGINT AS n_a FROM ra GROUP BY q),
nb AS (SELECT q, MAX(r_b)::BIGINT AS n_b FROM rb GROUP BY q),
cand AS (
  SELECT COALESCE(ra.q, rb.q) AS q, COALESCE(ra.item, rb.item) AS item,
         ra.r_a, rb.r_b
  FROM ra FULL OUTER JOIN rb ON ra.q = rb.q AND ra.item = rb.item),
sc AS (
  SELECT c.q, c.item, c.r_a, c.r_b,
         (COALESCE(c.r_a, na.n_a + 1) + COALESCE(c.r_b, nb.n_b + 1))::BIGINT
           AS fused
  FROM cand c JOIN na ON na.q = c.q JOIN nb ON nb.q = c.q)
SELECT q, item, r_a, r_b, fused,
       row_number() OVER (PARTITION BY q ORDER BY fused, item)::BIGINT
         AS fused_rank
FROM sc QUALIFY fused_rank <= 10
"""


def q_snapshot_diff(spark, sf):
    """Keyed snapshot diff (round 6): two deterministic document-table
    versions (mod-arithmetic membership + a mod-5 value bump) diffed
    into added/removed/changed rows with null-safe comparison
    (operators/dedup.py snapshot_diff)."""
    from tgist_features_spark.operators.dedup import snapshot_diff

    d = _t(spark, sf, "documents")
    old = d.filter(F.pmod(F.col("doc_id"), F.lit(7)) != 0).select(
        "doc_id", "lang", "n_chars"
    )
    new = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) != 0).select(
        "doc_id",
        "lang",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(5)) == 0, F.col("n_chars") + 1
        )
        .otherwise(F.col("n_chars"))
        .alias("n_chars"),
    )
    return snapshot_diff(old, new, ["doc_id"], ["lang", "n_chars"])


SQL_SNAPSHOT_DIFF = """
WITH o AS (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 7 <> 0),
n AS (SELECT doc_id, lang,
             CASE WHEN doc_id % 5 = 0 THEN n_chars + 1 ELSE n_chars END
               AS n_chars
      FROM documents WHERE doc_id % 3 <> 0),
j AS (
  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
         o.lang AS lang_old, o.n_chars AS n_chars_old,
         n.lang AS lang_new, n.n_chars AS n_chars_new,
         o.doc_id IS NOT NULL AS in_old, n.doc_id IS NOT NULL AS in_new
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id),
c AS (
  SELECT doc_id,
         CASE WHEN NOT in_old THEN 'added'
              WHEN NOT in_new THEN 'removed'
              WHEN NOT (lang_old IS NOT DISTINCT FROM lang_new
                        AND n_chars_old IS NOT DISTINCT FROM n_chars_new)
                THEN 'changed' END AS change,
         lang_old, n_chars_old, lang_new, n_chars_new
  FROM j)
SELECT doc_id, change, lang_old, n_chars_old, lang_new, n_chars_new
FROM c WHERE change IS NOT NULL
"""


def q_dq_report(spark, sf):
    """Data-quality expectations report (round 6): the pre-publish
    validation gate over lineitem — nullability, composite-key
    uniqueness, accepted values, numeric range, and referential
    integrity against orders — one row per check with exact violation
    counts (operators/dq.py dq_report; all row-local checks share ONE
    aggregation pass, the FK check adds one keys-only anti join)."""
    from tgist_features_spark.operators.dq import dq_report

    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    return dq_report(
        li,
        not_null=("l_orderkey", "l_quantity"),
        unique=(("l_orderkey", "l_linenumber"),),
        accepted={"l_returnflag": ["A", "N", "R"]},
        in_range={"l_quantity": (1, 50)},
        ref={"l_orderkey": (orders, "o_orderkey")},
    )


SQL_DQ_REPORT = """
WITH t AS (SELECT COUNT(*)::BIGINT AS n_rows FROM lineitem),
checks AS (
  SELECT 'not_null' AS "check", 'l_orderkey' AS target, t.n_rows,
         (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)::BIGINT
           AS n_violations
  FROM t
  UNION ALL
  SELECT 'not_null', 'l_quantity', t.n_rows,
         (SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NULL)::BIGINT
  FROM t
  UNION ALL
  SELECT 'accepted', 'l_returnflag', t.n_rows,
         (SELECT COUNT(*) FROM lineitem
          WHERE l_returnflag IS NOT NULL
            AND l_returnflag NOT IN ('A', 'N', 'R'))::BIGINT
  FROM t
  UNION ALL
  SELECT 'in_range', 'l_quantity', t.n_rows,
         (SELECT COUNT(*) FROM lineitem
          WHERE l_quantity IS NOT NULL
            AND (l_quantity < 1 OR l_quantity > 50))::BIGINT
  FROM t
  UNION ALL
  SELECT 'unique', 'l_orderkey,l_linenumber', t.n_rows,
         ((SELECT COUNT(*) FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)
          - (SELECT COUNT(DISTINCT (l_orderkey, l_linenumber))
             FROM lineitem
             WHERE l_orderkey IS NOT NULL
               AND l_linenumber IS NOT NULL))::BIGINT
  FROM t
  UNION ALL
  SELECT 'ref', 'l_orderkey->o_orderkey', t.n_rows,
         (SELECT COUNT(*) FROM lineitem l
          WHERE l.l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))::BIGINT
  FROM t)
SELECT "check", target, n_rows, n_violations,
       (CASE WHEN n_violations = 0 THEN 1 ELSE 0 END)::INT AS ok
FROM checks
"""


def q_bpe_merges(spark, sf):
    """Distributed BPE tokenizer training, first 3 merges (round 6):
    the merge table (step, left, right, pair_count) over the document
    vocabulary — each step one vocab-sized pair agg + a 1-row argmax
    with the pinned (count desc, left, right) tie rule + a
    pure-Catalyst greedy fold re-segmentation (functions/text.py
    bpe_train). The oracle unrolls the identical three steps in SQL,
    applying each merge with the same left-to-right fold via
    list_reduce."""
    from tgist_features_spark.functions.text import bpe_train

    return bpe_train(_t(spark, sf, "documents"), "text", n_merges=3)


def _bpe_oracle_sql(n_steps: int) -> str:
    """Generate the step-unrolled DuckDB oracle for q_bpe_merges —
    deterministic string assembly, the funnel_chain posture."""
    parts = ["""
WITH v0 AS (
  SELECT w, list_transform(range(1, length(w) + 1),
                        i -> substr(w, i::INT, 1)) AS syms,
         COUNT(*)::BIGINT AS n
  FROM (
    SELECT unnest(list_filter(
      list_transform(string_split(lower(text), ' '),
                     t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
      t -> length(t) >= 2)) AS w
    FROM documents)
  GROUP BY w)"""]
    for k in range(1, n_steps + 1):
        parts.append(f""",
p{k} AS (
  SELECT syms[i] AS l, syms[i+1] AS r, SUM(n)::BIGINT AS cnt
  FROM (SELECT syms, n, unnest(range(1, len(syms))) AS i FROM v{k - 1})
  GROUP BY 1, 2),
b{k} AS (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1),
v{k} AS (
  SELECT w, string_split(
    list_reduce(list_prepend('', syms),
      (acc, s) -> CASE WHEN acc <> '' AND s = b.r
                        AND ends_with(acc, '|' || b.l)
                   THEN left(acc, length(acc) - length(b.l) - 1)
                        || '|' || b.l || b.r
                   ELSE acc || '|' || s END),
    '|')[2:] AS syms, n
  FROM v{k - 1}, b{k} b)""")
    selects = [
        f"SELECT {k}::INT AS step, l AS left, r AS right, "
        f"cnt AS pair_count FROM b{k}"
        for k in range(1, n_steps + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


SQL_BPE_MERGES = _bpe_oracle_sql(3)


def q_bpe_encode(spark, sf):
    """BPE ENCODE over the trained merges (round 6): train the first 3
    merges on the corpus (bpe_merges), then replay them on the
    distinct vocabulary and report per-document (n_words, n_tokens) —
    the deploy half of the tokenizer lifecycle and the count a
    context-budget pipeline consumes (functions/text.py
    bpe_encode_counts; vocab-sized replay, broadcast join back, one
    combinable per-doc agg). The collected merge table is bounded
    tokenizer metadata (the bpe_train driver-action budget)."""
    from tgist_features_spark.functions.text import bpe_encode_counts, bpe_train

    # return_final_vocab: the trainer's fully-folded (w, syms) relation
    # feeds the encoder directly, so the identical vocabulary is not
    # re-derived and re-folded a second time (values unchanged — the
    # encoder's own replay produces the same segmentation by definition;
    # oracle-verified bitwise)
    m, vocab = bpe_train(
        _t(spark, sf, "documents"), "text", n_merges=3,
        return_final_vocab=True,
    )
    merges = [
        (r["left"], r["right"]) for r in m.orderBy("step").collect()
    ]
    return bpe_encode_counts(
        _t(spark, sf, "documents"), merges, "doc_id", "text",
        vocab_syms=vocab,
    )


def _bpe_encode_oracle_sql(n_steps: int) -> str:
    """Step-unrolled DuckDB oracle for q_bpe_encode: the SAME training
    CTE chain as SQL_BPE_MERGES (which carries each vocab word w
    through the merge folds), then per-word token counts from the
    final vocabulary joined back onto the exploded (doc, word)
    relation."""
    head = _bpe_oracle_sql(n_steps)
    # keep the CTE chain; replace the merge-table SELECT tail with the
    # encode tail
    cut = head.index("\nSELECT 1::INT AS step")
    return head[:cut] + f""",
enc AS (SELECT w, len(syms)::BIGINT AS n_toks FROM v{n_steps}),
docw AS (
  SELECT doc_id, unnest(list_filter(
    list_transform(string_split(lower(text), ' '),
                   t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
    t -> length(t) >= 2)) AS w
  FROM documents),
agg AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_words,
         SUM(n_toks)::BIGINT AS n_tokens
  FROM docw JOIN enc USING (w) GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(a.n_words, 0)::BIGINT AS n_words,
       COALESCE(a.n_tokens, 0)::BIGINT AS n_tokens
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


SQL_BPE_ENCODE = _bpe_encode_oracle_sql(3)


def q_ks_drift(spark, sf):
    """Binned KS drift statistic (round 6): the max CDF gap between
    the corpus halves as an exact integer fraction
    (ks_num / (ref_total*new_total)) over the population_drift bins —
    the location-shift lens beside PSI's ratio lens
    (operators/aggregates.py ks_drift)."""
    from tgist_features_spark.operators.aggregates import ks_drift

    d = _t(spark, sf, "documents").select("source", "n_chars")
    ref = d.filter(F.length("source") == 4)
    new = d.filter(F.length("source") != 4)
    return ks_drift(ref, new, "n_chars", n_bins=10)


SQL_KS_DRIFT = """
WITH refc AS (SELECT n_chars AS v FROM documents WHERE len(source) = 4),
newc AS (SELECT n_chars AS v FROM documents WHERE len(source) <> 4),
ranked AS (SELECT v, row_number() OVER (ORDER BY v) - 1 AS rnk,
                  (SELECT COUNT(*) FROM refc) AS n
           FROM refc),
edges AS (SELECT ((rnk * 10) // n)::BIGINT AS bin, MIN(v)::BIGINT AS lo
          FROM ranked GROUP BY 1),
ar AS (SELECT greatest(coalesce(
         (SELECT MAX(e.bin) FROM edges e WHERE e.lo <= r.v), 0), 0) AS bin
       FROM refc r),
an AS (SELECT greatest(coalesce(
         (SELECT MAX(e.bin) FROM edges e WHERE e.lo <= s.v), 0), 0) AS bin
       FROM newc s),
rc AS (SELECT bin, COUNT(*)::BIGINT AS ref_n FROM ar GROUP BY 1),
nc AS (SELECT bin, COUNT(*)::BIGINT AS new_n FROM an GROUP BY 1),
binned AS (
  SELECT e.bin, COALESCE(rc.ref_n, 0) AS ref_n, COALESCE(nc.new_n, 0) AS new_n,
         (SELECT COUNT(*) FROM refc)::BIGINT AS ref_total,
         (SELECT COUNT(*) FROM newc)::BIGINT AS new_total
  FROM edges e LEFT JOIN rc USING (bin) LEFT JOIN nc USING (bin)),
cum AS (
  SELECT bin, ref_total, new_total,
         SUM(ref_n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_ref,
         SUM(new_n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_new
  FROM binned)
SELECT abs(cum_ref * new_total - cum_new * ref_total)::BIGINT AS ks_num,
       (ref_total * new_total)::BIGINT AS denom,
       bin::BIGINT AS worst_bin, ref_total, new_total
FROM cum
ORDER BY abs(cum_ref * new_total - cum_new * ref_total) DESC, bin ASC
LIMIT 1
"""


def q_spearman(spark, sf):
    """Per-event-type Spearman correlation of value vs time (round 6):
    exact integer (rho_num, rho_den) fraction over row_number ranks
    with the (value, event_id) / (ts, event_id) pinned orders — "is
    this signal drifting with time", the rank-robust audit
    (operators/aggregates.py group_spearman)."""
    from tgist_features_spark.operators.aggregates import group_spearman

    e = _t(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("x"),
        _US(F.col("ts")).alias("y"),
    )
    return group_spearman(e, "x", "y", "event_type", "event_id")


SQL_SPEARMAN = """
WITH nn AS (
  SELECT event_type, event_id,
         round(value * 100)::BIGINT AS x, epoch_us(ts) AS y
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL),
ranked AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY x, event_id)::BIGINT AS rx,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY y, event_id)::BIGINT AS ry
  FROM nn),
agg AS (
  SELECT event_type, COUNT(*)::BIGINT AS n_pairs,
         SUM((rx - ry) * (rx - ry))::BIGINT AS sum_d2
  FROM ranked GROUP BY event_type)
SELECT event_type, n_pairs, sum_d2,
       (n_pairs * (n_pairs * n_pairs - 1) - 6 * sum_d2)::BIGINT AS rho_num,
       (n_pairs * (n_pairs * n_pairs - 1))::BIGINT AS rho_den
FROM agg
"""


def q_pagerank3(spark, sf):
    """Fixed-point PageRank, 3 power iterations (round 6): node
    importance over the event-type transition graph in pure 64-bit
    integer arithmetic — which states dominate user flows, weighted by
    observed traffic (operators/components.py pagerank_fixed_point;
    per iteration one edge-source join + one map-side-combinable sum
    keyed by destination, N in-plan as a broadcast 1-row aggregate,
    eager localCheckpoint truncating the loop lineage). The pinned
    truncating `div` at every step is what lets a 3-step unrolled SQL
    oracle reproduce the scores bitwise."""
    from tgist_features_spark.operators.components import pagerank_fixed_point
    from tgist_features_spark.operators.windows import transition_counts

    e = _t(spark, sf, "events").select("event_id", "user_id", "event_type", "ts")
    edges = transition_counts(e, "user_id", "event_type", ("ts", "event_id"))
    return pagerank_fixed_point(
        edges, iters=3, src="from_type", dst="to_type", weight="n_transitions"
    ).select(F.col("node").alias("event_type"), "pr_x1e9", "n_nodes")


def _pagerank_oracle_sql(iters: int) -> str:
    """Unrolled integer PageRank (same pinned arithmetic as
    pagerank_fixed_point: per-edge truncating contribution, truncating
    teleport + damped inflow; DuckDB `//` == Spark `div` for the
    non-negative quantities here)."""
    head = """
WITH g AS (
  SELECT event_type AS u,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS v
  FROM events),
edges AS (
  SELECT u, v, COUNT(*)::BIGINT AS w FROM g WHERE v IS NOT NULL
  GROUP BY 1, 2),
nodes AS (SELECT u AS node FROM edges UNION SELECT v AS node FROM edges),
nn AS (SELECT COUNT(*)::BIGINT AS n FROM nodes),
outw AS (SELECT u, SUM(w)::BIGINT AS ow FROM edges GROUP BY u),
pr0 AS (SELECT node, n, (1000000000::BIGINT // n)::BIGINT AS pr FROM nodes, nn)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
pr{i} AS (
  SELECT p.node, p.n,
         ((1000000000::BIGINT * 15) // (100 * p.n)
          + (85 * COALESCE(s.infl, 0)) // 100)::BIGINT AS pr
  FROM pr{i - 1} p LEFT JOIN (
    SELECT e.v AS node, SUM((q.pr * e.w) // o.ow)::BIGINT AS infl
    FROM edges e
    JOIN pr{i - 1} q ON q.node = e.u
    JOIN outw o ON o.u = e.u
    GROUP BY e.v) s USING (node))""")
    return (
        head + "".join(steps)
        + f"\nSELECT node AS event_type, pr AS pr_x1e9, n AS n_nodes FROM pr{iters}\n"
    )


SQL_PAGERANK3 = _pagerank_oracle_sql(3)


def q_ewma(spark, sf):
    """Integer EWMA smoothed level per user, alpha = 1/8 (round 6):
    each user's exponentially-weighted value level at their last
    event, folded with the pinned truncating recurrence
    s_t = (v_t + 7*s_{t-1}) div 8 over cents
    (operators/windows.py ewma_smooth — one shuffle, JVM lambda fold,
    bitwise vs DuckDB list_reduce with the same rule)."""
    from tgist_features_spark.operators.windows import ewma_smooth

    e = _t(spark, sf, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return ewma_smooth(e, "cents", "user_id", ("ts", "event_id"), k=3)


SQL_EWMA = """
WITH nn AS (
  SELECT user_id, ts, event_id, round(value * 100)::BIGINT AS cents
  FROM events WHERE value IS NOT NULL),
seqs AS (
  SELECT user_id, list(cents ORDER BY ts, event_id) AS l
  FROM nn GROUP BY user_id)
SELECT user_id,
       len(l)::BIGINT AS n_events,
       l[-1]::BIGINT AS v_last,
       list_reduce(l, (s, x) -> (x + 7 * s) // 8)::BIGINT AS ewma
FROM seqs
"""


def q_rfm(spark, sf):
    """RFM customer scoring within market segment (round 6): recency /
    frequency / monetary quintiles by the pinned (metric, custkey)
    order, all-integer (operators/aggregates.py rfm_scores — one
    aggregation to per-customer rows, broadcast 1-row corpus max, one
    segment shuffle reused by the three ranking windows). Customers
    with no orders are unscored by construction (inner join —
    standard RFM scores purchasers)."""
    from tgist_features_spark.operators.aggregates import rfm_scores

    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    j = o.join(c, "o_custkey").select(
        F.col("o_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        _US(F.col("o_orderdate")).alias("ts_us"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return rfm_scores(j, "custkey", "segment", "ts_us", "cents", n_bins=5)


SQL_RFM = """
WITH j AS (
  SELECT o_custkey AS custkey, c_mktsegment AS segment,
         epoch_us(o_orderdate) AS ts_us,
         round(o_totalprice * 100)::BIGINT AS cents
  FROM orders JOIN customer ON c_custkey = o_custkey
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
pe AS (
  SELECT custkey, segment, MAX(ts_us)::BIGINT AS last_us,
         COUNT(*)::BIGINT AS n_events, SUM(cents)::BIGINT AS monetary
  FROM j GROUP BY 1, 2),
mx AS (SELECT MAX(ts_us)::BIGINT AS max_us FROM j),
base AS (
  SELECT custkey, segment,
         ((max_us - last_us) // 86400000000)::BIGINT AS rec_days,
         n_events, monetary
  FROM pe, mx),
ranked AS (
  SELECT *,
    (row_number() OVER (PARTITION BY segment ORDER BY rec_days, custkey)
     - 1)::BIGINT AS rr,
    (row_number() OVER (PARTITION BY segment ORDER BY n_events, custkey)
     - 1)::BIGINT AS rf,
    (row_number() OVER (PARTITION BY segment ORDER BY monetary, custkey)
     - 1)::BIGINT AS rm,
    COUNT(*) OVER (PARTITION BY segment)::BIGINT AS n
  FROM base)
SELECT custkey, segment, rec_days, n_events, monetary,
       (5 - (rr * 5) // n)::BIGINT AS r_score,
       ((rf * 5) // n + 1)::BIGINT AS f_score,
       ((rm * 5) // n + 1)::BIGINT AS m_score,
       ((5 - (rr * 5) // n) * 100 + ((rf * 5) // n + 1) * 10
        + ((rm * 5) // n + 1))::BIGINT AS rfm
FROM ranked
"""


def q_ab_lift(spark, sf):
    """A/B experiment readout (round 6): users are deterministically
    assigned to arms by the md5 split rule (engine-reproducible — the
    train_split machinery with an experiment salt), conversion = user
    ever fired a 'purchase' event; the lift is reported as the EXACT
    integer cross fraction lift_num/lift_den =
    (conv_t * users_c) / (conv_c * users_t), never a float ratio.
    Scale shape: one map-side-combinable per-user aggregation, then a
    1-row conditional aggregate — assignment is a hash expression, no
    join, no second shuffle."""
    from tgist_features_spark.operators.sampling import deterministic_split

    e = _t(spark, sf, "events").select("user_id", "event_type")
    u = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                F.lit(0)
            )
        ).cast("bigint").alias("conv")
    )
    armed = deterministic_split(
        u, "user_id", {"treatment": 0.5, "control": 0.5},
        salt="exp1", out_col="arm",
    )
    t = F.col("arm") == "treatment"
    out = armed.agg(
        F.sum(F.when(~t, 1).otherwise(0)).cast("bigint").alias("users_control"),
        F.sum(F.when(~t, F.col("conv")).otherwise(0)).cast("bigint").alias(
            "conv_control"
        ),
        F.sum(F.when(t, 1).otherwise(0)).cast("bigint").alias("users_treatment"),
        F.sum(F.when(t, F.col("conv")).otherwise(0)).cast("bigint").alias(
            "conv_treatment"
        ),
    )
    return out.select(
        "*",
        (F.col("conv_treatment") * F.col("users_control")).cast("bigint").alias(
            "lift_num"
        ),
        (F.col("conv_control") * F.col("users_treatment")).cast("bigint").alias(
            "lift_den"
        ),
    )


SQL_AB_LIFT = """
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
           AS conv
  FROM events GROUP BY user_id),
armed AS (
  SELECT conv,
         CASE WHEN ('0x' || substr(md5(user_id::VARCHAR || 'exp1'), 1, 15))
                   ::UBIGINT % 1000000 < 500000
              THEN 'treatment' ELSE 'control' END AS arm
  FROM u),
agg AS (
  SELECT
    SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)::BIGINT AS users_control,
    SUM(CASE WHEN arm = 'control' THEN conv ELSE 0 END)::BIGINT AS conv_control,
    SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END)::BIGINT
      AS users_treatment,
    SUM(CASE WHEN arm = 'treatment' THEN conv ELSE 0 END)::BIGINT
      AS conv_treatment
  FROM armed)
SELECT *,
       (conv_treatment * users_control)::BIGINT AS lift_num,
       (conv_control * users_treatment)::BIGINT AS lift_den
FROM agg
"""


def q_attribution(spark, sf):
    """Last-touch marketing attribution (round 6): every purchase is
    credited to the latest view/click by the same user within a 1-day
    window — the classic attribution report, expressed as ONE
    application of the flagship as-of machinery (backward + tolerance)
    followed by a tiny aggregation; touches are deduped per (user, ts)
    with the pinned event_id-DESC rule so the as-of tie is
    deterministic in both engines. Unmatched purchases report as
    'unattributed'. Scale shape: the as-of merge-scan plan (one
    range repartition + sortWithinPartitions + vectorized
    merge_asof), then a map-side-combinable count/sum over the tiny
    touch-type domain."""
    e = _t(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("query_ts"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    dw = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    touches = (
        e.filter(F.col("event_type").isin("view", "click"))
        .withColumn("rn", F.row_number().over(dw))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("event_type").alias("touch"))
    )
    j = asof_join(
        purchases, touches, by="user_id", left_on="query_ts", right_on="ts",
        direction="backward", tolerance=86400.0, value_cols=["touch"],
        tiebreak=(),
    )
    return j.groupBy(
        F.coalesce(F.col("touch"), F.lit("unattributed")).alias("touch_type")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


SQL_ATTRIBUTION = """
WITH p AS (
  SELECT user_id, ts AS query_ts, round(value * 100)::BIGINT AS cents
  FROM events WHERE event_type = 'purchase'),
t AS (
  SELECT user_id, ts, touch FROM (
    SELECT user_id, ts, event_type AS touch,
           row_number() OVER (PARTITION BY user_id, ts
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type IN ('view', 'click')) WHERE rn = 1),
j AS (
  SELECT p.cents, p.query_ts, t.ts, t.touch
  FROM p ASOF LEFT JOIN t
    ON p.user_id = t.user_id AND p.query_ts >= t.ts)
SELECT COALESCE(CASE WHEN query_ts - ts <= INTERVAL 86400 SECOND
                     THEN touch END, 'unattributed') AS touch_type,
       COUNT(*)::BIGINT AS n_purchases,
       SUM(cents)::BIGINT AS revenue_cents
FROM j GROUP BY 1
"""


def q_auc(spark, sf):
    """Exact per-user ROC AUC (round 6): does the event value rank a
    user's purchases above their other events — the model-evaluation
    primitive as an exact integer fraction via Mann-Whitney with
    doubled average ranks (operators/aggregates.py group_auc — ONE
    group exchange shared by the rank window and the peer-count range
    frame, then one combinable aggregation; single-class users report
    auc_den = 0, the spearman rho_den convention)."""
    from tgist_features_spark.operators.aggregates import group_auc

    e = _t(spark, sf, "events").select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("score"),
        (F.col("event_type") == "purchase").alias("label"),
    )
    return group_auc(e, "score", "label", "user_id")


SQL_AUC = """
WITH b AS (
  SELECT user_id, round(value * 100)::BIGINT AS s,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
r AS (
  SELECT user_id, y,
         2 * rank() OVER (PARTITION BY user_id ORDER BY s)
           + COUNT(*) OVER (PARTITION BY user_id, s) - 1 AS avg2
  FROM b),
a AS (
  SELECT user_id, SUM(y)::BIGINT AS n_pos,
         (COUNT(*) - SUM(y))::BIGINT AS n_neg,
         SUM(CASE WHEN y = 1 THEN avg2 ELSE 0 END)::BIGINT AS s2
  FROM r GROUP BY user_id)
SELECT user_id, n_pos, n_neg,
       (s2 - n_pos * (n_pos + 1))::BIGINT AS auc_num,
       (2 * n_pos * n_neg)::BIGINT AS auc_den
FROM a
"""


def q_loo_encode(spark, sf):
    """Leakage-safe target encoding (round 6): per-user purchase-rate
    feature with the leave-one-out correction — a row's own label
    never enters its own feature, the tabular cousin of the engine's
    point-in-time rule — as the exact integer fraction
    (loo_num, loo_den); singleton categories report den 0
    (operators/aggregates.py loo_target_encode — one combinable
    per-category agg broadcast back, big side never shuffled)."""
    from tgist_features_spark.operators.aggregates import loo_target_encode

    e = _t(spark, sf, "events").select(
        "event_id",
        "user_id",
        (F.col("event_type") == "purchase").alias("label"),
    )
    return loo_target_encode(e, "user_id", "label").select(
        "event_id", "user_id", "loo_num", "loo_den"
    )


SQL_LOO_ENCODE = """
WITH b AS (
  SELECT event_id, user_id,
         (CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
s AS (
  SELECT user_id, COUNT(*)::BIGINT AS n, SUM(y)::BIGINT AS sy
  FROM b GROUP BY user_id)
SELECT b.event_id, b.user_id,
       (s.sy - b.y)::BIGINT AS loo_num,
       (s.n - 1)::BIGINT AS loo_den
FROM b JOIN s USING (user_id)
"""


def q_calibration(spark, sf):
    """Reliability table (round 6): per-language equi-depth deciles of
    document length vs the web-source rate — "when the score says
    decile k, how often is the label true", the companion readout to
    AUC; rates stay exact integer pairs
    (operators/aggregates.py calibration_bins — one rank-window
    shuffle + one combinable (group, bin) agg, the equidepth pin)."""
    from tgist_features_spark.operators.aggregates import calibration_bins

    d = _t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        (F.length("source") == 4).alias("label"),
    )
    return calibration_bins(d, "n_chars", "label", "lang", "doc_id", 10)


SQL_CALIBRATION = """
WITH b AS (
  SELECT lang, doc_id, n_chars,
         CASE WHEN len(source) = 4 THEN 1 ELSE 0 END AS y
  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
r AS (
  SELECT lang, y, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
           - 1 AS rnk,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM b)
SELECT lang, ((rnk * 10) // n)::BIGINT AS bin,
       COUNT(*)::BIGINT AS n_rows, SUM(y)::BIGINT AS n_pos,
       MIN(n_chars)::BIGINT AS score_min, MAX(n_chars)::BIGINT AS score_max
FROM r GROUP BY 1, 2
"""


def q_autocorr(spark, sf):
    """Lag-1 autocorrelation components per event type (round 6):
    does the signal predict its own next value — exact integer
    (n, cov_num, varx_num, vary_num) with r^2 = cov^2/(vx*vy), no
    sqrt, no float (operators/aggregates.py group_autocorr — one lead
    window + one combinable agg; whole-unit values keep the
    n*sum(x^2) < 2^63 overflow bound comfortable)."""
    from tgist_features_spark.operators.aggregates import group_autocorr

    e = _t(spark, sf, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value")).cast("bigint").alias("x"),
    )
    return group_autocorr(e, "x", "event_type", ("ts", "event_id"), lag=1)


SQL_AUTOCORR = """
WITH b AS (
  SELECT event_type, round(value)::BIGINT AS x, ts, event_id
  FROM events WHERE value IS NOT NULL),
p AS (
  SELECT event_type, x,
         lead(x) OVER (PARTITION BY event_type
                       ORDER BY ts, event_id) AS y
  FROM b),
q AS (SELECT * FROM p WHERE y IS NOT NULL),
a AS (
  SELECT event_type, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS sx,
         SUM(y)::BIGINT AS sy, SUM(x*x)::BIGINT AS sxx,
         SUM(y*y)::BIGINT AS syy, SUM(x*y)::BIGINT AS sxy
  FROM q GROUP BY 1)
SELECT event_type, n AS n_pairs,
       (n*sxy - sx*sy)::BIGINT AS cov_num,
       (n*sxx - sx*sx)::BIGINT AS varx_num,
       (n*syy - sy*sy)::BIGINT AS vary_num
FROM a
"""


def q_rolling_median(spark, sf):
    """Exact rolling lower median over each user's last 15 events
    (round 6): the robust level a spike cannot drag — the pinned
    (cnt+1) div 2 order statistic, stated because engines disagree on
    even-count interpolation (operators/windows.py
    with_rolling_median — one window pass, O(n log n) over the
    bounded frame)."""
    from tgist_features_spark.operators.windows import with_rolling_median

    e = _t(spark, sf, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("y"),
    )
    return with_rolling_median(
        e, "y", "user_id", ("ts", "event_id"), n=15
    ).select("event_id", "user_id", "win_cnt", "roll_med")


SQL_ROLLING_MEDIAN = """
WITH b AS (
  SELECT event_id, user_id, ts, round(value * 100)::BIGINT AS y
  FROM events WHERE value IS NOT NULL),
w AS (
  SELECT event_id, user_id,
         list_sort(list(y) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)) AS l
  FROM b)
SELECT event_id, user_id, len(l)::BIGINT AS win_cnt,
       l[((len(l) + 1) // 2)::INT]::BIGINT AS roll_med
FROM w
"""


def q_mode(spark, sf):
    """Per-user modal event type with a pinned tie rule (round 6):
    most frequent value, ties toward the smallest — pinned because
    engines' mode()/arg_max leave ties unspecified
    (operators/aggregates.py group_mode — two combinable aggs over
    shrinking relations, no window)."""
    from tgist_features_spark.operators.aggregates import group_mode

    e = _t(spark, sf, "events").select("user_id", "event_type")
    return group_mode(e, "event_type", "user_id")


SQL_MODE = """
WITH c AS (
  SELECT user_id, event_type AS v, COUNT(*)::BIGINT AS n
  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
r AS (
  SELECT user_id, v, n,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, v ASC) AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS nd,
         MAX(n) OVER (PARTITION BY user_id) AS mx
  FROM c)
SELECT user_id, v AS mode_value, mx::BIGINT AS mode_n,
       nd::BIGINT AS n_distinct
FROM r WHERE rn = 1
"""


def q_gini(spark, sf):
    """Per-event-type Gini concentration of spend (round 6): is the
    value mass whale-dominated — the exact integer fraction
    (2*Σrank·x − (n+1)·Σx) / (n·Σx) under the pinned (value, event_id)
    rank order (operators/aggregates.py group_gini — one rank window
    + one combinable agg; negatives refused in-plan)."""
    from tgist_features_spark.operators.aggregates import group_gini

    e = _t(spark, sf, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return group_gini(e, "cents", "event_type", "event_id")


SQL_GINI = """
WITH b AS (
  SELECT event_type, event_id, round(value * 100)::BIGINT AS x
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY x, event_id)::BIGINT AS rk
  FROM b),
a AS (
  SELECT event_type, COUNT(*)::BIGINT AS n, SUM(x)::BIGINT AS s,
         SUM(rk * x)::BIGINT AS rs
  FROM r GROUP BY 1)
SELECT event_type, n,
       (2 * rs - (n + 1) * s)::BIGINT AS gini_num,
       (n * s)::BIGINT AS gini_den
FROM a
"""


def q_churn_labels(spark, sf):
    """Leakage-safe churn labels (round 6): the last 7 days of the
    corpus are the LABEL window; features (pre-cutoff event count,
    gap to cutoff) come only from rows strictly before the cutoff —
    the point-in-time rule applied to label construction, so no
    feature can read the label period (operators/sampling.py
    churn_labels — broadcast 1-row max, ONE combinable aggregation
    computing features and the label flag in the same pass).
    Entities born inside the label window are excluded (pinned)."""
    from tgist_features_spark.operators.sampling import churn_labels

    e = _t(spark, sf, "events").select(
        "user_id", _US(F.col("ts")).alias("us")
    )
    return churn_labels(e, "user_id", "us", 7 * 86_400_000_000)


SQL_CHURN_LABELS = """
WITH b AS (
  SELECT user_id, epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL),
mx AS (SELECT MAX(us) - 604800000000 AS cutoff FROM b),
a AS (
  SELECT user_id,
         SUM(CASE WHEN us < cutoff THEN 1 ELSE 0 END)::BIGINT AS n_before,
         MAX(CASE WHEN us < cutoff THEN us END) AS last_before,
         MAX(CASE WHEN us >= cutoff THEN 1 ELSE 0 END) AS active_after,
         MAX(cutoff) AS cut
  FROM b, mx GROUP BY user_id)
SELECT user_id, n_before,
       (cut - last_before)::BIGINT AS last_gap_us,
       (1 - active_after)::INT AS churned
FROM a WHERE n_before > 0
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # --- first 50 keys = the driver correctness window (driver caps
    # its oracle run at 50 keys, in order). Late-round-6 rotation:
    # (1) all 37 round-6 keys that have never had a driver row —
    # first-time evidence beats refreshing already-green keys;
    # (2) the 7 keys whose backing functions changed since the r05
    # driver run (ADVICE floor-div/validation fixes, components cost
    # cut, cluster_sizes cap, multimodal_bytes dispatch) — their r05
    # rows predate the code they now run;
    # (3) the oldest-evidence r04 keys that still fit.
    # Keys rotated out are r04/r05-green with backing functions
    # verified untouched (git diff dc704ab..HEAD); their interim
    # evidence is the both-SF oracle_sweep records in COVERAGE.md.
    "transitions": q_transitions,
    "rolling_distinct": q_rolling_distinct,
    "group_trend": q_group_trend,
    "overlap_join": q_overlap_join,
    "funnel_chain": q_funnel_chain,
    "token_bigrams": q_token_bigrams,
    "cooccurrence": q_cooccurrence,
    "group_cdf": q_group_cdf,
    "equidepth_bins": q_equidepth_bins,
    "conversion_latency": q_conversion_latency,
    "rolling_outliers": q_rolling_outliers,
    "population_drift": q_population_drift,
    "interval_islands": q_interval_islands,
    "vocab_edit1": q_vocab_edit1,
    "cohort_retention": q_cohort_retention,
    "stratified_kfold": q_stratified_kfold,
    "level_shift": q_level_shift,
    "gap_histogram": q_gap_histogram,
    "scd2_intervals": q_scd2_intervals,
    "transition_latency": q_transition_latency,
    "winsorize": q_winsorize,
    "char_pairs": q_char_pairs,
    "weighted_median": q_weighted_median,
    "heavy_hitters": q_heavy_hitters,
    "time_weighted_avg": q_time_weighted_avg,
    "behavior_fp": q_behavior_fp,
    "moments": q_moments,
    "triangles": q_triangles,
    "zorder": q_zorder,
    "tf_cosine": q_tf_cosine,
    "ohlc": q_ohlc,
    "rank_fusion": q_rank_fusion,
    "snapshot_diff": q_snapshot_diff,
    "dq_report": q_dq_report,
    "bpe_merges": q_bpe_merges,
    "ks_drift": q_ks_drift,
    "spearman": q_spearman,
    # backing functions changed since the r05 driver run
    "group_norm": q_group_norm,
    "centroids": q_centroids,
    "cross_dedup": q_cross_dedup,
    "budget_sample": q_budget_sample,
    "dup_clusters": q_dup_clusters,
    "cluster_sizes": q_cluster_sizes,
    "multimodal_bytes": q_multimodal_bytes,
    # session-4 additions with no driver row yet (the same
    # never-checked-first policy that filled the rest of the window;
    # the displaced oldest-r04 keys are r04-green, judge-verified
    # untouched, and both-SF-swept this session)
    "pagerank3": q_pagerank3,
    "ewma": q_ewma,
    "rfm": q_rfm,
    "auc": q_auc,
    "loo_encode": q_loo_encode,
    "bpe_encode": q_bpe_encode,
    # --- tail (past the driver cap): r04/r05-green in prior driver
    # runs, backing functions untouched since (git-diff verified);
    # both-SF local oracle_sweep records stand in between rotations.
    "ivf_ann": q_ivf_ann,
    "ann_lsh": q_ann_lsh,
    "tf_stats": q_tf_stats,
    "resample": q_resample,
    "pack_chunks": q_pack_chunks,
    "tpch_q1": q_tpch_q1,
    "per_user_agg": q_per_user_agg,
    "tfidf": q_tfidf,
    "corpus_report": q_corpus_report,
    "canonical_order": q_canonical_order,
    "rollup": q_rollup,
    "global_topk": q_global_topk,
    "union_counts": q_union_counts,
    "broadcast_join": q_broadcast_join,
    "fingerprint": q_fingerprint,
    "ngram_stats": q_ngram_stats,
    "lang_id": q_lang_id,
    "bpeish_tokens": q_bpeish_tokens,
    "sql_shipping": q_sql_shipping,
    "smj_join": q_smj_join,
    "tokenize": q_tokenize,
    "quality": q_quality,
    "window_ranks": q_window_ranks,
    "string_funcs": q_string_funcs,
    "feature_vector": q_feature_vector,
    "bm25": q_bm25,
    "redact": q_redact,
    "chunk_windows": q_chunk_windows,
    "date_parts": q_date_parts,
    "approx_distinct": q_approx_distinct,
    "shuffle_order": q_shuffle_order,
    "pack_padded": q_pack_padded,
    "gopher_quality": q_gopher_quality,
    "range_join": q_range_join,
    "funnel": q_funnel,
    "debounce": q_debounce,
    "mad_outliers": q_mad_outliers,
    "dedup_minhash": q_dedup_minhash,
    "embed_near_dup": q_embed_near_dup,
    "train_split": q_train_split,
    "group_sample": q_group_sample,
    "temperature_resample": q_temperature_resample,
    "semi_join": q_semi_join,
    "sessionize": q_sessionize,
    "grouping_sets": q_grouping_sets,
    "array_stats": q_array_stats,
    "percentiles": q_percentiles,
    "approx_percentile": q_approx_percentile,
    "anti_join": q_anti_join,
    "set_except": q_set_except,
    "cosine_topk": q_cosine_topk,
    "session_stats": q_session_stats,
    "cumulative": q_cumulative,
    "cube": q_cube,
    "intersect": q_intersect,
    "lag_lead": q_lag_lead,
    "rolling_counts": q_rolling_counts,
    "rolling_time": q_rolling_time,
    "ffill": q_ffill,
    "topk_per_user": q_topk_per_user,
    "pivot_counts": q_pivot_counts,
    "distinct_agg": q_distinct_agg,
    "json_extract": q_json_extract,
    "span_removal": q_span_removal,
    "span_dup": q_span_dup,
    "ngram_jaccard": q_ngram_jaccard,
    "dedup_simhash": q_dedup_simhash,
    "decontaminate": q_decontaminate,
    "dedup_exact": q_dedup_exact,
    "knn_brute": q_knn_brute,
    "asof_backward": q_asof_backward,
    "asof_forward": q_asof_forward,
    "asof_tolerance": q_asof_tolerance,
    "asof_salted": q_asof_salted,
    "hard_negatives": q_hard_negatives,
    "length_histogram": q_length_histogram,
    "dedup_fuzzy": q_dedup_fuzzy,
    # late-session round-6 additions past the cap — oracled + swept
    # both SFs locally; first driver row at the next rotation
    "ab_lift": q_ab_lift,
    "attribution": q_attribution,
    "calibration": q_calibration,
    "autocorr": q_autocorr,
    "rolling_median": q_rolling_median,
    "mode": q_mode,
    "gini": q_gini,
    "churn_labels": q_churn_labels,
}

ORACLES: dict[str, str] = {
    "pack_chunks": SQL_PACK_CHUNKS,
    "gopher_quality": SQL_GOPHER_QUALITY,
    "temperature_resample": SQL_TEMPERATURE_RESAMPLE,
    "decontaminate": SQL_DECONTAMINATE,
    "span_dup": SQL_SPAN_DUP,
    "shuffle_order": SQL_SHUFFLE_ORDER,
    "redact": SQL_REDACT,
    "chunk_windows": SQL_CHUNK_WINDOWS,
    "canonical_order": SQL_CANONICAL,
    "lag_lead": SQL_LAG_LEAD,
    "sessionize": SQL_SESSIONIZE,
    "session_stats": SQL_SESSION_STATS,
    "rolling_counts": SQL_ROLLING_COUNTS,
    "rolling_time": SQL_ROLLING_TIME,
    "cumulative": SQL_CUMULATIVE,
    "ffill": SQL_FFILL,
    "topk_per_user": SQL_TOPK_PER_USER,
    "global_topk": SQL_GLOBAL_TOPK,
    "asof_backward": SQL_ASOF_BACKWARD,
    "asof_forward": SQL_ASOF_FORWARD,
    "asof_tolerance": SQL_ASOF_TOLERANCE,
    "asof_salted": SQL_ASOF_SALTED,
    "broadcast_join": SQL_BROADCAST_JOIN,
    "smj_join": SQL_SMJ_JOIN,
    "semi_join": SQL_SEMI_JOIN,
    "anti_join": SQL_ANTI_JOIN,
    "range_join": SQL_RANGE_JOIN,
    "per_user_agg": SQL_PER_USER_AGG,
    "pivot_counts": SQL_PIVOT_COUNTS,
    "tpch_q1": SQL_TPCH_Q1,
    "rollup": SQL_ROLLUP,
    "cube": SQL_CUBE,
    "distinct_agg": SQL_DISTINCT_AGG,
    "approx_distinct": SQL_APPROX_DISTINCT,
    "approx_percentile": SQL_APPROX_PERCENTILE,
    "set_except": SQL_SET_EXCEPT,
    "union_counts": SQL_UNION_COUNTS,
    "json_extract": SQL_JSON_EXTRACT,
    "date_parts": SQL_DATE_PARTS,
    "fingerprint": SQL_FINGERPRINT,
    "tokenize": SQL_TOKENIZE,
    "ngram_stats": SQL_NGRAM_STATS,
    "quality": SQL_QUALITY,
    "lang_id": SQL_LANG_ID,
    "bpeish_tokens": SQL_BPEISH_TOKENS,
    "multimodal_bytes": SQL_MULTIMODAL_BYTES,
    "dedup_exact": SQL_DEDUP_EXACT,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "dedup_minhash": SQL_DEDUP_MINHASH,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "ann_lsh": SQL_ANN_LSH,
    "ivf_ann": SQL_IVF_ANN,
    "train_split": SQL_TRAIN_SPLIT,
    "group_sample": SQL_GROUP_SAMPLE,
    "tfidf": SQL_TFIDF,
    "dup_clusters": SQL_DUP_CLUSTERS,
    "bm25": SQL_BM25,
    "cosine_topk": SQL_COSINE_TOPK,
    "knn_brute": SQL_KNN_BRUTE,
    "hard_negatives": SQL_HARD_NEGATIVES,
    "group_norm": SQL_GROUP_NORM,
    "debounce": SQL_DEBOUNCE,
    "length_histogram": SQL_LENGTH_HISTOGRAM,
    "mad_outliers": SQL_MAD_OUTLIERS,
    "budget_sample": SQL_BUDGET_SAMPLE,
    "cluster_sizes": SQL_CLUSTER_SIZES,
    "dedup_fuzzy": SQL_DEDUP_FUZZY,
    "funnel": SQL_FUNNEL,
    "funnel_chain": SQL_FUNNEL_CHAIN,
    "transitions": SQL_TRANSITIONS,
    "rolling_distinct": SQL_ROLLING_DISTINCT,
    "group_trend": SQL_GROUP_TREND,
    "overlap_join": SQL_OVERLAP_JOIN,
    "token_bigrams": SQL_TOKEN_BIGRAMS,
    "cooccurrence": SQL_COOCCURRENCE,
    "group_cdf": SQL_GROUP_CDF,
    "equidepth_bins": SQL_EQUIDEPTH_BINS,
    "conversion_latency": SQL_CONVERSION_LATENCY,
    "rolling_outliers": SQL_ROLLING_OUTLIERS,
    "population_drift": SQL_POPULATION_DRIFT,
    "interval_islands": SQL_INTERVAL_ISLANDS,
    "vocab_edit1": SQL_VOCAB_EDIT1,
    "cohort_retention": SQL_COHORT_RETENTION,
    "stratified_kfold": SQL_STRATIFIED_KFOLD,
    "level_shift": SQL_LEVEL_SHIFT,
    "gap_histogram": SQL_GAP_HISTOGRAM,
    "scd2_intervals": SQL_SCD2_INTERVALS,
    "transition_latency": SQL_TRANSITION_LATENCY,
    "winsorize": SQL_WINSORIZE,
    "char_pairs": SQL_CHAR_PAIRS,
    "weighted_median": SQL_WEIGHTED_MEDIAN,
    "heavy_hitters": SQL_HEAVY_HITTERS,
    "time_weighted_avg": SQL_TIME_WEIGHTED_AVG,
    "behavior_fp": SQL_BEHAVIOR_FP,
    "moments": SQL_MOMENTS,
    "triangles": SQL_TRIANGLES,
    "zorder": SQL_ZORDER,
    "tf_cosine": SQL_TF_COSINE,
    "ohlc": SQL_OHLC,
    "rank_fusion": SQL_RANK_FUSION,
    "snapshot_diff": SQL_SNAPSHOT_DIFF,
    "dq_report": SQL_DQ_REPORT,
    "bpe_merges": SQL_BPE_MERGES,
    "ks_drift": SQL_KS_DRIFT,
    "spearman": SQL_SPEARMAN,
    "embed_near_dup": SQL_EMBED_NEAR_DUP,
    "grouping_sets": SQL_GROUPING_SETS,
    "sql_shipping": SQL_SQL_SHIPPING,
    "intersect": SQL_INTERSECT,
    "window_ranks": SQL_WINDOW_RANKS,
    "string_funcs": SQL_STRING_FUNCS,
    "array_stats": SQL_ARRAY_STATS,
    "percentiles": SQL_PERCENTILES,
    "feature_vector": SQL_FEATURE_VECTOR,
    "span_removal": SQL_SPAN_REMOVAL,
    "tf_stats": SQL_TF_STATS,
    "centroids": SQL_CENTROIDS,
    "cross_dedup": SQL_CROSS_DEDUP,
    "resample": SQL_RESAMPLE,
    "pack_padded": SQL_PACK_PADDED,
    "corpus_report": SQL_CORPUS_REPORT,
    "pagerank3": SQL_PAGERANK3,
    "ewma": SQL_EWMA,
    "rfm": SQL_RFM,
    "ab_lift": SQL_AB_LIFT,
    "attribution": SQL_ATTRIBUTION,
    "bpe_encode": SQL_BPE_ENCODE,
    "auc": SQL_AUC,
    "loo_encode": SQL_LOO_ENCODE,
    "calibration": SQL_CALIBRATION,
    "autocorr": SQL_AUTOCORR,
    "rolling_median": SQL_ROLLING_MEDIAN,
    "mode": SQL_MODE,
    "gini": SQL_GINI,
    "churn_labels": SQL_CHURN_LABELS,
}
