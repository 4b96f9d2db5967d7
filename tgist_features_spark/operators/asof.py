"""As-of join (J1/J2/J3, SURVEY.md §2.3) — the engine's flagship operator.

Spark 4.1 has no ASOF JOIN in Catalyst, so this is a custom merge-scan:
both sides are tagged and unioned, range-partitioned by the entity key (one
shuffle; equal keys never split), sorted by event time within each
partition, and merged with one vectorized ``pandas.merge_asof(by=entity)``
per partition via ``mapInArrow``. Pandas sees only the entity keys, the
event time and build row positions; every value is taken from the
partition's Arrow columns at the matched positions and keeps its type. (A
pandas round trip of the union, where each side's columns are null on the
other's rows, rounded 64-bit integers above 2^53 through float64 and
failed on timestamps past 2262.) Semantics (pinned by property tests
against the pure pandas oracle and DuckDB's ASOF JOIN):

* backward: match the build row with the greatest ts <= query_ts
  (``allow_exact_matches=False`` makes it strictly <) — the point-in-time /
  zero-leakage form;
* forward: smallest ts >= query_ts;
* nearest: the closer of the two, backward winning exact-distance ties;
* tolerance: reject matches further than a max staleness;
* ties on build ts resolve to the greatest tiebreak (backward) / smallest
  (forward) — deterministic under duplicate timestamps;
* probes with no eligible build row keep null feature columns (left join);
* null query_ts, null entity or unseen entity -> null match (build rows
  with a null ts or entity never match; pandas alone would match a null
  entity to a null entity).

Sizing: Catalyst's size estimates of both sides (no job) say how many
merge-scan tasks of ``ASOF_TARGET_PARTITION_BYTES`` the input needs. Above
``spark.sql.shuffle.partitions`` the range exchange gets that many;
otherwise, or with an estimate missing, it keeps the session default,
which AQE may coalesce.

Skew: a hot conversation funnels its entire probe+build volume through one
merge-scan task. When the build's estimate fits one task's budget
(``ASOF_TASK_BYTES``) no entity can be hot and the merge-scan runs as is,
with no extra job. Otherwise an entity whose build rows hold more than
``ASOF_TASK_BYTES`` of payload is cut into time slices sized from its own
bytes and time span, cold entities stay in slice 0, and each hot probe
slice receives the carry-in rows (the latest build row of any earlier
slice and/or the earliest of any later one) its merge needs. Hot and cold
rows then share the same ONE range exchange and ONE ``mapInArrow``, keyed
on ``(entity, slice)``; both routes return the same rows for every
direction (tests/test_asof.py, tests/test_property_asof.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from tgist_features_spark.functions.sqltext import ident
from tgist_features_spark.functions.timeu import us

# target bytes of probe + build input per merge-scan task (the exchange's
# partition count). A task holds its whole partition as Arrow batches, plus
# a pandas frame of the entity keys, event times and build row positions
# and the output columns taken from the batches
ASOF_TARGET_PARTITION_BYTES = 64 << 20

# build-side payload bytes of ONE entity that one merge-scan task should
# hold; an entity with more is hot and ``asof_join`` time-slices it.
# Bytes are summed per row (``_row_bytes``), so the row count this allows
# follows the build's own width: backfill_features' build (conv_id, ts,
# turn_idx, 11-double feature_vec) is 109 B/row, hot above ~616k rows.
ASOF_TASK_BYTES = ASOF_TARGET_PARTITION_BYTES

# on-wire widths of fixed-size types (see ``_value_bytes``)
_WIDTHS = {
    T.BooleanType: 1,
    T.ByteType: 1,
    T.ShortType: 2,
    T.IntegerType: 4,
    T.DateType: 4,
    T.FloatType: 4,
    T.LongType: 8,
    T.DoubleType: 8,
    T.TimestampType: 8,
    T.TimestampNTZType: 8,
}


def _partitions_for_size(size: int, floor: int) -> int:
    """Tasks needed for ``size`` input bytes, never below ``floor`` (the
    session's shuffle partitions). Pure, unit-tested apart from the Py4J
    stats call."""
    if size <= 0 or size >= (1 << 60):
        # no statistics (or the unknown-size sentinel, Long.MaxValue-ish):
        # fall back to the session default rather than a huge shuffle
        return floor
    return max(floor, min(1 << 20, size // ASOF_TARGET_PARTITION_BYTES + 1))


def _size_estimate(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df``'s analyzed plan in bytes — no job
    (statistics come from file sizes / plan estimation) and no optimizer
    pass; 0 when the JVM cannot provide it. Python-side errors raise."""
    try:
        return int(df._jdf.logicalPlan().stats().sizeInBytes())
    except Py4JError:
        return 0


def _value_bytes(c: Column, dt: T.DataType) -> Column:
    """Payload bytes of one value: strings and binary by byte length and
    arrays by their elements (either 0 when null); other types by their
    fixed width (16 bytes for any type not in ``_WIDTHS``, maps and
    structs included)."""
    if isinstance(dt, (T.StringType, T.BinaryType)):
        n = F.octet_length(c)
    elif isinstance(dt, T.ArrayType):
        w = _WIDTHS.get(type(dt.elementType))
        n = F.size(c) * w if w else F.aggregate(
            c, F.lit(0).cast("long"),
            lambda acc, x: acc + _value_bytes(x, dt.elementType),
        )
    else:
        return F.lit(_WIDTHS.get(type(dt), 16))
    return F.when(c.isNull(), 0).otherwise(n)


def _row_bytes(df: DataFrame) -> Column:
    """Payload bytes of one row of ``df`` (the sum of its values')."""
    return sum((_value_bytes(F.col(f.name), f.dataType) for f in df.schema.fields),
               F.lit(0))


def _plan(probe: DataFrame, build: DataFrame, by, left_on, right_on, value_cols):
    by = [by] if isinstance(by, str) else list(by)
    if value_cols is None:
        value_cols = [c for c in build.columns if c not in by]
    rename = {}
    for c in value_cols:
        out = c if (c not in probe.columns and c != left_on) else f"{c}_matched"
        rename[c] = out
    build_fields = {f.name: f for f in build.schema.fields}
    carried = [
        T.StructField(rename[c], build_fields[c].dataType, True) for c in value_cols
    ]
    out_schema = T.StructType(list(probe.schema.fields) + carried)
    return by, value_cols, rename, carried, out_schema


def _merge_scan(
    probe: DataFrame,
    build: DataFrame,
    by_list: list[str],
    left_on: str,
    right_on: str,
    direction: str,
    tolerance: float | None,
    allow_exact_matches: bool,
    value_cols: list[str],
    tb: list[str],
    tasks: int | None,
) -> DataFrame:
    """The merge-scan both routes of ``asof_join`` run: tag both sides,
    union, ONE ``repartitionByRange`` on the entity key (``tasks``
    partitions, or the session default when None), ``sortWithinPartitions``
    by (event time, side, tiebreak ``tb``), then one vectorized
    ``pandas.merge_asof(by=entity)`` per partition via ``mapInArrow`` —
    thousands of entities per C-level merge call instead of one Python call
    per entity.

    Only the ``by`` columns, the event time (int64 microseconds) and build
    row positions reach pandas; the output is ``take`` of the partition's
    Arrow columns at each probe's matched position, so no value passes
    through a pandas dtype (float64 rounded 2^62 + 1 to 2^62, and
    nanosecond ``datetime64`` failed on years past 2262). A probe with a
    null time or entity matches nothing."""
    _, value_cols, rename, carried, out_schema = _plan(
        probe, build, by_list, left_on, right_on, value_cols
    )
    probe_cols = list(probe.columns)
    carried_names = [f.name for f in carried]
    tb_names = [f"__tb{i}" for i in range(len(tb))]

    # tagged union on a common wide schema: the JVM fills probe columns
    # with nulls on the build side and vice versa; __key is the event-time
    # merge key on both sides. Expressions are SQL text (functions/sqltext)
    l = probe.selectExpr(
        "0 AS __side",
        f"CAST({ident(left_on)} AS TIMESTAMP_NTZ) AS __key",
        *map(ident, probe_cols),
    )
    not_null = " AND ".join(f"{ident(c)} IS NOT NULL" for c in [right_on, *by_list])
    r = build.filter(not_null).selectExpr(
        "1 AS __side",
        f"CAST({ident(right_on)} AS TIMESTAMP_NTZ) AS __key",
        *map(ident, by_list),
        *[f"{ident(c)} AS {ident(rename[c])}" for c in value_cols],
        *[f"{ident(t)} AS {n}" for t, n in zip(tb, tb_names)],
    )
    u = l.unionByName(r, allowMissingColumns=True)
    u = u.repartitionByRange(tasks, *by_list) if tasks else u.repartitionByRange(*by_list)
    u = u.sortWithinPartitions("__key", "__side", *tb_names)

    tol = None if tolerance is None else (
        pd.Timedelta(seconds=tolerance) // pd.Timedelta(microseconds=1))
    by_key = by_list[0] if len(by_list) == 1 else by_list
    # the union widens a ``by`` column whose type differs between the sides
    # (probe int, build long -> long); the output keeps the probe's type
    pfields, bfields = probe.schema, build.schema
    narrow = {c: to_arrow_type(pfields[c].dataType) for c in by_list
              if pfields[c].dataType != bfields[c].dataType}

    def scan(batches):
        batches = list(batches)  # one partition, sorted by (__key, __side, tb)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        keys = t.select(by_list).append_column("__key", t["__key"].cast(pa.int64()))
        side = t["__side"].to_numpy()
        probes, builds = np.flatnonzero(side == 0), np.flatnonzero(side == 1)
        # probes with a null time or entity stay unmatched (position null)
        live = np.logical_and.reduce(
            [c.is_valid().to_numpy() for c in keys.take(probes).columns])
        merged = pd.merge_asof(
            keys.take(probes[live]).to_pandas(),
            keys.take(builds).to_pandas().assign(__pos=builds),
            on="__key",
            by=by_key,
            direction=direction,
            tolerance=tol,
            allow_exact_matches=allow_exact_matches,
        )
        pos = np.full(len(probes), -1)
        pos[live] = merged["__pos"].fillna(-1).to_numpy()
        matched = pa.array(pos, mask=pos < 0)
        cols = [t[c].take(probes) for c in probe_cols]
        cols = [c.cast(narrow[n]) if n in narrow else c for n, c in zip(probe_cols, cols)]
        cols += [t[c].take(matched) for c in carried_names]
        yield from pa.Table.from_arrays(cols, names=out_schema.names).to_batches()

    return u.mapInArrow(scan, schema=out_schema)


def _hot_slices(build: DataFrame, by: list[str], right_on: str) -> DataFrame:
    """``(*by, __lo, __w)`` for every entity whose build rows hold more than
    ``ASOF_TASK_BYTES`` of payload: its first event time and a slice width
    (both epoch us) that gives each slice ~``ASOF_TASK_BYTES`` when the
    entity's bytes are spread evenly over its time span."""
    t = us(F.col(right_on))
    span = (F.col("__hi") - F.col("__lo") + 1).cast("double")
    return (
        build.groupBy(*by)
        .agg(F.sum(_row_bytes(build)).alias("__bytes"), F.min(t).alias("__lo"),
             F.max(t).alias("__hi"))
        .filter(F.col("__bytes") > ASOF_TASK_BYTES)
        .select(*by, "__lo",
                F.ceil(span * ASOF_TASK_BYTES / F.col("__bytes")).alias("__w"))
    )


def _tag_slices(df: DataFrame, hot: DataFrame, by: list[str], t_col: str) -> DataFrame:
    """``df`` plus ``__slice`` (the hot entity's time slice of ``t_col``;
    0 for cold entities and null times) and ``__hot``. Probe and build use
    this one expression, so equal timestamps always share a slice, and the
    slice is non-decreasing in time within an entity."""
    slice_ = F.floor((us(F.col(t_col)) - F.col("__lo")) / F.col("__w"))
    return df.join(F.broadcast(hot), on=by, how="left").select(
        *df.columns,
        F.coalesce(slice_, F.lit(0)).alias("__slice"),
        F.col("__w").isNotNull().alias("__hot"),
    )


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    by: str | list[str] = "conv_id",
    left_on: str = "query_ts",
    right_on: str = "ts",
    direction: str = "backward",
    tolerance: float | None = None,
    allow_exact_matches: bool = True,
    value_cols: list[str] | None = None,
    tiebreak: tuple[str, ...] = ("turn_idx",),
) -> DataFrame:
    """Point-in-time join: probe (entity, query_ts) x build (entity, ts).
    ``direction``: 'backward' (latest row at or before), 'forward'
    (earliest at or after), or 'nearest' (closest on either side). Returns
    probe.* plus the matched build value columns (renamed with a
    ``_matched`` suffix on collision). Left-join semantics.

    Sizing (no job): each ``_merge_scan`` task materializes one partition,
    like a sort-merge join buffer. Catalyst's size estimates of the probe
    and of the build's merged columns, over ``ASOF_TARGET_PARTITION_BYTES``,
    give the tasks the input needs. When that is more than
    ``spark.sql.shuffle.partitions`` the exchange gets that many
    partitions; otherwise, or with an estimate missing, it keeps the
    session default, which AQE may coalesce.

    Skew: when the build's estimate fits ``ASOF_TASK_BYTES`` no entity can
    be hot and the merge-scan runs as is. The estimate sizes rows from type
    defaults (an array counts one element), so wide rows can be
    under-counted — the same estimate Spark uses to pick broadcast joins.
    Otherwise (or with no estimate) one aggregation over the build finds
    the hot entities (more than ``ASOF_TASK_BYTES`` of row payload) and
    their slice widths; the tiny hot set is broadcast and tags both sides
    with ``__slice``. For every hot slice that holds probes, the carry-in
    rows come from one aggregation per hot ``(entity, slice)``
    (``max_by``/``min_by`` of the slice's build rows, plus a "holds probes"
    flag) and one window over those slice rows: the latest summary of any
    earlier slice (backward) and/or the earliest of any later slice
    (forward). A probe-only slice still gets its carry. Build rows and
    carries then go through the same merge-scan keyed on
    ``(entity, __slice)``. Within a slice, the slice's rows plus its
    carries hold both global candidates, so ``nearest`` is the same single
    merge (pandas resolves exact-distance ties backward).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward, forward or nearest: {direction!r}")
    by_list, value_cols, _, _, _ = _plan(
        probe, build, by, left_on, right_on, value_cols
    )
    tb = [t for t in tiebreak if t in build.columns]
    # only the columns the merge reads travel with the build rows and carries
    cols = build.select(*dict.fromkeys([*by_list, right_on, *value_cols, *tb]))
    build_bytes = _size_estimate(cols)
    sizes = (_size_estimate(probe), build_bytes)
    default = int(probe.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    need = _partitions_for_size(sum(sizes) if min(sizes) > 0 else 0, default)
    kw = dict(left_on=left_on, right_on=right_on, direction=direction,
              tolerance=tolerance, allow_exact_matches=allow_exact_matches,
              value_cols=value_cols, tb=tb,
              tasks=need if need > default else None)
    if 0 < build_bytes <= ASOF_TASK_BYTES:
        return _merge_scan(probe, cols, by_list, **kw)

    b = cols.filter(F.col(right_on).isNotNull())
    hot = _hot_slices(b, by_list, right_on)
    p = _tag_slices(probe, hot, by_list, left_on)
    b = _tag_slices(b, hot, by_list, right_on)
    keys = [*by_list, "__slice"]

    # ONE aggregation over hot build rows and hot probe-slice markers;
    # max_by/min_by skip null ordering keys, so a probe-only slice
    # aggregates to a null summary but still exists as a slice row
    order = F.struct(us(F.col(right_on)), *[F.col(t) for t in tb])
    marks = b.filter("__hot").select(
        *keys, F.struct(*cols.columns).alias("__row"), order.alias("__ok"),
        F.lit(False).alias("__probe"),
    ).unionByName(
        p.filter("__hot").select(*keys, F.lit(True).alias("__probe")),
        allowMissingColumns=True,
    )
    summaries = []
    if direction != "forward":
        summaries.append(F.max_by("__row", "__ok").alias("__last"))
    if direction != "backward":
        summaries.append(F.min_by("__row", "__ok").alias("__first"))
    slices = marks.groupBy(*keys).agg(*summaries, F.max("__probe").alias("__probe"))

    # one window over the slice rows (tiny even for the hottest entity):
    # excluding the current row excludes exactly the same-slice summary
    w = Window.partitionBy(*by_list).orderBy("__slice")
    carry = []
    if direction != "forward":
        before = w.rowsBetween(Window.unboundedPreceding, -1)
        carry.append(F.last("__last", ignorenulls=True).over(before))
    if direction != "backward":
        after = w.rowsBetween(1, Window.unboundedFollowing)
        carry.append(F.first("__first", ignorenulls=True).over(after))
    carries = (
        slices.select(*keys, "__probe", F.array(*carry).alias("__carry"))
        .filter("__probe")
        .select(*keys, F.explode("__carry").alias("__row"))
        .filter(F.col("__row").isNotNull())
        .select(*keys, *[F.col("__row").getField(c).alias(c)
                         for c in cols.columns if c not in by_list])
    )

    out = _merge_scan(
        p.drop("__hot"), b.drop("__hot").unionByName(carries), keys, **kw
    )
    return out.drop("__slice")
