"""As-of join (J1/J2/J3, SURVEY.md §2.3) — the engine's flagship operator.

Spark 4.1 has no ASOF JOIN in Catalyst, so this is a custom merge-scan:
both sides are tagged and unioned, range-partitioned by the entity key (one
shuffle; equal keys never split), sorted by event time within each
partition, and merged with one vectorized ``pandas.merge_asof(by=entity)``
per partition via ``mapInPandas``. Semantics (pinned by property tests
against the pure pandas oracle and DuckDB's ASOF JOIN):

* backward: match the build row with the greatest ts <= query_ts
  (``allow_exact_matches=False`` makes it strictly <) — the point-in-time /
  zero-leakage form;
* forward: smallest ts >= query_ts;
* tolerance: reject matches further than a max staleness;
* ties on build ts resolve to the greatest tiebreak (backward) / smallest
  (forward) — deterministic under duplicate timestamps;
* probes with no eligible build row keep null feature columns (left join);
* null query_ts or unseen entity -> null match.

Skew: a hot conversation funnels its entire probe+build volume through one
merge-scan task. ``asof_join_salted`` time-slices both sides into
``(entity, floor(ts / slice_width))`` sub-keys and replicates, per slice,
exactly one *carry-in* row (the latest build row from any earlier slice —
computed with a hash aggregation + one tiny window over slice summaries, all
JVM-side) so every slice's lookback is self-contained. Result is provably
identical to the unsalted join (tests/test_asof.py) while bounding the
per-task group size — the 10^12-turn answer to hot conversations, alongside
AQE skew splitting for the relational joins.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tgist_features_spark.functions.timeu import us

_PANDAS_NULLABLE = {
    T.ByteType: "Int8",
    T.ShortType: "Int16",
    T.IntegerType: "Int32",
    T.LongType: "Int64",
    T.FloatType: "float32",
    T.DoubleType: "float64",
    T.BooleanType: "boolean",
}


# target bytes of unioned input per merge-scan task ("auto" partition
# sizing): 64 MB of on-wire data keeps the per-task pandas buffer (roughly
# 2-4x expansion) comfortably inside executor memory at any input scale
ASOF_TARGET_PARTITION_BYTES = 64 << 20


def _partitions_for_size(size: int, floor: int) -> int:
    """Pure sizing rule (unit-tested separately from the Py4J stats call)."""
    if size <= 0 or size >= (1 << 60):
        # no statistics (or the unknown-size sentinel, Long.MaxValue-ish):
        # fall back to the cluster default rather than a huge shuffle
        return floor
    return max(floor, min(1 << 20, size // ASOF_TARGET_PARTITION_BYTES + 1))


def _auto_num_partitions(u: DataFrame) -> int:
    """Partition count from Catalyst's size estimate of the unioned input —
    no extra jobs (statistics come from file sizes / plan estimation). Never
    below the cluster's default parallelism."""
    try:
        size = int(u._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        size = 0
    return _partitions_for_size(size, u.sparkSession.sparkContext.defaultParallelism)


def _null_dtype(spark_type: T.DataType) -> object:
    if isinstance(spark_type, T.TimestampType):
        return "datetime64[us]"
    return _PANDAS_NULLABLE.get(type(spark_type), object)


def _coerce(pdf: pd.DataFrame, fields: list[T.StructField]) -> pd.DataFrame:
    """Nullable-dtype coercion so Arrow accepts missing ints/bools/arrays."""
    for f in fields:
        dt = _null_dtype(f.dataType)
        if f.name in pdf.columns:
            if dt is object:
                # vectorized NaN/NA -> None (no per-element Python calls in
                # the merge-scan hot path); Series.notna treats list/ndarray
                # cell values as non-null, so array columns pass through
                s = pdf[f.name]
                if s.dtype != object:
                    s = s.astype(object)
                pdf[f.name] = s.where(s.notna(), None)
            elif str(pdf[f.name].dtype) != str(dt):
                try:
                    pdf[f.name] = pdf[f.name].astype(dt)
                except (TypeError, ValueError) as e:
                    raise TypeError(
                        f"as-of output column {f.name!r} (dtype "
                        f"{pdf[f.name].dtype}) cannot be coerced to {dt} "
                        f"for Spark type {f.dataType.simpleString()}: {e}"
                    ) from e
        else:
            pdf[f.name] = pd.Series([None] * len(pdf), dtype=dt)
    return pdf[[f.name for f in fields]]


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
    num_partitions: int | str | None = None,
) -> DataFrame:
    """Point-in-time join: probe (entity, query_ts) x build (entity, ts).
    ``direction``: 'backward' (latest row at or before), 'forward'
    (earliest at or after), or 'nearest' (closest on either side).

    Merge-scan physical plan (the north_star shape): tag both sides, union,
    ONE ``repartitionByRange`` on the entity key (equal keys never split),
    ``sortWithinPartitions`` by event time, then a single vectorized
    ``pandas.merge_asof(by=entity)`` per partition via ``mapInPandas`` —
    thousands of entities per C-level merge call instead of one Python call
    per entity. Returns probe.* plus the matched build value columns
    (renamed with a ``_matched`` suffix on collision). Left-join semantics.

    Memory: one partition is materialized per task (exactly like a sort-
    merge join buffer); size partitions via ``num_partitions`` /
    ``spark.sql.shuffle.partitions``, or pass ``num_partitions="auto"`` to
    size them from Catalyst's size estimate of the unioned input
    (~``ASOF_TARGET_PARTITION_BYTES`` per task — keeps the per-task pandas
    buffer bounded as inputs grow, with zero extra jobs). A single entity
    bigger than a healthy partition is the *skew* case — route through
    ``asof_join_auto``.
    """
    assert direction in ("backward", "forward", "nearest")
    by_list = [by] if isinstance(by, str) else list(by)
    _, value_cols, rename, carried, out_schema = _plan(
        probe, build, by_list, left_on, right_on, value_cols
    )
    probe_cols = list(probe.columns)
    carried_names = [f.name for f in carried]
    build_fields = {f.name: f for f in build.schema.fields}
    tb = [t for t in tiebreak if t in build.columns]
    tb_names = [f"__tb{i}" for i in range(len(tb))]

    # tagged union on a common wide schema: probe columns null on the build
    # side and vice versa; __key is the event-time merge key on both sides
    l = probe.select(
        F.lit(0).alias("__side"),
        F.col(left_on).cast("timestamp_ntz").alias("__key"),
        *[F.col(c) for c in probe_cols],
        *[
            F.lit(None).cast(build_fields[c].dataType).alias(rename[c])
            for c in value_cols
        ],
        *[F.lit(None).cast(build_fields[t].dataType).alias(n)
          for t, n in zip(tb, tb_names)],
    )
    r = build.filter(F.col(right_on).isNotNull()).select(
        F.lit(1).alias("__side"),
        F.col(right_on).cast("timestamp_ntz").alias("__key"),
        *[F.col(b) for b in by_list],
        *[F.lit(None).cast(f.dataType).alias(f.name)
          for f in probe.schema.fields if f.name not in by_list],
        *[F.col(c).alias(rename[c]) for c in value_cols],
        *[F.col(t).alias(n) for t, n in zip(tb, tb_names)],
    )
    u = l.unionByName(r.select(*l.columns))
    if isinstance(num_partitions, str):
        if num_partitions != "auto":
            raise ValueError(
                f"num_partitions must be an int, None or 'auto' — got "
                f"{num_partitions!r}"
            )
        num_partitions = _auto_num_partitions(u)
    if num_partitions:
        u = u.repartitionByRange(num_partitions, *by_list)
    else:
        u = u.repartitionByRange(*by_list)
    u = u.sortWithinPartitions("__key", "__side", *tb_names)

    tol = pd.Timedelta(seconds=tolerance) if tolerance is not None else None
    by_key = by_list[0] if len(by_list) == 1 else by_list
    lcols = list(probe_cols)
    rcols = [*by_list, "__key", *carried_names]

    def scan(batches):
        chunks = list(batches)  # one partition, sorted by (__key, __side, tb)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        is_l = pdf["__side"].to_numpy() == 0
        lp = pdf.loc[is_l, [*lcols, "__key"]]
        rp = pdf.loc[~is_l, rcols]
        ok = lp["__key"].notna()
        l_null = lp.loc[~ok, lcols]
        lp = lp[ok]
        if len(rp) == 0 or len(lp) == 0:
            merged = lp[lcols].copy()
            for f in carried:
                merged[f.name] = None
        else:
            merged = pd.merge_asof(
                lp,
                rp,
                on="__key",
                by=by_key,
                direction=direction,
                tolerance=tol,
                allow_exact_matches=allow_exact_matches,
            ).drop(columns="__key")
        if len(l_null):
            merged = pd.concat([merged, l_null], ignore_index=True)
        yield _coerce(merged, out_schema.fields)

    return u.mapInPandas(scan, schema=out_schema)


def asof_join_auto(
    probe: DataFrame,
    build: DataFrame,
    by: str = "conv_id",
    left_on: str = "query_ts",
    right_on: str = "ts",
    direction: str = "backward",
    tolerance: float | None = None,
    allow_exact_matches: bool = True,
    value_cols: list[str] | None = None,
    tiebreak: tuple[str, ...] = ("turn_idx",),
    hot_threshold: int = 1_000_000,
    slice_width_s: int = 3600,
) -> DataFrame:
    """Skew-adaptive as-of join: entities whose build side exceeds
    ``hot_threshold`` rows take the salted (time-sliced) path, everything
    else the plain merge-scan (``asof_join``); results are unioned.

    This is the production entry point at the 10^12-turn design scale: the
    per-entity count is one cheap hash aggregation, the hot set is tiny by
    definition (skew = few heavy keys) so it broadcasts, and cold entities
    avoid the salted path's extra carry bookkeeping entirely.

    The default threshold matches the plain path's per-task budget
    (~``ASOF_TARGET_PARTITION_BYTES`` at ~40 B/row ≈ 1.6M rows): below it
    a single merge-scan task absorbs the entity cheaply and the salted
    bookkeeping only adds cost; above it the entity is a straggler and
    slicing wins (measured on the skewed bench corpus: plain 19.2s vs auto
    11.2s at a 1.6M-row hot entity; plain wins below ~1M — bench.py
    ``skew_asof``).
    """
    assert direction in ("backward", "forward", "nearest")
    counts = build.groupBy(by).agg(F.count(F.lit(1)).alias("__n"))
    hot = counts.filter(F.col("__n") > hot_threshold).select(by)
    kw = dict(
        by=by, left_on=left_on, right_on=right_on, direction=direction,
        tolerance=tolerance, allow_exact_matches=allow_exact_matches,
        value_cols=value_cols, tiebreak=tiebreak,
    )
    cold_out = asof_join(
        probe.join(F.broadcast(hot), on=by, how="left_anti"),
        build.join(F.broadcast(hot), on=by, how="left_anti"),
        **kw,
    )
    hot_out = asof_join_salted(
        probe.join(F.broadcast(hot), on=by, how="left_semi"),
        build.join(F.broadcast(hot), on=by, how="left_semi"),
        slice_width_s=slice_width_s,
        **kw,
    )
    return cold_out.unionByName(hot_out)


def asof_join_salted(
    probe: DataFrame,
    build: DataFrame,
    by: str = "conv_id",
    left_on: str = "query_ts",
    right_on: str = "ts",
    direction: str = "backward",
    tolerance: float | None = None,
    allow_exact_matches: bool = True,
    value_cols: list[str] | None = None,
    tiebreak: tuple[str, ...] = ("turn_idx",),
    slice_width_s: int = 3600,
) -> DataFrame:
    """Skew-safe as-of join: time-sliced sub-keys + carry-in replication.

    Identical results to ``asof_join`` (tested). The final merge-scan range-
    partitions on the composite (entity, slice) key, so the rows one task
    must hold for an entity are bounded by rows-per-(entity, slice) instead
    of rows-per-entity.

    ``direction='nearest'`` (round 5 — closes the last asof gap): carries
    from BOTH sides of every slice would double the carry bookkeeping
    inside one pass, so nearest is instead COMPOSED from the two
    direction-specific passes — each already exactly equal to pandas
    merge_asof for its direction — and the closer match wins per probe
    row, backward winning exact-distance ties (pandas 'nearest'
    semantics, pinned by the property test). Cost: two salted passes plus
    a probe-id equijoin; the probe side is frozen once via an eager
    localCheckpoint so the synthetic row id is stable across both
    branches.
    """
    assert direction in ("backward", "forward", "nearest")
    if direction == "nearest":
        return _salted_nearest(
            probe, build, by, left_on, right_on, tolerance,
            allow_exact_matches, value_cols, tiebreak, slice_width_s,
        )
    slice_col = "__slice"
    width_us = slice_width_s * 1_000_000

    by_l, value_cols, rename, carried, out_schema = _plan(
        probe, build, by, left_on, right_on, value_cols
    )
    assert len(by_l) == 1, "salted path keys on a single entity column"

    p = probe.withColumn(
        slice_col, F.floor(us(F.col(left_on)) / width_us)
    )
    b = build.filter(F.col(right_on).isNotNull()).withColumn(
        slice_col, F.floor(us(F.col(right_on)) / width_us)
    )

    # ONE aggregation produces both the per-(entity, slice) build summary
    # (the slice's extreme build row — latest for backward, earliest for
    # forward) and the "this slice contains probes" flag: build rows and
    # probe slice-markers go through a tagged union into a single hash agg,
    # replacing the previous summaries-groupBy + probe-distinct + union
    # (two shuffles and a second pass over slice rows). max_by/min_by skip
    # null ordering keys, so probe-only slices aggregate to a null payload.
    payload = F.struct(*[F.col(c) for c in build.columns])
    order_key = F.struct(
        us(F.col(right_on)),
        *[F.col(t) for t in tiebreak if t in build.columns],
    )
    payload_type = T.StructType(build.schema.fields)
    ok_type = b.select(order_key.alias("__ok")).schema["__ok"].dataType
    b_tag = b.select(
        F.col(by), F.col(slice_col),
        payload.alias("__payload"), order_key.alias("__ok"),
        F.lit(0).alias("__probe"),
    )
    p_tag = p.select(
        F.col(by), F.col(slice_col),
        F.lit(None).cast(payload_type).alias("__payload"),
        F.lit(None).cast(ok_type).alias("__ok"),
        F.lit(1).alias("__probe"),
    )
    pick = F.max_by("__payload", "__ok") if direction == "backward" else \
        F.min_by("__payload", "__ok")
    agg = (
        b_tag.unionByName(p_tag)
        .groupBy(by, slice_col)
        .agg(pick.alias("__payload"), F.max("__probe").alias("__probe"))
    )

    # carry-in per probe slice: latest summary from any STRICTLY earlier
    # slice (backward) / earliest from any strictly later slice (forward).
    # With one aggregated row per slice, excluding the current row from the
    # frame excludes exactly the same-slice summary; the window runs over
    # slice-level rows only — tiny even for the hottest entity.
    if direction == "backward":
        w = (
            Window.partitionBy(by)
            .orderBy(slice_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry_val = F.last("__payload", ignorenulls=True).over(w)
    else:
        w = (
            Window.partitionBy(by)
            .orderBy(slice_col)
            .rowsBetween(1, Window.unboundedFollowing)
        )
        carry_val = F.first("__payload", ignorenulls=True).over(w)
    carries = (
        agg.withColumn("__carry", carry_val)
        .filter((F.col("__probe") == 1) & F.col("__carry").isNotNull())
        .select(by, slice_col, *[F.col(f"__carry.{c}").alias(c) for c in build.columns if c != by])
    )
    b_salted = b.unionByName(carries.select(*b.columns))

    # final merge: the composite (entity, slice) key routes each slice to its
    # own range partition — hot entities split across tasks — while the
    # merge itself stays the bulk merge-scan (no per-group Python calls)
    out = asof_join(
        p,
        b_salted,
        by=[by, slice_col],
        left_on=left_on,
        right_on=right_on,
        direction=direction,
        tolerance=tolerance,
        allow_exact_matches=allow_exact_matches,
        value_cols=value_cols,
        tiebreak=tiebreak,
    )
    return out.drop(slice_col)


def _salted_nearest(
    probe: DataFrame,
    build: DataFrame,
    by: str,
    left_on: str,
    right_on: str,
    tolerance: float | None,
    allow_exact_matches: bool,
    value_cols: list[str] | None,
    tiebreak: tuple[str, ...],
    slice_width_s: int,
) -> DataFrame:
    """nearest = closer of (salted backward, salted forward) per probe
    row; backward wins exact-distance ties (empirically pinned pandas
    merge_asof 'nearest' behavior). See asof_join_salted's docstring."""
    pid = "__asof_pid"
    p_id = probe.withColumn(pid, F.monotonically_increasing_id()).localCheckpoint(
        eager=True  # freeze the synthetic id: both branches must see ONE row identity
    )
    _, value_cols, rename, _, _ = _plan(
        probe, build, by, left_on, right_on, value_cols
    )
    # both passes must carry the matched event time for the distance
    # comparison even when the caller didn't ask for it
    vc = value_cols if right_on in value_cols else [right_on, *value_cols]
    rn = _plan(p_id, build, by, left_on, right_on, vc)[2]
    kw = dict(
        by=by, left_on=left_on, right_on=right_on, tolerance=tolerance,
        allow_exact_matches=allow_exact_matches, value_cols=vc,
        tiebreak=tiebreak, slice_width_s=slice_width_s,
    )
    back = asof_join_salted(p_id, build, direction="backward", **kw)
    fwd = asof_join_salted(p_id, build, direction="forward", **kw)
    bsel = back.select(pid, *[F.col(rn[c]).alias(f"__b_{c}") for c in vc])
    fsel = fwd.select(pid, *[F.col(rn[c]).alias(f"__f_{c}") for c in vc])
    combined = p_id.join(bsel, pid, "left").join(fsel, pid, "left")
    bd = F.abs(us(F.col(f"__b_{right_on}")) - us(F.col(left_on)))
    fd = F.abs(us(F.col(f"__f_{right_on}")) - us(F.col(left_on)))
    use_back = F.col(f"__b_{right_on}").isNotNull() & (
        F.col(f"__f_{right_on}").isNull() | (bd <= fd)
    )
    return combined.select(
        *probe.columns,
        *[
            F.when(use_back, F.col(f"__b_{c}"))
            .otherwise(F.col(f"__f_{c}"))
            .alias(rename[c])
            for c in value_cols
        ],
    )
