"""As-of join (J1/J2/J3, SURVEY.md §2.3) — the engine's flagship operator.

Spark 4.1 has no ASOF JOIN in Catalyst, so this is a custom merge-scan:
both sides are tagged and unioned, range-partitioned by the entity key (one
shuffle; equal keys never split), sorted within each partition by
``(entity, event time, side, tiebreak)`` and merged by one streaming
``mapInArrow`` kernel. Build rows are side 0, so at an equal time they sort
before the probes. Semantics (pinned by property tests against
``pandas.merge_asof`` and DuckDB's ASOF JOIN):

* backward: match the build row with the greatest ts <= query_ts
  (``allow_exact_matches=False`` makes it strictly <) — the point-in-time /
  zero-leakage form;
* forward: smallest ts >= query_ts (strictly > when not exact);
* nearest: the closer of the two, backward winning exact-distance ties;
* tolerance: reject matches further than a max staleness;
* ties on build ts resolve to the greatest tiebreak (backward) / smallest
  (forward) — deterministic under duplicate timestamps;
* probes with no eligible build row keep null feature columns (left join);
* null query_ts, null entity or unseen entity -> null match (build rows
  with a null ts or entity never match, and a null entity matches no null
  entity).

Matching: a key run is a maximal run of equal ``(entity, time)``.
Backward takes the last build row before the end of the probe's run (before
its start when strict), forward the first build row at or after the run's
start (after its end when strict); both are running max/min of build
positions over the stream, with no pandas step. Every value is taken from
the Arrow columns at the matched position and keeps its type (a pandas
round trip rounded 64-bit integers above 2^53 and failed on timestamps past
2262).

Memory: the kernel reads one Arrow batch at a time
(``spark.sql.execution.arrow.maxRecordsPerBatch`` rows). In entity-major
order only a batch's trailing entity can match rows of the next batch, so
the kernel carries just that entity's last build row, the first build row of
that row's key run and the last build row before that run, plus, for
forward and nearest, its probes still waiting for a later build row. A task
holds one batch and that carry (<= 3 rows for backward) whatever the size of
its partition or of a hot conversation, so the exchange keeps the session's
partition count, which AQE may coalesce.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from tgist_features_spark.functions.arrowu import concat, run_starts
from tgist_features_spark.functions.sqltext import ident


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


def _last_upto(flags: np.ndarray) -> np.ndarray:
    """Per row, the position of the last flagged row at or before it (-1
    when none)."""
    return np.maximum.accumulate(np.where(flags, np.arange(len(flags)), -1))


def _first_from(flags: np.ndarray) -> np.ndarray:
    """Per row, and for the position one past the end, the position of the
    first flagged row at or after it (``len(flags)`` when none)."""
    n = len(flags)
    pos = np.append(np.where(flags, np.arange(n), n), n)
    return np.minimum.accumulate(pos[::-1])[::-1]


def _step(chunk: pa.RecordBatch, last: bool, *, by, direction, tol, exact,
          probe_cols, carried, narrow, names):
    """Match the probes of ``chunk`` (the carry plus one batch, in merge
    order). Returns the probes' output rows (None when there are none) and
    the carry for the next chunk (None when empty; nothing is carried when
    ``last``, the partition's end). A probe of the trailing entity whose
    forward match may still come is carried rather than output."""
    n = chunk.num_rows
    ents = [chunk.column(c) for c in by]
    key = chunk.column("__key").cast(pa.int64())
    ent_new = run_starts(ents)
    run_new = ent_new | run_starts([key])
    ent_ends, run_ends = np.append(ent_new[1:], True), np.append(run_new[1:], True)
    ent_first, ent_last = _last_upto(ent_new), _first_from(ent_ends)[:n]
    run_first, run_last = _last_upto(run_new), _first_from(run_ends)[:n]
    build = chunk.column("__side").to_numpy() == 0
    live = ~build & np.logical_and.reduce(
        [c.is_valid().to_numpy(zero_copy_only=False) for c in [*ents, key]])
    t = pc.fill_null(key, 0).to_numpy()

    upto, after = _last_upto(build), _first_from(build)
    back = upto if exact else np.where(run_first > 0, upto[run_first - 1], -1)
    fwd = after[run_first] if exact else after[run_last + 1]
    back_ok, fwd_ok = back >= ent_first, fwd <= ent_last
    if direction == "backward":
        m = np.where(back_ok, back, -1)
    elif direction == "forward":
        m = np.where(fwd_ok, fwd, -1)
    else:
        closer = t[np.minimum(fwd, n - 1)] - t < t - t[back]
        m = np.where(fwd_ok & (~back_ok | closer), fwd, np.where(back_ok, back, -1))
    if tol is not None:
        m = np.where(np.abs(t[m] - t) <= tol, m, -1)
    m = np.where(live, m, -1)

    keep = []
    if not last:
        first = ent_first[n - 1]
        lb = upto[n - 1]  # the trailing entity's last build row
        if lb >= first:
            f = run_first[lb]  # a build row: builds lead their key run
            p = upto[f - 1] if f else -1
            keep = sorted({x for x in (p, f, lb) if x >= first})
        if direction != "backward":
            keep += list(np.flatnonzero(live & ~fwd_ok & (ent_last == n - 1)))
    wait = np.zeros(n, dtype=bool)
    wait[keep] = True
    emit = np.flatnonzero(~build & ~wait)

    out = None
    if len(emit):
        cols = [chunk.column(c).take(emit) for c in probe_cols]
        cols = [c.cast(narrow[nm]) if nm in narrow else c for nm, c in zip(probe_cols, cols)]
        matched = pa.array(m[emit], mask=m[emit] < 0)
        cols += [chunk.column(c).take(matched) for c in carried]
        out = pa.RecordBatch.from_arrays(cols, names=names)
    return out, (chunk.take(np.array(keep, dtype=np.int64)) if keep else None)


def _scan(batches, **spec):
    """The merge-scan's ``mapInArrow`` function: one range partition's
    batches in merge order in, the matched probes out. Each chunk is the
    carry plus one incoming batch; the carry left at the partition's end
    is matched last, with no later build row to wait for."""
    carry = None
    for b in batches:
        if b.num_rows:
            out, carry = _step(b if carry is None else concat([carry, b]), False, **spec)
            if out is not None:
                yield out
    if carry is not None:
        out, _ = _step(carry, True, **spec)
        if out is not None:
            yield out


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
    (earliest at or after), or 'nearest' (closest on either side);
    ``tolerance`` in seconds. Returns probe.* plus the matched build value
    columns (renamed with a ``_matched`` suffix on collision). Left-join
    semantics.

    One plan: both sides are tagged (build 0, probe 1) and unioned with the
    event time as ``__key``, ONE ``repartitionByRange`` on the entity key
    (the session's partition count), ``sortWithinPartitions`` by
    ``(*by, __key, __side, *tiebreak)``, and one ``mapInArrow`` of the
    streaming kernel. Build rows with a null time or entity are dropped
    before the union. The kernel holds one Arrow batch plus the carry of
    its trailing entity: <= 3 build rows, and for forward and nearest also
    that entity's probes waiting for a later build row. Task memory thus
    does not depend on the partition's or any conversation's size.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward, forward or nearest: {direction!r}")
    if tolerance is not None and tolerance < 0:
        raise ValueError(f"tolerance must not be negative: {tolerance!r}")
    by_list, value_cols, rename, carried, out_schema = _plan(
        probe, build, by, left_on, right_on, value_cols
    )
    probe_cols = list(probe.columns)
    tb = [t for t in tiebreak if t in build.columns]
    tb_names = [f"__tb{i}" for i in range(len(tb))]

    # tagged union on a common wide schema: the JVM fills probe columns
    # with nulls on the build side and vice versa. Expressions are SQL text
    # (functions/sqltext)
    l = probe.selectExpr(
        "1 AS __side",
        f"CAST({ident(left_on)} AS TIMESTAMP_NTZ) AS __key",
        *map(ident, probe_cols),
    )
    not_null = " AND ".join(f"{ident(c)} IS NOT NULL" for c in [right_on, *by_list])
    r = build.filter(not_null).selectExpr(
        "0 AS __side",
        f"CAST({ident(right_on)} AS TIMESTAMP_NTZ) AS __key",
        *map(ident, by_list),
        *[f"{ident(c)} AS {ident(rename[c])}" for c in value_cols],
        *[f"{ident(t)} AS {n}" for t, n in zip(tb, tb_names)],
    )
    u = (l.unionByName(r, allowMissingColumns=True)
         .repartitionByRange(*by_list)
         .sortWithinPartitions(*by_list, "__key", "__side", *tb_names))

    # the union widens a ``by`` column whose type differs between the sides
    # (probe int, build long -> long); the output keeps the probe's type
    pfields, bfields = probe.schema, build.schema
    narrow = {c: to_arrow_type(pfields[c].dataType) for c in by_list
              if pfields[c].dataType != bfields[c].dataType}
    kernel = functools.partial(
        _scan, by=by_list, direction=direction,
        tol=None if tolerance is None else tolerance * 1e6,
        exact=allow_exact_matches, probe_cols=probe_cols,
        carried=[f.name for f in carried], narrow=narrow, names=out_schema.names)
    return u.mapInArrow(kernel, schema=out_schema)
