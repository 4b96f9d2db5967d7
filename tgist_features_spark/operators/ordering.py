"""Canonical ordering (O1, SURVEY.md §2.6).

The reference emitted feature lines in deterministic per-document order; the
engine's equivalent invariant is stable (conv_id, ts, turn_idx) order inside
conv-contiguous partitions. One range-repartition shuffle establishes the
layout; every window pass, the text-feature UDF and the as-of merge all
reuse it, so the hot path pays exactly one planned shuffle for layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def canonical_order(
    df: DataFrame,
    entity: str = "conv_id",
    order: tuple[str, ...] = ("ts", "turn_idx"),
) -> DataFrame:
    """Range-partition by entity, sort within partitions by (entity, *order).

    ``repartitionByRange`` samples key quantiles, so conversations land in
    contiguous, roughly equal-sized partitions — unlike hash partitioning it
    keeps range scans and the later per-conv window passes shuffle-free.
    """
    return df.repartitionByRange(entity).sortWithinPartitions(entity, *order)


def zorder_key(xcol: str, ycol: str, bits: int = 21):
    """O4/S12: Morton (Z-order) interleave of two bounded non-negative
    bigint dimensions into one bigint sort key — the multi-dimensional
    clustering layout (Delta/Iceberg ``OPTIMIZE ZORDER BY`` semantics,
    expressed as a plain Catalyst expression). Sorting a table by this
    key makes every contiguous file/row-group range compact in BOTH
    dimensions at once, so min/max file statistics prune scans filtered
    on EITHER dimension — the thing a single-column sort only gives its
    leading column. At 100 TB this is the difference between a
    two-predicate scan reading ~sqrt-of-the-table and reading all of it.

    Pure integer bit arithmetic (aggregate over the bit positions:
    acc | x_bit<<2i | y_bit<<2i+1), reproducible in any engine — the
    oracle recomputes it in SQL. Inputs must lie in [0, 2^bits);
    out-of-range or NULL raises in-plan (the explicit isNull branch
    fires BEFORE the range refusal — NULL comparisons are not a pass).
    2*bits <= 62 keeps the key positive bigint; normalize wider domains
    first (rank, bucket, or truncate — layout only needs order, not
    exact values)."""
    from pyspark.sql import functions as F

    if bits < 1 or 2 * bits > 62:
        raise ValueError("zorder_key: need 1 <= bits <= 31")
    hi = 1 << bits
    parts = []
    for c in (xcol, ycol):
        parts.append(
            F.when(
                F.col(c).isNull(),
                F.raise_error(F.lit(f"zorder_key: NULL {c}")),
            )
            .when(
                (F.col(c) < 0) | (F.col(c) >= hi),
                F.raise_error(F.lit(f"zorder_key: {c} outside [0, 2^{bits})")),
            )
            .otherwise(F.col(c).cast("bigint"))
        )
    checked_x, checked_y = parts
    interleave = (
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), "
        f"(acc, i) -> acc | shiftleft(shiftright(__zx, i) & 1, 2*i) "
        f"| shiftleft(shiftright(__zy, i) & 1, 2*i + 1))"
    )
    return checked_x, checked_y, interleave


def zorder_layout(
    df: DataFrame,
    xcol: str,
    ycol: str,
    bits: int = 21,
    num_partitions: int | None = None,
) -> DataFrame:
    """Apply the Z-order layout: append ``zkey`` and range-partition +
    sort by it, so a subsequent write emits files whose min/max spans
    are tight in both dimensions (data-skipping evidence pinned in
    tests via parquet footer statistics). One planned shuffle — the
    same budget canonical_order pays for its single-dimension layout."""
    from pyspark.sql import functions as F

    checked_x, checked_y, interleave = zorder_key(xcol, ycol, bits)
    keyed = (
        df.withColumn("__zx", checked_x)
        .withColumn("__zy", checked_y)
        .withColumn("zkey", F.expr(interleave))
        .drop("__zx", "__zy")
    )
    if num_partitions:
        out = keyed.repartitionByRange(num_partitions, "zkey")
    else:
        out = keyed.repartitionByRange("zkey")
    return out.sortWithinPartitions("zkey")
