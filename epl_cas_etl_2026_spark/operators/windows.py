"""Per-key window operators (SURVEY.md §2.5 W4-W6).

Reference shapes: latest supervision per branch (ORDER BY fecha DESC
LIMIT 1 — app.py:846-857), last-4 trend per branch (app.py:938-960),
next period lookup (etl_sync.py:542-547).

Scale note: ``row_number`` over ``partitionBy(key)`` is one shuffle on
the key and a per-partition sort — the canonical distributed top-N; no
driver-side loop, no global sort. Spark plans a running
WindowExec after an exchange; with AQE the exchange coalesces.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.operators.ranking import range_partition_offsets


def latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
) -> DataFrame:
    """W4 — most recent row per key (app.py:846-857). ``order`` must be
    a *total* order (add a unique-id tiebreak) for determinism."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def top_n_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    n: int,
    rank_col: str | None = None,
) -> DataFrame:
    """W5 — top-N rows per key (last-4 trend, app.py:938-960)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= n)
    if rank_col:
        return out.withColumnRenamed("__rn", rank_col)
    return out.drop("__rn")


def with_next_value(
    df: DataFrame,
    value_col: str,
    order: Sequence[Column],
    keys: Sequence[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """W6 — next-value lookup via ``lead`` (next period by fecha_inicio,
    etl_sync.py:542-547)."""
    w = (
        Window.partitionBy(*keys).orderBy(*order)
        if keys
        else Window.orderBy(*order)
    )
    return df.withColumn(out_col or f"next_{value_col}", F.lead(value_col).over(w))


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_payload: Sequence[str],
    strict: bool = True,
    direction: str = "backward",
) -> DataFrame:
    """As-of join — for every left row, the single nearest right row
    per key: ``direction="backward"`` (default) takes the latest right
    with ``right_ts`` < (``strict``) or <= ``left_ts``;
    ``direction="forward"`` takes the EARLIEST right with ``right_ts``
    > (``strict``) or >= ``left_ts`` (time-to-next-event analytics).
    An operator Spark lacks natively, built scale-first:

    union both sides → ONE shuffle+sort on (key, ts) → carry the last
    non-null right payload forward with a running window → keep left
    rows. Cost is a single exchange of |L|+|R| slim rows; there is no
    range-join explosion and no per-row subquery (the reference's
    LIMIT-1 pattern, etl_sync.py:229-233, is the quadratic shape this
    replaces). DuckDB's native ASOF JOIN is the oracle twin.

    Tie rule: at equal timestamps a strict join sorts the left row
    FIRST so the same-instant right row is not yet visible to the
    running window; non-strict sorts it after. Right rows that tie on
    (key, ts) should be pre-deduplicated by the caller for a
    deterministic pick.

    ``right_payload`` columns must not collide with left's columns.
    """
    overlap = set(right_payload) & set(left.columns)
    if overlap:
        raise ValueError(f"right_payload collides with left columns: {overlap}")
    lt = left.withColumn("__ts", F.col(left_ts)).withColumn(
        "__is_left", F.lit(1)
    )
    rt = right.select(
        F.col(on),
        F.col(right_ts).alias("__ts"),
        *[F.col(c) for c in right_payload],
    ).withColumn("__is_left", F.lit(0))
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    # strict: left before right at equal ts (desc on the flag) so the
    # same-instant right row is not yet visible; non-strict: right
    # first (asc). Forward is the mirror image: traverse time
    # DESCENDING and the "last non-null seen" is the nearest LATER row
    # — same single exchange, same tie rule.
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    ts_order = F.asc("__ts") if direction == "backward" else F.desc("__ts")
    side_order = F.desc("__is_left") if strict else F.asc("__is_left")
    w = (
        Window.partitionBy(on)
        .orderBy(ts_order, side_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned
    for c in right_payload:
        carried = carried.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return carried.filter(F.col("__is_left") == 1).drop("__ts", "__is_left")


def two_phase_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cumsum",
    num_range_partitions: int | None = None,
) -> DataFrame:
    """Distributed global cumulative sum — no single-partition window:
    :func:`~epl_cas_etl_2026_spark.operators.ranking.range_partition_offsets`
    on the order column with ``sum(value_col)`` as the partition
    weight, then a partition-local running sum plus the offset. Serial
    work is O(#partitions)."""
    parted, w = range_partition_offsets(
        df, [F.asc(order_col)], weight=value_col,
        num_range_partitions=num_range_partitions,
    )
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return parted.withColumn(
        out_col, (F.sum(value_col).over(w) + F.col("__offset")).cast("long")
    ).drop("__pid", "__offset")
