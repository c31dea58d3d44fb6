"""Ranking operators (SURVEY.md §2.5 W1-W3, §2.6 O1).

The reference computes ranking in Python after ORDER BY
(app.py:624-638, 729-742): competition rank ("1,1,3" — ties share a
position, the counter still advances, so gaps follow ties), NULLS-LAST
ordering with an *unranked* NULL tail (rows with no score get
posicion = NULL and sort after every ranked row — app.py:456, 640-646),
and intra-group nested rank (app.py:566-586).

Here each is a native window function. Ranking always runs on the
*post-aggregation* frame (entity-level cardinality: 20 groups / 86
branches in the reference), so the single-partition window is applied
to a frame that is already tiny relative to the fact scan — at 100 TB
the expensive part stays the distributed groupBy, not this window.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


#: Above this many input rows, an unpartitioned competition_rank —
#: whose WindowExec collapses everything onto ONE task — refuses to
#: run; callers must use two_phase_competition_rank instead. The
#: dashboard shapes rank post-aggregation entities (≤ thousands), so
#: the guard never fires there; it exists to stop a fact-grained frame
#: from silently serializing on a single partition.
MAX_GLOBAL_WINDOW_ROWS = 100_000


def competition_rank(
    df: DataFrame,
    score_col: str,
    rank_col: str = "posicion",
    tiebreak: Sequence[Column] | None = None,
) -> DataFrame:
    """W1 + W2 — competition rank, NULLS LAST, unranked NULL tail.

    Exactly matches the reference's Python loop (app.py:624-638): equal
    scores share a position, gaps appear after ties (RANK, not
    DENSE_RANK), and NULL scores get ``posicion = NULL`` rather than a
    rank (app.py:640-646 appends them unranked).

    ``tiebreak`` orders *display only* — the reference ranks purely on
    the score (ties share), then orders ties by name (app.py:456).

    The window is single-partition by design (global rank) — safe only
    post-aggregation. A zero-cost runtime check in the same window pass
    (an extra row_number over the sort the rank already pays for) fails
    the job once more than ``MAX_GLOBAL_WINDOW_ROWS`` rows (read at
    call time) reach this operator; fact-grained frames must use
    :func:`two_phase_competition_rank`. Per-group ranks are
    :func:`intra_group_rank`.
    """
    w = Window.orderBy(F.desc_nulls_last(score_col))
    rank_expr = F.when(
        F.row_number().over(w) > MAX_GLOBAL_WINDOW_ROWS,
        F.raise_error(
            F.lit(
                "competition_rank: unpartitioned window exceeded "
                f"{MAX_GLOBAL_WINDOW_ROWS} rows and would serialize on one "
                "task — use two_phase_competition_rank"
            )
        ).cast("long"),
    ).otherwise(
        F.when(F.col(score_col).isNotNull(), F.rank().over(w).cast("long"))
    )
    ranked = df.withColumn(rank_col, rank_expr)
    order = [F.desc_nulls_last(score_col)]
    if tiebreak:
        order.extend(tiebreak)
    return ranked.orderBy(*order)


def range_partition_offsets(
    df: DataFrame,
    order_by: Sequence[Column],
    groups: Sequence[str] = (),
    weight: str | None = None,
    num_range_partitions: int | None = None,
) -> tuple[DataFrame, WindowSpec]:
    """The range-partition + prefix-offset kernel behind every two-phase
    window (the three below and ``windows.two_phase_cumsum``) — no
    single-partition WindowExec anywhere.

    Phase 1: range-partition on ``(*groups, *order_by)`` — each
    partition holds a contiguous slice of the global order (with
    ``groups``: of one or more groups' orders, a group spanning
    contiguous partitions); rows are tagged ``__pid``. Phase 2: the
    per-(``__pid``, group) totals — row counts, or ``sum(weight)`` —
    become running offsets on the driver (O(#partitions × #groups)
    rows) and are broadcast-joined back as ``__offset``.

    Returns ``(frame, w)`` where ``w`` is the partition-local window
    ``partitionBy(__pid, *groups).orderBy(*order_by)``: the global value
    is ``f.over(w) + __offset``. Callers drop ``__pid`` and ``__offset``.
    """
    spark = df.sparkSession
    n = num_range_partitions or spark.sparkContext.defaultParallelism
    keys = ["__pid", *groups]
    parted = df.repartitionByRange(
        n, *[F.col(g) for g in groups], *order_by
    ).withColumn("__pid", F.spark_partition_id())
    # one materialization so the totals job and the caller's window job
    # see the same (sampled) range partitioning; lazy — the totals
    # collect below is the first action and materializes the checkpoint
    # itself (one job, not an eager materialization plus a count)
    parted = parted.localCheckpoint(eager=False)
    total = F.count(F.lit(1)) if weight is None else F.sum(weight)
    rows = parted.groupBy(*keys).agg(total.alias("__t")).collect()
    offsets, running = [], {}
    for r in sorted(rows, key=lambda r: r["__pid"]):
        g = tuple(r[c] for c in groups)
        acc = running.get(g, 0)
        offsets.append((r["__pid"], *g, acc))
        running[g] = acc + (r["__t"] or 0)
    offset_df = spark.createDataFrame(
        offsets,
        StructType(
            [parted.schema[c] for c in keys]
            + [StructField("__offset", LongType())]
        ),
    )
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return parted.join(F.broadcast(offset_df), keys), w


def two_phase_competition_rank(
    df: DataFrame,
    score_col: str,
    rank_col: str = "posicion",
    num_range_partitions: int | None = None,
) -> DataFrame:
    """Scalable GLOBAL competition rank over
    :func:`range_partition_offsets` on the score (descending, NULLS
    LAST): equal scores co-locate, so ties never straddle a partition
    boundary and ``local rank + offset`` is the global rank.

    Semantics identical to :func:`competition_rank` with no
    ``partition_by``: RANK tie gaps, NULL scores unranked. The serial
    work is O(#partitions), not O(rows) — this is the path for
    fact-grained frames the guard in :func:`competition_rank` rejects.
    """
    parted, w = range_partition_offsets(
        df, [F.desc_nulls_last(score_col)],
        num_range_partitions=num_range_partitions,
    )
    return parted.withColumn(
        rank_col,
        F.when(
            F.col(score_col).isNotNull(),
            (F.rank().over(w) + F.col("__offset")).cast("long"),
        ),
    ).drop("__pid", "__offset")


def two_phase_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    rn_col: str = "__rn",
    num_range_partitions: int | None = None,
) -> DataFrame:
    """Scalable GLOBAL row_number over a UNIQUE sort key — the
    positional (non-tie-sharing) companion of
    :func:`two_phase_competition_rank`, on the same kernel.

    The caller must pass a sort key that is unique per row (callers
    here append a unique id as the last column) — with duplicates the
    boundary split between equal keys would be sampling-dependent.
    """
    parted, w = range_partition_offsets(
        df, order_by, num_range_partitions=num_range_partitions
    )
    return parted.withColumn(
        rn_col, (F.row_number().over(w) + F.col("__offset")).cast("long")
    ).drop("__pid", "__offset")


def two_phase_grouped_row_number(
    df: DataFrame,
    group_col: str,
    order_by: Sequence[Column],
    rn_col: str = "__rn",
    num_range_partitions: int | None = None,
) -> DataFrame:
    """Scalable PER-GROUP row_number when the group count is SMALL —
    the straggler case a plain ``Window.partitionBy(group)`` cannot
    survive (5 groups ⇒ 5 reducers own the whole table; at 100 TB
    each sorts 20 TB serially). Runs the kernel with
    ``groups=(group_col,)``: offsets are per-group running counts.

    Same unique-sort-key precondition as :func:`two_phase_row_number`;
    groups must be non-null.
    """
    parted, w = range_partition_offsets(
        df, order_by, groups=(group_col,),
        num_range_partitions=num_range_partitions,
    )
    return parted.withColumn(
        rn_col, (F.row_number().over(w) + F.col("__offset")).cast("long")
    ).drop("__pid", "__offset")


def intra_group_rank(
    df: DataFrame,
    group_col: str,
    score_col: str,
    rank_col: str = "posicion_interna",
) -> DataFrame:
    """W3 — nested rank inside a regrouped aggregation (app.py:566-586),
    same tie rule as :func:`competition_rank`."""
    w = Window.partitionBy(group_col).orderBy(F.desc_nulls_last(score_col))
    return df.withColumn(
        rank_col,
        F.when(F.col(score_col).isNotNull(), F.rank().over(w).cast("long")),
    )
