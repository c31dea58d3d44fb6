"""Core relational query plans (SURVEY.md §2.1-§2.8) on the driver's
TPC-H-ish testdata, each with a DuckDB oracle twin.

Role mapping (FIXTURES.md §B): nation/region play the reference's dims
(grupos/sucursales), orders/lineitem play the facts (supervisiones),
customer plays the branch-level entity. Every query cites the reference
operator ids it re-expresses.

Numeric determinism: monetary SUMs are computed in DECIMAL (exact,
order-independent) then cast to double, so Spark's partial aggregation
and DuckDB's sequential sum produce bit-identical results; AVGs are
plain double rounded to 2 decimals (division result ~never lands on a
rounding boundary). Ranks/row_numbers are cast to BIGINT to match
DuckDB's window-function result type.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.functions.scalars import (
    color_class,
    det_avg_sql,
    territorio,
)
from epl_cas_etl_2026_spark.operators.ranking import competition_rank, intra_group_rank
from epl_cas_etl_2026_spark.operators.windows import (
    latest_per_key,
    top_n_per_key,
    with_next_value,
)
from epl_cas_etl_2026_spark.plans.registry import register as _register
from epl_cas_etl_2026_spark.sources.parquet import load_table


def _dsum(col, alias: str, scale: int = 2):
    """Exact decimal sum emitted as double (order-independent across
    engines). Input values are money-like (≤2 decimal places)."""
    return (
        F.round(F.sum(F.col(col).cast("decimal(27,6)")).cast("double"), scale)
        .alias(alias)
    )


# ---------------------------------------------------------------------------
# A5+A1+F7 — pricing summary (grouped sums/avgs/count; the reference's
# workhorse aggregate shape app.py:447-455 writ large, TPC-H Q1 style).
# ---------------------------------------------------------------------------
@_register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE), 2) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE), 0) AS sum_base_price,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))
                 * CAST(1 - l_discount AS DECIMAL(8,6))) AS DOUBLE), 0) AS sum_disc_price,
           ROUND(AVG(l_quantity), 2) AS avg_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity", "sum_qty", 2),
            _dsum("l_extendedprice", "sum_base_price", 0),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(27,6)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(8,6)")
                ).cast("double"),
                0,
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# FLAGSHIP — J2 + A5 + W1/W2 + O1: rank nations by avg customer balance,
# left-join-preserved empty nations, competition rank with NULLS-LAST
# unranked tail (reference app.py:445-472 + 621-646).
# ---------------------------------------------------------------------------
@_register(
    "rank_nations_by_custbal",
    """
    WITH agg AS (
      SELECT n_nationkey, n_name,
             ROUND(AVG(c_acctbal), 2) AS promedio,
             COUNT(c_custkey) AS n_customers
      FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
      GROUP BY n_nationkey, n_name
    )
    SELECT n_nationkey, n_name, promedio, n_customers,
           CASE WHEN promedio IS NOT NULL
                THEN RANK() OVER (ORDER BY promedio DESC NULLS LAST) END AS posicion
    FROM agg
    ORDER BY promedio DESC NULLS LAST, n_name
    """,
)
def rank_nations_by_custbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    agg = (
        nation.join(
            customer, nation.n_nationkey == customer.c_nationkey, "left"
        )
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.round(F.avg("c_acctbal"), 2).alias("promedio"),
            F.count("c_custkey").alias("n_customers"),
        )
    )
    # global rank over a post-agg per-nation frame (25 rows at any
    # scale) — competition_rank's MAX_GLOBAL_WINDOW_ROWS guard would
    # route a fact-grained frame to the two-phase path instead
    return competition_rank(
        agg, "promedio", rank_col="posicion", tiebreak=[F.asc("n_name")]
    )


# ---------------------------------------------------------------------------
# J1 — inner equi-join chain with extra predicate in the ON clause
# (reference app.py:77-81: dims ⋈ fact with `AND s.activo = true`).
# ---------------------------------------------------------------------------
@_register(
    "region_revenue_join_chain",
    """
    SELECT r_name,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 0) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey AND o_orderstatus = 'F'
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def region_revenue_join_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = (
        F.broadcast(region)
        .join(nation, nation.n_regionkey == region.r_regionkey)
        .join(customer, customer.c_nationkey == nation.n_nationkey)
        .join(
            orders,
            (orders.o_custkey == customer.c_custkey)
            & (orders.o_orderstatus == "F"),
        )
    )
    return (
        joined.groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), _dsum("o_totalprice", "revenue", 0))
        .orderBy("r_name")
    )


# ---------------------------------------------------------------------------
# J2 — filter inside the ON clause of a LEFT JOIN (the #1 correctness
# trap: reference app.py:451-456 keeps all dims even with zero facts).
# ---------------------------------------------------------------------------
@_register(
    "nation_building_customers_left_on",
    """
    SELECT n_nationkey, n_name,
           COUNT(c_custkey) AS n_building,
           ROUND(COALESCE(AVG(c_acctbal), 0), 2) AS avg_bal
    FROM nation LEFT JOIN customer
      ON n_nationkey = c_nationkey AND c_mktsegment = 'BUILDING'
    GROUP BY n_nationkey, n_name
    ORDER BY n_nationkey
    """,
)
def nation_building_customers_left_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    # The segment filter MUST live in the join condition: in WHERE it
    # would drop nations with no BUILDING customers (app.py:453).
    joined = nation.join(
        customer,
        (nation.n_nationkey == customer.c_nationkey)
        & (customer.c_mktsegment == "BUILDING"),
        "left",
    )
    return (
        joined.groupBy("n_nationkey", "n_name")
        .agg(
            F.count("c_custkey").alias("n_building"),
            F.round(F.coalesce(F.avg("c_acctbal"), F.lit(0)), 2).alias("avg_bal"),
        )
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# J3 — LEFT JOIN then WHERE (pred OR col IS NULL): filters matched rows
# but keeps NULL-extended ones (reference app.py:795).
# ---------------------------------------------------------------------------
@_register(
    "nation_or_null_filter",
    """
    SELECT n_nationkey, n_name, COUNT(c_custkey) AS n_matching
    FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
    WHERE c_mktsegment = 'MACHINERY' OR c_mktsegment IS NULL
    GROUP BY n_nationkey, n_name
    ORDER BY n_nationkey
    """,
)
def nation_or_null_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    return (
        nation.join(customer, nation.n_nationkey == customer.c_nationkey, "left")
        .filter(
            (F.col("c_mktsegment") == "MACHINERY")
            | F.col("c_mktsegment").isNull()
        )
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("c_custkey").alias("n_matching"))
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# J4 + A10 — densified matrix + pivot (reference heatmap,
# app.py:1141-1184): region × mktsegment grid, avg balance per cell.
# ---------------------------------------------------------------------------
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

@_register(
    "region_segment_matrix",
    """
    SELECT r_name,
           ROUND(AVG(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN c_acctbal END), 2) AS automobile,
           ROUND(AVG(CASE WHEN c_mktsegment = 'BUILDING'   THEN c_acctbal END), 2) AS building,
           ROUND(AVG(CASE WHEN c_mktsegment = 'FURNITURE'  THEN c_acctbal END), 2) AS furniture,
           ROUND(AVG(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN c_acctbal END), 2) AS household,
           ROUND(AVG(CASE WHEN c_mktsegment = 'MACHINERY'  THEN c_acctbal END), 2) AS machinery
    FROM region
    LEFT JOIN nation   ON n_regionkey = r_regionkey
    LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY r_name
    ORDER BY r_name
    """,
)
def region_segment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    long_df = (
        region.join(nation, nation.n_regionkey == region.r_regionkey, "left")
        .join(customer, customer.c_nationkey == nation.n_nationkey, "left")
        .select("r_name", "c_mktsegment", "c_acctbal")
    )
    wide = (
        long_df.groupBy("r_name")
        # explicit value list: avoids Spark's extra distinct-scan job
        .pivot("c_mktsegment", _SEGMENTS)
        .agg(F.round(F.avg("c_acctbal"), 2))
    )
    for seg in _SEGMENTS:
        wide = wide.withColumnRenamed(seg, seg.lower())
    return wide.orderBy("r_name")


# ---------------------------------------------------------------------------
# A6 — conditional-aggregation histogram (reference 4-bucket
# performance distribution, app.py:387-399).
# ---------------------------------------------------------------------------
@_register(
    "acctbal_histogram",
    """
    SELECT CAST(SUM(CASE WHEN c_acctbal >= 7500 THEN 1 ELSE 0 END) AS BIGINT) AS excelente,
           CAST(SUM(CASE WHEN c_acctbal >= 5000 AND c_acctbal < 7500 THEN 1 ELSE 0 END) AS BIGINT) AS bueno,
           CAST(SUM(CASE WHEN c_acctbal >= 2500 AND c_acctbal < 5000 THEN 1 ELSE 0 END) AS BIGINT) AS regular,
           CAST(SUM(CASE WHEN c_acctbal < 2500 THEN 1 ELSE 0 END) AS BIGINT) AS critico
    FROM customer
    """,
)
def acctbal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col("c_acctbal")
    return load_table(spark, sf_dir, "customer").agg(
        F.sum(F.when(c >= 7500, 1).otherwise(0)).alias("excelente"),
        F.sum(F.when((c >= 5000) & (c < 7500), 1).otherwise(0)).alias("bueno"),
        F.sum(F.when((c >= 2500) & (c < 5000), 1).otherwise(0)).alias("regular"),
        F.sum(F.when(c < 2500, 1).otherwise(0)).alias("critico"),
    )


# ---------------------------------------------------------------------------
# A7 — HAVING: post-aggregation threshold filter (critical branches
# AVG < 70, reference app.py:1237).
# ---------------------------------------------------------------------------
@_register(
    "nations_below_avg_threshold",
    """
    SELECT n_nationkey, n_name, ROUND(AVG(c_acctbal), 2) AS promedio
    FROM nation JOIN customer ON n_nationkey = c_nationkey
    GROUP BY n_nationkey, n_name
    HAVING AVG(c_acctbal) < 4500
    ORDER BY promedio ASC, n_nationkey
    """,
)
def nations_below_avg_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    return (
        nation.join(customer, nation.n_nationkey == customer.c_nationkey)
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.round(F.avg("c_acctbal"), 2).alias("promedio"),
            F.avg("c_acctbal").alias("__raw"),
        )
        .filter(F.col("__raw") < 4500)
        .drop("__raw")
        .orderBy(F.asc("promedio"), F.asc("n_nationkey"))
    )


# ---------------------------------------------------------------------------
# A4 — multiple COUNT DISTINCTs in one aggregate (app.py:73-76).
# ---------------------------------------------------------------------------
@_register(
    "orders_multi_distinct",
    """
    SELECT COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderstatus) AS n_statuses
    FROM orders
    """,
)
def orders_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


# ---------------------------------------------------------------------------
# A8 — DISTINCT + GROUP BY counts (states listing, app.py:331-335).
# ---------------------------------------------------------------------------
@_register(
    "segment_counts",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE c_mktsegment IS NOT NULL
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isNotNull())
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# A9 — "periods having data" = left-semi join (app.py:253-259).
# ---------------------------------------------------------------------------
@_register(
    "nations_with_customers_semi",
    """
    SELECT n_nationkey, n_name FROM nation
    WHERE EXISTS (SELECT 1 FROM customer WHERE c_nationkey = n_nationkey)
    ORDER BY n_nationkey
    """,
)
def nations_with_customers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    return (
        nation.join(
            customer, nation.n_nationkey == customer.c_nationkey, "left_semi"
        )
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# J6 — anti-join (dedup / not-exists; reference per-row existence check
# etl_sync.py:215-217 made set-wise).
# ---------------------------------------------------------------------------
@_register(
    "customers_without_orders_anti",
    """
    SELECT c_custkey, c_name, c_nationkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
)
def customers_without_orders_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(
            orders, customer.c_custkey == orders.o_custkey, "left_anti"
        )
        .select("c_custkey", "c_name", "c_nationkey")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# W4 — latest row per key (latest supervision per branch,
# app.py:846-857), with a total order for determinism.
# ---------------------------------------------------------------------------
@_register(
    "latest_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    ORDER BY o_custkey
    """,
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        latest_per_key(
            orders,
            ["o_custkey"],
            [F.desc("o_orderdate"), F.desc("o_orderkey")],
        )
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# W5 — top-N per key then chronological (last-4 trend, app.py:938-960).
# ---------------------------------------------------------------------------
@_register(
    "last3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
           ) AS BIGINT) AS recency_rank
    FROM orders
    QUALIFY recency_rank <= 3
    ORDER BY o_custkey, orderdate, o_orderkey
    """,
)
def last3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    top = top_n_per_key(
        orders,
        ["o_custkey"],
        [F.desc("o_orderdate"), F.desc("o_orderkey")],
        3,
        rank_col="recency_rank",
    )
    return (
        top.select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("recency_rank").cast("long").alias("recency_rank"),
        )
        # reference reverses to chronological after taking last-N
        .orderBy("o_custkey", "orderdate", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# W6 — next-value lookup via lead (next period, etl_sync.py:542-547).
# ---------------------------------------------------------------------------
@_register(
    "next_order_date_per_customer",
    """
    SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           strftime(LEAD(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ), '%Y-%m-%d') AS next_orderdate
    FROM orders
    ORDER BY o_custkey, orderdate, o_orderkey
    """,
)
def next_order_date_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    out = with_next_value(
        orders,
        "o_orderdate",
        [F.asc("o_orderdate"), F.asc("o_orderkey")],
        keys=["o_custkey"],
        out_col="next_orderdate",
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.date_format("next_orderdate", "yyyy-MM-dd").alias("next_orderdate"),
    ).orderBy("o_custkey", "orderdate", "o_orderkey")


# ---------------------------------------------------------------------------
# J7 — range/interval join: assign facts to irregular calendar periods
# with LIMIT-1 disambiguation on overlap (etl_sync.py:229-233). Periods
# deliberately include an overlap and a gap (FIXTURES.md §A1).
# ---------------------------------------------------------------------------
_PERIODS = [
    (1, "1995-01-01", "1996-12-31"),
    (2, "1997-01-01", "1998-12-31"),
    (3, "1998-07-01", "1999-12-31"),  # overlaps period 2
    (4, "2000-06-01", "2001-12-31"),  # gap 2000-01..2000-05
]

_PERIODS_SQL = ", ".join(
    f"({pid}, DATE '{ini}', DATE '{fin}')" for pid, ini, fin in _PERIODS
)

@_register(
    "orders_period_range_join",
    f"""
    WITH periods(periodo_id, fecha_inicio, fecha_fin) AS (VALUES {_PERIODS_SQL}),
    assigned AS (
      SELECT o_orderkey, periodo_id
      FROM orders LEFT JOIN periods
        ON CAST(o_orderdate AS DATE) BETWEEN fecha_inicio AND fecha_fin
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_orderkey ORDER BY fecha_inicio NULLS LAST, periodo_id NULLS LAST) = 1
    )
    SELECT periodo_id, COUNT(*) AS n_orders
    FROM assigned GROUP BY periodo_id
    ORDER BY periodo_id NULLS LAST
    """,
)
def orders_period_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    periods = spark.createDataFrame(
        [(pid, ini, fin) for pid, ini, fin in _PERIODS],
        "periodo_id INT, fecha_inicio STRING, fecha_fin STRING",
    ).select(
        "periodo_id",
        F.col("fecha_inicio").cast("date").alias("fecha_inicio"),
        F.col("fecha_fin").cast("date").alias("fecha_fin"),
    )
    odate = F.col("o_orderdate").cast("date")
    # tiny build side → BroadcastNestedLoopJoin, fact side never shuffles
    joined = orders.join(
        F.broadcast(periods),
        odate.between(F.col("fecha_inicio"), F.col("fecha_fin")),
        "left",
    )
    # LIMIT-1 disambiguation as min_by instead of a row_number window:
    # a hash aggregate gets map-side partial combine (the BNLJ left the
    # fact partitioning intact, so overlap duplicates collapse before
    # the shuffle), where a window would sort-shuffle every joined row.
    # Matched rows never carry NULL fecha_inicio, so struct-min ==
    # (asc fecha_inicio, asc periodo_id); zero-match orders keep their
    # single NULL row.
    assigned = joined.groupBy("o_orderkey").agg(
        F.min_by(
            "periodo_id", F.struct("fecha_inicio", "periodo_id")
        ).alias("periodo_id")
    )
    return (
        assigned.groupBy("periodo_id")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.asc_nulls_last("periodo_id"))
    )


# ---------------------------------------------------------------------------
# A16/U1 — UNION ALL of labeled scalar counts (stats report,
# etl_sync.py:410-415).
# ---------------------------------------------------------------------------
@_register(
    "union_stats_report",
    """
    SELECT 'customers' AS tabla, COUNT(*) AS registros FROM customer
    UNION ALL SELECT 'orders', COUNT(*) FROM orders
    UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
    ORDER BY tabla
    """,
)
def union_stats_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = {"customer": "customers"}
    parts = [
        load_table(spark, sf_dir, t).agg(
            F.lit(labels.get(t, t)).alias("tabla"),
            F.count(F.lit(1)).alias("registros"),
        )
        for t in ("customer", "orders", "lineitem", "supplier")
    ]
    return reduce(DataFrame.unionAll, parts).orderBy("tabla")


# ---------------------------------------------------------------------------
# A14 — percent-of-total via an empty-frame window (app.js:436-459).
# ---------------------------------------------------------------------------
@_register(
    "segment_pct_of_total",
    """
    SELECT c_mktsegment, COUNT(*) AS n,
           ROUND(COUNT(*) * 100.0 / SUM(COUNT(*)) OVER (), 1) AS pct
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def segment_pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # single-partition window is BOUNDED: post-agg frame has one row
    # per market segment (5 at any scale) — WindowExec's warning is
    # expected and harmless here
    w = Window.partitionBy()
    return counts.withColumn(
        "pct", F.round(F.col("n") * 100.0 / F.sum("n").over(w), 1)
    ).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# O2/O3 — top-k by sort+limit (TakeOrderedAndProject; app.py:855, 943).
# ---------------------------------------------------------------------------
@_register(
    "top10_orders_by_price",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def top10_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# J1+A5+O3 at fact scale — the TPC-H Q3 shape: 3-way dim⋈fact⋈fact
# join (customer broadcasts; orders⋈lineitem shuffles on the join
# key), decimal-exact revenue, TakeOrderedAndProject top-10. Both
# date filters and the segment filter push into the parquet scans.
# ---------------------------------------------------------------------------
@_register(
    "top_unshipped_orders_q3",
    """
    SELECT l_orderkey,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))
                 * CAST(1 - l_discount AS DECIMAL(8,6))) AS DOUBLE), 0)
             AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def top_unshipped_orders_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-06-01"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-06-01"
    )
    revenue = F.round(
        F.sum(
            F.col("l_extendedprice").cast("decimal(27,6)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(8,6)")
        ).cast("double"),
        0,
    ).alias("revenue")
    return (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# S6 — catalog listing (reference information_schema probe,
# app.py:1298-1301) through spark.catalog.listTables(); the oracle
# pins the expected registered relations.
# ---------------------------------------------------------------------------
@_register(
    "catalog_tables",
    """
    SELECT * FROM (VALUES ('customer'), ('documents'), ('embeddings'),
      ('events'), ('lineitem'), ('nation'), ('orders'), ('part'),
      ('region'), ('supplier')) AS t(table_name)
    ORDER BY table_name
    """,
)
def catalog_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.schemas import TESTDATA_TABLES
    from epl_cas_etl_2026_spark.sources.parquet import register_views

    register_views(spark, sf_dir)
    listed = [
        (t.name,)
        for t in spark.catalog.listTables()
        if t.name in TESTDATA_TABLES
    ]
    return spark.createDataFrame(listed, "table_name string").orderBy(
        "table_name"
    )


# ---------------------------------------------------------------------------
# SQL API surface — the engine is equally drivable through
# spark.sql over registered views (sources/parquet.register_views);
# this query is authored as raw Spark SQL end-to-end. Also the only
# supplier-dim aggregation in the surface.
# ---------------------------------------------------------------------------
@_register(
    "supplier_acctbal_by_nation",
    f"""
    SELECT n_name,
           COUNT(*) AS n_suppliers,
           {det_avg_sql('s_acctbal')} AS avg_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def supplier_acctbal_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.sources.parquet import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               COUNT(*) AS n_suppliers,
               CAST(ROUND(AVG(CAST(s_acctbal AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS avg_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name
        """
    )


# ---------------------------------------------------------------------------
# A6+J at fact⋈dim scale — the TPC-H Q14 shape: promo revenue share.
# part (2k-200k rows) broadcasts under the session threshold; the
# lineitem side never shuffles. Decimal-exact revenue both engines.
# ---------------------------------------------------------------------------
@_register(
    "promo_revenue_share_q14",
    """
    SELECT ROUND(CAST(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(27,6))
                      * CAST(1 - l_discount AS DECIMAL(8,6))
                 ELSE 0 END)
               / SUM(CAST(l_extendedprice AS DECIMAL(27,6))
                     * CAST(1 - l_discount AS DECIMAL(8,6))) AS DOUBLE), 4)
             AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-02-01'
    """,
)
def promo_revenue_share_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-02-01")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(27,6)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,6)")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.round(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0))
                / F.sum(rev)
            ).cast("double"),
            4,
        ).alias("promo_revenue_pct")
    )


# ---------------------------------------------------------------------------
# A1+P5 at fact scale — the TPC-H Q6 shape: pure scan + pushed range
# predicates + one scalar decimal sum. The whole query is a single
# codegen'd map stage + a one-row final agg.
# ---------------------------------------------------------------------------
@_register(
    "forecast_revenue_q6",
    """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))
                 * CAST(l_discount AS DECIMAL(8,6))) AS DOUBLE), 2)
             AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.05
      AND l_quantity < 24
    """,
)
def forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & F.col("l_discount").between(0.02, 0.05)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(27,6)")
                * F.col("l_discount").cast("decimal(8,6)")
            ).cast("double"),
            2,
        ).alias("revenue_delta")
    )


# ---------------------------------------------------------------------------
# A5+A7+J at fact scale — the TPC-H Q18 shape: HAVING-filtered
# aggregate used as a semi-join filter back onto the facts (large-
# quantity orders and their customers).
# ---------------------------------------------------------------------------
@_register(
    "large_orders_q18",
    """
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 270
    )
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE), 2)
             AS total_qty
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY o_custkey, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey LIMIT 20
    """,
)
def large_orders_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 270)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(27,6)")).cast(
                    "double"
                ),
                2,
            ).alias("total_qty")
        )
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# P5+P8 disjunctive OR-of-ANDs at fact scale — the TPC-H Q19 shape.
# The disjunction spans BOTH tables, so it can only run post-join; the
# classic optimization (done here explicitly, as every production Q19
# plan does) hoists the per-table envelope of the OR blocks into
# redundant conjuncts — p_brand IN (...), p_size/l_quantity range — so
# the parquet scans prune (PushedFilters) before the join instead of
# feeding every row to the disjunction. part broadcasts under the
# session threshold; the lineitem side never shuffles.
# ---------------------------------------------------------------------------
@_register(
    "disjunctive_revenue_q19",
    """
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))
                          * CAST(1 - l_discount AS DECIMAL(8,6))) AS DOUBLE),
                 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand IN ('Brand#12', 'Brand#23', 'Brand#3')
      AND l_quantity BETWEEN 1 AND 30
      AND p_size BETWEEN 1 AND 35
      AND ((p_brand = 'Brand#12' AND p_size <= 15
            AND l_quantity BETWEEN 1 AND 11)
        OR (p_brand = 'Brand#23' AND p_size <= 25
            AND l_quantity BETWEEN 10 AND 20)
        OR (p_brand = 'Brand#3' AND p_size <= 35
            AND l_quantity BETWEEN 20 AND 30))
    """,
)
def disjunctive_revenue_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # per-table envelopes — these are what reach the scans as
    # PushedFilters; the cross-table disjunction below runs post-join
    li = li.filter(F.col("l_quantity").between(1, 30))
    part = part.filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3")
        & F.col("p_size").between(1, 35)
    )
    block = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size") <= 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size") <= 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size") <= 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(27,6)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,6)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(block)
        .agg(F.round(revenue.cast("double"), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# W1 at fact scale — two-phase global competition rank: range
# partition on the score + local rank + prefix offsets, so NO
# single-partition WindowExec exists in the plan. This is the path
# competition_rank's cardinality guard redirects fact-grained frames
# to (plan asserted in tests/test_layout.py).
# ---------------------------------------------------------------------------
@_register(
    "orders_global_rank_two_phase",
    """
    SELECT o_orderkey,
           CAST(RANK() OVER (ORDER BY o_totalprice DESC) AS BIGINT) AS posicion
    FROM orders
    ORDER BY posicion, o_orderkey
    """,
)
def orders_global_rank_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.ranking import (
        two_phase_competition_rank,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return (
        two_phase_competition_rank(orders, "o_totalprice")
        .select("o_orderkey", "posicion")
        .orderBy("posicion", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# P2-P8 — predicate stack: IN-list, LIKE, range, projection (pushed to
# the parquet scan; reference assembles these by string concat,
# app.py:688-702 — here it's conditional .filter chaining).
# ---------------------------------------------------------------------------
@_register(
    "filtered_parts",
    """
    SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
    FROM part
    WHERE p_size IN (5, 10, 15, 20)
      AND p_type LIKE '%A%'
      AND p_retailprice BETWEEN 1000 AND 1800
    ORDER BY p_partkey
    """,
)
def filtered_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size").isin(5, 10, 15, 20))
        .filter(F.col("p_type").like("%A%"))
        .filter(F.col("p_retailprice").between(1000, 1800))
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# A1/A2/A3 — scalar aggregates (app.py:354, 137-140, 281-283).
# ---------------------------------------------------------------------------
@_register(
    "lineitem_scalar_stats",
    """
    SELECT ROUND(AVG(l_extendedprice), 2) AS avg_price,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def lineitem_scalar_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .agg(
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
        )
    )


# ---------------------------------------------------------------------------
# A11 — UNWEIGHTED average-of-averages vs A13 — weighted regroup.
# The reference's two deliberately different averaging semantics
# (app.py:1186-1189 vs 65-89) side by side on the same data.
# ---------------------------------------------------------------------------
@_register(
    "nation_avg_of_segment_avgs",
    """
    WITH inner_avg AS (
      SELECT c_nationkey, c_mktsegment, AVG(c_acctbal) AS seg_avg
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT c_nationkey,
           ROUND(AVG(seg_avg), 2) AS promedio_unweighted,
           COUNT(*) AS n_segments
    FROM inner_avg GROUP BY c_nationkey ORDER BY c_nationkey
    """,
)
def nation_avg_of_segment_avgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    inner = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.avg("c_acctbal").alias("seg_avg")
    )
    return (
        inner.groupBy("c_nationkey")
        .agg(
            F.round(F.avg("seg_avg"), 2).alias("promedio_unweighted"),
            F.count(F.lit(1)).alias("n_segments"),
        )
        .orderBy("c_nationkey")
    )


@_register(
    "regrouped_weighted_avg",
    """
    SELECT CASE WHEN n_name LIKE 'NATION_1%' THEN 'NATION_1X' ELSE n_name END AS agrupacion,
           ROUND(AVG(c_acctbal), 2) AS promedio,
           COUNT(*) AS n_rows
    FROM nation JOIN customer ON n_nationkey = c_nationkey
    GROUP BY agrupacion
    ORDER BY agrupacion
    """,
)
def regrouped_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A13: members regroup under one banner ('PLOG %' → PLOG in the
    # reference; NATION_1* here) and the average pools ALL member rows —
    # explicitly NOT the average of member averages.
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    base = nation.join(customer, nation.n_nationkey == customer.c_nationkey)
    keyed = base.withColumn(
        "agrupacion",
        F.when(F.col("n_name").startswith("NATION_1"), F.lit("NATION_1X")).otherwise(
            F.col("n_name")
        ),
    )
    return (
        keyed.groupBy("agrupacion")
        .agg(
            F.round(F.avg("c_acctbal"), 2).alias("promedio"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("agrupacion")
    )


# ---------------------------------------------------------------------------
# W3 — intra-group nested rank (posicion_interna, app.py:566-586)
# on top of the regrouped key.
# ---------------------------------------------------------------------------
@_register(
    "intra_group_nation_rank",
    """
    WITH agg AS (
      SELECT CASE WHEN n_name LIKE 'NATION_1%' THEN 'NATION_1X' ELSE 'OTRAS' END AS agrupacion,
             n_name, ROUND(AVG(c_acctbal), 2) AS promedio
      FROM nation JOIN customer ON n_nationkey = c_nationkey
      GROUP BY agrupacion, n_name
    )
    SELECT agrupacion, n_name, promedio,
           CASE WHEN promedio IS NOT NULL THEN RANK() OVER (
             PARTITION BY agrupacion ORDER BY promedio DESC NULLS LAST) END AS posicion_interna
    FROM agg
    ORDER BY agrupacion, promedio DESC NULLS LAST, n_name
    """,
)
def intra_group_nation_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    agg = (
        nation.join(customer, nation.n_nationkey == customer.c_nationkey)
        .withColumn(
            "agrupacion",
            F.when(
                F.col("n_name").startswith("NATION_1"), F.lit("NATION_1X")
            ).otherwise(F.lit("OTRAS")),
        )
        .groupBy("agrupacion", "n_name")
        .agg(F.round(F.avg("c_acctbal"), 2).alias("promedio"))
    )
    ranked = intra_group_rank(agg, "agrupacion", "promedio")
    return ranked.orderBy(
        "agrupacion", F.desc_nulls_last("promedio"), F.asc("n_name")
    )


# ---------------------------------------------------------------------------
# F1 — color-class bucketing CASE (get_color_class, app.py:32-42).
# ---------------------------------------------------------------------------
@_register(
    "acctbal_color_class",
    """
    SELECT CASE WHEN c_acctbal IS NULL THEN 'gray'
                WHEN c_acctbal >= 9000 THEN 'excellent'
                WHEN c_acctbal >= 8000 THEN 'good'
                WHEN c_acctbal >= 7000 THEN 'regular'
                ELSE 'critical' END AS clase,
           COUNT(*) AS n
    FROM customer GROUP BY clase ORDER BY clase
    """,
)
def acctbal_color_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    # thresholds adapted to acctbal scale; labels are the reference's
    # get_color_class classes verbatim (app.py:32-42)
    buckets = ((9000.0, "excellent"), (8000.0, "good"), (7000.0, "regular"))
    return (
        load_table(spark, sf_dir, "customer")
        .withColumn("clase", color_class(F.col("c_acctbal"), buckets=buckets))
        .groupBy("clase")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("clase")
    )


# ---------------------------------------------------------------------------
# F2 — territory classification by substring containment
# (get_territorio, app.py:44-55), keyword lists adapted to the
# synthetic nation names.
# ---------------------------------------------------------------------------
@_register(
    "nation_territory_classify",
    """
    SELECT CASE WHEN contains(lower(n_name), '_1') OR contains(lower(n_name), '_3') THEN 'local'
                WHEN contains(lower(n_name), '_2') THEN 'mixto'
                ELSE 'foranea' END AS territorio,
           COUNT(*) AS n_nations
    FROM nation GROUP BY territorio ORDER BY territorio
    """,
)
def nation_territory_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "nation")
        .withColumn(
            "territorio",
            territorio(
                F.col("n_name"),
                local_keywords=("_1", "_3"),
                mixto_keywords=("_2",),
            ),
        )
        .groupBy("territorio")
        .agg(F.count(F.lit(1)).alias("n_nations"))
        .orderBy("territorio")
    )


# ---------------------------------------------------------------------------
# F8 — COALESCE defaults over a sparse LEFT JOIN (app.py:788:
# COALESCE(AVG(..), 0) for dims with no facts).
# ---------------------------------------------------------------------------
@_register(
    "nation_supplier_coalesce",
    """
    SELECT n_nationkey, n_name,
           ROUND(COALESCE(AVG(s_acctbal), 0), 2) AS avg_supp_bal,
           COUNT(s_suppkey) AS n_suppliers
    FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_nationkey, n_name
    ORDER BY n_nationkey
    """,
)
def nation_supplier_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        nation.join(supplier, supplier.s_nationkey == nation.n_nationkey, "left")
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.round(F.coalesce(F.avg("s_acctbal"), F.lit(0)), 2).alias(
                "avg_supp_bal"
            ),
            F.count("s_suppkey").alias("n_suppliers"),
        )
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# F5/F6 — date bucketing + formatting (DATE(), strftime('%d/%m'),
# etl_sync.py:288, app.py:949).
# ---------------------------------------------------------------------------
@_register(
    "orders_by_month",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS mes,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 0) AS total
    FROM orders GROUP BY mes ORDER BY mes
    """,
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .withColumn("mes", F.date_format("o_orderdate", "yyyy-MM"))
        .groupBy("mes")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum("o_totalprice", "total", 0),
        )
        .orderBy("mes")
    )


# ---------------------------------------------------------------------------
# A12 — cross-entity unweighted mean per period (app.py:1195-1202: the
# "EPL CAS" row = mean over group-averages, per period). Here: per
# mktsegment, the unweighted mean over per-nation averages.
# ---------------------------------------------------------------------------
@_register(
    "segment_unweighted_nation_mean",
    """
    WITH nation_avg AS (
      SELECT c_mktsegment, c_nationkey, AVG(c_acctbal) AS nat_avg
      FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment,
           ROUND(AVG(nat_avg), 2) AS promedio_global,
           COUNT(*) AS n_nations
    FROM nation_avg GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def segment_unweighted_nation_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    inner = customer.groupBy("c_mktsegment", "c_nationkey").agg(
        F.avg("c_acctbal").alias("nat_avg")
    )
    return (
        inner.groupBy("c_mktsegment")
        .agg(
            F.round(F.avg("nat_avg"), 2).alias("promedio_global"),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# ROLLUP — multi-granularity totals in ONE pass. The reference fans out
# a separate query per dashboard level (SURVEY.md §2.4 note); rollup
# collapses the fan-out into a single shuffle with partial aggregation
# shared across levels.
# ---------------------------------------------------------------------------
@_register(
    "region_nation_rollup",
    """
    SELECT COALESCE(r_name, '__total__') AS r_name,
           COALESCE(CASE WHEN GROUPING(n_name) = 1 THEN '__subtotal__' ELSE n_name END,
                    '__subtotal__') AS n_name,
           COUNT(c_custkey) AS n_customers,
           ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE), 0) AS total_bal
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    GROUP BY ROLLUP(r_name, n_name)
    ORDER BY r_name, n_name
    """,
)
def region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    base = (
        F.broadcast(region)
        .join(nation, nation.n_regionkey == region.r_regionkey)
        .join(customer, customer.c_nationkey == nation.n_nationkey)
    )
    rolled = base.rollup("r_name", "n_name").agg(
        F.count("c_custkey").alias("n_customers"),
        _dsum("c_acctbal", "total_bal", 0),
        F.grouping("n_name").alias("__gn"),
    )
    return (
        rolled.select(
            F.coalesce("r_name", F.lit("__total__")).alias("r_name"),
            F.coalesce(
                F.when(F.col("__gn") == 1, F.lit("__subtotal__")).otherwise(
                    F.col("n_name")
                ),
                F.lit("__subtotal__"),
            ).alias("n_name"),
            "n_customers",
            "total_bal",
        )
        .orderBy("r_name", "n_name")
    )


# ---------------------------------------------------------------------------
# J5/J10 — broadcast FK-lookup enrichment (the scalar-subquery INSERT
# lookup etl_sync.py:240-241 and single-row enrich app.py:829-835,
# made set-wise): resolve each order's customer → nation name.
# ---------------------------------------------------------------------------
@_register(
    "orders_enrich_customer_nation",
    """
    SELECT o_orderkey, c_name, n_name, o_totalprice
    FROM orders
    LEFT JOIN customer ON c_custkey = o_custkey
    LEFT JOIN nation ON n_nationkey = c_nationkey
    WHERE o_orderkey < 200
    ORDER BY o_orderkey
    """,
)
def orders_enrich_customer_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left"
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .select("o_orderkey", "c_name", "n_name", "o_totalprice")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# J8 — composite-key recovery join (etl_sync.py:280-293: borrow a
# missing attribute from a sibling row sharing a composite key, with a
# deterministic LIMIT-1 pick + COALESCE). Here: orders in status 'P'
# act as "attribute missing" and borrow o_orderpriority from the
# customer's earliest non-P order that year.
# ---------------------------------------------------------------------------
@_register(
    "orders_priority_recovery",
    """
    WITH donors AS (
      -- pre-aggregate to ONE donor per composite key (arg-min on the
      -- donor id): the join then has no fanout and needs no window
      SELECT o_custkey AS d_cust, year(o_orderdate) AS d_year,
             arg_min(o_orderpriority, o_orderkey) AS d_prio
      FROM orders WHERE o_orderstatus <> 'P'
      GROUP BY d_cust, d_year
    )
    SELECT COALESCE(d.d_prio, o.o_orderpriority) AS recovered_priority,
           COUNT(*) AS n_recovered
    FROM orders o LEFT JOIN donors d
      ON d.d_cust = o.o_custkey AND d.d_year = year(o.o_orderdate)
    WHERE o.o_orderstatus = 'P'
    GROUP BY recovered_priority ORDER BY recovered_priority
    """,
)
def orders_priority_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # arg-min pre-aggregation replaces the reference's per-row LIMIT 1
    # pick: no join fanout, no per-row window — one partial-agg shuffle
    # over the donor side, then a plain left join.
    donors = (
        orders.filter(F.col("o_orderstatus") != "P")
        .groupBy(
            F.col("o_custkey").alias("d_cust"),
            F.year("o_orderdate").alias("d_year"),
        )
        .agg(F.min_by("o_orderpriority", "o_orderkey").alias("d_prio"))
    )
    pending = orders.filter(F.col("o_orderstatus") == "P")
    joined = pending.join(
        donors,
        (F.col("d_cust") == F.col("o_custkey"))
        & (F.col("d_year") == F.year("o_orderdate")),
        "left",
    )
    return (
        joined.withColumn(
            "recovered_priority",
            F.coalesce(F.col("d_prio"), F.col("o_orderpriority")),
        )
        .groupBy("recovered_priority")
        .agg(F.count(F.lit(1)).alias("n_recovered"))
        .orderBy("recovered_priority")
    )


# ---------------------------------------------------------------------------
# S8 — health probe (app.py:1287: SELECT 1 behind /api/health).
# ---------------------------------------------------------------------------
@_register("health_probe", "SELECT 1 AS ok")
def health_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql("SELECT 1 AS ok")


# ---------------------------------------------------------------------------
# A5+W6 — year-over-year growth: aggregate to a yearly series (exact
# integer cents), then LAG over the tiny post-aggregation frame.
# The global window touches <=10 rows AFTER the shuffle-reducing
# hash-agg — the same post-agg-only-global-window discipline as
# competition_rank (operators/ranking.py cardinality guard).
# ---------------------------------------------------------------------------
@_register(
    "orders_yoy_growth",
    """
    WITH yearly AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
             SUM(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                      AS HUGEINT)) AS cents
      FROM orders GROUP BY order_year
    )
    SELECT order_year,
           ROUND(CAST(cents AS DOUBLE) / 100, 2) AS revenue,
           ROUND((CAST(cents AS DOUBLE)
                  - CAST(LAG(cents) OVER (ORDER BY order_year) AS DOUBLE))
                 * 100.0
                 / CAST(LAG(cents) OVER (ORDER BY order_year) AS DOUBLE),
                 4) AS yoy_pct
    FROM yearly ORDER BY order_year
    """,
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("decimal(38,0)")
    yearly = orders.groupBy(
        F.year("o_orderdate").cast("int").alias("order_year")
    ).agg(F.sum(cents).alias("cents"))
    w = Window.orderBy("order_year")  # post-agg: <=10 rows
    cur = F.col("cents").cast("double")
    prev = F.lag("cents").over(w).cast("double")
    return (
        yearly.select(
            "order_year",
            F.round(cur / 100, 2).alias("revenue"),
            F.round((cur - prev) * 100.0 / prev, 4).alias("yoy_pct"),
        )
        .orderBy("order_year")
    )


# ---------------------------------------------------------------------------
# J1 at multi-fact scale with a DUAL-ROLE dimension — the TPC-H Q7
# shape: trade volume between nation pairs, where nation joins TWICE
# under different roles (supplier's vs customer's). Both nation sides
# broadcast; the only shuffles are the two fact⋈fact joins
# (lineitem⋈orders on orderkey, then ⋈customer on custkey) and the
# final pair aggregation. The disjunctive pair filter prunes at the
# broadcast-join output before the wide joins.
# ---------------------------------------------------------------------------
@_register(
    "nation_trade_volume_q7",
    """
    SELECT supp_nation, cust_nation,
           CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))
                          * CAST(1 - l_discount AS DECIMAL(8,6)))
                      AS DOUBLE), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             l_shipdate, l_extendedprice, l_discount
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_9')
          OR (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def nation_trade_volume_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("supp_nation"),
    ).filter(F.col("supp_nation").isin("NATION_3", "NATION_9"))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("cust_nation"),
    ).filter(F.col("cust_nation").isin("NATION_3", "NATION_9"))
    joined = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_3")
                & (F.col("cust_nation") == "NATION_9")
            )
            | (
                (F.col("supp_nation") == "NATION_9")
                & (F.col("cust_nation") == "NATION_3")
            )
        )
    )
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(27,6)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(8,6)")
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.round(revenue.cast("double"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item revenue per customer over one quarter,
# top 20. Fact⋈fact join on orderkey (shuffle), every dim side
# broadcast; decimal-exact revenue; TakeOrderedAndProject for the
# LIMIT. Reference parity: the dashboard's "worst branches by score"
# ranking (app.py top/bottom entity lists) is this same
# fact-filter → enrich → rank-limit shape.
# ---------------------------------------------------------------------------
@_register(
    "returned_item_revenue_q10",
    """
    SELECT c_custkey, c_name,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))
                 * CAST(1 - l_discount AS DECIMAL(8,6))) AS DOUBLE), 0)
             AS revenue,
           ROUND(c_acctbal, 2) AS c_acctbal,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def returned_item_revenue_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    revenue = F.round(
        F.sum(
            F.col("l_extendedprice").cast("decimal(27,6)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(8,6)")
        ).cast("double"),
        0,
    ).alias("revenue")
    return (
        orders.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.select(
                "c_custkey", "c_name", "c_acctbal", "c_nationkey"
            )),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(revenue)
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q5 shape: local-supplier volume per nation for one region-year —
# the classic 6-way star join where supplier and customer must share a
# nation (the extra equi-condition on the fact path). region/nation/
# supplier/customer broadcast; the only shuffle joins orders⋈lineitem.
# ---------------------------------------------------------------------------
@_register(
    "local_supplier_volume_q5",
    """
    SELECT n_name,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))
                 * CAST(1 - l_discount AS DECIMAL(8,6))) AS DOUBLE), 0)
             AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def local_supplier_volume_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    asia_nations = nation.join(
        F.broadcast(region.select("r_regionkey")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    revenue = F.round(
        F.sum(
            F.col("l_extendedprice").cast("decimal(27,6)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(8,6)")
        ).cast("double"),
        0,
    ).alias("revenue")
    return (
        orders.join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(asia_nations),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(revenue)
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q4 shape (app.py has no EXISTS queries; this is the canonical
# semi-join form of its "entities having data" checks, A9/J6 family):
# orders in a quarter having at least one returned line, counted by
# priority. The EXISTS decorrelates to a LEFT SEMI join — lineitem
# never widens the orders rows, no DISTINCT needed. (Slim testdata
# schema has no l_commitdate/l_receiptdate; l_returnflag='R' stands in
# as the per-line predicate — the plan shape is Q4's.)
# ---------------------------------------------------------------------------
@_register(
    "priority_semi_q4",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def priority_semi_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    returned = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(
            returned,
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape — the customer order-count DISTRIBUTION: LEFT JOIN
# with the filter in the ON clause (the J2 trap at fact scale: a WHERE
# would drop zero-order customers and the 0 bucket), COUNT(col) over
# the null-extended rows, then a second grouping over the counts.
# ---------------------------------------------------------------------------
@_register(
    "customer_order_distribution_q13",
    """
    WITH co AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderstatus <> 'F'
      GROUP BY c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def customer_order_distribution_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") != "F"
    )
    per_cust = (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape — correlated scalar subquery (per-part average)
# decorrelated to a groupBy + join: revenue from lines whose quantity
# is below 20% of their part's average. The threshold compare runs in
# EXACT integer arithmetic (5·q·cnt < sum — l_quantity is
# integer-valued, every product < 2^53), so no float boundary can flip
# a row between engines; output is integer cents with exact // 7.
# ---------------------------------------------------------------------------
@_register(
    "small_quantity_revenue_q17",
    """
    WITH pa AS (
      SELECT l_partkey,
             CAST(SUM(l_quantity) AS BIGINT) AS sum_q,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(FLOOR(SUM(l_extendedprice) * 100 + 0.5) AS BIGINT)
             // 7 AS avg_yearly_cents
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa USING (l_partkey)
    WHERE p_brand = 'Brand#23' AND p_size < 10
      AND l_quantity * 5 * cnt < sum_q
    """,
)
def small_quantity_revenue_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 10)
    )
    per_part = lineitem.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        F.sum("l_quantity").cast("long").alias("sum_q"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        lineitem.join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(per_part, F.col("l_partkey") == F.col("pa_partkey"))
        .filter(F.col("l_quantity") * 5 * F.col("cnt") < F.col("sum_q"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.floor(F.sum("l_extendedprice") * 100 + 0.5)
            .cast("long")
            .alias("__cents"),
        )
        # integer `div`, not float division: cents can exceed 2^53 at
        # large scale factors, where a double round-trip loses cents
        .select(
            "n_lines",
            F.expr("__cents div 7").alias("avg_yearly_cents"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape — EXISTS + NOT EXISTS chained on the same fact:
# suppliers who were the ONLY supplier with returned lines on a
# multi-supplier finalized order. Decorrelates to one LEFT SEMI (some
# other supplier on the order) and one LEFT ANTI (no other supplier
# with a returned line) against per-order supplier sets — three scans
# of lineitem, zero correlated subqueries at runtime.
# ---------------------------------------------------------------------------
@_register(
    "problem_supplier_q21",
    """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND n_name IN ('NATION_3', 'NATION_7')
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 10
    """,
)
def problem_supplier_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    orders_f = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    l1 = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    others = lineitem.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    others_returned = lineitem.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    sole_problem = (
        l1.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        ).join(
            others_returned,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    return (
        sole_problem.join(
            orders_f.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .join(
            F.broadcast(
                supplier.join(
                    F.broadcast(nation),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                ).select("s_suppkey", "s_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )
