"""Decision-support query shapes completing the TPC-H suite (Q2, Q8,
Q9, Q11, Q12, Q15, Q16, Q20, Q22) over the driver's TPC-H-ish testdata.

The testdata has no ``partsupp`` table and a reduced ``lineitem``
(no shipmode/commitdate), so each query keeps its *characteristic
operator shape* — the thing the optimizer has to get right — while
sourcing supplier-part economics from ``lineitem``:

- Q2  correlated MIN subquery  → decorrelated groupBy-min + equality
      join-back (min-offer supplier per part in a region)
- Q8  two-level conditional market share with a dual-role nation dim
- Q9  multi-way profit rollup (revenue minus cost proxy) by nation/year
- Q11 scalar-subquery threshold (part value > fraction of global total)
- Q12 fact⋈fact join + conditional CASE counts per class
- Q15 view-style agg + scalar MAX equality join (ties kept, exact
      decimal compare — no float boundary)
- Q16 COUNT(DISTINCT) per part attribute with a broadcast anti-join
      exclusion list
- Q20 nested correlated-agg semi-join chain (share-of-shipments
      threshold, integer-exact cross-multiplied)
- Q22 anti-join + scalar-subquery average threshold (cross-multiplied
      in decimal so no float boundary can flip a row)

Reference parity: the reference engine's dashboard composes the same
shapes over its dims/facts (RDG-CONSULTORES/epl-cas-etl-2026 app.py —
grouped conditional aggregates :447-455, top/bottom entity rankings,
threshold screens); these queries exercise them at fact scale.

Scale notes (100 TB): broadcast HINTS are reserved for fixed-size
sides (nation, region, 1-row scalar aggregates). SF-scaled sides
(supplier, part, customer — they grow with the data in TPC-H
semantics) carry NO hint: under the session's 64 MiB threshold + AQE
they broadcast at test scale, and the SAME code picks a shuffle join
at 100 TB instead of force-broadcasting a billion-row table. The only
corpus-sized shuffles are fact-keyed (orderkey/custkey/
suppkey-partkey aggregates). Scalar subqueries (Q11/Q15/Q22
thresholds) materialize as 1-row broadcast cross joins — no driver
collect, no SinglePartition window.
Numeric determinism follows plans/relational.py: money math in exact
DECIMAL, emitted as rounded DOUBLE; threshold comparisons are
cross-multiplied in DECIMAL/integers so no engine-dependent float
rounding can flip a boundary row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.plans.registry import register as _register
from epl_cas_etl_2026_spark.sources.parquet import load_table


def _rev_dec():
    """Exact decimal revenue term: extendedprice * (1 - discount)."""
    return F.col("l_extendedprice").cast("decimal(27,6)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(8,6)")


# ---------------------------------------------------------------------------
# TPC-H Q2 shape — min-cost supplier per part in a region. The original
# correlates a scalar MIN(ps_supplycost) subquery per part; the Spark
# plan decorrelates it: per-(part, supplier) min offer from lineitem,
# per-part min among in-region suppliers, equality join-back keeps all
# tied minima. The filtered part/supplier sides join unhinted (they
# broadcast under the threshold at test scale, shuffle at 100 TB); the
# wide shuffle is the (partkey, suppkey) aggregate, pre-pruned by the
# part join so non-qualifying parts never reach it.
# ---------------------------------------------------------------------------
@_register(
    "min_cost_supplier_q2",
    """
    WITH px AS (
      SELECT p_partkey FROM part WHERE p_size <= 15 AND p_type = 'SMALL'
    ), euro AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ), offers AS (
      SELECT l_partkey AS p_partkey, l_suppkey,
             MIN(l_extendedprice) AS offer
      FROM lineitem JOIN px ON l_partkey = px.p_partkey
      GROUP BY 1, 2
    ), cand AS (
      SELECT o.p_partkey, e.s_name, e.s_acctbal, e.n_name, o.offer
      FROM offers o JOIN euro e ON o.l_suppkey = e.s_suppkey
    )
    SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name,
           p_partkey, ROUND(offer, 2) AS offer
    FROM cand c
    WHERE offer = (SELECT MIN(offer) FROM cand c2
                   WHERE c2.p_partkey = c.p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def min_cost_supplier_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "SMALL"))
        .select("p_partkey")
    )
    euro = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        load_table(spark, sf_dir, "lineitem")
        .join(px, F.col("l_partkey") == px.p_partkey)
        .groupBy(F.col("l_partkey").alias("p_partkey"), "l_suppkey")
        .agg(F.min("l_extendedprice").alias("offer"))
    )
    cand = offers.join(
        euro, offers.l_suppkey == euro.s_suppkey
    ).select("p_partkey", "s_name", "s_acctbal", "n_name", "offer")
    part_min = cand.groupBy("p_partkey").agg(F.min("offer").alias("min_offer"))
    return (
        cand.join(part_min, ["p_partkey"])
        .filter(F.col("offer") == F.col("min_offer"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            F.round("offer", 2).alias("offer"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape — national market share inside a regional market:
# share = conditional volume / total volume per year. Nation plays two
# roles (customer's region gate, supplier's share target), both
# broadcast. Volumes summed in exact decimal; the share division
# happens once per year-row on identical doubles in both engines.
# ---------------------------------------------------------------------------
@_register(
    "market_share_q8",
    """
    WITH asia AS (
      SELECT n_nationkey FROM nation
      JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'
    )
    SELECT o_year,
           ROUND(CAST(nat_vol AS DOUBLE) / CAST(tot_vol AS DOUBLE), 4)
             AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
             SUM(CASE WHEN n2.n_name = 'NATION_2'
                 THEN CAST(l_extendedprice AS DECIMAL(27,6))
                      * CAST(1 - l_discount AS DECIMAL(8,6))
                 ELSE 0 END) AS nat_vol,
             SUM(CAST(l_extendedprice AS DECIMAL(27,6))
                 * CAST(1 - l_discount AS DECIMAL(8,6))) AS tot_vol
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN asia ON c_nationkey = asia.n_nationkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY o_year
    )
    ORDER BY o_year
    """,
)
def market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    asia = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "ASIA")
        .select(F.col("n_nationkey").alias("asia_key"))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = _rev_dec()
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(asia), cust.c_nationkey == F.col("asia_key"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
    )
    agg = joined.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(F.lit(0))
        ).alias("nat_vol"),
        F.sum(vol).alias("tot_vol"),
    )
    return agg.select(
        "o_year",
        F.round(
            F.col("nat_vol").cast("double") / F.col("tot_vol").cast("double"),
            4,
        ).alias("mkt_share"),
    ).orderBy("o_year")


# ---------------------------------------------------------------------------
# TPC-H Q9 shape — product-line profit by (supplier nation, year):
# revenue minus a cost proxy (0.5 * retailprice * quantity; the
# testdata has no ps_supplycost). Both terms are summed in exact
# decimal; the 0.5 scaling happens on the final double (multiplying a
# double by 0.5 is an exact exponent shift, so both engines agree
# bit-for-bit). Part name filter broadcast-pruned before the shuffle.
# ---------------------------------------------------------------------------
@_register(
    "product_profit_q9",
    """
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))
                          * CAST(1 - l_discount AS DECIMAL(8,6)))
                      AS DOUBLE)
                 - 0.5 * CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))
                                  * CAST(l_quantity AS DECIMAL(10,0)))
                              AS DOUBLE), 0) AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE 'hot%'
    GROUP BY n_name, o_year
    ORDER BY nation, o_year DESC
    """,
)
def product_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("hot%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    cost = F.col("p_retailprice").cast("decimal(12,2)") * F.col(
        "l_quantity"
    ).cast("decimal(10,0)")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(_rev_dec()).cast("double")
                - F.lit(0.5) * F.sum(cost).cast("double"),
                0,
            ).alias("profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape — "important stock": per-part shipped value for one
# nation's suppliers, kept when above a fixed fraction (1/2000) of the
# total. The scalar total is a 1-row broadcast cross join (no driver
# round-trip); the threshold is cross-multiplied in decimal
# (value * 2000 > total) so no float boundary exists.
# ---------------------------------------------------------------------------
@_register(
    "important_stock_q11",
    """
    WITH nat_supp AS (
      SELECT s_suppkey FROM supplier
      JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7'
    ), vals AS (
      SELECT l_partkey AS p_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))
                      * CAST(l_quantity AS DECIMAL(10,0)))
                  AS DECIMAL(24,6)) AS part_value
      FROM lineitem JOIN nat_supp ON l_suppkey = s_suppkey
      GROUP BY 1
    )
    SELECT p_partkey,
           ROUND(CAST(part_value AS DOUBLE), 2) AS stock_value
    FROM vals, (SELECT CAST(SUM(part_value) AS DECIMAL(30,6)) AS total
                FROM vals) t
    WHERE part_value * 2000 > total
    ORDER BY stock_value DESC, p_partkey
    """,
)
def important_stock_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat_supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("n_name") == "NATION_7")
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    vals = (
        li.join(nat_supp, li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(27,6)")
                * F.col("l_quantity").cast("decimal(10,0)")
            )
            .cast("decimal(24,6)")
            .alias("part_value")
        )
    )
    total = vals.agg(
        F.sum("part_value").cast("decimal(30,6)").alias("total")
    )
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") * 2000 > F.col("total"))
        .select(
            "p_partkey",
            F.round(F.col("part_value").cast("double"), 2).alias(
                "stock_value"
            ),
        )
        .orderBy(F.desc("stock_value"), "p_partkey")
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape — fact⋈fact join with per-class conditional counts
# (high/low order priority per line status; the testdata has no
# shipmode column). One shuffle join on orderkey, map-side partial
# aggregation into a 2-row result.
# ---------------------------------------------------------------------------
@_register(
    "priority_lines_q12",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag = 'N'
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def priority_lines_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_returnflag") == "N")
        & (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape — top supplier by quarterly revenue via a revenue
# "view" plus a scalar MAX equality join. Revenue stays DECIMAL through
# the MAX and the equality (ties kept exactly); only the emitted column
# is cast to rounded double. The MAX is a 1-row broadcast cross join.
# ---------------------------------------------------------------------------
@_register(
    "top_supplier_q15",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(27,6))
                 * CAST(1 - l_discount AS DECIMAL(8,6))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           ROUND(CAST(total_revenue AS DOUBLE), 2) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_dec()).alias("total_revenue")
    )
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_revenue"))
        .join(supp, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_revenue").cast("double"), 2).alias(
                "total_revenue"
            ),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape — supplier variety per part attribute with an
# exclusion list: COUNT(DISTINCT suppkey) per (brand, type, size),
# excluding negative-balance suppliers (the testdata's stand-in for
# the complaints list) via a broadcast anti-join BEFORE the distinct
# aggregation, so excluded rows never shuffle.
# ---------------------------------------------------------------------------
@_register(
    "supplier_variety_q16",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT IN ('PROMO', 'ECONOMY')
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def supplier_variety_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").isin("PROMO", "ECONOMY"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    excluded = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(excluded, li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(
            F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt")
        )
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# TPC-H Q20 shape — promotion candidates via a nested correlated-agg
# semi-join: suppliers in one region who shipped more than a quarter of
# their all-time volume of 'red%' parts during 1997. The correlated
# per-(supplier, part) quantity subquery decorrelates into one
# conditional aggregate; the share threshold is integer-exact
# (4 * qty97 > qty_all on decimal sums of integral quantities), and the
# qualifying supplier set reaches `supplier` as a semi-join.
# ---------------------------------------------------------------------------
@_register(
    "promotion_candidates_q20",
    """
    WITH red_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ), shipped AS (
      SELECT l_suppkey,
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                       AND l_shipdate < TIMESTAMP '1998-01-01'
                 THEN CAST(l_quantity AS DECIMAL(12,0)) ELSE 0 END) AS qty97,
             SUM(CAST(l_quantity AS DECIMAL(12,0))) AS qty_all
      FROM lineitem JOIN red_parts ON l_partkey = p_partkey
      GROUP BY l_suppkey, l_partkey
    )
    SELECT s_name, ROUND(s_acctbal, 2) AS s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND s_suppkey IN (SELECT l_suppkey FROM shipped
                        WHERE qty97 > 0 AND 4 * qty97 > qty_all)
    ORDER BY s_name
    """,
)
def promotion_candidates_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    red_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    in97 = (F.col("l_shipdate") >= "1997-01-01") & (
        F.col("l_shipdate") < "1998-01-01"
    )
    qty = F.col("l_quantity").cast("decimal(12,0)")
    shipped = (
        li.join(red_parts, li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in97, qty).otherwise(F.lit(0))).alias("qty97"),
            F.sum(qty).alias("qty_all"),
        )
    )
    qualifying = (
        shipped.filter(
            (F.col("qty97") > 0) & (F.lit(4) * F.col("qty97") > F.col("qty_all"))
        )
        .select("l_suppkey")
        .distinct()
    )
    asia_supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        asia_supp.join(
            qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape — global sales opportunity: customers from a key-group
# list with above-average balance and no RECENT orders (anti-join;
# every customer in this testdata has at least one historical order, so
# the dormancy cutoff keeps the anti-join non-vacuous), grouped by
# nation (the stand-in for phone country code, which the testdata
# lacks). The "above average" scalar subquery is cross-multiplied in
# DECIMAL (acctbal * cnt > total) so no float-division boundary can
# flip a row between engines.
# ---------------------------------------------------------------------------
@_register(
    "global_sales_opportunity_q22",
    """
    WITH pool AS (
      SELECT c_custkey, c_nationkey,
             CAST(c_acctbal AS DECIMAL(12,2)) AS bal
      FROM customer WHERE c_nationkey IN (2, 7, 13, 17, 22)
    ), stats AS (
      SELECT CAST(COUNT(*) AS DECIMAL(10,0)) AS cnt, SUM(bal) AS tot
      FROM pool WHERE bal > 0
    )
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(CAST(SUM(bal) AS DOUBLE), 2) AS totacctbal
    FROM pool, stats
    WHERE bal * cnt > tot
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def global_sales_opportunity_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    pool = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey").isin(2, 7, 13, 17, 22))
        .select(
            "c_custkey",
            "c_nationkey",
            F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
        )
    )
    stats = pool.filter(F.col("bal") > 0).agg(
        F.count("*").cast("decimal(10,0)").alias("cnt"),
        F.sum("bal").alias("tot"),
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    return (
        pool.crossJoin(F.broadcast(stats))
        .filter(F.col("bal") * F.col("cnt") > F.col("tot"))
        .join(orders, pool.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.round(F.sum("bal").cast("double"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )
