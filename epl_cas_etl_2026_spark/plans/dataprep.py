"""Training-data preparation & governance plans with DuckDB oracle
twins: distribution-drift detection (PSI), annotation consolidation
(majority vote), leakage-safe categorical encoding (out-of-fold target
encoding), key-skew concentration profiling (Gini / HHI / top-share),
cross-column joinability discovery, and Kaplan-Meier survival — the
monitoring / labeling / feature-prep surface an LLM-scale data
pipeline runs around the core ETL (SURVEY.md §7 Phase 4 adjacents).

Determinism playbook (same as plans/extensions.py): every metric is
computed from EXACT integer counts/sums first; floats appear only in a
final fixed expression shape shared verbatim by both engines, then
milli/ppm-quantized with floor(x*SCALE + 0.5) so a <=1-ulp ln/exp/sum
divergence can never flip a digit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.operators.windows import two_phase_cumsum
from epl_cas_etl_2026_spark.plans.registry import register as _register
from epl_cas_etl_2026_spark.sources.parquet import load_table


# ---------------------------------------------------------------------------
# Population Stability Index drift detection — the standard production
# monitor for "did this feature's distribution shift between the
# reference window and the current window" (credit-scoring lineage;
# same family as the KL/JS divergences). Reference slice = first half
# of the event-time range, current = second half; bin edges are fixed
# from the REFERENCE slice (10 equal-width bins, clamped), counts are
# Laplace-smoothed so empty bins stay finite, PSI = sum over bins of
# (p_cur - p_ref) * ln(p_cur / p_ref), micronat-quantized. PSI > 0.2
# is the conventional "significant shift" alarm.
#
# 100 TB shape: ONE pass computes the time range, ONE pass the per-type
# reference min/max (broadcast), ONE map-side-combined groupBy on
# (type, window, bin) — every shuffle after the scan is dim-grained
# (|types| x 2 x 10 rows). No sort, no window function anywhere.
# ---------------------------------------------------------------------------
_PSI_BINS = 10
_PSI_ALERT_MICRONATS = 200_000  # PSI > 0.2


def psi_bin_col(value, vmin, vmax):
    """Clamped equal-width bin index, the oracle's ``binned`` CASE: a
    degenerate reference range (vmax == vmin) puts every value in bin 0."""
    width = (vmax - vmin) / float(_PSI_BINS)
    return (
        F.when(
            vmax > vmin,
            F.least(
                F.greatest(
                    F.floor((value - vmin) / width).cast("long"),
                    F.lit(0).cast("long"),
                ),
                F.lit(_PSI_BINS - 1).cast("long"),
            ),
        )
        .otherwise(F.lit(0).cast("long"))
    )


def psi_smoothed(c, n):
    """Laplace-1 smoothed bin probability, so an empty bin keeps the
    PSI log term finite."""
    return (c + 1).cast("double") / (n + _PSI_BINS).cast("double")


@_register(
    "events_psi_drift",
    f"""
    WITH t AS (
      SELECT event_type, value, epoch_us(ts) AS tu FROM events
    ), rng AS (
      SELECT (MIN(tu) + MAX(tu)) // 2 AS mid FROM t
    ), lab AS (
      SELECT event_type, value,
             CASE WHEN tu < mid THEN 'ref' ELSE 'cur' END AS win
      FROM t CROSS JOIN rng
    ), eb AS (
      SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
      FROM lab WHERE win = 'ref' GROUP BY event_type
    ), binned AS (
      SELECT l.event_type, l.win,
             CASE WHEN vmax > vmin THEN
               LEAST(GREATEST(CAST(FLOOR((l.value - vmin)
                   / ((vmax - vmin) / {_PSI_BINS}.0)) AS BIGINT), 0),
                 {_PSI_BINS - 1})
             ELSE 0 END AS bin
      FROM lab l JOIN eb USING (event_type)
    ), c AS (
      SELECT event_type, win, bin, CAST(COUNT(*) AS BIGINT) AS c
      FROM binned GROUP BY event_type, win, bin
    ), dense AS (
      SELECT eb.event_type, r.bin, v.win
      FROM eb, RANGE(0, {_PSI_BINS}) r(bin), (VALUES ('ref'), ('cur')) v(win)
    ), f AS (
      SELECT d.event_type, d.win, d.bin, COALESCE(c.c, 0) AS c
      FROM dense d LEFT JOIN c
        ON d.event_type = c.event_type AND d.win = c.win AND d.bin = c.bin
    ), tot AS (
      SELECT event_type, win, SUM(c) AS n FROM f GROUP BY event_type, win
    ), p AS (
      SELECT f.event_type, f.bin,
             MAX(CASE WHEN f.win = 'ref' THEN
               CAST(f.c + 1 AS DOUBLE) / CAST(t.n + {_PSI_BINS} AS DOUBLE)
             END) AS pr,
             MAX(CASE WHEN f.win = 'cur' THEN
               CAST(f.c + 1 AS DOUBLE) / CAST(t.n + {_PSI_BINS} AS DOUBLE)
             END) AS pc
      FROM f JOIN tot t ON f.event_type = t.event_type AND f.win = t.win
      GROUP BY f.event_type, f.bin
    ), psi AS (
      SELECT event_type, SUM((pc - pr) * LN(pc / pr)) AS psi
      FROM p GROUP BY event_type
    )
    SELECT s.event_type,
           CAST(tr.n AS BIGINT) AS n_ref,
           CAST(tc.n AS BIGINT) AS n_cur,
           CAST(FLOOR(s.psi * 1000000 + 0.5) AS BIGINT) AS psi_micronats,
           CAST(FLOOR(s.psi * 1000000 + 0.5) AS BIGINT)
             > {_PSI_ALERT_MICRONATS} AS drifted
    FROM psi s
    JOIN tot tr ON s.event_type = tr.event_type AND tr.win = 'ref'
    JOIN tot tc ON s.event_type = tc.event_type AND tc.win = 'cur'
    ORDER BY s.event_type
    """,
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", F.unix_micros("ts").alias("tu")
    )
    rng = ev.agg(F.expr("(min(tu) + max(tu)) div 2").alias("mid"))
    lab = ev.crossJoin(F.broadcast(rng)).select(
        "event_type",
        "value",
        F.when(F.col("tu") < F.col("mid"), "ref").otherwise("cur").alias("win"),
    )
    eb = (
        lab.filter(F.col("win") == "ref")
        .groupBy("event_type")
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    )
    binned = lab.join(F.broadcast(eb), "event_type").select(
        "event_type",
        "win",
        psi_bin_col(
            F.col("value"), F.col("vmin"), F.col("vmax")
        ).alias("bin"),
    )
    c = binned.groupBy("event_type", "win", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    dense = (
        eb.select("event_type")
        .crossJoin(
            spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
        )
        .crossJoin(
            F.broadcast(
                spark.createDataFrame([("ref",), ("cur",)], "win string")
            )
        )
    )
    f = dense.join(c, ["event_type", "win", "bin"], "left").select(
        "event_type", "win", "bin", F.coalesce("c", F.lit(0)).alias("c")
    )
    f = f.localCheckpoint(eager=False)  # 2 consumers: probs + totals
    tot = f.groupBy("event_type", "win").agg(F.sum("c").alias("n"))
    tot = tot.localCheckpoint(eager=False)  # 3 consumers
    smoothed = psi_smoothed(F.col("c"), F.col("n"))
    # tot is |types|x2 rows behind a localCheckpoint (opaque to AQE's
    # size estimation) — broadcast explicitly
    p = (
        f.join(F.broadcast(tot), ["event_type", "win"])
        .groupBy("event_type", "bin")
        .agg(
            F.max(F.when(F.col("win") == "ref", smoothed)).alias("pr"),
            F.max(F.when(F.col("win") == "cur", smoothed)).alias("pc"),
        )
    )
    psi = p.groupBy("event_type").agg(
        F.sum(
            (F.col("pc") - F.col("pr")) * F.log(F.col("pc") / F.col("pr"))
        ).alias("psi")
    )
    quant = F.floor(F.col("psi") * 1000000 + 0.5).cast("long")
    return (
        psi.join(
            F.broadcast(
                tot.filter(F.col("win") == "ref").select(
                    "event_type", F.col("n").alias("n_ref")
                )
            ),
            "event_type",
        )
        .join(
            F.broadcast(
                tot.filter(F.col("win") == "cur").select(
                    "event_type", F.col("n").alias("n_cur")
                )
            ),
            "event_type",
        )
        .select(
            "event_type",
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            quant.alias("psi_micronats"),
            (quant > _PSI_ALERT_MICRONATS).alias("drifted"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Majority-vote annotation consolidation — the label-aggregation step
# of every labeling pipeline (N raters per example -> one consolidated
# label + agreement diagnostics). Votes here: each order's line items
# "vote" with their return flag. Winner = highest vote count, ties
# broken by lexicographically smallest label (deterministic); the
# rollup reports per-winning-label order counts, unanimity, tie rate,
# and micro-averaged agreement (ratio of winning votes to all votes —
# ratio-of-sums, NOT avg-of-ratios, so the arithmetic stays in exact
# integers until one final ppm division).
#
# 100 TB shape: groupBy (example, label) with map-side combine, then
# groupBy example over <=|label-alphabet| rows each (sort_array over a
# <=3-element collect_list — bounded by the label alphabet, not data),
# then a dim-grained rollup. No windows, no skew risk beyond the
# example key itself.
# ---------------------------------------------------------------------------
@_register(
    "orders_label_majority_vote",
    """
    WITH c AS (
      SELECT l_orderkey AS k, l_returnflag AS f,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ), o AS (
      SELECT k, f, c,
             SUM(c) OVER (PARTITION BY k) AS total,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY c DESC, f ASC)
               AS rn,
             MAX(c) OVER (PARTITION BY k) AS maxc
      FROM c
    ), o2 AS (
      SELECT k, f, c, total, rn,
             SUM(CASE WHEN c = maxc THEN 1 ELSE 0 END)
               OVER (PARTITION BY k) AS ntop
      FROM o
    ), w AS (
      SELECT f AS winner, c AS wc, CAST(total AS BIGINT) AS total,
             ntop > 1 AS tied, c = total AS unanimous
      FROM o2 WHERE rn = 1
    )
    SELECT winner AS label,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN unanimous THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unanimous,
           CAST(SUM(CASE WHEN tied THEN 1 ELSE 0 END) AS BIGINT) AS n_tied,
           CAST((SUM(wc) * 1000000 + SUM(total) // 2) // SUM(total)
             AS BIGINT) AS agreement_ppm
    FROM w GROUP BY winner ORDER BY label
    """,
)
def orders_label_majority_vote(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy(
        F.col("l_orderkey").alias("k"), F.col("l_returnflag").alias("f")
    ).agg(F.count(F.lit(1)).alias("c"))
    per = cnt.groupBy("k").agg(
        F.sort_array(
            F.collect_list(
                F.struct((-F.col("c")).alias("negc"), F.col("f").alias("f"))
            )
        ).alias("s"),
        F.sum("c").alias("total"),
    )
    s1 = F.try_element_at("s", F.lit(1))
    s2 = F.try_element_at("s", F.lit(2))
    per = per.select(
        s1["f"].alias("winner"),
        (-s1["negc"]).alias("wc"),
        "total",
        F.coalesce(s1["negc"] == s2["negc"], F.lit(False)).alias("tied"),
    )
    return (
        per.groupBy(F.col("winner").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum((F.col("wc") == F.col("total")).cast("long")).alias(
                "n_unanimous"
            ),
            F.sum(F.col("tied").cast("long")).alias("n_tied"),
            F.sum("wc").alias("sw"),
            F.sum("total").alias("st"),
        )
        .select(
            "label",
            "n_orders",
            "n_unanimous",
            "n_tied",
            F.expr(
                "(sw * CAST(1000000 AS BIGINT) + st div 2) div st"
            ).alias("agreement_ppm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Fleiss' kappa — chance-corrected inter-annotator agreement for a
# FIXED rater count, the labeling-QC twin of the majority vote above
# (same fixture: an order's line items are its raters, l_returnflag
# the label alphabet). Fleiss requires each item rated by exactly n
# raters, so items = orders with exactly 4 line items (the uniform
# 1..7 lines-per-order generator leaves ~1/7 of orders eligible —
# reported as n_items next to the population count).
#
#   P_i  = (Σ_j n_ij² − n) / (n(n−1))        per-item agreement
#   P̄    = mean_i P_i = (Σ_ij n_ij² − Nn) / (Nn(n−1))
#   P̄_e  = Σ_j p_j²,  p_j = (Σ_i n_ij)/(Nn)  chance agreement
#   κ    = (P̄ − P̄_e) / (1 − P̄_e)
#
# Every count is an exact BIGINT; the three final divisions are
# single correctly-rounded IEEE ops both engines execute identically
# on identical integer operands (no reassociation anywhere), then
# half-up ppm quantization — the repo's cross-engine float rule.
#
# 100 TB shape: one map-side-combined groupBy (order, label) → a
# bounded per-item fold (≤ |alphabet| rows each) → scalar sums; the
# label-marginal pass is a |alphabet|-row aggregate. No windows.
# ---------------------------------------------------------------------------
_FLEISS_N = 4


@_register(
    "orders_label_fleiss_kappa",
    f"""
    WITH c AS (
      SELECT l_orderkey AS k, l_returnflag AS f,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ), eligible AS (
      SELECT k FROM c GROUP BY k HAVING SUM(c) = {_FLEISS_N}
    ), cells AS (
      SELECT c.k, c.f, c.c FROM c JOIN eligible USING (k)
    ), item_stats AS (
      SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_items,
             CAST(SUM(c * c) AS BIGINT) AS sum_sq
      FROM cells
    ), marg AS (
      SELECT CAST(SUM(col_sq) AS BIGINT) AS sum_col_sq
      FROM (SELECT SUM(c) * SUM(c) AS col_sq FROM cells GROUP BY f)
    )
    SELECT n_items,
           CAST({_FLEISS_N} AS BIGINT) AS n_raters,
           CAST(FLOOR(
             (CAST(sum_sq - n_items * {_FLEISS_N} AS DOUBLE)
              / CAST(n_items * {_FLEISS_N * (_FLEISS_N - 1)} AS DOUBLE))
             * 1000000 + 0.5) AS BIGINT) AS p_bar_ppm,
           CAST(FLOOR(
             (CAST(sum_col_sq AS DOUBLE)
              / CAST((n_items * {_FLEISS_N}) * (n_items * {_FLEISS_N})
                     AS DOUBLE))
             * 1000000 + 0.5) AS BIGINT) AS p_e_ppm,
           CAST(FLOOR(
             ((CAST(sum_sq - n_items * {_FLEISS_N} AS DOUBLE)
               / CAST(n_items * {_FLEISS_N * (_FLEISS_N - 1)} AS DOUBLE))
              - (CAST(sum_col_sq AS DOUBLE)
                 / CAST((n_items * {_FLEISS_N}) * (n_items * {_FLEISS_N})
                        AS DOUBLE)))
             / (1 - (CAST(sum_col_sq AS DOUBLE)
                     / CAST((n_items * {_FLEISS_N}) * (n_items * {_FLEISS_N})
                            AS DOUBLE)))
             * 1000000 + 0.5) AS BIGINT) AS kappa_ppm
    FROM item_stats, marg
    """,
)
def orders_label_fleiss_kappa(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    n = _FLEISS_N
    # ONE scan + ONE order-keyed exchange (was two scan+groupBy passes
    # of the same (k, f) counts — one for the per-item totals, one
    # re-joined for the marginal cells — across ~4 exchanges): the
    # explicit repartition on the order key is reused by the (k, f)
    # aggregation AND the per-item total window; qualifying cells
    # (total == n raters) flow straight into both final aggregates.
    # n_items falls out arithmetically: each qualifying item's cell
    # counts sum to exactly n, so n_items = sum(c) div n.
    cnt = (
        li.select(
            F.col("l_orderkey").alias("k"), F.col("l_returnflag").alias("f")
        )
        .repartition("k")
        .groupBy("k", "f")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cells = cnt.withColumn(
        "total", F.sum("c").over(Window.partitionBy("k"))
    ).filter(F.col("total") == n)
    cells = cells.localCheckpoint(eager=False)  # item stats + marginals
    item_stats = cells.agg(
        (F.sum("c") / n).cast("long").alias("n_items"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_sq"),
    )
    marg = (
        cells.groupBy("f")
        .agg(F.sum("c").alias("col"))
        .agg(
            F.sum(F.col("col") * F.col("col")).cast("long").alias(
                "sum_col_sq"
            )
        )
    )
    joined = item_stats.crossJoin(F.broadcast(marg))
    p_bar = (F.col("sum_sq") - F.col("n_items") * n).cast("double") / (
        F.col("n_items") * (n * (n - 1))
    ).cast("double")
    p_e = F.col("sum_col_sq").cast("double") / (
        (F.col("n_items") * n) * (F.col("n_items") * n)
    ).cast("double")
    return joined.select(
        "n_items",
        F.lit(n).cast("long").alias("n_raters"),
        F.floor(p_bar * 1000000 + 0.5).cast("long").alias("p_bar_ppm"),
        F.floor(p_e * 1000000 + 0.5).cast("long").alias("p_e_ppm"),
        F.floor((p_bar - p_e) / (F.lit(1.0) - p_e) * 1000000 + 0.5)
        .cast("long")
        .alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# Out-of-fold target encoding — the leakage-safe way to turn a
# categorical feature into a numeric one for model training: each
# fold's encoding of a category is the target mean computed from the
# OTHER folds only, so no row's own target leaks into its feature
# (K-fold CV discipline; smoothed variants add the global prior the
# last column carries). Target = order price in exact integer cents;
# the encoding is a half-up integer division of exact sums.
#
# 100 TB shape: ONE map-side-combined groupBy on (category, fold) —
# |cats| x K rows — then a broadcast join of per-category totals.
# Leave-one-out is this same algebra with per-row instead of per-fold
# exclusion; the fold form is what scales (and what CV training uses).
# ---------------------------------------------------------------------------
_OOF_FOLDS = 4


@_register(
    "orders_target_encoding_oof",
    f"""
    WITH o AS (
      SELECT o_orderpriority AS priority,
             o_orderkey % {_OOF_FOLDS} AS fold,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
      FROM orders
    ), g AS (
      SELECT priority, fold, CAST(COUNT(*) AS BIGINT) AS n, SUM(y) AS s
      FROM o GROUP BY 1, 2
    ), t AS (
      SELECT priority, SUM(n) AS tn, SUM(s) AS ts FROM g GROUP BY 1
    ), gl AS (
      SELECT SUM(n) AS gn, SUM(s) AS gs FROM g
    )
    SELECT g.priority, g.fold, g.n AS n_rows,
           CAST((t.ts - g.s + (t.tn - g.n) // 2)
                // NULLIF(t.tn - g.n, 0) AS BIGINT) AS oof_encoding_cents,
           CAST((gl.gs + gl.gn // 2) // gl.gn AS BIGINT) AS global_cents
    FROM g JOIN t USING (priority) CROSS JOIN gl
    ORDER BY priority, fold
    """,
)
def orders_target_encoding_oof(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_orderkey") % _OOF_FOLDS).alias("fold"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    g = o.groupBy("priority", "fold").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    g = g.localCheckpoint(eager=False)  # 3 consumers
    t = g.groupBy("priority").agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts")
    )
    gl = g.agg(F.sum("n").alias("gn"), F.sum("s").alias("gs"))
    return (
        g.join(F.broadcast(t), "priority")
        .crossJoin(F.broadcast(gl))
        .select(
            "priority",
            "fold",
            F.col("n").alias("n_rows"),
            F.expr(
                "(ts - s + (tn - n) div 2) div nullif(tn - n, 0)"
            ).alias("oof_encoding_cents"),
            F.expr("(gs + gn div 2) div gn").alias("global_cents"),
        )
        .orderBy("priority", "fold")
    )


# ---------------------------------------------------------------------------
# Key-skew concentration profile — the shuffle-planning diagnostic run
# BEFORE a big join/groupBy: how concentrated is the key distribution
# (Gini coefficient, Herfindahl-Hirschman index, share of rows held by
# the top 1% of keys)? Feeds the salting decision that
# lineitem_salted_skew_join_rollup acts on.
#
# The Gini needs ordinal ranks over keys sorted by frequency — done on
# the FREQUENCY-OF-FREQUENCIES compression (distinct count-values c
# with multiplicity m): if k distinct frequency values exist then
# k(k+1)/2 <= n_rows, so k <= sqrt(2 * n_rows) — ~1.4e6 rows at 1e12
# input rows. Cumulative positions over that compressed frame come
# from the two-phase prefix-offset cumsum (no single-partition
# window). A block of m keys with count c ending at cumulative
# position P contributes c*m*(2P - m + 1) to 2*sum(i * c_i) exactly.
#
# Overflow note (same playbook as the OLS split-sum): the integer
# products stay in int64 up to ~1e5 max-frequency x 1e9 keys; past
# that, split-sum the product the way plans/extensions.py's OLS does.
# All emitted metrics are exact integers until one final quantized
# double division.
# ---------------------------------------------------------------------------
@_register(
    "lineitem_key_skew_gini",
    """
    WITH freq AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1
    ), ff AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM freq GROUP BY 1
    ), asc_ AS (
      SELECT c, m, SUM(m) OVER (ORDER BY c) AS cum_m FROM ff
    ), desc_ AS (
      SELECT c, m, SUM(m) OVER (ORDER BY c DESC) AS cumd FROM ff
    ), tot AS (
      SELECT SUM(m) AS n_keys, SUM(c * m) AS s, MAX(c) AS maxc FROM ff
    ), s2 AS (
      SELECT SUM(c * m * (2 * cum_m - m + 1)) AS s2ic FROM asc_
    ), sc2 AS (
      SELECT SUM(c * c * m) AS v FROM ff
    ), topn AS (
      SELECT (n_keys + 99) // 100 AS top_n FROM tot
    ), shr AS (
      SELECT SUM(c * LEAST(m, GREATEST(top_n - (cumd - m), 0)))
        AS share_sum
      FROM desc_ CROSS JOIN topn
    )
    SELECT CAST(tot.s AS BIGINT) AS n_rows,
           CAST(tot.n_keys AS BIGINT) AS n_keys,
           CAST(tot.maxc AS BIGINT) AS max_count,
           CAST(FLOOR((CAST(s2.s2ic AS DOUBLE)
                         / (CAST(tot.n_keys AS DOUBLE) * CAST(tot.s AS DOUBLE))
                       - CAST(tot.n_keys + 1 AS DOUBLE)
                         / CAST(tot.n_keys AS DOUBLE)) * 1000 + 0.5)
             AS BIGINT) AS gini_millis,
           CAST(FLOOR(CAST(sc2.v AS DOUBLE) * 1000000
                      / (CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)) + 0.5)
             AS BIGINT) AS hhi_ppm,
           CAST(FLOOR(CAST(shr.share_sum AS DOUBLE) * 1000000
                      / CAST(tot.s AS DOUBLE) + 0.5)
             AS BIGINT) AS top1pct_share_ppm
    FROM tot, s2, sc2, shr
    """,
)
def lineitem_key_skew_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    freq = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    ff = freq.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
    ff = ff.localCheckpoint(eager=False)  # 2 consumers (tot, asc_)
    asc_ = two_phase_cumsum(ff, "c", "m", "cum_m")
    # sc2 fused into tot: one pass over ff yields every ff-grain total
    tot = ff.agg(
        F.sum("m").alias("n_keys"),
        F.sum(F.col("c") * F.col("m")).alias("s"),
        F.max("c").alias("maxc"),
        F.sum(F.col("c") * F.col("c") * F.col("m")).alias("v"),
    )
    tot = tot.localCheckpoint(eager=False)  # feeds topn + final
    topn = tot.select(
        F.expr("(n_keys + 99) div 100").alias("top_n"),
        F.col("n_keys").alias("__nk"),
    )
    # The r11 optimization round dropped the SECOND two-phase cumsum:
    # ff has one row per distinct frequency value c, so the descending
    # cumulative count is pure arithmetic over the ascending one —
    # cumd = n_keys - cum_m + m, hence cumd - m = n_keys - cum_m.
    # s2ic and share_sum then fuse into ONE aggregate over asc_.
    s2shr = (
        asc_.crossJoin(F.broadcast(topn))
        .agg(
            F.sum(
                F.col("c")
                * F.col("m")
                * (2 * F.col("cum_m") - F.col("m") + 1)
            ).alias("s2ic"),
            F.sum(
                F.col("c")
                * F.least(
                    F.col("m"),
                    F.greatest(
                        F.col("top_n") - (F.col("__nk") - F.col("cum_m")),
                        F.lit(0).cast("long"),
                    ),
                )
            ).alias("share_sum"),
        )
    )
    nk_d = F.col("n_keys").cast("double")
    s_d = F.col("s").cast("double")
    gini = (
        F.col("s2ic").cast("double") / (nk_d * s_d)
        - (F.col("n_keys") + 1).cast("double") / nk_d
    )
    return (
        tot.crossJoin(s2shr)
        .select(
            F.col("s").alias("n_rows"),
            F.col("n_keys"),
            F.col("maxc").alias("max_count"),
            F.floor(gini * 1000 + 0.5).cast("long").alias("gini_millis"),
            F.floor(
                F.col("v").cast("double") * 1000000 / (s_d * s_d) + 0.5
            )
            .cast("long")
            .alias("hhi_ppm"),
            F.floor(
                F.col("share_sum").cast("double") * 1000000 / s_d + 0.5
            )
            .cast("long")
            .alias("top1pct_share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-column joinability discovery — the data-lake profiling step
# that finds which column pairs are join keys: for each candidate
# (A.x, B.y) report distinct cardinalities, exact intersection size,
# containment |A∩B|/|A| and Jaccard |A∩B|/|A∪B| (Aurum/data-civilizer
# family of joinability metrics). The pair list covers every true FK
# edge of the star schema plus one negative control.
#
# 100 TB shape: exact distinct-sets + semi-join per pair is the
# ORACLE-CHECKABLE baseline; at lake scale the same metrics come from
# the mergeable KMV/theta sketches (events_kmv_theta_intersection) —
# one sketch per column, pairwise theta intersections, no re-scan.
# Exact path still scales soundly: each pair costs two distinct aggs
# and one slim-key semi-join, all map-side combined.
# ---------------------------------------------------------------------------
_JOINABILITY_PAIRS = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    # negative control: key spaces overlap numerically but are NOT a
    # semantic FK edge — the profiler must report it as weakly joinable
    ("orders", "o_orderkey", "customer", "c_custkey"),
]


def _joinability_oracle() -> str:
    blocks = []
    for ta, ca, tb, cb in _JOINABILITY_PAIRS:
        pair = f"{ta}.{ca}~{tb}.{cb}"
        blocks.append(
            f"""
    SELECT '{pair}' AS pair, a.n AS ndv_a, b.n AS ndv_b,
           i.n AS n_intersect,
           (i.n * 1000000 + a.n // 2) // NULLIF(a.n, 0)
             AS containment_ppm,
           (i.n * 1000000 + (a.n + b.n - i.n) // 2)
             // NULLIF(a.n + b.n - i.n, 0) AS jaccard_ppm
    FROM (SELECT CAST(COUNT(DISTINCT {ca}) AS BIGINT) AS n FROM {ta}) a,
         (SELECT CAST(COUNT(DISTINCT {cb}) AS BIGINT) AS n FROM {tb}) b,
         (SELECT CAST(COUNT(*) AS BIGINT) AS n
          FROM (SELECT DISTINCT CAST({ca} AS BIGINT) AS v FROM {ta}) x
          JOIN (SELECT DISTINCT CAST({cb} AS BIGINT) AS v FROM {tb}) y
          USING (v)) i"""
        )
    return (
        "SELECT pair, ndv_a, ndv_b, n_intersect,\n"
        "       CAST(containment_ppm AS BIGINT) AS containment_ppm,\n"
        "       CAST(jaccard_ppm AS BIGINT) AS jaccard_ppm\n"
        "FROM (" + "\n    UNION ALL".join(blocks) + "\n) ORDER BY pair"
    )


@_register("catalog_joinability_profile", _joinability_oracle())
def catalog_joinability_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    rows = []
    # one distinct-values frame per (table, column) — customer.c_custkey
    # and orders.o_orderkey each appear in TWO profile pairs, and the
    # per-pair form re-ran their distincts
    dcache: dict = {}

    def _dcol(t: str, c: str):
        if (t, c) not in dcache:
            dcache[(t, c)] = (
                load_table(spark, sf_dir, t)
                .select(F.col(c).cast("long").alias("v"))
                .distinct()
                .localCheckpoint(eager=False)  # count + semi-join probes
            )
        return dcache[(t, c)]

    for ta, ca, tb, cb in _JOINABILITY_PAIRS:
        da = _dcol(ta, ca)
        db = _dcol(tb, cb)
        na = da.agg(F.count(F.lit(1)).alias("ndv_a"))
        nb = db.agg(F.count(F.lit(1)).alias("ndv_b"))
        ni = da.join(db, "v", "left_semi").agg(
            F.count(F.lit(1)).alias("n_intersect")
        )
        rows.append(
            na.crossJoin(nb)
            .crossJoin(ni)
            .select(
                F.lit(f"{ta}.{ca}~{tb}.{cb}").alias("pair"),
                "ndv_a",
                "ndv_b",
                "n_intersect",
                # nullif: a zero-row column (empty warehouse) yields
                # NULL metrics, not a DIVIDE_BY_ZERO under ANSI
                F.expr(
                    "(n_intersect * CAST(1000000 AS BIGINT)"
                    " + ndv_a div 2) div nullif(ndv_a, 0)"
                ).alias("containment_ppm"),
                F.expr(
                    "(n_intersect * CAST(1000000 AS BIGINT)"
                    " + (ndv_a + ndv_b - n_intersect) div 2)"
                    " div nullif(ndv_a + ndv_b - n_intersect, 0)"
                ).alias("jaccard_ppm"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("pair")


# ---------------------------------------------------------------------------
# Kaplan-Meier survival estimator — "how long do customers stay
# active" with right-censoring done correctly: a customer whose last
# order falls within the censoring horizon of the dataset's end is
# CENSORED (still alive when observation stopped), not churned.
# Lifetime = months between first and last order; S(t) is the product
# over event times u <= t of (1 - d_u / r_u) with the at-risk set
# r_u shrunk by both prior events and prior censorings.
#
# Determinism: d/r/at-risk are exact integers; the ordered product is
# exp(sum(ln(factor)) over t) — an ORDERED window fold, identical on
# both engines — with an explicit zero-factor count so S drops to
# exactly 0 instead of ln(0); ppm-quantized. The survival-curve frame
# is bounded by the CALENDAR (months of history), not data size, so
# its unpartitioned ordered window is dim-grained by construction —
# the per-customer aggregation before it is the only fact-sized work.
# ---------------------------------------------------------------------------
_KM_CENSOR_DAYS = 180


@_register(
    "customers_kaplan_meier_lifetime",
    f"""
    WITH pc AS (
      SELECT o_custkey,
             MIN(CAST(o_orderdate AS DATE)) AS fd,
             MAX(CAST(o_orderdate AS DATE)) AS ld
      FROM orders GROUP BY 1
    ), gm AS (
      SELECT MAX(CAST(o_orderdate AS DATE)) AS gmax FROM orders
    ), km_in AS (
      SELECT date_diff('day', fd, ld) // 30 AS t,
             CASE WHEN date_diff('day', ld, gmax) > {_KM_CENSOR_DAYS}
                  THEN 1 ELSE 0 END AS e
      FROM pc CROSS JOIN gm
    ), g AS (
      SELECT t, CAST(SUM(e) AS BIGINT) AS d,
             CAST(SUM(1 - e) AS BIGINT) AS q
      FROM km_in GROUP BY t
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM km_in
    ), r AS (
      SELECT t, d, q,
             n - COALESCE(SUM(d + q) OVER
               (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING), 0) AS at_risk
      FROM g CROSS JOIN tot
    ), s AS (
      SELECT t, d, q, at_risk,
             SUM(LN(CASE WHEN at_risk > d THEN
                   1.0 - CAST(d AS DOUBLE) / CAST(at_risk AS DOUBLE)
                 ELSE 1.0 END))
               OVER (ORDER BY t) AS lnsum,
             SUM(CASE WHEN at_risk <= d AND d > 0 THEN 1 ELSE 0 END)
               OVER (ORDER BY t) AS zerocnt
      FROM r
    )
    SELECT t AS t_months, CAST(at_risk AS BIGINT) AS at_risk,
           d AS n_events, q AS n_censored,
           CAST(CASE WHEN zerocnt > 0 THEN 0
                ELSE FLOOR(EXP(lnsum) * 1000000 + 0.5) END AS BIGINT)
             AS survival_ppm
    FROM s ORDER BY t
    """,
)
def customers_kaplan_meier_lifetime(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(
        F.min(F.col("o_orderdate").cast("date")).alias("fd"),
        F.max(F.col("o_orderdate").cast("date")).alias("ld"),
    )
    gm = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("gmax"))
    km_in = pc.crossJoin(F.broadcast(gm)).select(
        F.expr("datediff(ld, fd) div 30").alias("t"),
        F.when(
            F.datediff("gmax", "ld") > _KM_CENSOR_DAYS, 1
        ).otherwise(0).alias("e"),
    )
    km_in = km_in.localCheckpoint(eager=False)  # curve + total count
    g = km_in.groupBy("t").agg(
        F.sum("e").cast("long").alias("d"),
        F.sum(1 - F.col("e")).cast("long").alias("q"),
    )
    tot = km_in.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # single-partition windows are BOUNDED: the frame is post-groupBy
    # on the lifetime value t, whose cardinality is the DATE-DOMAIN
    # span (a few thousand distinct durations at any corpus scale),
    # never the customer count — the KM curve itself is that small
    w_prev = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = g.crossJoin(F.broadcast(tot)).withColumn(
        "at_risk",
        F.col("n")
        - F.coalesce(
            F.sum(F.col("d") + F.col("q")).over(w_prev),
            F.lit(0).cast("long"),
        ),
    )
    factor_ln = F.log(
        F.when(
            F.col("at_risk") > F.col("d"),
            F.lit(1.0)
            - F.col("d").cast("double") / F.col("at_risk").cast("double"),
        ).otherwise(F.lit(1.0))
    )
    s = r.withColumn("lnsum", F.sum(factor_ln).over(w_cum)).withColumn(
        "zerocnt",
        F.sum(
            F.when(
                (F.col("at_risk") <= F.col("d")) & (F.col("d") > 0), 1
            ).otherwise(0)
        ).over(w_cum),
    )
    return s.select(
        F.col("t").alias("t_months"),
        F.col("at_risk").cast("long").alias("at_risk"),
        F.col("d").alias("n_events"),
        F.col("q").alias("n_censored"),
        F.when(F.col("zerocnt") > 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(F.exp("lnsum") * 1000000 + 0.5).cast("long")
        )
        .alias("survival_ppm"),
    ).orderBy("t_months")


# ---------------------------------------------------------------------------
# Weight-of-Evidence / Information-Value feature profiling — the
# classic credit-scoring feature screen (Siddiqi, "Credit Risk
# Scorecards", 2006; public method) and the supervised sibling of the
# out-of-fold target encoder above: per category of o_orderpriority,
# WOE = ln(P(cat|good) / P(cat|bad)) with Laplace-0.5 smoothing, and
# the bin's IV contribution (pg - pb)·WOE; total IV = Σ bins (IV < 0.02
# ⇒ feature useless, > 0.5 ⇒ suspiciously strong — the conventional
# screen thresholds). Target: bad ⇔ o_orderstatus = 'F'.
#
# Determinism: counts are exact integers; pg/pb/WOE appear only in the
# shared final expression shape, micronat-quantized; total IV is an
# INTEGER window-sum of the already-quantized per-bin contributions
# (order-free).
#
# 100 TB shape: one map-side-combined groupBy over the fact → k-row
# frame; everything after is dim-grained (k = |categories|).
# ---------------------------------------------------------------------------
@_register(
    "orders_woe_iv_binning",
    """
    WITH base AS (
      SELECT o_orderpriority AS priority,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
      FROM orders
    ), bins AS (
      SELECT priority,
             CAST(SUM(1 - bad) AS BIGINT) AS n_good,
             CAST(SUM(bad) AS BIGINT) AS n_bad
      FROM base GROUP BY priority
    ), tot AS (
      SELECT CAST(SUM(n_good) AS BIGINT) AS tg,
             CAST(SUM(n_bad) AS BIGINT) AS tb,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM bins
    ), w AS (
      SELECT priority, n_good, n_bad,
             (CAST(n_good AS DOUBLE) + 0.5)
               / (CAST(tg AS DOUBLE) + 0.5 * k) AS pg,
             (CAST(n_bad AS DOUBLE) + 0.5)
               / (CAST(tb AS DOUBLE) + 0.5 * k) AS pb
      FROM bins CROSS JOIN tot
    ), q AS (
      SELECT priority, n_good, n_bad,
             CAST(FLOOR(ln(pg / pb) * 1000000 + 0.5) AS BIGINT)
               AS woe_micronats,
             CAST(FLOOR((pg - pb) * ln(pg / pb) * 1000000 + 0.5)
                  AS BIGINT) AS iv_contrib_micronats
      FROM w
    )
    SELECT priority, n_good, n_bad, woe_micronats, iv_contrib_micronats,
           CAST(SUM(iv_contrib_micronats) OVER () AS BIGINT)
             AS iv_total_micronats
    FROM q
    ORDER BY priority
    """,
)
def orders_woe_iv_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bad = (F.col("o_orderstatus") == "F").cast("long")
    bins = (
        orders.select(
            F.col("o_orderpriority").alias("priority"), bad.alias("bad")
        )
        .groupBy("priority")
        .agg(
            F.sum(1 - F.col("bad")).cast("bigint").alias("n_good"),
            F.sum("bad").cast("bigint").alias("n_bad"),
        )
    )
    tot = bins.agg(
        F.sum("n_good").cast("bigint").alias("tg"),
        F.sum("n_bad").cast("bigint").alias("tb"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    pg = (F.col("n_good").cast("double") + 0.5) / (
        F.col("tg").cast("double") + 0.5 * F.col("k")
    )
    pb = (F.col("n_bad").cast("double") + 0.5) / (
        F.col("tb").cast("double") + 0.5 * F.col("k")
    )
    q = bins.crossJoin(F.broadcast(tot)).select(
        "priority",
        "n_good",
        "n_bad",
        F.floor(F.log(pg / pb) * 1000000 + 0.5)
        .cast("bigint")
        .alias("woe_micronats"),
        F.floor((pg - pb) * F.log(pg / pb) * 1000000 + 0.5)
        .cast("bigint")
        .alias("iv_contrib_micronats"),
    )
    # integer window-sum over the k-row bin frame (k = 5 priorities) —
    # SinglePartition on a dim-sized input, not the fact
    return q.withColumn(
        "iv_total_micronats",
        F.sum("iv_contrib_micronats")
        .over(Window.partitionBy())
        .cast("bigint"),
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# Entity-resolution GOLDEN RECORD — the end-to-end master-data shape
# composed from three already-gated primitives: (1) candidate pairs by
# FastSS deletion-neighborhood blocking (levenshtein ≤ 1 on customer
# names, the customers_fastss_editdist_pairs machinery), (2) duplicate
# clusters by connected components (alternating star contraction,
# operators/dedup.py), (3) survivorship: per cluster keep the record
# with the highest account balance (ties → lowest custkey) and roll up
# member count + total balance. Oracle: quadratic pair spec +
# recursive-CTE transitive closure + window survivorship — an
# independent algorithm stack end to end.
#
# 100 TB shape: blocking explodes len+1 variants (linear), the variant
# equi-join buckets are alphabet-bounded, CC is O(log n) rounds on
# slim id pairs, survivorship is one keyed window over cluster-sized
# groups. No quadratic stage anywhere (the oracle's quadratic join IS
# the spec, bounded to the %7 fixture subset).
# ---------------------------------------------------------------------------
@_register(
    "customers_golden_record",
    """
    WITH RECURSIVE n AS (
      SELECT c_name AS nm, MIN(c_custkey) AS node
      FROM customer WHERE c_custkey % 7 = 0 GROUP BY c_name
    ), p AS (
      SELECT a.node AS s, b.node AS d
      FROM n a JOIN n b ON a.nm < b.nm
      WHERE ABS(LENGTH(a.nm) - LENGTH(b.nm)) <= 1
        AND levenshtein(a.nm, b.nm) <= 1
    ), sym AS (
      SELECT s, d FROM p UNION SELECT d, s FROM p
    ), vs AS (SELECT DISTINCT s AS v FROM sym),
    reach(a, b) AS (
      SELECT v, v FROM vs
      UNION
      SELECT r.a, e.d FROM reach r JOIN sym e ON r.b = e.s
    ), comp AS (
      SELECT a AS node, MIN(b) AS cluster FROM reach GROUP BY a
    ), members AS (
      SELECT c.cluster, cu.c_custkey, cu.c_name, cu.c_acctbal
      FROM comp c
      JOIN n ON n.node = c.node
      JOIN customer cu ON cu.c_name = n.nm AND cu.c_custkey % 7 = 0
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY cluster
               ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM members
    )
    SELECT cluster AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MAX(CASE WHEN rk = 1 THEN c_custkey END) AS golden_custkey,
           MAX(CASE WHEN rk = 1 THEN c_name END) AS golden_name,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS total_acctbal_cents
    FROM ranked
    GROUP BY cluster
    ORDER BY cluster_id
    """,
)
def customers_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.dedup import connected_components

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 7 == 0
    )
    names = cust.groupBy(F.col("c_name").alias("nm")).agg(
        F.min("c_custkey").alias("node")
    )
    # FastSS deletion-neighborhood blocking (see
    # customers_fastss_editdist_pairs for the losslessness argument)
    variants = names.select(
        "nm",
        "node",
        F.explode(
            F.expr(
                "array_distinct(concat(array(nm),"
                " transform(sequence(1, length(nm)),"
                " i -> concat(substring(nm, 1, i - 1),"
                " substring(nm, i + 1, length(nm))))))"
            )
        ).alias("variant"),
    )
    vb = variants.select(
        F.col("nm").alias("nm_b"),
        F.col("node").alias("node_b"),
        "variant",
    )
    pairs = (
        variants.join(vb, "variant")
        .filter(F.col("nm") < F.col("nm_b"))
        .select("nm", "nm_b", "node", "node_b")
        .distinct()
        # bounded levenshtein: O(len) band for the ≤1 check, -1 past it
        .filter(F.levenshtein("nm", "nm_b", 1) >= 0)
        .select("node", "node_b")
    )
    comp = connected_components(pairs, "node", "node_b")
    members = (
        comp.join(
            names, comp["node"] == names["node"], "inner"
        )
        .select(F.col("label").alias("cluster"), "nm")
        .join(cust, F.col("nm") == cust["c_name"])
        .select("cluster", "c_custkey", "c_name", "c_acctbal")
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    ranked = members.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy(F.col("cluster").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max(F.when(F.col("rk") == 1, F.col("c_custkey"))).alias(
                "golden_custkey"
            ),
            F.max(F.when(F.col("rk") == 1, F.col("c_name"))).alias(
                "golden_name"
            ),
            F.sum(
                F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint")
            )
            .cast("bigint")
            .alias("total_acctbal_cents"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# Seeded-Laplace histogram — NOT a privacy mechanism as gated: the
# noise is a deterministic function of (event_type, a hard-coded seed)
# and is published NEXT TO n_true, so anyone can recompute and remove
# it; this query demonstrates the Laplace-mechanism ARITHMETIC
# (inverse-CDF sampling, sensitivity-1 scale) cross-engine-exactly,
# which is what the gate can pin. A real DP release would draw the
# noise from a non-reproducible CSPRNG and publish ONLY noisy_millis.
#
# The mechanism demonstrated (Laplace mechanism, Dwork et al.
# 2006 — public method): per-event-type counts with Laplace(1/ε)
# noise, ε = 1, sensitivity 1 (each user contributes... here each ROW;
# the release unit is documented, not enforced). Noise is SEEDED —
# u = md5-derived 32-bit uniform shifted into (0,1) exactly as the
# weighted samplers do — so the release is reproducible and the DuckDB
# twin computes the identical noise (inverse-CDF: b·ln(2u) below the
# median, −b·ln(2(1−u)) above). A real deployment would publish ONLY
# the noisy column; n_true ships here because the gate needs both
# sides of the mechanism pinned.
#
# 100 TB shape: one map-side-combined groupBy; noise is a per-GROUP
# expression on the k-row result. The dyadic u is float-exact in both
# engines; only ln() is libm, absorbed by milli-quantization.
# ---------------------------------------------------------------------------
@_register(
    "events_dp_histogram",
    """
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM events GROUP BY event_type
    ), u AS (
      SELECT event_type, n_true,
             (CAST(('0x' || substr(md5(event_type || '|dp-seed-1'), 1, 8))
                   AS BIGINT) + 0.5) / 4294967296.0 AS uu
      FROM c
    )
    SELECT event_type, n_true,
           CAST(FLOOR((CASE WHEN uu < 0.5 THEN ln(2.0 * uu)
                            ELSE -ln(2.0 * (1.0 - uu)) END)
                      * 1000 + 0.5) AS BIGINT) AS noise_millis,
           CAST(n_true * 1000
                + FLOOR((CASE WHEN uu < 0.5 THEN ln(2.0 * uu)
                              ELSE -ln(2.0 * (1.0 - uu)) END)
                        * 1000 + 0.5) AS BIGINT) AS noisy_millis
    FROM u
    ORDER BY event_type
    """,
)
def events_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT a privacy mechanism: seeded, recomputable Laplace noise
    published alongside the true counts — a cross-engine-exact
    demonstration of the Laplace-mechanism arithmetic only. See the
    registration comment for what a real DP release changes."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    h32 = F.conv(
        F.substring(
            F.md5(F.concat(F.col("event_type"), F.lit("|dp-seed-1"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    uu = (h32 + F.lit(0.5)) / F.lit(float(2**32))
    lap = F.when(uu < 0.5, F.log(2.0 * uu)).otherwise(
        -F.log(2.0 * (1.0 - uu))
    )
    noise = F.floor(lap * 1000 + 0.5).cast("bigint")
    return c.select(
        "event_type",
        "n_true",
        noise.alias("noise_millis"),
        (F.col("n_true") * 1000 + noise).cast("bigint").alias(
            "noisy_millis"
        ),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Decile lift / gains table — the standard model-evaluation artifact
# for a propensity score (here: account balance "predicting" whether
# the customer has placed an order), computed per market segment so
# the ntile windows stay PARTITIONED (parallel windows, never one
# global partition; a lift table is usually sliced by cohort in
# production anyway). Decile 1 = highest scores; per decile:
# response rate, lift vs the segment's base rate, and cumulative
# responder capture — the three numbers a targeting decision reads.
#
# Determinism: counts are exact integers; every ratio is integer
# division to ppm (Spark `div` == DuckDB `//` on BIGINT), nullif-
# guarded; ntile is over a TOTAL order (score DESC, custkey).
#
# 100 TB shape: one window per segment partition (parallel), one
# map-side-combined groupBy to 10 rows per segment, then dim-grained
# windows/joins. The label join is a broadcast-able semi-join flag at
# test scale and a keyed equi-join at production scale.
# ---------------------------------------------------------------------------
@_register(
    "customers_decile_lift_table",
    """
    WITH resp AS (
      SELECT DISTINCT o_custkey AS ck FROM orders
    ), scored AS (
      SELECT c_mktsegment AS segment, c_custkey,
             CASE WHEN ck IS NOT NULL THEN 1 ELSE 0 END AS responder,
             NTILE(10) OVER (PARTITION BY c_mktsegment
                             ORDER BY c_acctbal DESC, c_custkey) AS decile
      FROM customer LEFT JOIN resp ON c_custkey = ck
    ), d AS (
      SELECT segment, decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(responder) AS BIGINT) AS n_responders
      FROM scored GROUP BY segment, decile
    ), t AS (
      SELECT segment,
             SUM(n_customers) AS tot_n,
             SUM(n_responders) AS tot_resp
      FROM d GROUP BY segment
    )
    SELECT d.segment, CAST(d.decile AS BIGINT) AS decile,
           d.n_customers, d.n_responders,
           CAST(d.n_responders * 1000000 // d.n_customers AS BIGINT)
             AS response_rate_ppm,
           -- lift from the ALREADY-QUANTIZED ppm rates: the raw
           -- nr*tot_n*1e6 cross-product overflows int64 past ~sf320
           -- (the orders_orc_roundtrip_stats lesson — ANSI Spark
           -- throws where DuckDB's HUGEINT silently widens); rate
           -- ratios keep every intermediate <= 1e12
           CAST(COALESCE((d.n_responders * 1000000 // d.n_customers)
                         * 1000000
                         // NULLIF(t.tot_resp * 1000000 // t.tot_n, 0), 0)
                AS BIGINT) AS lift_ppm,
           CAST(COALESCE(
             (SUM(d.n_responders) OVER (PARTITION BY d.segment
                                        ORDER BY d.decile
                                        ROWS UNBOUNDED PRECEDING))
             * 1000000 // NULLIF(t.tot_resp, 0), 0)
                AS BIGINT) AS cum_capture_ppm
    FROM d JOIN t ON d.segment = t.segment
    ORDER BY d.segment, decile
    """,
)
def customers_decile_lift_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    resp = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("ck"))
        .distinct()
    )
    scored = (
        cust.join(resp, cust["c_custkey"] == resp["ck"], "left")
        .select(
            F.col("c_mktsegment").alias("segment"),
            "c_custkey",
            "c_acctbal",
            F.when(F.col("ck").isNotNull(), 1).otherwise(0).alias(
                "responder"
            ),
        )
        .withColumn(
            "decile",
            F.ntile(10).over(
                Window.partitionBy("segment").orderBy(
                    F.desc("c_acctbal"), F.asc("c_custkey")
                )
            ),
        )
    )
    d = scored.groupBy("segment", "decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("responder").cast("bigint").alias("n_responders"),
    )
    t = d.groupBy("segment").agg(
        F.sum("n_customers").alias("tot_n"),
        F.sum("n_responders").alias("tot_resp"),
    )
    w_cum = (
        Window.partitionBy("segment")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(F.broadcast(t), "segment")
        .withColumn("cum_resp", F.sum("n_responders").over(w_cum))
        .select(
            "segment",
            F.col("decile").cast("bigint").alias("decile"),
            "n_customers",
            "n_responders",
            F.expr("n_responders * 1000000 div n_customers")
            .cast("bigint")
            .alias("response_rate_ppm"),
            # rate-ratio form, NOT nr*tot_n*1e6 div (n*tot_resp): the
            # cross-products overflow int64 past ~sf320 under ANSI
            # (see the oracle comment); intermediates here stay <=1e12
            F.coalesce(
                F.expr(
                    "(n_responders * 1000000 div n_customers) * 1000000"
                    " div nullif(tot_resp * 1000000 div tot_n, 0)"
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("lift_ppm"),
            F.coalesce(
                F.expr("cum_resp * 1000000 div nullif(tot_resp, 0)"),
                F.lit(0),
            )
            .cast("bigint")
            .alias("cum_capture_ppm"),
        )
        .orderBy("segment", "decile")
    )


# ---------------------------------------------------------------------------
# Distributed logistic regression — TWO unrolled Newton/IRLS
# iterations fit P(l_returnflag = 'R' | quantity, discount), and the
# whole fit is BIT-IDENTICAL cross-engine. Why that is possible:
#
# · iteration 1 starts at β = 0, where μ ≡ 1/2 and the working
#   weights are exactly 1/4 — the normal equations reduce to EXACT
#   INTEGER feature moments (Σx², Σxy-style sums over integer
#   quantity / cent-scale discount), so β₁ = 2·S⁻¹r with S, r exact;
# · iteration 2 needs per-row μ = σ(β₁ᵀx), which touches libm exp().
#   exp is not correctly rounded, so raw Σ w·x·xᵀ would be float-sum
#   order-dependent AND last-ulp engine-dependent. Both problems die
#   with PER-ROW INTEGER QUANTIZATION: w_q = ⌊μ(1−μ)·10⁶⌋,
#   r_q = ⌊(y−μ)·10⁶⌋ — sums of int64 are exact and order-free, and a
#   1-ulp exp() disagreement flips a ⌊·10⁶⌋ only within 10⁻¹⁰ of a
#   boundary (≈10⁻¹⁰ per row — negligible at any SF);
# · both 3×3 solves run the SAME Cramer expression tree on doubles
#   cast from exact ints (every op correctly rounded ⇒ identical):
#   the Python driver solve (_solve3) and the SQL oracle's CTE are
#   transcriptions of one formula — edit them TOGETHER.
#
# 100 TB shape: each iteration is ONE map-side-combined aggregation
# over the fact table (9 resp. 9 integer sums); only the 3-vector β
# reaches the driver and returns as plan literals (the k-means /
# IVF-PQ driver-state pattern). The oracle replays both iterations in
# SQL over the same parquet.
# ---------------------------------------------------------------------------
def _solve3(s11, s12, s13, s22, s23, s33, r1, r2, r3):
    """Cramer 3×3 for a SYMMETRIC system — mirror of the SQL CTE in
    lineitem_logreg_newton's oracle (keep the expression trees
    identical; both run on IEEE doubles from exact integers)."""
    s11, s12, s13 = float(s11), float(s12), float(s13)
    s22, s23, s33 = float(s22), float(s23), float(s33)
    r1, r2, r3 = float(r1), float(r2), float(r3)
    det = (
        s11 * (s22 * s33 - s23 * s23)
        - s12 * (s12 * s33 - s23 * s13)
        + s13 * (s12 * s23 - s22 * s13)
    )
    n1 = (
        r1 * (s22 * s33 - s23 * s23)
        - s12 * (r2 * s33 - s23 * r3)
        + s13 * (r2 * s23 - s22 * r3)
    )
    n2 = (
        s11 * (r2 * s33 - s23 * r3)
        - r1 * (s12 * s33 - s23 * s13)
        + s13 * (s12 * r3 - r2 * s13)
    )
    n3 = (
        s11 * (s22 * r3 - r2 * s23)
        - s12 * (s12 * r3 - r2 * s13)
        + r1 * (s12 * s23 - s22 * s13)
    )
    return det, n1, n2, n3


def _cramer_sql(prefix: str, s: str, r: str) -> str:
    """Render the _solve3 expression tree as SQL (same structure)."""
    s11, s12, s13 = f"{s}11", f"{s}12", f"{s}13"
    s22, s23, s33 = f"{s}22", f"{s}23", f"{s}33"
    r1, r2, r3 = f"{r}1", f"{r}2", f"{r}3"
    return f"""
      {s11} * ({s22} * {s33} - {s23} * {s23})
        - {s12} * ({s12} * {s33} - {s23} * {s13})
        + {s13} * ({s12} * {s23} - {s22} * {s13}) AS {prefix}det,
      {r1} * ({s22} * {s33} - {s23} * {s23})
        - {s12} * ({r2} * {s33} - {s23} * {r3})
        + {s13} * ({r2} * {s23} - {s22} * {r3}) AS {prefix}n1,
      {s11} * ({r2} * {s33} - {s23} * {r3})
        - {r1} * ({s12} * {s33} - {s23} * {s13})
        + {s13} * ({s12} * {r3} - {r2} * {s13}) AS {prefix}n2,
      {s11} * ({s22} * {r3} - {r2} * {s23})
        - {s12} * ({s12} * {r3} - {r2} * {s13})
        + {r1} * ({s12} * {s23} - {s22} * {s13}) AS {prefix}n3
    """


#: shared CTE stack: features → iteration-1 exact moments → Cramer →
#: β₁ → quantized iteration-2 moments → Cramer → β₂ (both logreg
#: oracles select from this; the expression trees mirror _solve3)
_LOGREG_CTES = f"""
    WITH feats AS (
      SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(FLOOR(CAST(l_discount AS DOUBLE) * 100 + 0.5)
                  AS BIGINT) AS x2,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ), m1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
             CAST(SUM(x1 * x2) AS DOUBLE) AS s12,
             CAST(SUM(x1) AS DOUBLE) AS s13,
             CAST(SUM(x2 * x2) AS DOUBLE) AS s22,
             CAST(SUM(x2) AS DOUBLE) AS s23,
             CAST(COUNT(*) AS DOUBLE) AS s33,
             CAST(SUM(x1 * (2 * y - 1)) AS DOUBLE) AS r1,
             CAST(SUM(x2 * (2 * y - 1)) AS DOUBLE) AS r2,
             CAST(SUM(2 * y - 1) AS DOUBLE) AS r3
      FROM feats
    ), c1 AS (
      SELECT n, n_pos, {_cramer_sql("", "s", "r")}
      FROM m1
    ), beta1 AS (
      SELECT n, n_pos,
             n1 / det * 2 AS b1, n2 / det * 2 AS b2, n3 / det * 2 AS b3
      FROM c1
    ), scored AS (
      SELECT x1, x2, y, b1, b2, b3,
             1.0 / (1.0 + exp(-(b1 * x1 + b2 * x2 + b3))) AS mu
      FROM feats CROSS JOIN beta1
    ), quant AS (
      SELECT x1, x2,
             CAST(FLOOR(mu * (1 - mu) * 1000000) AS BIGINT) AS wq,
             CAST(FLOOR((y - mu) * 1000000) AS BIGINT) AS rq
      FROM scored
    ), m2 AS (
      SELECT CAST(SUM(wq * x1 * x1) AS DOUBLE) AS a11,
             CAST(SUM(wq * x1 * x2) AS DOUBLE) AS a12,
             CAST(SUM(wq * x1) AS DOUBLE) AS a13,
             CAST(SUM(wq * x2 * x2) AS DOUBLE) AS a22,
             CAST(SUM(wq * x2) AS DOUBLE) AS a23,
             CAST(SUM(wq) AS DOUBLE) AS a33,
             CAST(SUM(rq * x1) AS DOUBLE) AS t1,
             CAST(SUM(rq * x2) AS DOUBLE) AS t2,
             CAST(SUM(rq) AS DOUBLE) AS t3
      FROM quant
    ), c2 AS (
      SELECT {_cramer_sql("d", "a", "t")}
      FROM m2
    ), beta2 AS (
      SELECT n, n_pos,
             b1 + dn1 / ddet AS bb1,
             b2 + dn2 / ddet AS bb2,
             b3 + dn3 / ddet AS bb3
      FROM beta1 CROSS JOIN c2
    )
"""

_LOGREG_ORACLE = (
    _LOGREG_CTES
    + """
    SELECT n AS n_rows, n_pos,
           CAST(FLOOR(bb1 * 1000000 + 0.5) AS BIGINT) AS beta_qty_micro,
           CAST(FLOOR(bb2 * 1000000 + 0.5) AS BIGINT) AS beta_disc_micro,
           CAST(FLOOR(bb3 * 1000000 + 0.5) AS BIGINT)
             AS beta_intercept_micro
    FROM beta2
"""
)

_LOGREG_CAL_ORACLE = (
    _LOGREG_CTES
    + """
    , cal AS (
      SELECT y,
             CAST(FLOOR(1.0 / (1.0 + exp(-(bb1 * x1 + bb2 * x2 + bb3)))
                        * 1000000) AS BIGINT) AS pq
      FROM feats CROSS JOIN beta2
    )
    SELECT CAST(LEAST(pq // 100000, 9) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST((SUM(pq) + COUNT(*) // 2) // COUNT(*) AS BIGINT)
             AS predicted_ppm,
           CAST((SUM(y) * 1000000 + COUNT(*) // 2) // COUNT(*) AS BIGINT)
             AS actual_ppm
    FROM cal GROUP BY 1 ORDER BY bin
"""
)


def _logreg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x1"),
        F.floor(F.col("l_discount").cast("double") * 100 + 0.5)
        .cast("long")
        .alias("x2"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    return li.localCheckpoint(eager=False)  # iteration 1 + 2 consumers


def _logreg_fit(spark: SparkSession, li: DataFrame):
    """Both Newton iterations; returns (n, n_pos, (b1, b2, b3)) with
    the post-iteration-2 betas, or (0, 0, None) on empty input."""
    m1 = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum("x1").alias("s13"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("x2").alias("s23"),
        F.sum(F.lit(2) * F.col("y") - 1).alias("r3"),
        F.sum(F.col("x1") * (F.lit(2) * F.col("y") - 1)).alias("r1"),
        F.sum(F.col("x2") * (F.lit(2) * F.col("y") - 1)).alias("r2"),
    ).collect()[0]
    if not m1["n"]:
        return 0, 0, None
    det, n1, n2, n3 = _solve3(
        m1["s11"], m1["s12"], m1["s13"], m1["s22"], m1["s23"],
        float(m1["n"]), m1["r1"], m1["r2"], m1["r3"],
    )
    b1, b2, b3 = n1 / det * 2, n2 / det * 2, n3 / det * 2
    mu = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(
                F.lit(b1) * F.col("x1")
                + F.lit(b2) * F.col("x2")
                + F.lit(b3)
            )
        )
    )
    quant = li.select(
        "x1",
        "x2",
        F.floor(mu * (F.lit(1) - mu) * 1000000).cast("long").alias("wq"),
        F.floor((F.col("y") - mu) * 1000000).cast("long").alias("rq"),
    )
    m2 = quant.agg(
        F.sum(F.col("wq") * F.col("x1") * F.col("x1")).alias("a11"),
        F.sum(F.col("wq") * F.col("x1") * F.col("x2")).alias("a12"),
        F.sum(F.col("wq") * F.col("x1")).alias("a13"),
        F.sum(F.col("wq") * F.col("x2") * F.col("x2")).alias("a22"),
        F.sum(F.col("wq") * F.col("x2")).alias("a23"),
        F.sum("wq").alias("a33"),
        F.sum(F.col("rq") * F.col("x1")).alias("t1"),
        F.sum(F.col("rq") * F.col("x2")).alias("t2"),
        F.sum("rq").alias("t3"),
    ).collect()[0]
    ddet, dn1, dn2, dn3 = _solve3(
        m2["a11"], m2["a12"], m2["a13"], m2["a22"], m2["a23"],
        m2["a33"], m2["t1"], m2["t2"], m2["t3"],
    )
    return (
        int(m1["n"]),
        int(m1["n_pos"]),
        (b1 + dn1 / ddet, b2 + dn2 / ddet, b3 + dn3 / ddet),
    )


@_register("lineitem_logreg_newton", _LOGREG_ORACLE)
def lineitem_logreg_newton(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    li = _logreg_features(spark, sf_dir)
    n, n_pos, betas = _logreg_fit(spark, li)
    schema = (
        "n_rows long, n_pos long, beta_qty_micro long, "
        "beta_disc_micro long, beta_intercept_micro long"
    )
    if betas is None:
        # mirror the oracle's empty-input row: n = 0, NULL betas
        return spark.createDataFrame([(0, None, None, None, None)], schema)
    return spark.createDataFrame(
        [
            (n, n_pos)
            + tuple(math.floor(b * 1000000 + 0.5) for b in betas)
        ],
        schema,
    )


# ---------------------------------------------------------------------------
# Reliability / calibration bins for the Newton fit above — the model
# EVALUATION artifact every scoring pipeline needs next to the fit:
# bin the fitted probabilities into deciles and compare mean predicted
# vs actual positive rate per bin. A calibrated model tracks the
# diagonal. Same bit-identical discipline: per-row ⌊μ·10⁶⌋
# quantization BEFORE any aggregation (the exp() ulp rule), exact
# integer sums, half-up integer divisions; the oracle replays the
# entire two-iteration fit + scoring pass in SQL.
#
# 100 TB shape: the fit is the two aggregations above; scoring + bin
# rollup is ONE more map-side-combined pass (≤10 output rows).
# ---------------------------------------------------------------------------
@_register(
    "lineitem_logreg_calibration",
    _LOGREG_CAL_ORACLE,
)
def lineitem_logreg_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _logreg_features(spark, sf_dir)
    n, n_pos, betas = _logreg_fit(spark, li)
    schema = (
        "bin long, n long, n_pos long, predicted_ppm long, actual_ppm long"
    )
    if betas is None:
        return spark.createDataFrame([], schema)
    b1, b2, b3 = betas
    mu = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(
                F.lit(b1) * F.col("x1")
                + F.lit(b2) * F.col("x2")
                + F.lit(b3)
            )
        )
    )
    scored = li.select(
        "y",
        F.floor(mu * 1000000).cast("long").alias("pq"),
    ).select(
        "y",
        "pq",
        F.expr("least(pq div CAST(100000 AS BIGINT), 9)")
        .cast("long")
        .alias("bin"),
    )
    return (
        scored.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("pq").alias("sp"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            F.expr("(sp + n div 2) div n").cast("long").alias(
                "predicted_ppm"
            ),
            F.expr(
                "(n_pos * CAST(1000000 AS BIGINT) + n div 2) div n"
            )
            .cast("long")
            .alias("actual_ppm"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Grouped quantile normalization — the rank-based feature transform
# (map each group's empirical distribution onto the GLOBAL one, so
# downstream models see priority-comparable prices): normalized value
# of the r-th of n_g rows in a group = the global value at rank
# ⌈r·N/n_g⌋ (half-up, clamped). Batch-effect correction in
# bioinformatics, score-equating in ranking systems — same algebra.
#
# Scale shape: per-group ranks via two_phase_grouped_row_number (the
# 5-group case is exactly the few-reducers straggler a plain
# Window.partitionBy(priority) cannot survive at 100 TB), the global
# rank via two_phase_row_number, and the value lookup is an equi-join
# on the target rank — no unpartitioned WindowExec anywhere. The
# per-row mapping is certified by a mod-reduced checksum (the repo's
# scale-proof checksum rule) instead of shipping 1.5 M rows.
# ---------------------------------------------------------------------------
_QN_P = 1_000_000_007


@_register(
    "orders_quantile_normalize_stats",
    f"""
    WITH o AS (
      SELECT o_orderpriority AS grp,
             CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                  AS BIGINT) AS cents,
             CAST(o_orderkey AS BIGINT) AS k
      FROM orders
    ), g AS (
      SELECT grp, cents, k,
             ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cents, k) AS r,
             CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS ng
      FROM o
    ), t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM o
    ), gv AS (
      SELECT cents AS norm_cents,
             ROW_NUMBER() OVER (ORDER BY cents, k) AS gr
      FROM o
    ), tgt AS (
      -- the target rank must be a PROJECTED column before the join:
      -- joining on the raw LEAST(...) expression denies DuckDB the
      -- hash join and degrades to a nested loop (measured: the sf1
      -- rehearsal sat at 1.5M x 1.5M comparisons for 15+ minutes)
      SELECT g.grp, g.k,
             LEAST(GREATEST((g.r * t.n + g.ng // 2) // g.ng,
                            CAST(1 AS BIGINT)), t.n) AS gr
      FROM g CROSS JOIN t
    ), m AS (
      SELECT tgt.grp, tgt.k, gv.norm_cents
      FROM tgt JOIN gv USING (gr)
    )
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(norm_cents) AS BIGINT) AS sum_norm_cents,
           CAST(MIN(norm_cents) AS BIGINT) AS min_norm_cents,
           CAST(MAX(norm_cents) AS BIGINT) AS max_norm_cents,
           CAST(SUM(((norm_cents % {_QN_P}) * ((k % 1000) + 1))
                    % {_QN_P}) % {_QN_P} AS BIGINT) AS map_checksum
    FROM m GROUP BY grp ORDER BY grp
    """,
)
def orders_quantile_normalize_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.ranking import (
        two_phase_grouped_row_number,
        two_phase_row_number,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice").cast("double") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
        F.col("o_orderkey").cast("long").alias("k"),
    )
    o = o.localCheckpoint(eager=False)  # group ranks + global ranks
    g = two_phase_grouped_row_number(
        o, "grp", [F.asc("cents"), F.asc("k")], "r"
    )
    sizes = o.groupBy("grp").agg(F.count(F.lit(1)).alias("ng"))
    tot = o.agg(F.count(F.lit(1)).alias("n"))
    glob = two_phase_row_number(
        o, [F.asc("cents"), F.asc("k")], "gr"
    ).select(F.col("cents").alias("norm_cents"), "gr")
    target = F.expr(
        "least(greatest((r * n + ng div 2) div ng,"
        " CAST(1 AS BIGINT)), n)"
    )
    m = (
        g.join(F.broadcast(sizes), "grp")
        .crossJoin(F.broadcast(tot))
        .withColumn("gr", target)
        .join(glob, "gr")
    )
    return (
        m.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("norm_cents").cast("long").alias("sum_norm_cents"),
            F.min("norm_cents").cast("long").alias("min_norm_cents"),
            F.max("norm_cents").cast("long").alias("max_norm_cents"),
            (
                F.sum(
                    (
                        (F.col("norm_cents") % _QN_P)
                        * ((F.col("k") % 1000) + 1)
                    )
                    % _QN_P
                )
                % _QN_P
            )
            .cast("long")
            .alias("map_checksum"),
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# Caliper nearest-neighbor matching — the observational-study /
# causal-inference data-prep step (Rosenbaum-Rubin style): each
# TREATED unit (urgent orders) is matched to its nearest CONTROL
# (low-priority order) on the covariate (price), with matches beyond
# the caliper discarded — textbook caliper matching, with
# replacement, deterministic ties (smaller |gap|, then lower control
# key).
#
# Scale shape: a global "nearest by score" would need a single sorted
# axis; the caliper makes it BUCKETABLE AND LOSSLESS — bucket width =
# caliper, candidates = controls in the treated unit's bucket ±1
# (every control within the caliper is in those three buckets by
# construction, so the bucket join provably loses no admissible
# match). Equi-join on bucket, keyed window per treated unit — no
# global sort, no broadcast of the control table. The exact matching
# is pinned by a mod-reduced checksum over (treated, control) pairs.
# ---------------------------------------------------------------------------
_CALIPER_CENTS = 100_00  # match within ±100.00 of the treated price


@_register(
    "orders_caliper_match_stats",
    f"""
    WITH t AS (
      SELECT CAST(o_orderkey AS BIGINT) AS tk,
             CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                  AS BIGINT) AS s
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ), c AS (
      SELECT CAST(o_orderkey AS BIGINT) AS ck,
             CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                  AS BIGINT) AS cs
      FROM orders WHERE o_orderpriority = '5-LOW'
    ), cand AS (
      SELECT t.tk, t.s, c.ck, ABS(t.s - c.cs) AS gap
      FROM t JOIN c
        ON c.cs // {_CALIPER_CENTS} BETWEEN t.s // {_CALIPER_CENTS} - 1
                                        AND t.s // {_CALIPER_CENTS} + 1
      WHERE ABS(t.s - c.cs) <= {_CALIPER_CENTS}
    ), best AS (
      SELECT tk, ck, gap,
             ROW_NUMBER() OVER (PARTITION BY tk ORDER BY gap, ck) AS rn
      FROM cand
    ), m AS (SELECT tk, ck, gap FROM best WHERE rn = 1)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS n_treated,
           CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST(SUM(gap) AS BIGINT) AS sum_gap_cents,
           CAST(MAX(gap) AS BIGINT) AS max_gap_cents,
           CAST(SUM(((tk % 1000000007) * ((ck % 1000) + 1))
                    % 1000000007) % 1000000007 AS BIGINT)
             AS match_checksum
    FROM m
    """,
)
def orders_caliper_match_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_orderkey").cast("long").alias("k"),
        F.floor(F.col("o_totalprice").cast("double") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    o = o.localCheckpoint(eager=False)  # treated + control consumers
    t = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("k").alias("tk"),
        F.col("cents").alias("s"),
        F.expr(f"cents div {_CALIPER_CENTS}").alias("tb"),
    )
    c = o.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("k").alias("ck"),
        F.col("cents").alias("cs"),
        # each control registers in its bucket and both neighbors so
        # the treated side probes ONE key (lossless under the caliper)
        F.explode(
            F.array(
                F.expr(f"cents div {_CALIPER_CENTS} - 1"),
                F.expr(f"cents div {_CALIPER_CENTS}"),
                F.expr(f"cents div {_CALIPER_CENTS} + 1"),
            )
        ).alias("tb"),
    )
    cand = (
        t.join(c, "tb")
        .withColumn("gap", F.abs(F.col("s") - F.col("cs")))
        .filter(F.col("gap") <= _CALIPER_CENTS)
    )
    w = Window.partitionBy("tk").orderBy("gap", "ck")
    m = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("tk", "ck", "gap")
    )
    n_t = t.agg(F.count(F.lit(1)).cast("long").alias("n_treated"))
    return (
        m.agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.sum("gap").cast("long").alias("sum_gap_cents"),
            F.max("gap").cast("long").alias("max_gap_cents"),
            (
                F.sum(
                    (
                        (F.col("tk") % 1000000007)
                        * ((F.col("ck") % 1000) + 1)
                    )
                    % 1000000007
                )
                % 1000000007
            )
            .cast("long")
            .alias("match_checksum"),
        )
        .crossJoin(F.broadcast(n_t))
        .select(
            "n_treated",
            "n_matched",
            "sum_gap_cents",
            "max_gap_cents",
            "match_checksum",
        )
    )


# ---------------------------------------------------------------------------
# Point-in-time-correct training-set assembly — THE feature-store
# operation: for every training example (a purchase, labeled by its
# size), attach the feature snapshot that was current STRICTLY BEFORE
# the example's event time — never the same day's (that is label
# leakage: the snapshot already contains the example). Feature
# snapshots here are per-(user, day) cumulative activity counts built
# from the event stream; the PIT join is a strict backward as-of on
# day grain via operators/windows.as_of_join (one union+sort
# exchange). Examples whose user has no prior snapshot surface as
# cold-start rows (NULL features) and are counted, not dropped —
# the training pipeline must SEE them.
#
# 100 TB: snapshot build = one groupBy + keyed cumsum window; the
# as-of is the single-exchange union trick; rollup is dim-grained.
# ---------------------------------------------------------------------------
@_register(
    "events_pit_training_set",
    """
    WITH snap AS (
      SELECT user_id, date_trunc('day', ts::TIMESTAMP) AS day,
             CAST(SUM(COUNT(*)) OVER (
               PARTITION BY user_id ORDER BY date_trunc('day', ts::TIMESTAMP)
             ) AS BIGINT) AS cum_events,
             CAST(SUM(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END))
               OVER (PARTITION BY user_id
                     ORDER BY date_trunc('day', ts::TIMESTAMP))
               AS BIGINT) AS cum_clicks
      FROM events GROUP BY user_id, 2
    ), ex AS (
      SELECT event_id, user_id, ts::TIMESTAMP AS ts,
             date_trunc('day', ts::TIMESTAMP) AS ex_day,
             CASE WHEN CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5)
                            AS BIGINT) >= 500 THEN 1 ELSE 0 END AS label
      FROM events WHERE event_type = 'purchase'
    ), pit AS (
      SELECT ex.event_id, ex.label, s.cum_events, s.cum_clicks
      FROM ex ASOF LEFT JOIN snap s
        ON ex.user_id = s.user_id AND ex.ex_day > s.day
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_examples,
           CAST(SUM(CASE WHEN cum_events IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cold_start,
           CAST(COALESCE(SUM(cum_events), 0) AS BIGINT) AS sum_cum_events,
           CAST(COALESCE(SUM(cum_clicks), 0) AS BIGINT) AS sum_cum_clicks
    FROM pit GROUP BY label ORDER BY label
    """,
)
def events_pit_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.windows import as_of_join

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("d_events"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("d_clicks"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("day")
    snap = daily.select(
        "user_id",
        "day",
        F.sum("d_events").over(w).cast("long").alias("cum_events"),
        F.sum("d_clicks").over(w).cast("long").alias("cum_clicks"),
    )
    ex = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.date_trunc("day", "ts").alias("ex_day"),
        F.when(
            F.floor(F.col("value").cast("double") * 100 + 0.5) >= 500, 1
        )
        .otherwise(0)
        .alias("label"),
    )
    pit = as_of_join(
        ex,
        snap,
        on="user_id",
        left_ts="ex_day",
        right_ts="day",
        right_payload=["cum_events", "cum_clicks"],
        strict=True,  # STRICTLY before the example's day — no leakage
    )
    return (
        pit.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_examples"),
            F.sum(F.col("cum_events").isNull().cast("long"))
            .cast("long")
            .alias("n_cold_start"),
            F.coalesce(F.sum("cum_events"), F.lit(0))
            .cast("long")
            .alias("sum_cum_events"),
            F.coalesce(F.sum("cum_clicks"), F.lit(0))
            .cast("long")
            .alias("sum_cum_clicks"),
        )
        .orderBy("label")
    )
