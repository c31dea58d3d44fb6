"""Data-enrichment / repair query shapes: fuzzy entity resolution by
edit distance (the scale generalization of the reference's 2-pass
fuzzy catalog match, etl_sync.py:128-139 — exact, then containment;
here: exact would miss, so banded Levenshtein picks the closest
catalog row) and time-series densification with forward-fill (the
time-axis twin of J4's cross-join densification, app.py:1141-1151,
plus the imputation idea of J8).

Scale shapes (100 TB):

- Fuzzy probe match: the probe set is tiny and BROADCAST; candidate
  generation is a length-band block (|len(a)-len(b)| <= max edit
  distance — a sound filter, never drops a true match within the
  band) so each probe scores only its band, then one
  TakeOrderedAndProject per probe via a partitioned row_number. The
  catalog is never self-joined; cost is |probes| × band width. For
  probe sets too large to broadcast, the same plan becomes a
  length-bucket equi-join (bucket = len div k) — noted, not needed
  here.
- Gap fill: per-key hourly spine built with sequence()/explode — the
  spine is generated NEXT TO the data (one groupBy for [min, max]
  per key, explode back out), not via a global calendar cross join;
  forward-fill is last(ignorenulls) over a per-user window (keyed
  partitions only, no global window). One shuffle on user_id serves
  the observation rollup, the spine join, and the window.

Cross-engine determinism: levenshtein() is the classic edit distance
in both engines (pinned by a unit test); tie-breaks are (distance,
key) lexicographic. Hour buckets render as strings; per-hour values
quantize to integer cents (FLOOR(x*100 + 0.5), repo float rule)
BEFORE summing so every sum is an exact integer in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.plans.registry import register as _register
from epl_cas_etl_2026_spark.sources.parquet import load_table


# Deterministic probe corruption: parts with key ≡ 37 (mod 211),
# 3rd character dropped — a typo the exact matcher can't resolve.
_PROBE_MOD = 211
_PROBE_REM = 37
_MAX_DIST = 3


# ---------------------------------------------------------------------------
# Fuzzy catalog resolution: each corrupted probe name resolves to its
# closest catalog part by edit distance (ties → lowest part key).
# ---------------------------------------------------------------------------
@_register(
    "parts_fuzzy_probe_match",
    f"""
    WITH probes AS (
      SELECT p_partkey AS probe_key,
             substr(p_name, 1, 2) || substr(p_name, 4) AS probe_name
      FROM part WHERE p_partkey % {_PROBE_MOD} = {_PROBE_REM}
    ), cand AS (
      SELECT pr.probe_key, pr.probe_name,
             p.p_partkey AS match_key, p.p_name AS match_name,
             CAST(levenshtein(pr.probe_name, p.p_name) AS BIGINT) AS dist
      FROM probes pr
      JOIN part p
        ON abs(len(pr.probe_name) - len(p.p_name)) <= {_MAX_DIST}
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY probe_key
               ORDER BY dist, match_key) AS rn
      FROM cand WHERE dist <= {_MAX_DIST}
    )
    SELECT probe_key, probe_name, match_key, match_name, dist
    FROM ranked WHERE rn = 1
    ORDER BY probe_key
    """,
)
def parts_fuzzy_probe_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    probes = part.filter(
        F.col("p_partkey") % _PROBE_MOD == _PROBE_REM
    ).select(
        F.col("p_partkey").alias("probe_key"),
        F.concat(
            F.substring("p_name", 1, 2), F.expr("substr(p_name, 4)")
        ).alias("probe_name"),
    )
    cand = (
        F.broadcast(probes)
        .join(
            part,
            F.abs(
                F.length("probe_name") - F.length("p_name")
            )
            <= _MAX_DIST,
        )
        .select(
            "probe_key",
            "probe_name",
            F.col("p_partkey").alias("match_key"),
            F.col("p_name").alias("match_name"),
            # bounded form: O(len·k) banded DP instead of the O(len²)
            # full matrix; returns -1 past the bound, the exact
            # distance (identical to the unbounded call) within it
            F.levenshtein("probe_name", "p_name", _MAX_DIST)
            .cast("long")
            .alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )
    w = Window.partitionBy("probe_key").orderBy("dist", "match_key")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("probe_key")
    )


# ---------------------------------------------------------------------------
# Hourly gap fill + forward-fill per user: build each user's dense
# hour spine, left-join observations, carry the last observed hourly
# cents forward across gaps, report per-user fill stats.
# ---------------------------------------------------------------------------
@_register(
    "events_hourly_gap_fill",
    """
    WITH obs AS (
      SELECT user_id,
             time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS h,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), spine AS (
      SELECT user_id,
             unnest(generate_series(MIN(h), MAX(h),
                                    INTERVAL 1 hour)) AS h
      FROM obs GROUP BY user_id
    ), filled AS (
      SELECT s.user_id, s.h, o.n_events,
             last_value(o.cents IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.h
               ROWS UNBOUNDED PRECEDING) AS filled_cents
      FROM spine s LEFT JOIN obs o
        ON s.user_id = o.user_id AND s.h = o.h
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(COUNT(n_events) AS BIGINT) AS n_observed,
           CAST(COUNT(*) - COUNT(n_events) AS BIGINT) AS n_gaps,
           CAST(SUM(filled_cents) AS BIGINT) AS filled_sum_cents
    FROM filled
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Closed-form over OBSERVED hours only — no dense spine. The old
    # plan exploded each user's min..max hour range (10x the data at
    # sf0.1: 1.05M spine rows vs 95k obs rows — and unbounded at
    # 100 TB: spine size grows with the TIME SPAN, not the data),
    # left-joined obs back, and windowed over the spine. Identical
    # result arithmetically: each observed hour h_i forward-fills the
    # half-open range [h_i, h_{i+1}) (the last one fills exactly its
    # own hour through max(h)), so
    #   filled_sum = sum_i last_nonnull_cents(<=h_i) * gap_i,
    #   n_hours    = (max(h) - min(h))/1h + 1,
    #   n_gaps     = n_hours - n_observed.
    # One exchange total: the explicit repartition by user_id is
    # reused by the (user_id, h) aggregation (clustered-distribution
    # subset), the per-user window, and the final per-user rollup
    # (obs multiplicity is ~1.05, so partial map-side aggregation
    # bought nothing; the old shape paid 4 exchanges + a spine-sized
    # window for the same answer).
    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", "ts").alias("h"), "value"
    ).repartition("user_id")
    obs = events.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    wo = Window.partitionBy("user_id").orderBy("h")
    wf = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per_obs = obs.select(
        "user_id",
        "h",
        F.last("cents", ignorenulls=True).over(wf).alias("filled"),
        F.coalesce(
            (
                F.unix_micros(F.lead("h").over(wo))
                - F.unix_micros(F.col("h"))
            )
            / F.lit(3_600_000_000).cast("long"),
            F.lit(1),
        )
        .cast("long")
        .alias("span_hours"),
    )
    return (
        per_obs.groupBy("user_id")
        .agg(
            F.sum("span_hours").cast("long").alias("n_hours"),
            F.count(F.lit(1)).cast("long").alias("n_observed"),
            (F.sum("span_hours") - F.count(F.lit(1)))
            .cast("long")
            .alias("n_gaps"),
            F.sum(F.col("filled") * F.col("span_hours"))
            .cast("long")
            .alias("filled_sum_cents"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# FastSS deletion-neighborhood edit-distance SELF-join (Bocek et al.,
# "Fast Similarity Search in Large Dictionaries", 2007 — public
# algorithm): find every pair of names within Levenshtein distance 1
# across the WHOLE set, without a quadratic compare and without the
# broadcast-probe restriction of parts_fuzzy_probe_match (whose probe
# side must be tiny). Each name emits its deletion neighborhood —
# itself plus every single-character-deletion variant (len+1 strings);
# two names at distance ≤ 1 (substitution / insert / delete — NOT
# transposition, which is distance 2) provably share a variant, so an
# EQUI-join on the variant finds every true pair; the exact
# levenshtein ≤ 1 predicate then discards hash-bucket coincidences.
#
# Scale shape: the explosion factor is len+1 (≈ 19 here) — linear in
# data size; the join is a plain equi-shuffle on variant strings whose
# bucket sizes are bounded by the alphabet (a variant is shared only
# by names one edit apart, +1 for the rare delete-collision); the
# verification is per-pair. The DuckDB oracle is the UNblocked
# quadratic spec (with the lossless |Δlen| ≤ 1 prefilter), so the
# hash match proves the deletion-neighborhood blocking loses nothing.
# ---------------------------------------------------------------------------
_FASTSS_VARIANTS = (
    "array_distinct(concat(array(nm), transform(sequence(1, length(nm)),"
    " i -> concat(substring(nm, 1, i - 1),"
    " substring(nm, i + 1, length(nm))))))"
)


@_register(
    "customers_fastss_editdist_pairs",
    """
    WITH n AS (
      SELECT DISTINCT c_name AS nm FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT a.nm AS name_a, b.nm AS name_b
    FROM n a JOIN n b ON a.nm < b.nm
    WHERE ABS(LENGTH(a.nm) - LENGTH(b.nm)) <= 1
      AND levenshtein(a.nm, b.nm) <= 1
    ORDER BY name_a, name_b
    """,
)
def customers_fastss_editdist_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    names = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select(F.col("c_name").alias("nm"))
        .distinct()
    )
    va = names.select(
        F.col("nm").alias("name_a"),
        F.explode(F.expr(_FASTSS_VARIANTS)).alias("variant"),
    )
    vb = va.select(
        F.col("name_a").alias("name_b"), F.col("variant")
    )
    return (
        va.join(vb, "variant")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
        # bounded levenshtein: O(len) band for the ≤1 check, -1 past it
        .filter(F.levenshtein("name_a", "name_b", 1) >= 0)
        .orderBy("name_a", "name_b")
    )


# ---------------------------------------------------------------------------
# Position-based MULTI-touch attribution (the U/40-20-40 model) — the
# multi-touch upgrade of purchase_attribution_asof (which is
# last-touch): every purchase is credited to ALL qualifying touches
# (click/view/signup) since the user's PREVIOUS purchase: first touch
# 40%, last touch 40%, the middle 20% split evenly. Credit is integer
# BASIS POINTS; an uneven middle split gives the remainder to the
# EARLIEST middle touch (deterministic bps, sums to exactly 10000 per
# converted purchase with ≥1 touch). n=1 → 10000; n=2 → 5000/5000.
#
# Touch→purchase assignment is by the user's (ts, event_id) total
# order: a touch belongs to the first purchase after it in that order,
# so every touch is credited at most once (conversion-path
# partitioning, not a sliding lookback that double-counts).
#
# 100 TB shape: one cumulative-count window and one row_number/count
# window, both keyed by user_id / purchase; the touch→purchase join is
# an equi-join on (user_id, epoch). No unkeyed window, no fact
# broadcast.
# ---------------------------------------------------------------------------
@_register(
    "events_multitouch_attribution",
    """
    WITH o AS (
      SELECT event_id, user_id, event_type, ts,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS cump
      FROM events
    ), purch AS (
      SELECT user_id, cump AS pseq, event_id AS purchase_id
      FROM o WHERE isp = 1
    ), touch AS (
      SELECT user_id, event_id, event_type, ts, cump AS epoch
      FROM o WHERE isp = 0
        AND event_type IN ('click', 'view', 'signup')
    ), att AS (
      SELECT t.event_id, t.event_type, t.ts, p.purchase_id
      FROM touch t
      JOIN purch p ON t.user_id = p.user_id AND p.pseq = t.epoch + 1
    ), pos AS (
      SELECT event_type, purchase_id,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY ts, event_id) AS pos,
             COUNT(*) OVER (PARTITION BY purchase_id) AS n
      FROM att
    ), credit AS (
      SELECT event_type,
             CASE WHEN n = 1 THEN 10000
                  WHEN n = 2 THEN 5000
                  WHEN pos = 1 OR pos = n THEN 4000
                  ELSE 2000 // (n - 2)
                       + (CASE WHEN pos = 2 THEN 2000 % (n - 2)
                               ELSE 0 END)
             END AS bps,
             pos, n
      FROM pos
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_first,
           CAST(SUM(CASE WHEN pos = n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_last,
           CAST(SUM(bps) AS BIGINT) AS credit_bps
    FROM credit
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_multitouch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    isp = (F.col("event_type") == "purchase").cast("long")
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    o = ev.withColumn("isp", isp).withColumn(
        "cump", F.sum("isp").over(w_cum)
    )
    purch = o.filter(F.col("isp") == 1).select(
        "user_id",
        F.col("cump").alias("pseq"),
        F.col("event_id").alias("purchase_id"),
    )
    touch = o.filter(
        (F.col("isp") == 0)
        & F.col("event_type").isin("click", "view", "signup")
    ).select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        (F.col("cump") + 1).alias("next_pseq"),
    )
    att = touch.join(
        purch,
        (touch["user_id"] == purch["user_id"])
        & (touch["next_pseq"] == purch["pseq"]),
    ).select("event_id", "event_type", "ts", "purchase_id")
    w_pos = Window.partitionBy("purchase_id").orderBy("ts", "event_id")
    w_n = Window.partitionBy("purchase_id")
    pos = att.select(
        "event_type",
        "purchase_id",
        F.row_number().over(w_pos).alias("pos"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    bps = (
        F.when(F.col("n") == 1, F.lit(10000))
        .when(F.col("n") == 2, F.lit(5000))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n")),
            F.lit(4000),
        )
        .otherwise(
            F.expr("2000 div (n - 2)")
            + F.when(
                F.col("pos") == 2, F.expr("2000 % (n - 2)")
            ).otherwise(F.lit(0))
        )
    )
    return (
        pos.withColumn("bps", bps)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum((F.col("pos") == 1).cast("long"))
            .cast("bigint")
            .alias("n_first"),
            F.sum((F.col("pos") == F.col("n")).cast("long"))
            .cast("bigint")
            .alias("n_last"),
            F.sum("bps").cast("bigint").alias("credit_bps"),
        )
        .orderBy("event_type")
    )
