"""Warehouse-maintenance query shapes: exact distinct counts via
mergeable bitmap sketches, and SCD2 (type-2 slowly-changing
dimension) version compression from an event stream.

- Bitmap distinct: Spark's bitmap_construct_agg/bitmap_or_agg over
  (key, bucket) is the EXACT distinct-count materialization that,
  unlike COUNT(DISTINCT), is re-aggregable: per-partition bitmaps
  OR-merge across shards, days, or late-arriving increments without
  re-reading history — a mergeable partial aggregate for distincts.
  100 TB shape: one groupBy to bucketed bitmaps (each bitmap covers
  2^15 ids → bounded cell size), one OR-merge groupBy; both map-side
  combined. The DuckDB oracle is plain
  COUNT(DISTINCT) — equality proves the bitmap path exact, not
  approximate.

- SCD2 compression: an event stream has one row per observation; the
  dimension wants one row per STATE CHANGE with a validity interval.
  Change detection is lag() != current per key (keyed window, no
  global partition); intervals come from lead() over the compressed
  stream; durations are exact epoch-microsecond integers (unix_micros/epoch_us — second-level epoch() casts would round vs truncate differently across engines). Reference
  lineage: period-transition T6 and next-row J11 generalized to the
  classic warehouse versioning op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.plans.registry import register as _register
from epl_cas_etl_2026_spark.sources.parquet import load_table


# ---------------------------------------------------------------------------
# Exact distinct users per event type via two-level bitmap aggregation.
# ---------------------------------------------------------------------------
@_register(
    "events_bitmap_distinct_rollup",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def events_bitmap_distinct_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # bitmap_bucket_number/bitmap_bit_position are 1-based: value 0
    # maps to bit position -1, which bitmap_construct_agg silently
    # drops (measured: every count short by exactly the id-0 user).
    # Shift ids by +1 so the 0-based testdata keys are all valid.
    # negative ids would map to negative bit positions, which the
    # bitmap aggregate drops SILENTLY — fail loudly instead (the +1
    # shift only covers id 0)
    uid = (
        "CASE WHEN user_id < 0 THEN raise_error("
        "'bitmap distinct requires non-negative ids') "
        "ELSE user_id + 1 END"
    )
    buckets = (
        events.select(
            "event_type",
            F.expr(f"bitmap_bucket_number({uid})").alias("bucket"),
            F.expr(f"bitmap_bit_position({uid})").alias("pos"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    # Counts are per (type, bucket) and SUMMED across buckets —
    # never bitmap_or_agg across DIFFERENT buckets (bit positions
    # collide between buckets; OR-merging them undercounts — caught
    # by tests/test_warehouse.py on ids spanning 32768 boundaries).
    # bitmap_or_agg's role is merging SAME-bucket bitmaps across
    # shards/increments before the count.
    return (
        buckets.groupBy("event_type")
        .agg(
            F.sum(F.expr("bitmap_count(bm)"))
            .cast("long")
            .alias("n_users")
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# SCD2 compression: collapse each user's event stream to state-change
# versions with validity intervals; report per-state version stats.
# ---------------------------------------------------------------------------
@_register(
    "events_scd2_compress",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev_type IS NULL OR event_type <> prev_type
    ), versions AS (
      SELECT user_id, event_type, ts AS valid_from,
             lead(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM changes
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(COUNT(*) - COUNT(valid_to) AS BIGINT) AS n_open,
           CAST(COALESCE(SUM(epoch_us(valid_to)
                              - epoch_us(valid_from)), 0)
                AS BIGINT) AS closed_micros
    FROM versions
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_scd2_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w_obs = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        events.withColumn(
            "prev_type", F.lag("event_type").over(w_obs)
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select("user_id", "event_type", "ts", "event_id")
    )
    w_chg = Window.partitionBy("user_id").orderBy("ts", "event_id")
    versions = changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w_chg).alias("valid_to"),
    )
    return (
        versions.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_versions"),
            (F.count(F.lit(1)) - F.count("valid_to"))
            .cast("long")
            .alias("n_open"),
            F.coalesce(
                F.sum(
                    F.unix_micros("valid_to")
                    - F.unix_micros("valid_from")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("closed_micros"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# CDC changelog apply (changelog compaction): a change stream of
# (key, seq, op, value) rows — upserts and deletes in commit order —
# compacts to the final table state: the row with the highest seq per
# key, kept only if that op is an upsert. The core of applying a
# Debezium/binlog feed to a warehouse table without replaying history.
# Scale shape: one KEYED window (row_number per key, never global) —
# the same W4 latest-per-key machinery the dashboard uses, promoted to
# the ingestion path. The changelog derives deterministically from
# orders (seq = orderkey, 20% deletes); values carried in exact cents.
# ---------------------------------------------------------------------------
@_register(
    "orders_cdc_apply_state",
    """
    WITH log AS (
      SELECT o_custkey AS key, o_orderkey AS seq,
             CASE WHEN o_orderkey % 10 >= 8 THEN 'D' ELSE 'U' END AS op,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS val_cents
      FROM orders
    ), last AS (
      SELECT key, seq, op, val_cents,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
      FROM log
    )
    SELECT CAST(key AS BIGINT) AS key, CAST(seq AS BIGINT) AS last_seq,
           val_cents
    FROM last WHERE rn = 1 AND op = 'U'
    ORDER BY key
    """,
)
def orders_cdc_apply_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    log = o.select(
        F.col("o_custkey").cast("long").alias("key"),
        F.col("o_orderkey").cast("long").alias("seq"),
        F.when(F.col("o_orderkey") % 10 >= 8, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("val_cents"),
    )
    w = Window.partitionBy("key").orderBy(F.desc("seq"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select("key", F.col("seq").alias("last_seq"), "val_cents")
        .orderBy("key")
    )


# ---------------------------------------------------------------------------
# Interval OVERLAP join (interval × interval, not the J7 point-in-
# range shape): find all pairs of date intervals from two sets that
# overlap. The quadratic predicate join becomes an EQUI-join by
# bucketizing time: every interval spans ≤ 30 days, so it covers at
# most 2 buckets of width 32 days; exploding each interval to its
# covered buckets and equi-joining on the bucket finds every
# overlapping pair (two overlapping intervals share ≥ 1 covered day,
# hence ≥ 1 bucket), then the exact predicate + distinct dedups the
# double-bucket hits. Candidate volume is |A|·|B| scaled by bucket
# co-occupancy, not the full cross product — the standard temporal-
# blocking scheme (genomics/log-correlation). The DuckDB oracle IS the
# quadratic spec, so the hash match proves zero recall loss.
# ---------------------------------------------------------------------------
_IV_BUCKET = 32  # days; must exceed the max interval span (31)


@_register(
    "orders_interval_overlap_join",
    """
    WITH a AS (
      SELECT o_orderkey AS a_id,
             date_diff('day', DATE '1970-01-01', o_orderdate) AS a_s,
             date_diff('day', DATE '1970-01-01', o_orderdate)
               + (o_orderkey % 30) + 1 AS a_e
      FROM orders WHERE o_orderkey % 97 = 0
    ), b AS (
      SELECT o_orderkey AS b_id,
             date_diff('day', DATE '1970-01-01', o_orderdate) AS b_s,
             date_diff('day', DATE '1970-01-01', o_orderdate)
               + (o_orderkey % 30) + 1 AS b_e
      FROM orders WHERE o_orderkey % 89 = 0
    )
    SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id,
           CAST(LEAST(a_e, b_e) - GREATEST(a_s, b_s) + 1 AS BIGINT)
             AS overlap_days
    FROM a, b
    WHERE a_s <= b_e AND b_s <= a_e
    ORDER BY a_id, b_id
    """,
)
def orders_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))

    def intervals(mod: int, prefix: str) -> DataFrame:
        return o.filter(F.col("o_orderkey") % mod == 0).select(
            F.col("o_orderkey").cast("long").alias(f"{prefix}_id"),
            day.cast("long").alias(f"{prefix}_s"),
            (day + (F.col("o_orderkey") % 30) + 1)
            .cast("long")
            .alias(f"{prefix}_e"),
        )

    a = intervals(97, "a").withColumn(
        "bucket",
        F.explode(
            F.expr(f"sequence(a_s div {_IV_BUCKET}, a_e div {_IV_BUCKET})")
        ),
    )
    b = intervals(89, "b").withColumn(
        "bucket",
        F.explode(
            F.expr(f"sequence(b_s div {_IV_BUCKET}, b_e div {_IV_BUCKET})")
        ),
    )
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("a_s") <= F.col("b_e")) & (F.col("b_s") <= F.col("a_e"))
        )
        .select(
            "a_id",
            "b_id",
            (
                F.least("a_e", "b_e") - F.greatest("a_s", "b_s") + 1
            ).cast("long").alias("overlap_days"),
        )
        .distinct()
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# Z-ORDER layout pruning audit: bit-interleave two dimensions
# (order date × customer) into a Morton code, bin rows by z-prefix
# (the deterministic, sort-free analogue of a z-ordered file layout),
# and measure how many bins a 2-D box query must scan under the
# z-layout vs a single-column date layout. This is the file-skipping
# math behind Delta/Iceberg OPTIMIZE ZORDER: min/max column stats per
# file prune files whose bounding box misses the query box — z-order
# keeps BOTH dimensions' bounding boxes tight, a date sort only one.
#
# Everything is exact integer expressions (10-bit bucketization from
# data-derived ranges, 20-bit interleave via shift/mask — generated
# once per engine dialect), and the per-bin stats collapse through ONE
# (zbin × datebin) pre-aggregation (≤ 4096 cells) before the two
# per-layout rollups — one scan total, mergeable at any scale. The
# oracle recomputes the identical integer pipeline, so the hash match
# certifies bucketization, interleave, and pruning math bit-for-bit.
# ---------------------------------------------------------------------------
_ZBITS = 10  # per-dimension bucket bits
_ZBIN_SHIFT = 14  # 20-bit z-code >> 14 → 64 z-bins
_DATEBIN_SHIFT = 4  # 10-bit day bucket >> 4 → 64 date-bins
_BOX_LO, _BOX_HI = 448, 575  # query box, in bucket space, both dims


def _interleave_expr(a: str, b: str, spark_dialect: bool) -> str:
    """20-bit Morton code of two 10-bit ints: a's bits land on even
    positions, b's on odd."""
    parts = []
    for i in range(_ZBITS):
        if spark_dialect:
            parts.append(f"shiftleft(shiftright({a}, {i}) & 1, {2 * i})")
            parts.append(f"shiftleft(shiftright({b}, {i}) & 1, {2 * i + 1})")
        else:
            parts.append(f"((({a} >> {i}) & 1) << {2 * i})")
            parts.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(parts) + ")"


def _zorder_layout_stats_sql() -> str:
    z = _interleave_expr("day_b", "cust_b", spark_dialect=False)
    return f"""
    WITH rng AS (
      SELECT MIN(date_diff('day', DATE '1970-01-01', o_orderdate)) AS min_day,
             MAX(date_diff('day', DATE '1970-01-01', o_orderdate)) AS max_day,
             MAX(o_custkey) AS max_cust
      FROM orders
    ), bucketed AS (
      SELECT ((date_diff('day', DATE '1970-01-01', o_orderdate) - min_day)
                * 1024) // (max_day - min_day + 1) AS day_b,
             (o_custkey * 1024) // (max_cust + 1) AS cust_b
      FROM orders, rng
    ), coded AS (
      SELECT day_b, cust_b,
             {z} // {2 ** _ZBIN_SHIFT} AS zbin,
             day_b // {2 ** _DATEBIN_SHIFT} AS datebin,
             CASE WHEN day_b BETWEEN {_BOX_LO} AND {_BOX_HI}
                   AND cust_b BETWEEN {_BOX_LO} AND {_BOX_HI}
                  THEN 1 ELSE 0 END AS in_box
      FROM bucketed
    ), cell AS (
      SELECT zbin, datebin,
             MIN(day_b) AS min_d, MAX(day_b) AS max_d,
             MIN(cust_b) AS min_c, MAX(cust_b) AS max_c,
             COUNT(*) AS n, SUM(in_box) AS n_box
      FROM coded GROUP BY zbin, datebin
    ), zstats AS (
      SELECT zbin AS bin, MIN(min_d) AS min_d, MAX(max_d) AS max_d,
             MIN(min_c) AS min_c, MAX(max_c) AS max_c,
             SUM(n) AS n, SUM(n_box) AS n_box
      FROM cell GROUP BY zbin
    ), dstats AS (
      SELECT datebin AS bin, MIN(min_d) AS min_d, MAX(max_d) AS max_d,
             MIN(min_c) AS min_c, MAX(max_c) AS max_c,
             SUM(n) AS n, SUM(n_box) AS n_box
      FROM cell GROUP BY datebin
    ), rollup AS (
      SELECT 'zorder' AS layout, CAST(COUNT(*) AS BIGINT) AS bins_nonempty,
             CAST(SUM(CASE WHEN min_d <= {_BOX_HI} AND max_d >= {_BOX_LO}
                        AND min_c <= {_BOX_HI} AND max_c >= {_BOX_LO}
                       THEN 1 ELSE 0 END) AS BIGINT) AS bins_scanned,
             CAST(SUM(CASE WHEN min_d <= {_BOX_HI} AND max_d >= {_BOX_LO}
                        AND min_c <= {_BOX_HI} AND max_c >= {_BOX_LO}
                       THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
             CAST(SUM(n_box) AS BIGINT) AS rows_matching
      FROM zstats
      UNION ALL
      SELECT 'date_sort', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN min_d <= {_BOX_HI} AND max_d >= {_BOX_LO}
                        AND min_c <= {_BOX_HI} AND max_c >= {_BOX_LO}
                       THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(CASE WHEN min_d <= {_BOX_HI} AND max_d >= {_BOX_LO}
                        AND min_c <= {_BOX_HI} AND max_c >= {_BOX_LO}
                       THEN n ELSE 0 END) AS BIGINT),
             CAST(SUM(n_box) AS BIGINT)
      FROM dstats
    )
    SELECT * FROM rollup ORDER BY layout
    """


@_register("orders_zorder_pruning_stats", _zorder_layout_stats_sql())
def orders_zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    rng = o.agg(
        F.min(day).alias("min_day"),
        F.max(day).alias("max_day"),
        F.max("o_custkey").alias("max_cust"),
    )
    bucketed = o.crossJoin(F.broadcast(rng)).select(
        F.expr(
            "((datediff(o_orderdate, '1970-01-01') - min_day) * 1024)"
            " div (max_day - min_day + 1)"
        ).alias("day_b"),
        F.expr("(o_custkey * 1024) div (max_cust + 1)").alias("cust_b"),
    )
    z = _interleave_expr("day_b", "cust_b", spark_dialect=True)
    coded = bucketed.select(
        "day_b",
        "cust_b",
        F.expr(f"{z} div {2 ** _ZBIN_SHIFT}").alias("zbin"),
        F.expr(f"day_b div {2 ** _DATEBIN_SHIFT}").alias("datebin"),
        F.when(
            F.col("day_b").between(_BOX_LO, _BOX_HI)
            & F.col("cust_b").between(_BOX_LO, _BOX_HI),
            1,
        )
        .otherwise(0)
        .alias("in_box"),
    )
    cell = coded.groupBy("zbin", "datebin").agg(
        F.min("day_b").alias("min_d"),
        F.max("day_b").alias("max_d"),
        F.min("cust_b").alias("min_c"),
        F.max("cust_b").alias("max_c"),
        F.count(F.lit(1)).alias("n"),
        F.sum("in_box").alias("n_box"),
        # lazy localCheckpoint, not persist: ≤ 4096 cells feed BOTH
        # per-layout rollups (one scan total), and the blocks free
        # themselves on GC instead of accumulating cache entries
        # across repeated bench/gate invocations
    ).localCheckpoint(eager=False)

    scanned = (
        (F.col("min_d") <= _BOX_HI)
        & (F.col("max_d") >= _BOX_LO)
        & (F.col("min_c") <= _BOX_HI)
        & (F.col("max_c") >= _BOX_LO)
    )

    def rollup(bin_col: str, label: str) -> DataFrame:
        per_bin = cell.groupBy(bin_col).agg(
            F.min("min_d").alias("min_d"),
            F.max("max_d").alias("max_d"),
            F.min("min_c").alias("min_c"),
            F.max("max_c").alias("max_c"),
            F.sum("n").alias("n"),
            F.sum("n_box").alias("n_box"),
        )
        return per_bin.agg(
            F.lit(label).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("bins_nonempty"),
            F.sum(F.when(scanned, 1).otherwise(0))
            .cast("long")
            .alias("bins_scanned"),
            F.sum(F.when(scanned, F.col("n")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("n_box").cast("long").alias("rows_matching"),
        )

    return (
        rollup("zbin", "zorder")
        .unionByName(rollup("datebin", "date_sort"))
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# Incremental JOIN-view maintenance: the delta algebra for a
# materialized join view V = A ⋈ B under batch appends —
# ΔV = (ΔA ⋈ B_old) ∪ (A_old ⋈ ΔB) ∪ (ΔA ⋈ ΔB) — verified against
# the direct recompute on the full inputs: mergeable maintenance for
# the JOIN operator; the emitted invariant row carries both paths' counts
# and exact-cents sums plus their equality booleans, so the hash gate
# certifies the algebra, not just row counts. 100 TB shape: the three
# delta joins touch only delta-sized probe sides (the expensive
# A_old ⋈ B_old never re-executes on refresh).
# ---------------------------------------------------------------------------
@_register(
    "orders_join_view_delta_maintenance",
    """
    WITH a_old AS (SELECT * FROM orders WHERE o_orderkey % 5 <> 0),
    a_new AS (SELECT * FROM orders WHERE o_orderkey % 5 = 0),
    b_old AS (SELECT * FROM customer WHERE c_custkey % 7 <> 0),
    b_new AS (SELECT * FROM customer WHERE c_custkey % 7 = 0),
    v_old AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
               AS BIGINT)), 0) AS BIGINT) AS cents
      FROM a_old JOIN b_old ON o_custkey = c_custkey
    ), dv AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
               AS BIGINT)), 0) AS BIGINT) AS cents
      FROM (
        SELECT o_totalprice FROM a_new JOIN b_old ON o_custkey = c_custkey
        UNION ALL
        SELECT o_totalprice FROM a_old JOIN b_new ON o_custkey = c_custkey
        UNION ALL
        SELECT o_totalprice FROM a_new JOIN b_new ON o_custkey = c_custkey
      )
    ), direct AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
               AS BIGINT)), 0) AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT v_old.n AS n_view_old, dv.n AS n_delta,
           v_old.n + dv.n AS n_incremental, direct.n AS n_direct,
           (v_old.n + dv.n) = direct.n AS counts_match,
           (v_old.cents + dv.cents) = direct.cents AS sums_match
    FROM v_old, dv, direct
    """,
)
def orders_join_view_delta_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    a_old = o.filter(F.col("o_orderkey") % 5 != 0)
    a_new = o.filter(F.col("o_orderkey") % 5 == 0)
    b_old = c.filter(F.col("c_custkey") % 7 != 0)
    b_new = c.filter(F.col("c_custkey") % 7 == 0)

    def stats(df: DataFrame, n_name: str, c_name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias(n_name),
            F.coalesce(F.sum(cents), F.lit(0)).cast("long").alias(c_name),
        )

    join_on = F.col("o_custkey") == F.col("c_custkey")
    v_old = stats(a_old.join(b_old, join_on), "n_view_old", "c_old")
    delta = stats(
        a_new.join(b_old, join_on)
        .select("o_totalprice")
        .unionByName(a_old.join(b_new, join_on).select("o_totalprice"))
        .unionByName(a_new.join(b_new, join_on).select("o_totalprice")),
        "n_delta",
        "c_delta",
    )
    direct = stats(o.join(c, join_on), "n_direct", "c_direct")
    return (
        v_old.crossJoin(delta)
        .crossJoin(direct)
        .select(
            "n_view_old",
            "n_delta",
            (F.col("n_view_old") + F.col("n_delta")).alias("n_incremental"),
            "n_direct",
            (
                F.col("n_view_old") + F.col("n_delta") == F.col("n_direct")
            ).alias("counts_match"),
            (
                F.col("c_old") + F.col("c_delta") == F.col("c_direct")
            ).alias("sums_match"),
        )
    )


# ---------------------------------------------------------------------------
# Skew-salted join under the hard gate: the proactive anti-straggler
# join (fact salted uniformly, dim replicated n_salts×, join on
# (key, salt) — sources/layout.salted_skew_join) was previously
# plan-asserted in pytest only. Here it runs as a real gated query:
# lineitem ⋈ supplier executed THROUGH the salted path, rolled up to
# per-nation counts + exact-cents revenue, hash-matched to the plain
# equi-join oracle — salting must be result-invariant (it only
# redistributes rows across reducers; the salt values themselves are
# partition-dependent and never escape the join). At scale this is
# the shape for a fact skewed on a hot key joining a dim too big to
# broadcast but too small to tolerate a straggler reducer.
# ---------------------------------------------------------------------------
@_register(
    "lineitem_salted_skew_join_rollup",
    """
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS revenue_cents
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey ORDER BY s_nationkey
    """,
)
def lineitem_salted_skew_join_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from epl_cas_etl_2026_spark.sources.layout import salted_skew_join

    fact = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice"
    )
    dim = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    joined = salted_skew_join(fact, dim, key="suppkey", n_salts=8)
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("s_nationkey")
    )


# ---------------------------------------------------------------------------
# SCD2 POINT-IN-TIME lookup — the warehouse temporal join: enrich a
# fact row with the dimension version that was valid AT the fact's
# event time. Dimension = each user's browsing state (their
# non-purchase event stream compressed to state CHANGES, the same
# collapse events_scd2_compress gates); facts = purchases. "Version
# valid at ts" over tiling intervals IS a backward as-of join, so the
# lookup reuses operators/windows.as_of_join — union both sides, ONE
# shuffle+sort on (user, ts), last-state carry-forward; no range-join
# explosion, no per-fact subquery. Facts before any state version
# stay NULL (LEFT semantics) and are reported.
#
# Determinism: state changes that tie on (user, ts) are pre-collapsed
# to the max-event_id row (the as_of_join contract); the purchase-at-
# state-change-instant edge sees the state (non-strict <=), matching
# DuckDB's native ASOF >= twin.
# ---------------------------------------------------------------------------
@_register(
    "events_scd2_temporal_join",
    """
    WITH dim_events AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE event_type <> 'purchase'
    ), ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM dim_events
    ), changes AS (
      SELECT user_id, event_type AS state, ts, event_id
      FROM ordered WHERE prev_type IS NULL OR event_type <> prev_type
    ), versions AS (
      -- collapse (user, ts) ties deterministically: max event_id wins
      SELECT user_id, state, ts FROM (
        SELECT user_id, state, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM changes) WHERE rn = 1
    ), facts AS (
      SELECT event_id, user_id, ts,
             CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase'
    ), looked AS (
      SELECT f.user_id, f.cents, v.state
      FROM facts f ASOF LEFT JOIN versions v
        ON f.user_id = v.user_id AND f.ts >= v.ts
    )
    SELECT COALESCE(state, '(no-state)') AS state,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(cents) AS BIGINT) AS purchase_cents
    FROM looked GROUP BY 1 ORDER BY 1
    """,
)
def events_scd2_temporal_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.windows import as_of_join

    events = load_table(spark, sf_dir, "events")
    dim_events = events.filter(F.col("event_type") != "purchase")
    w_obs = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        dim_events.withColumn(
            "prev_type", F.lag("event_type").over(w_obs)
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
        .select(
            "user_id", F.col("event_type").alias("state"), "ts", "event_id"
        )
    )
    w_tie = Window.partitionBy("user_id", "ts").orderBy(
        F.desc("event_id")
    )
    versions = (
        changes.withColumn("rn", F.row_number().over(w_tie))
        .filter(F.col("rn") == 1)
        .select("user_id", "state", F.col("ts").alias("state_ts"))
    )
    facts = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value").cast("double") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    looked = as_of_join(
        facts,
        versions,
        on="user_id",
        left_ts="ts",
        right_ts="state_ts",
        right_payload=["state"],
        strict=False,  # a purchase AT a state change sees that state
    )
    return (
        looked.groupBy(
            F.coalesce(F.col("state"), F.lit("(no-state)")).alias("state")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
            F.sum("cents").cast("long").alias("purchase_cents"),
        )
        .orderBy("state")
    )


# ---------------------------------------------------------------------------
# EXACT sliding-window distinct — trailing-7-day unique users per
# event type, per day. The op every engagement dashboard wants and
# COUNT(DISTINCT) fundamentally cannot give incrementally (distinct
# does not decompose over sliding frames; re-scanning 7 days of raw
# events per day is the naive 7× answer). The scale shape: compress
# each (type, day, id-bucket) to a BITMAP once — events collapse to
# day-grain bitmap cells — then every sliding answer is an OR of ≤ 7
# day-bitmaps per bucket plus a SUM of per-bucket counts (bit
# positions collide ACROSS buckets, so buckets are counted separately
# and summed — the events_bitmap_distinct_rollup rule). The 7-day
# fan-out rides a broadcast band join against the tiny day grid, so
# raw events are touched EXACTLY ONCE.
# ---------------------------------------------------------------------------
@_register(
    "events_sliding_distinct_users",
    """
    WITH days AS (
      SELECT DISTINCT event_type,
             date_trunc('day', ts::TIMESTAMP) AS day
      FROM events
    ),
    win AS (
      SELECT d.event_type, d.day, e.user_id
      FROM days d JOIN events e
        ON e.event_type = d.event_type
       AND date_trunc('day', e.ts::TIMESTAMP)
             BETWEEN d.day - INTERVAL 6 DAY AND d.day
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_7d
    FROM win GROUP BY event_type, win.day
    ORDER BY event_type, day
    """,
)
def events_sliding_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    uid = (
        "CASE WHEN user_id < 0 THEN raise_error("
        "'bitmap distinct requires non-negative ids') "
        "ELSE user_id + 1 END"
    )
    daily = (
        events.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.expr(f"bitmap_bucket_number({uid})").alias("bucket"),
            F.expr(f"bitmap_bit_position({uid})").alias("pos"),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
        .localCheckpoint(eager=False)  # grid + band-join consumers
    )
    days = daily.select("event_type", "day").distinct()
    banded = daily.alias("b").join(
        F.broadcast(days.alias("d")),
        (F.col("b.event_type") == F.col("d.event_type"))
        & (
            F.datediff(F.col("d.day"), F.col("b.day")).between(0, 6)
        ),
    )
    return (
        banded.groupBy(
            F.col("d.event_type").alias("event_type"),
            F.col("d.day").alias("w_day"),
            F.col("b.bucket").alias("bucket"),
        )
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm7"))
        .groupBy("event_type", "w_day")
        .agg(
            F.sum(F.expr("bitmap_count(bm7)"))
            .cast("long")
            .alias("n_users_7d")
        )
        .select(
            "event_type",
            F.date_format("w_day", "yyyy-MM-dd").alias("day"),
            "n_users_7d",
        )
        .orderBy("event_type", "day")
    )
