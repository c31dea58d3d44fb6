"""Driver-gated ETL-lifecycle query (SURVEY.md §2.1 S3-S5/S7, §2.9
T1-T3/T6/T7; reference etl_sync.py:341-415, 446-498, 504-566).

``etl_sync_lifecycle_stats`` runs the REAL incremental sync job
(etl/sync_job.run_incremental_sync) end-to-end, three times, over a
deterministic Zenput-shaped feed derived from the driver's ``orders``
table, then exercises the repair pass and the period-transition state
machine — and returns a stats table whose every number the DuckDB
oracle recomputes from ``orders`` alone:

  run 1: initial load of the early half of the feed (fresh sink)
  run 2: a later landing file arrives → watermark keeps only new rows
  run 3: nothing new → 0 loaded (idempotency under re-delivery)
  repair: re-extracted feed fixes NULL-score rows (T3)
  transition: coverage below target → active period must NOT move (T6)

This makes the ETL lifecycle part of the hard correctness gate instead
of pytest-only: watermark checkpointing, anti-join dedup, FK lookup,
range-join period assignment, idempotent append, audit logging, score
repair, and the period state machine all have to produce exactly the
oracle's counts for the row hash to match.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.plans.registry import register as _register
from epl_cas_etl_2026_spark.sources.parquet import load_table

_SPLIT = "1998-01-01 00:00:00"
_N_LOCS = 50
_FEED_KEYS = 200


def _feed_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Zenput-shaped JSONL feed derived from ``orders``
    (one submission per order with o_orderkey < 200): location cycles
    over 50 branches, the overall score is NULL for every 7th key (the
    repair-pass fixture), and one area answer resolves against a
    3-row catalog."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < _FEED_KEYS
    )
    okey = F.col("o_orderkey")
    score = (
        F.when(okey % 7 == 0, F.lit(None).cast("string"))
        .otherwise((okey % 101).cast("string"))
    )
    area_title = F.element_at(
        F.array(
            F.lit("CUARTO FRIO PORCENTAJE %"),
            F.lit("FREIDORAS PORCENTAJE %"),
            F.lit("HORNOS PORCENTAJE %"),
        ),
        (okey % 3 + 1).cast("int"),
    )
    doc = F.to_json(
        F.struct(
            okey.alias("id"),
            F.struct(
                F.struct(
                    F.concat(
                        F.lit("LOC-"), (F.col("o_custkey") % _N_LOCS).cast("string")
                    ).alias("id")
                ).alias("location"),
                F.struct(
                    F.concat(
                        F.lit("SUP-"), (F.col("o_custkey") % 7).cast("string")
                    ).alias("display_name")
                ).alias("created_by"),
                F.concat(
                    F.date_format("o_orderdate", "yyyy-MM-dd"),
                    F.lit(" 12:00:00"),
                ).alias("date_submitted"),
                F.lit(25.68).alias("lat"),
                F.lit(-100.31).alias("lon"),
            ).alias("smetadata"),
            F.array(
                F.struct(
                    F.lit("formula").alias("field_type"),
                    F.lit("PORCENTAJE %").alias("title"),
                    score.alias("value"),
                ),
                F.struct(
                    F.lit("formula").alias("field_type"),
                    area_title.alias("title"),
                    (okey % 91).cast("string").alias("value"),
                ),
            ).alias("answers"),
        )
    )
    return orders.select(doc.alias("line"), F.col("o_orderdate"))


_LIFECYCLE_ORACLE = f"""
    WITH feed AS (
      SELECT o_orderkey AS okey,
             o_custkey % {_N_LOCS} AS loc,
             o_orderdate,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderkey % 101 END AS score
      FROM orders WHERE o_orderkey < {_FEED_KEYS}
    ),
    early AS (SELECT * FROM feed WHERE o_orderdate < TIMESTAMP '{_SPLIT}'),
    late  AS (SELECT * FROM feed WHERE o_orderdate >= TIMESTAMP '{_SPLIT}')
    SELECT * FROM (
      SELECT 'active_period_after_transition' AS metric,
             CASE WHEN (SELECT COUNT(DISTINCT loc) FROM early) = {_N_LOCS}
                  THEN CAST(2 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS value
      UNION ALL SELECT 'admin_edit_days', 28
      UNION ALL SELECT 'admin_set_active_ok', 1
      UNION ALL SELECT 'audit_success_runs', 3
      UNION ALL SELECT 'detail_rows', (SELECT COUNT(*) FROM feed)
      UNION ALL SELECT 'master_rows', (SELECT COUNT(*) FROM feed)
      UNION ALL SELECT 'null_scores_after_repair', 0
      UNION ALL SELECT 'null_scores_before_repair',
                 (SELECT COUNT(*) FROM feed WHERE score IS NULL)
      UNION ALL SELECT 'run1_nuevos', (SELECT COUNT(*) FROM early)
      UNION ALL SELECT 'run2_nuevos', (SELECT COUNT(*) FROM late)
      UNION ALL SELECT 'run3_nuevos', 0
    ) ORDER BY metric
"""


@_register("etl_sync_lifecycle_stats", _LIFECYCLE_ORACLE)
def etl_sync_lifecycle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.etl.pipeline import (
        period_transition,
        repair_scores,
    )
    from epl_cas_etl_2026_spark.etl.sync_job import run_incremental_sync
    from epl_cas_etl_2026_spark.schemas import CATALOGO_SCHEMA, PERIODOS_SCHEMA

    import datetime as dt

    feed = _feed_lines(spark, sf_dir)
    early = [r["line"] for r in feed.filter(F.col("o_orderdate") < _SPLIT).collect()]
    late = [r["line"] for r in feed.filter(F.col("o_orderdate") >= _SPLIT).collect()]

    sucursales = spark.createDataFrame(
        [(i, f"Sucursal {i}", f"LOC-{i}", True) for i in range(_N_LOCS)],
        "id int, nombre string, zenput_location_id string, activo boolean",
    )
    periodos = spark.createDataFrame(
        [
            (1, "P1", "Uno", dt.date(1995, 1, 1), dt.date(1997, 12, 31), True),
            (2, "P2", "Dos", dt.date(1998, 1, 1), dt.date(2001, 12, 31), False),
        ],
        PERIODOS_SCHEMA,
    )
    catalog = spark.createDataFrame(
        [(1, "CF", "CUARTO FRIO", 1), (2, "FR", "FREIDORAS", 2), (3, "HO", "HORNOS", 3)],
        CATALOGO_SCHEMA,
    )

    tmp = tempfile.mkdtemp(prefix="etl_lifecycle_")
    try:
        landing = os.path.join(tmp, "landing")
        wh = os.path.join(tmp, "wh")
        os.makedirs(landing)

        def _sync():
            return run_incremental_sync(
                spark, landing, wh, sucursales, periodos, catalog
            )

        with open(os.path.join(landing, "p0.jsonl"), "w") as f:
            f.write("\n".join(early) + "\n")
        n1 = _sync()
        with open(os.path.join(landing, "p1.jsonl"), "w") as f:
            f.write("\n".join(late) + "\n")
        n2 = _sync()
        n3 = _sync()  # re-delivery: watermark + anti-join → nothing new

        master = spark.read.parquet(os.path.join(wh, "supervisiones_operativas"))
        detail_rows = spark.read.parquet(
            os.path.join(wh, "detalle_operativas")
        ).count()
        audit_success = (
            spark.read.parquet(os.path.join(wh, "sync_log"))
            .filter(F.col("estado") == "success")
            .count()
        )
        nulls_before = master.filter(
            F.col("calificacion_general").isNull()
        ).count()

        # T3 repair: the re-extracted feed has every score present
        re_extracted = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < _FEED_KEYS)
            .select(
                F.col("o_orderkey").cast("string").alias("zenput_submission_id"),
                (F.col("o_orderkey") % 101).cast("double").alias(
                    "calificacion_general"
                ),
            )
        )
        repaired = repair_scores(master, re_extracted)
        nulls_after = repaired.filter(
            F.col("calificacion_general").isNull()
        ).count()
        master_rows = repaired.count()

        # T6: coverage of the active period is below total → no move
        transitioned = period_transition(periodos, repaired, sucursales)
        active_after = transitioned.filter(F.col("activo")).collect()[0]["id"]

        # §3.3 admin mutations through the real operators: activate
        # exactly one period, then edit its date range
        from epl_cas_etl_2026_spark.etl.pipeline import (
            set_active_period,
            update_period_dates,
        )

        admin = set_active_period(periodos, 2)
        admin_active = admin.filter(F.col("activo")).collect()
        admin_set_ok = int(
            len(admin_active) == 1 and admin_active[0]["id"] == 2
        )
        edited = update_period_dates(
            periodos, 2, "1998-02-01", "1998-03-01"
        )
        edited_row = edited.filter(F.col("id") == 2).collect()[0]
        admin_edit_days = (
            edited_row["fecha_fin"] - edited_row["fecha_inicio"]
        ).days
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    rows = [
        ("active_period_after_transition", int(active_after)),
        ("admin_edit_days", int(admin_edit_days)),
        ("admin_set_active_ok", int(admin_set_ok)),
        ("audit_success_runs", int(audit_success)),
        ("detail_rows", int(detail_rows)),
        ("master_rows", int(master_rows)),
        ("null_scores_after_repair", int(nulls_after)),
        ("null_scores_before_repair", int(nulls_before)),
        ("run1_nuevos", int(n1)),
        ("run2_nuevos", int(n2)),
        ("run3_nuevos", int(n3)),
    ]
    return spark.createDataFrame(rows, "metric string, value long").orderBy(
        "metric"
    )


# ---------------------------------------------------------------------------
# Transactional-MERGE lifecycle under the hard gate: drive the
# VersionedTable commit primitive (sources/versioned.py) end-to-end —
# initial snapshot commit, a MERGE committed as a new version, a
# TIME-TRAVEL read of the pre-merge snapshot taken AFTER the merge
# (snapshot isolation made observable), and a vacuum — and return
# stats the DuckDB oracle recomputes from `orders` alone. Money is
# exact integer cents (DECIMAL×100 → BIGINT) end to end.
# ---------------------------------------------------------------------------
_V_CUT = "1999-01-01"

_MERGE_ORACLE = f"""
    WITH cents AS (
      SELECT o_custkey, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM orders
    ), r0 AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
      FROM cents WHERE o_orderdate < TIMESTAMP '{_V_CUT}' GROUP BY o_custkey
    ), aff AS (
      SELECT DISTINCT o_custkey FROM cents
      WHERE o_orderdate >= TIMESTAMP '{_V_CUT}'
    ), rall AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
      FROM cents GROUP BY o_custkey
    ), v1 AS (
      SELECT * FROM rall WHERE o_custkey IN (SELECT o_custkey FROM aff)
      UNION ALL
      SELECT * FROM r0 WHERE o_custkey NOT IN (SELECT o_custkey FROM aff)
    )
    SELECT metric, value FROM (
      SELECT 'latest_version' AS metric, 1 AS value
      UNION ALL SELECT 'v0_customers', (SELECT COUNT(*) FROM r0)
      UNION ALL SELECT 'v0_orders', (SELECT CAST(SUM(n) AS BIGINT) FROM r0)
      UNION ALL SELECT 'v0_sum_cents', (SELECT CAST(SUM(s) AS BIGINT) FROM r0)
      UNION ALL SELECT 'v1_customers', (SELECT COUNT(*) FROM v1)
      UNION ALL SELECT 'v1_orders', (SELECT CAST(SUM(n) AS BIGINT) FROM v1)
      UNION ALL SELECT 'v1_sum_cents', (SELECT CAST(SUM(s) AS BIGINT) FROM v1)
      UNION ALL SELECT 'vacuum_removed_versions', 1
    ) ORDER BY metric
    """


@_register("orders_versioned_merge_stats", _MERGE_ORACLE)
def orders_versioned_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.sources.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    with_cents = orders.select("o_custkey", "o_orderdate", cents.alias("c"))

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("s"),
        )

    tmp = tempfile.mkdtemp(prefix="versioned_merge_")
    try:
        t = VersionedTable(os.path.join(tmp, "orders_rollup"))
        t.commit(rollup(with_cents.filter(F.col("o_orderdate") < _V_CUT)))
        affected = (
            with_cents.filter(F.col("o_orderdate") >= _V_CUT)
            .select("o_custkey")
            .distinct()
        )
        updates = rollup(
            with_cents.join(affected, "o_custkey", "left_semi")
        )
        latest = t.merge_commit(updates, "o_custkey", spark)

        def stats(version: int) -> tuple[int, int, int]:
            row = (
                t.read(spark, version=version)
                .agg(
                    F.count(F.lit(1)).alias("cust"),
                    # coalesce: SUM over an empty snapshot is NULL
                    F.coalesce(F.sum("n"), F.lit(0)).alias("orders"),
                    F.coalesce(F.sum("s"), F.lit(0)).alias("cents"),
                )
                .collect()[0]
            )
            return int(row["cust"]), int(row["orders"]), int(row["cents"])

        # isolation made observable: v1 stats first, THEN re-read the
        # pre-merge snapshot — the merge must not have mutated it
        v1c, v1n, v1s = stats(1)
        v0c, v0n, v0s = stats(0)
        removed = t.vacuum(keep_last=1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    rows = [
        ("latest_version", int(latest)),
        ("v0_customers", v0c),
        ("v0_orders", v0n),
        ("v0_sum_cents", v0s),
        ("v1_customers", v1c),
        ("v1_orders", v1n),
        ("v1_sum_cents", v1s),
        ("vacuum_removed_versions", len(removed)),
    ]
    return spark.createDataFrame(rows, "metric string, value long").orderBy(
        "metric"
    )


# ---------------------------------------------------------------------------
# OPTIMISTIC-CONCURRENCY COMMIT (round-9; closes the r8 verdict's
# VersionedTable writer-vs-writer gap): the commit protocol is now
# put-if-absent markers + compare-and-swap on the base version
# (sources/versioned.py) — the contract Delta's
# ConcurrentModificationException / Iceberg's metadata CAS provide.
# This query DEMONSTRATES it under the hard gate: two sequential
# MERGE commits advance the table 0→1→2, and between them a STALE
# writer (base version 0, after the table moved to 1) is rejected
# cleanly — the conflict must raise, must not publish, and must leave
# the table at the version the winning writer committed. Every
# snapshot stat is recomputed by the DuckDB oracle from `orders`
# alone; money is exact integer cents end to end. The two-writer RACE
# (both under CAS, exactly one wins the marker) is pinned by
# tests/test_versioned.py — a gate row can't race processes.
# ---------------------------------------------------------------------------
_CAS_CUT1 = "1997-01-01"
_CAS_CUT2 = "1998-01-01"

_CAS_ORACLE = f"""
    WITH cents AS (
      SELECT o_custkey, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM orders
    ), r0 AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
      FROM cents WHERE o_orderdate < TIMESTAMP '{_CAS_CUT1}' GROUP BY o_custkey
    ), aff1 AS (
      SELECT DISTINCT o_custkey FROM cents
      WHERE o_orderdate >= TIMESTAMP '{_CAS_CUT1}'
        AND o_orderdate < TIMESTAMP '{_CAS_CUT2}'
    ), r01 AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
      FROM cents WHERE o_orderdate < TIMESTAMP '{_CAS_CUT2}' GROUP BY o_custkey
    ), v1 AS (
      SELECT * FROM r01 WHERE o_custkey IN (SELECT o_custkey FROM aff1)
      UNION ALL
      SELECT * FROM r0 WHERE o_custkey NOT IN (SELECT o_custkey FROM aff1)
    ), aff2 AS (
      SELECT DISTINCT o_custkey FROM cents
      WHERE o_orderdate >= TIMESTAMP '{_CAS_CUT2}'
    ), rall AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
      FROM cents GROUP BY o_custkey
    ), v2 AS (
      SELECT * FROM rall WHERE o_custkey IN (SELECT o_custkey FROM aff2)
      UNION ALL
      SELECT * FROM v1 WHERE o_custkey NOT IN (SELECT o_custkey FROM aff2)
    )
    SELECT metric, value FROM (
      SELECT 'latest_version' AS metric, 2 AS value
      UNION ALL SELECT 'stale_conflicts', 1
      UNION ALL SELECT 'version_after_conflict', 1
      UNION ALL SELECT 'v0_customers', (SELECT COUNT(*) FROM r0)
      UNION ALL SELECT 'v0_orders', (SELECT CAST(SUM(n) AS BIGINT) FROM r0)
      UNION ALL SELECT 'v0_sum_cents', (SELECT CAST(SUM(s) AS BIGINT) FROM r0)
      UNION ALL SELECT 'v1_customers', (SELECT COUNT(*) FROM v1)
      UNION ALL SELECT 'v1_orders', (SELECT CAST(SUM(n) AS BIGINT) FROM v1)
      UNION ALL SELECT 'v1_sum_cents', (SELECT CAST(SUM(s) AS BIGINT) FROM v1)
      UNION ALL SELECT 'v2_customers', (SELECT COUNT(*) FROM v2)
      UNION ALL SELECT 'v2_orders', (SELECT CAST(SUM(n) AS BIGINT) FROM v2)
      UNION ALL SELECT 'v2_sum_cents', (SELECT CAST(SUM(s) AS BIGINT) FROM v2)
      UNION ALL SELECT 'vacuum_removed_versions', 2
    ) ORDER BY metric
    """


@_register("orders_versioned_cas_stats", _CAS_ORACLE)
def orders_versioned_cas_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.sources.versioned import (
        CommitConflictError,
        VersionedTable,
    )

    orders = load_table(spark, sf_dir, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    with_cents = orders.select("o_custkey", "o_orderdate", cents.alias("c"))

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("s"),
        )

    def affected_updates(lo: str, hi: str | None) -> DataFrame:
        """MERGE source: full re-rollup (bounded by ``hi``) for every
        customer touched in [lo, hi) — the incremental-refresh shape."""
        window = with_cents.filter(F.col("o_orderdate") >= lo)
        scope = with_cents
        if hi is not None:
            window = window.filter(F.col("o_orderdate") < hi)
            scope = scope.filter(F.col("o_orderdate") < hi)
        touched = window.select("o_custkey").distinct()
        return rollup(scope.join(touched, "o_custkey", "left_semi"))

    tmp = tempfile.mkdtemp(prefix="versioned_cas_")
    try:
        t = VersionedTable(os.path.join(tmp, "orders_rollup"))
        # base commit: CAS against the empty table
        t.commit(
            rollup(with_cents.filter(F.col("o_orderdate") < _CAS_CUT1)),
            expected_version=-1,
        )
        updates1 = affected_updates(_CAS_CUT1, _CAS_CUT2)
        v_after_merge1 = t.merge_commit(updates1, "o_custkey", spark)
        # stale writer: based its work on version 0, but the table
        # moved to 1 — the CAS must reject and publish NOTHING
        stale_conflicts = 0
        try:
            t.commit(updates1, expected_version=0)
        except CommitConflictError:
            stale_conflicts = 1
        version_after_conflict = t.latest_version()
        v_after_merge2 = t.merge_commit(
            affected_updates(_CAS_CUT2, None), "o_custkey", spark
        )

        def stats(version: int) -> tuple[int, int, int]:
            row = (
                t.read(spark, version=version)
                .agg(
                    F.count(F.lit(1)).alias("cust"),
                    F.coalesce(F.sum("n"), F.lit(0)).alias("orders"),
                    F.coalesce(F.sum("s"), F.lit(0)).alias("cents"),
                )
                .collect()[0]
            )
            return int(row["cust"]), int(row["orders"]), int(row["cents"])

        # read NEWEST first, then time-travel back — isolation check
        v2c, v2n, v2s = stats(2)
        v1c, v1n, v1s = stats(1)
        v0c, v0n, v0s = stats(0)
        removed = t.vacuum(keep_last=1)
        assert v_after_merge1 == 1 and v_after_merge2 == 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    rows = [
        ("latest_version", int(v_after_merge2)),
        ("stale_conflicts", stale_conflicts),
        ("v0_customers", v0c),
        ("v0_orders", v0n),
        ("v0_sum_cents", v0s),
        ("v1_customers", v1c),
        ("v1_orders", v1n),
        ("v1_sum_cents", v1s),
        ("v2_customers", v2c),
        ("v2_orders", v2n),
        ("v2_sum_cents", v2s),
        ("vacuum_removed_versions", len(removed)),
        ("version_after_conflict", int(version_after_conflict)),
    ]
    return spark.createDataFrame(rows, "metric string, value long").orderBy(
        "metric"
    )


# ---------------------------------------------------------------------------
# VACUUM / WRITER-RACE AUDIT under the hard gate (round-10): drives
# the retention semantics the round-9 ADVICE hardened
# (sources/versioned.py vacuum grace window). The fixture builds a
# two-version table, then plants the full failure-mode zoo a shared
# multi-writer root can hold: a FRESH unpublished attempt dir + its
# marker staging file (a writer that could still be alive), an AGED
# orphan at the same version slot (a writer that crashed long ago),
# and a stray non-protocol directory. One vacuum under the default
# grace window must retire exactly {old published snapshot, aged
# orphan} while PROTECTING the fresh attempt and the stray; a second
# graceless vacuum (single-process, no writer can be in flight) must
# sweep the fresh attempt + staging file and still skip the stray;
# and a CAS commit afterwards must land cleanly — proving the sweeps
# never touched live protocol state. Every snapshot stat is
# recomputed by the DuckDB oracle from `orders` alone; the protocol
# outcomes are spec constants.
# ---------------------------------------------------------------------------
_VACUUM_ORACLE = f"""
    WITH cents AS (
      SELECT o_custkey, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM orders
    ), v1 AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s
      FROM cents GROUP BY o_custkey
    ), v2 AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s
      FROM cents WHERE o_orderdate >= TIMESTAMP '{_CAS_CUT2}'
      GROUP BY o_custkey
    )
    SELECT metric, value FROM (
      SELECT 'aged_orphan_removed' AS metric, 1 AS value
      UNION ALL SELECT 'final_latest_version', 2
      UNION ALL SELECT 'first_vacuum_removed_n', 2
      UNION ALL SELECT 'first_vacuum_removed_sum', 2
      UNION ALL SELECT 'fresh_attempt_survived_grace', 1
      UNION ALL SELECT 'second_vacuum_removed_n', 1
      UNION ALL SELECT 'staging_survived_grace', 1
      UNION ALL SELECT 'staging_swept_graceless', 1
      UNION ALL SELECT 'stray_dir_survived', 1
      UNION ALL SELECT 'v0_marker_retired', 1
      UNION ALL SELECT 'v1_customers', (SELECT COUNT(*) FROM v1)
      UNION ALL SELECT 'v1_orders',
        (SELECT COALESCE(CAST(SUM(n) AS BIGINT), 0) FROM v1)
      UNION ALL SELECT 'v1_sum_cents',
        (SELECT COALESCE(CAST(SUM(s) AS BIGINT), 0) FROM v1)
      UNION ALL SELECT 'v2_customers', (SELECT COUNT(*) FROM v2)
      UNION ALL SELECT 'v2_orders',
        (SELECT COALESCE(CAST(SUM(n) AS BIGINT), 0) FROM v2)
      UNION ALL SELECT 'v2_sum_cents',
        (SELECT COALESCE(CAST(SUM(s) AS BIGINT), 0) FROM v2)
    ) ORDER BY metric
    """


@_register("orders_versioned_vacuum_audit", _VACUUM_ORACLE)
def orders_versioned_vacuum_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from epl_cas_etl_2026_spark.sources.versioned import VersionedTable

    orders = load_table(spark, sf_dir, "orders")
    cents = (
        F.col("o_totalprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    with_cents = orders.select("o_custkey", "o_orderdate", cents.alias("c"))

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("c").cast("bigint").alias("s"),
        )

    def stats(version: int) -> tuple[int, int, int]:
        row = (
            t.read(spark, version=version)
            .agg(
                F.count(F.lit(1)).alias("cust"),
                F.coalesce(F.sum("n"), F.lit(0)).alias("orders"),
                F.coalesce(F.sum("s"), F.lit(0)).alias("cents"),
            )
            .collect()[0]
        )
        return int(row["cust"]), int(row["orders"]), int(row["cents"])

    tmp = tempfile.mkdtemp(prefix="versioned_vacuum_")
    try:
        t = VersionedTable(os.path.join(tmp, "rollup"))
        t.commit(
            rollup(with_cents.filter(F.col("o_orderdate") < _CAS_CUT1)),
            expected_version=-1,
        )
        t.commit(rollup(with_cents), expected_version=0)

        # the failure-mode zoo, all targeting the NEXT version slot:
        fresh = os.path.join(t.root, "v=2_feedfacefeed")
        rollup(with_cents).limit(1).write.parquet(fresh)
        staging = os.path.join(t.root, "_commits", ".tmp_feedfacefeed_2")
        with open(staging, "w") as f:
            f.write("feedfacefeed")
        aged = os.path.join(t.root, "v=2_0ddba110ddba")
        rollup(with_cents).limit(1).write.parquet(aged)
        old = (os.path.getmtime(aged) - 7200,) * 2
        os.utime(aged, old)
        stray = os.path.join(t.root, "v=SUCCESS-era")
        os.makedirs(stray)

        removed1 = t.vacuum(keep_last=1)  # default grace window
        fresh_survived = int(os.path.isdir(fresh))
        staging_survived = int(os.path.exists(staging))
        aged_removed = int(not os.path.isdir(aged))
        marker0_retired = int(
            not os.path.exists(os.path.join(t.root, "_commits", "0"))
        )
        v1c, v1n, v1s = stats(1)  # latest snapshot untouched by sweep

        removed2 = t.vacuum(keep_last=1, grace_seconds=0)
        staging_swept = int(not os.path.exists(staging))
        stray_survived = int(os.path.isdir(stray))

        # the protocol is intact after both sweeps: a CAS commit lands
        # at the slot the orphans fought over
        final_v = t.commit(
            rollup(with_cents.filter(F.col("o_orderdate") >= _CAS_CUT2)),
            expected_version=1,
        )
        v2c, v2n, v2s = stats(2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    rows = [
        ("aged_orphan_removed", aged_removed),
        ("final_latest_version", int(final_v)),
        ("first_vacuum_removed_n", len(removed1)),
        ("first_vacuum_removed_sum", sum(removed1)),
        ("fresh_attempt_survived_grace", fresh_survived),
        ("second_vacuum_removed_n", len(removed2)),
        ("staging_survived_grace", staging_survived),
        ("staging_swept_graceless", staging_swept),
        ("stray_dir_survived", stray_survived),
        ("v0_marker_retired", marker0_retired),
        ("v1_customers", v1c),
        ("v1_orders", v1n),
        ("v1_sum_cents", v1s),
        ("v2_customers", v2c),
        ("v2_orders", v2n),
        ("v2_sum_cents", v2s),
    ]
    return spark.createDataFrame(rows, "metric string, value long").orderBy(
        "metric"
    )
