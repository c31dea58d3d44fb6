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
