"""End-to-end incremental sync job (SURVEY.md §3.2 — the reference's
``run_sync()`` entry point, etl_sync.py:341-404, rebuilt set-wise).

One call = one sync run:

  1. read the checkpoint high-water mark (T1)
  2. scan the landing JSONL once: parse the nested JSON into typed rows
     (S9), keep records newer than the watermark, and score each from
     its own answers array (F11, a Column — no explode or join); pin
     this window
  3. the pinning job also observes the window's min fecha_supervision
     (the sink prune bound) and its max (the new watermark)
  4. dedup against the master sink rows since that bound, and within
     the batch, on the natural key (J6/T2)
  5. resolve the branch FK via broadcast lookup (J5)
  6. recover missing locations from sibling rows (J8) when a donor
     frame is given (the security-form flow)
  7. assign the calendar period via the range join (J7/T4); pin the
     batch
  8. append the exploded detail rows of each supervision the detail
     sink does not hold yet (S5), keyed by the formulario's catalog
     column (``schemas.DETAIL_FK``: ``area_id`` or ``kpi_id``), then
     the master rows straight from the pinned batch (S4) — one file
     per sink
  9. advance the checkpoint, write the audit row (T7); on error the
     audit records 'error' and the exception re-raises so an external
     scheduler alerts (reference etl_sync.py:397-404)

Every step is a set operation over the whole batch — where the
reference paid one Postgres round-trip per record, this writes one
parquet file per sink per run (``pipeline.ROWS_PER_FILE`` rows each at
most). Each sink is streamed once and neither sink is shuffled: the
dedup scans of both are broadcast semi-joins against the pinned batch's
keys. The master scan is pruned to the window's dates; the detail sink
has no date column, so its guard reads the sink's whole
``supervision_id`` column on every run — one long column, but a scan
that still grows with the days loaded.

The landing scan reads the whole landing dir on every run, not just
the files that arrived since the last one: the watermark is on
submission time (``fecha_supervision``), not file time, and a file can
carry late re-deliveries of earlier days (which the dedup drops) next
to new submissions, so no file can be skipped by its name or mtime.
The scan is the run's only pass over the landing JSON.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.etl.pipeline import (
    advance_checkpoint,
    append_idempotent,
    append_rows,
    assign_periodo,
    audit_log,
    dedup_against_sink,
    read_checkpoint,
    recover_location,
    resolve_sucursal_fk,
    since,
    surrogate_id,
)
from epl_cas_etl_2026_spark.etl.zenput import (
    extract_calificacion_general,
    extract_detail_items,
    parse_submissions,
)
from epl_cas_etl_2026_spark.schemas import DETAIL_FK


def _release(pinned: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint``-ed frame: its plan is
    a LogicalRDD over the checkpointed RDD, which stays registered
    (and holds executor memory) until it is unpersisted."""
    pinned._jdf.queryExecution().analyzed().rdd().unpersist(False)


def run_incremental_sync(
    spark: SparkSession,
    landing_dir: str,
    warehouse_dir: str,
    sucursales: DataFrame,
    periodos: DataFrame,
    catalog: DataFrame,
    formulario: str = "operativas",
    donor_master: DataFrame | None = None,
) -> int:
    """Run one incremental sync; returns rows newly loaded.

    ``donor_master`` enables the J8 location-recovery pass (security
    submissions borrowing a location from same-day same-supervisor
    operative rows).
    """
    master_path = os.path.join(warehouse_dir, f"supervisiones_{formulario}")
    detail_path = os.path.join(warehouse_dir, f"detalle_{formulario}")
    ckpt_path = os.path.join(warehouse_dir, "sync_checkpoints")
    audit_path = os.path.join(warehouse_dir, "sync_log")

    inicio = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    pins: list[DataFrame] = []
    try:
        watermark = read_checkpoint(spark, ckpt_path, formulario)

        subs = parse_submissions(spark.read.text(landing_dir))
        if watermark is not None:
            subs = subs.filter(F.col("fecha_supervision") > F.lit(watermark))
        # Two pins per run, the window and the batch, both released in
        # the finally below. The window pin makes the landing scan the
        # run's only one; an Observation rides on its job: min
        # fecha_supervision bounds the sink prune, max is the new
        # watermark.
        bounds = Observation("window")
        window = (
            subs.withColumn("calificacion_general", extract_calificacion_general())
            .observe(
                bounds,
                F.min("fecha_supervision").alias("lo"),
                F.max("fecha_supervision").alias("hi"),
            )
            .localCheckpoint(eager=True)
        )
        pins.append(window)
        lo, new_wm = bounds.get["lo"], bounds.get["hi"]

        # prune: collisions only ever come from the current extract
        # window (etl_sync.py:215-217), so the master scan keeps the
        # rows since the window's earliest submission. The declared
        # schema skips the job Spark runs to infer one from the footers.
        existing = None
        if os.path.exists(master_path):
            keys = window.select("zenput_submission_id", "fecha_supervision")
            sink = spark.read.schema(keys.schema).parquet(master_path)
            existing = since(sink, "fecha_supervision", lo)
        fresh = dedup_against_sink(window, existing)
        if donor_master is not None:
            fresh = recover_location(fresh, donor_master)
        fresh = resolve_sucursal_fk(fresh, sucursales)
        fresh = assign_periodo(fresh, periodos)
        # The batch pin: `fresh` is the batch anti-joined against the
        # master as it stood before this run wrote anything. Recomputed
        # after the master append, it would see its own keys in the
        # sink (read-your-own-writes) and come back empty. A plain
        # persist() is NOT enough: Spark's append command refreshes the
        # file-status cache for the sink path and invalidates every
        # cached plan that reads it. localCheckpoint truncates the
        # lineage, so later jobs reuse the materialized rows regardless
        # of sink mutations; its Observation counts them. Details are
        # written first and the master last: a run that dies between
        # the two leaves its submissions out of the master, so the
        # re-run's batch holds them again and the detail append skips
        # the supervisions whose rows it already wrote. Master first
        # would lose those details for good (the re-run's batch would
        # exclude them). At production scale the equivalent is a
        # staging write or Delta MERGE, which snapshots the sink
        # version instead.
        size = Observation("batch")
        fresh = fresh.observe(size, F.count(F.lit(1)).alias("n")).localCheckpoint(
            eager=True
        )
        pins.append(fresh)
        n_new = size.get["n"]

        # The detail guard is per supervision, the reference's unit
        # (its area rows commit with the master row): a supervision the
        # detail sink already holds gets none of its rows again. That
        # is exact because extract_detail_items keeps each
        # supervision's rows in one partition, which append_rows writes
        # into one file. The probe keys come from the pinned batch, so
        # the detail plan runs once, inside the write.
        sid = surrogate_id(F.col("zenput_submission_id"))
        details = extract_detail_items(fresh, catalog).select(
            sid.alias("supervision_id"),
            F.col("item_id").alias(DETAIL_FK[formulario]),
            "porcentaje",
        )
        probe = fresh.select(sid.alias("supervision_id"))
        append_idempotent(spark, details, detail_path, "supervision_id", n_new, probe)

        master = fresh.select(
            sid.alias("id"),
            "zenput_submission_id",
            "sucursal_id",
            "periodo_id",
            "supervisor",
            "fecha_supervision",
            "calificacion_general",
            F.col("lat_entrega"),
            F.col("lon_entrega"),
        )
        append_rows(master, master_path, n_new)

        if new_wm is not None:
            advance_checkpoint(spark, ckpt_path, formulario, new_wm)

        fin = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        audit_log(spark, audit_path, formulario, inicio, fin, n_new, "success")
        return n_new
    except Exception:
        fin = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        audit_log(spark, audit_path, formulario, inicio, fin, 0, "error")
        raise
    finally:
        for pinned in pins:
            _release(pinned)
