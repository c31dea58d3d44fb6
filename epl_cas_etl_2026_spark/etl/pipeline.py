"""Batch-incremental ETL pipeline (SURVEY.md §3.2, §2.9).

Reference flow (etl_sync.py:341-404): checkpoint read → paginated REST
extract → per-row transform/dedup/insert → checkpoint advance → audit.
Spark-native flow: the same semantics as SET operations —

  * dedup on the natural key = one broadcast semi-join that finds the
    sink keys the batch holds, then one broadcast anti-join against
    them (replaces a SELECT per record, etl_sync.py:215-217)
  * FK resolution = broadcast join on zenput_location_id (replaces a
    scalar subquery per INSERT, etl_sync.py:240-241)
  * period assignment = broadcast range join with row_number()==1
    tie-break (replaces per-row BETWEEN … LIMIT 1, etl_sync.py:229-233)
  * location recovery = composite-key join on (date, supervisor)
    (etl_sync.py:280-293)
  * append sinks with deterministic surrogate keys via
    xxhash64(natural key) — idempotent under re-delivery.

Everything is parquet-append + left-anti here (no Delta in this
container); each sink function documents the Delta MERGE it would be
at production scale.
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# J6 / T2 — idempotent dedup against the sink.
# ---------------------------------------------------------------------------
def dedup_against_sink(
    new_rows: DataFrame, existing: DataFrame | None
) -> DataFrame:
    """Drop rows whose natural key (``zenput_submission_id``) already
    exists in the sink, and in-batch duplicates. One pass over the sink
    (``_absent_from``) — the set-wise form of the reference's per-row
    existence SELECT (etl_sync.py:215-217, 276-278).

    In-batch survivor is DETERMINISTIC: earliest ``fecha_supervision``
    (then the key itself as tie-break) wins, mirroring the reference's
    first-row-processed-wins loop."""
    key = "zenput_submission_id"
    w = Window.partitionBy(key).orderBy(
        F.asc_nulls_last("fecha_supervision"), F.col(key)
    )
    batch_deduped = (
        new_rows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if existing is None:
        return batch_deduped
    return _absent_from(batch_deduped, existing, key, probe=new_rows)


def _absent_from(
    rows: DataFrame, sink: DataFrame, key: str, probe: DataFrame | None = None
) -> DataFrame:
    """``rows`` whose ``key`` is not in ``sink``, with the sink streamed
    once and never shuffled: a semi-join against the broadcast batch
    keys finds the sink keys the batch holds, then the batch anti-joins
    against those broadcast hits. Both broadcasts are O(batch), the
    hits usually near empty. ``probe`` (default ``rows``) is the frame
    whose keys are broadcast: a pinned superset of ``rows`` keeps the
    plan of ``rows`` from running a second time just for its keys."""
    keys = (rows if probe is None else probe).select(key)
    hits = sink.select(key).join(F.broadcast(keys), key, "left_semi")
    return rows.join(F.broadcast(hits), key, "left_anti")


def since(sink: DataFrame, col: str, lo) -> DataFrame:
    """The sink rows a batch whose earliest ``col`` is ``lo`` can
    collide with: collisions only ever come from the current extract
    window (etl_sync.py:215-217), so the sink scan keeps
    ``col >= lo`` — a pushed parquet filter (row-group pruning), which
    keeps the anti-join O(batch window), not O(sink). Rows with a NULL
    ``col`` are kept: no bound says where they fall. ``lo`` None (an
    empty batch, or one with no ``col`` values) prunes nothing."""
    if lo is None:
        return sink
    return sink.filter((F.col(col) >= F.lit(lo)) | F.col(col).isNull())


# ---------------------------------------------------------------------------
# J5 — FK resolution via broadcast lookup join.
# ---------------------------------------------------------------------------
def resolve_sucursal_fk(
    rows: DataFrame, sucursales: DataFrame
) -> DataFrame:
    """Replace the scalar-subquery lookup (etl_sync.py:240-241) with a
    broadcast left join; unmatched locations keep NULL sucursal_id."""
    lookup = sucursales.select(
        F.col("id").alias("sucursal_id"), "zenput_location_id"
    )
    return rows.join(F.broadcast(lookup), "zenput_location_id", "left")


# ---------------------------------------------------------------------------
# J7 / T4 — period assignment range join.
# ---------------------------------------------------------------------------
def assign_periodo(
    rows: DataFrame,
    periodos: DataFrame,
    ts_col: str = "fecha_supervision",
) -> DataFrame:
    """Assign each row the period whose [fecha_inicio, fecha_fin]
    contains its date (etl_sync.py:229-233). Overlapping periods are
    disambiguated deterministically (earliest fecha_inicio, then id —
    the reference's LIMIT 1 picks an arbitrary one; we pin it).
    Periods dim is tiny → BroadcastNestedLoopJoin; the fact side never
    shuffles for the join itself."""
    p = periodos.select(
        F.col("id").alias("periodo_id"),
        "fecha_inicio",
        "fecha_fin",
    )
    d = F.col(ts_col).cast("date")
    joined = rows.join(
        F.broadcast(p),
        d.between(F.col("fecha_inicio"), F.col("fecha_fin")),
        "left",
    )
    w = Window.partitionBy("zenput_submission_id").orderBy(
        F.asc_nulls_last("fecha_inicio"), F.asc_nulls_last("periodo_id")
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "fecha_inicio", "fecha_fin")
    )


# ---------------------------------------------------------------------------
# J8 — composite-key location recovery (security submissions missing
# location borrow it from a same-day same-supervisor operative row).
# ---------------------------------------------------------------------------
def recover_location(
    seguridad: DataFrame, operativas: DataFrame
) -> DataFrame:
    """etl_sync.py:280-293: for rows with NULL zenput_location_id,
    match an operative supervision on (DATE(fecha), supervisor) and
    borrow its location; LIMIT 1 → deterministic row_number pick."""
    donor = operativas.select(
        F.to_date("fecha_supervision").alias("__d"),
        F.col("supervisor").alias("__sup"),
        F.col("zenput_location_id").alias("__donor_loc"),
        F.col("zenput_submission_id").alias("__donor_id"),
    ).filter(F.col("__donor_loc").isNotNull())

    joined = seguridad.join(
        donor,
        (F.to_date(F.col("fecha_supervision")) == F.col("__d"))
        & (F.col("supervisor") == F.col("__sup")),
        "left",
    )
    w = Window.partitionBy("zenput_submission_id").orderBy(
        F.asc_nulls_last("__donor_id")
    )
    picked = (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return picked.withColumn(
        "zenput_location_id",
        F.coalesce(F.col("zenput_location_id"), F.col("__donor_loc")),
    ).drop("__d", "__sup", "__donor_loc", "__donor_id", "__rn")


# ---------------------------------------------------------------------------
# S4/S5 — sinks. Parquet-append with anti-join idempotency; at
# production scale these are Delta `MERGE WHEN NOT MATCHED INSERT`.
# ---------------------------------------------------------------------------
def surrogate_id(natural_key) -> F.Column:
    """Deterministic surrogate key (replaces INSERT…RETURNING id,
    etl_sync.py:236-243): xxhash64 of the natural key — stable across
    retries, no driver-side sequence bottleneck at scale."""
    return F.xxhash64(natural_key)


def append_idempotent(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key: str,
    n: int,
    probe: DataFrame | None = None,
) -> int:
    """S5 — idempotent append: drop the rows whose key the sink already
    holds, then append (the parquet stand-in for Delta MERGE NOT
    MATCHED; reference ON CONFLICT DO NOTHING, etl_sync.py:250-254).
    The sink is streamed once and never shuffled (``_absent_from``,
    which broadcasts the keys of ``probe``, default ``df``).

    ``n`` is the size of the batch ``df`` comes from, as its caller
    already knows it (the sync's batch pin counts it): it sizes the
    files (``append_rows``), so nothing here materializes ``df`` ahead
    of the write and its plan runs once, inside it. Returns the rows
    written, read from an Observation on the write; 0 without waiting
    on it when ``n`` is 0 and the sink exists, since then nothing is
    written."""
    if os.path.exists(path):
        # read as the batch's key type: a declared schema skips the job
        # Spark runs to infer one from the parquet footers
        existing = spark.read.schema(df.select(key).schema).parquet(path)
        df = _absent_from(df, existing, key, probe)
    written = Observation("written")
    wrote = append_rows(df.observe(written, F.count(F.lit(1)).alias("n")), path, n)
    return written.get["n"] if wrote else 0


#: rows per sink data file: a daily run writes one file per sink, and
#: a backfill of millions of rows writes files of a few tens of MB (the
#: sync sizes its detail append by the batch's supervisions, so a
#: detail file holds the areas of up to this many supervisions)
ROWS_PER_FILE = 1_000_000


def append_rows(df: DataFrame, path: str, n: int) -> bool:
    """Append the ``n`` rows of ``df`` to the parquet sink at ``path``
    as at most ``max(1, ceil(n / ROWS_PER_FILE))`` files, whatever the
    partitioning ``df`` inherits (a shuffle's 32 partitions would write
    32 small files); the coalesce merges whole partitions, so rows that
    share a partition share a file. Zero rows write nothing to an
    existing sink, but a zero-row first run still materializes it
    (schema-only parquet): downstream readers see an empty TABLE, not
    a PATH_NOT_FOUND — the contract a warehouse table has from its
    first load, empty feed or not. Returns whether it wrote."""
    if n or not os.path.exists(path):
        df.coalesce(max(1, -(-n // ROWS_PER_FILE))).write.mode("append").parquet(path)
        return True
    return False


def one_row(spark: SparkSession, schema, values) -> DataFrame:
    """One row of ``schema`` built on the JVM, in one partition: a
    ``createDataFrame`` list is a Python RDD, and writing it starts a
    Python worker (~360 ms against ~160 ms for this form). The CASE
    WHEN keeps each column nullable, as ``schema`` declares it: a bare
    literal would write a REQUIRED parquet column. The daily sync's
    dims avoid Python RDDs the same way (:func:`local_dim`)."""
    on = F.col("id") == 0
    return spark.range(0, 1, 1, 1).select(
        *[
            F.when(on, F.lit(v)).cast(f.dataType).alias(f.name)
            for f, v in zip(schema.fields, values)
        ]
    )


#: caller's dim frame -> its JVM-local copy, None when the frame is read
#: as it is (see :func:`local_dim`)
_LOCAL_DIMS: WeakKeyDictionary = WeakKeyDictionary()


def local_dim(df: DataFrame) -> DataFrame:
    """``df`` as the sync reads a dimension table. A frame whose
    analyzed plan is a ``LogicalRDD`` (a ``createDataFrame`` list, a
    Python RDD that every scan reads through Python tasks) is collected
    once through Arrow and rebuilt as a ``LocalRelation``, which the JVM
    scans itself; every later call with the same frame returns that
    copy. Any other frame (files, JDBC, a ``LocalRelation``, a derived
    plan) comes back unchanged, so it is read anew on every run.

    Exact because an RDD's rows are fixed. The copy is kept in a
    weak-keyed dict and refers nothing back to ``df``, so it dies with
    the caller's frame; it holds no persisted block."""
    try:
        local = _LOCAL_DIMS[df]
    except KeyError:
        local = None
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            local = df.sparkSession.createDataFrame(df.toArrow(), schema=df.schema)
        _LOCAL_DIMS[df] = local
    return df if local is None else local


# ---------------------------------------------------------------------------
# T1 — checkpoint high-water mark.
# ---------------------------------------------------------------------------
def read_checkpoint(spark: SparkSession, path: str, formulario: str):
    """sync_checkpoints read (etl_sync.py:356-360): latest watermark
    for a form, None on first sync."""
    from epl_cas_etl_2026_spark.schemas import SYNC_CHECKPOINT_SCHEMA

    if not os.path.exists(path):
        return None
    # the latest non-NULL mark = max(): a top-1 is one job, where a
    # global aggregate is a shuffle stage and a result stage
    latest = (
        spark.read.schema(SYNC_CHECKPOINT_SCHEMA)
        .parquet(path)
        .filter(F.col("formulario") == formulario)
        .orderBy(F.desc_nulls_last("ultima_fecha"))
        .select("ultima_fecha")
        .take(1)
    )
    return latest[0]["ultima_fecha"] if latest else None


def advance_checkpoint(
    spark: SparkSession, path: str, formulario: str, new_wm
) -> None:
    """Checkpoint advance (etl_sync.py:383-385) — append-latest-wins;
    readers take max()."""
    from epl_cas_etl_2026_spark.schemas import SYNC_CHECKPOINT_SCHEMA

    one_row(spark, SYNC_CHECKPOINT_SCHEMA, (formulario, new_wm)).write.mode(
        "append"
    ).parquet(path)


# ---------------------------------------------------------------------------
# T7 — audit log.
# ---------------------------------------------------------------------------
def audit_log(
    spark: SparkSession,
    path: str,
    workflow: str,
    inicio,
    fin,
    registros_nuevos: int,
    estado: str,
) -> None:
    """sync_log row (etl_sync.py:367-372, 387-401). The reference
    writes 'running' then updates; an append-only log records the
    terminal state per run (same audit semantics, no UPDATE needed)."""
    from epl_cas_etl_2026_spark.schemas import SYNC_LOG_SCHEMA

    import zlib

    # Deterministic run id: Python's str hash() is salted per process
    # (PYTHONHASHSEED), which would make audit ids irreproducible
    # across runs; crc32 of the (workflow, inicio) pair is stable
    # everywhere, like xxhash64(natural key) on the data path.
    run_key = f"{workflow}|{inicio}".encode("utf-8")
    run_id = zlib.crc32(run_key) % (2**62)
    row = one_row(
        spark,
        SYNC_LOG_SCHEMA,
        (run_id, workflow, inicio, fin, registros_nuevos, estado),
    )
    row.write.mode("append").parquet(path)


# ---------------------------------------------------------------------------
# T3 — backfill repair (--fix-seguridad).
# ---------------------------------------------------------------------------
def repair_scores(
    sink: DataFrame, re_extracted: DataFrame, key: str = "zenput_submission_id"
) -> DataFrame:
    """etl_sync.py:446-498: rows whose calificacion_general is NULL or
    0 take the re-extracted value; everything else unchanged. Batch
    overwrite semantics (Delta: MERGE WHEN MATCHED AND (c IS NULL OR
    c=0) THEN UPDATE)."""
    fresh = re_extracted.select(
        F.col(key),
        F.col("calificacion_general").alias("__fresh_score"),
    )
    needs_fix = F.col("calificacion_general").isNull() | (
        F.col("calificacion_general") == 0
    )
    return (
        sink.join(fresh, key, "left")
        .withColumn(
            "calificacion_general",
            F.when(
                needs_fix & F.col("__fresh_score").isNotNull(),
                F.col("__fresh_score"),
            ).otherwise(F.col("calificacion_general")),
        )
        .drop("__fresh_score")
    )


# ---------------------------------------------------------------------------
# T6 — period transition state machine.
# ---------------------------------------------------------------------------
def period_transition(
    periodos: DataFrame,
    supervisiones: DataFrame,
    sucursales: DataFrame,
) -> DataFrame:
    """etl_sync.py:504-566: when every active branch has a supervision
    in the active period, deactivate it and activate the next period
    by fecha_inicio. Returns the new periodos table (overwrite of an
    ~8-row dim — trivially cheap). Coverage is the reference's
    COUNT(DISTINCT sucursal_id), which skips NULL: a supervision whose
    branch FK did not resolve covers no branch."""
    total_branches = sucursales.filter(F.col("activo")).count()
    active = periodos.filter(F.col("activo") == True)  # noqa: E712
    if active.count() == 0:
        return periodos
    active_id = active.collect()[0]["id"]
    covered = (
        supervisiones.filter(
            (F.col("periodo_id") == active_id) & F.col("sucursal_id").isNotNull()
        )
        .select("sucursal_id")
        .distinct()
        .count()
    )
    if covered < total_branches:
        return periodos
    # W6: next period by fecha_inicio via lead() over the dim
    w = Window.orderBy("fecha_inicio")
    with_next = periodos.withColumn("__next_id", F.lead("id").over(w))
    next_row = with_next.filter(F.col("id") == active_id).collect()
    next_id = next_row[0]["__next_id"] if next_row else None
    if next_id is None:
        # reference etl_sync.py:550-553: completed but no later period
        # defined → return WITHOUT transitioning (active stays active).
        return periodos
    return periodos.withColumn(
        "activo",
        F.when(F.col("id") == active_id, F.lit(False))
        .when(F.col("id") == F.lit(next_id), F.lit(True))
        .otherwise(F.col("activo")),
    )


# ---------------------------------------------------------------------------
# Admin mutation (SURVEY.md §3.3): activate exactly one period.
# ---------------------------------------------------------------------------
def set_active_period(periodos: DataFrame, period_id: int) -> DataFrame:
    """app.py:165-183: `UPDATE periodos SET activo=false` then
    `SET activo=true WHERE id=:id`, as one conditional overwrite of the
    ~8-row dim (write back with overwrite mode; trivially cheap)."""
    return periodos.withColumn("activo", F.col("id") == F.lit(period_id))


def update_period_dates(
    periodos: DataFrame, period_id: int, fecha_inicio, fecha_fin
) -> DataFrame:
    """app.py:185-208: edit one period's date range."""
    return periodos.withColumn(
        "fecha_inicio",
        F.when(F.col("id") == period_id, F.lit(fecha_inicio).cast("date")).otherwise(
            F.col("fecha_inicio")
        ),
    ).withColumn(
        "fecha_fin",
        F.when(F.col("id") == period_id, F.lit(fecha_fin).cast("date")).otherwise(
            F.col("fecha_fin")
        ),
    )
