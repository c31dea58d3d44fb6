"""ETL pipeline tests (SURVEY.md §5 item 3): Zenput-shaped JSON
fixtures → extraction, dedup idempotency, period assignment, explode
counts, location imputation, repair, period transition."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.etl.pipeline import (
    append_idempotent,
    assign_periodo,
    dedup_against_sink,
    period_transition,
    recover_location,
    repair_scores,
    resolve_sucursal_fk,
)
from epl_cas_etl_2026_spark.etl.zenput import (
    extract_calificacion_general,
    extract_detail_items,
    parse_submissions,
)
from epl_cas_etl_2026_spark.schemas import (
    CATALOGO_SCHEMA,
    PERIODOS_SCHEMA,
    SUCURSALES_SCHEMA,
)


def _submission(sid, loc="LOC-001", sup="Ana", date="2026-02-10T14:30:00Z",
                answers=None):
    return {
        "id": sid,
        "smetadata": {
            "location": {"id": loc} if loc else None,
            "created_by": {"display_name": sup},
            "date_submitted": date,
            "lat": 25.68,
            "lon": -100.31,
        },
        "answers": answers
        or [
            {"field_type": "formula", "title": "PORCENTAJE %", "value": "87.5"},
            {"field_type": "formula", "title": "CUARTO FRIO PORCENTAJE %", "value": "92.0"},
            {"field_type": "text", "title": "COMENTARIOS", "value": "ok"},
        ],
    }


@pytest.fixture()
def raw_feed(spark):
    subs = [
        _submission(1),
        _submission(2, answers=[
            # no plain 'PORCENTAJE %' → falls back to CALIFICACION variant
            {"field_type": "formula", "title": "CALIFICACION PORCENTAJE %", "value": "70.0"},
            {"field_type": "formula", "title": "FREIDORAS PORCENTAJE %", "value": "60.0"},
            # duplicate area title: first wins (etl_sync.py:155-156)
            {"field_type": "formula", "title": "FREIDORAS PORCENTAJE %", "value": "10.0"},
            # non-formula must be dropped
            {"field_type": "text", "title": "HORNOS PORCENTAJE %", "value": "99"},
        ]),
        _submission(3, loc=None, sup="Luis", date="2026-02-11T09:00:00Z"),
    ]
    return spark.createDataFrame(
        [(json.dumps(s),) for s in subs], "value string"
    )


def test_parse_and_score_extraction(spark, raw_feed):
    parsed = parse_submissions(raw_feed)
    assert parsed.count() == 3
    scores = {
        r["zenput_submission_id"]: r["calificacion_general"]
        for r in parsed.select(
            "zenput_submission_id", extract_calificacion_general()
        ).collect()
    }
    # F11 priority: 'PORCENTAJE %' first, else 'CALIFICACION PORCENTAJE %'
    assert scores["1"] == 87.5
    assert scores["2"] == 70.0


def test_detail_explode_first_wins(spark, raw_feed):
    parsed = parse_submissions(raw_feed)
    catalog = spark.createDataFrame(
        [(1, "CF", "CUARTO FRIO", 1), (2, "FR", "FREIDORAS", 2), (3, "HO", "HORNOS", 3)],
        CATALOGO_SCHEMA,
    )
    details = extract_detail_items(parsed, catalog)
    rows = {
        (r["zenput_submission_id"], r["codigo"]): r["porcentaje"]
        for r in details.collect()
    }
    assert rows[("1", "CF")] == 92.0
    assert rows[("2", "FR")] == 60.0  # first of the duplicate titles
    assert ("2", "HO") not in rows  # non-formula dropped


def test_dedup_idempotency(spark, raw_feed):
    parsed = parse_submissions(raw_feed)
    first = dedup_against_sink(parsed, None)
    assert first.count() == 3
    # re-delivery of the same feed against the sink → nothing new (T2)
    second = dedup_against_sink(parsed, existing=first)
    assert second.count() == 0
    # in-batch duplicates collapse
    doubled = parsed.unionAll(parsed)
    assert dedup_against_sink(doubled, None).count() == 3


def test_fk_resolution_and_period_assignment(spark, raw_feed):
    parsed = parse_submissions(raw_feed)
    sucursales = spark.createDataFrame(
        [(11, "Sucursal A", "LOC-001"), (12, "Sucursal B", "LOC-002")],
        "id int, nombre string, zenput_location_id string",
    )
    resolved = resolve_sucursal_fk(parsed, sucursales)
    by_id = {r["zenput_submission_id"]: r["sucursal_id"] for r in resolved.collect()}
    assert by_id["1"] == 11
    assert by_id["3"] is None  # missing location → NULL FK

    periodos = spark.createDataFrame(
        [
            (1, "P1", "Periodo 1", dt.date(2026, 1, 1), dt.date(2026, 1, 31), False),
            # overlapping periods — J7 LIMIT-1 trap: earliest inicio wins
            (2, "P2", "Periodo 2", dt.date(2026, 2, 1), dt.date(2026, 2, 28), True),
            (3, "P3", "Periodo 3", dt.date(2026, 2, 10), dt.date(2026, 3, 10), False),
        ],
        PERIODOS_SCHEMA,
    )
    assigned = assign_periodo(resolved, periodos)
    periods = {r["zenput_submission_id"]: r["periodo_id"] for r in assigned.collect()}
    assert periods["1"] == 2  # 2026-02-10 is in P2 and P3 → P2 (earlier inicio)
    assert assigned.count() == 3  # no row duplication from the overlap


def test_location_recovery_composite_key(spark):
    # J8 (etl_sync.py:280-293)
    seguridad = spark.createDataFrame(
        [
            ("s1", None, "Ana", dt.datetime(2026, 2, 10, 16, 0)),
            ("s2", "LOC-009", "Luis", dt.datetime(2026, 2, 11, 10, 0)),
        ],
        "zenput_submission_id string, zenput_location_id string, supervisor string, fecha_supervision timestamp",
    )
    operativas = spark.createDataFrame(
        [
            ("o1", "LOC-001", "Ana", dt.datetime(2026, 2, 10, 9, 0)),
            ("o2", "LOC-002", "Ana", dt.datetime(2026, 2, 10, 11, 0)),
        ],
        "zenput_submission_id string, zenput_location_id string, supervisor string, fecha_supervision timestamp",
    )
    recovered = recover_location(seguridad, operativas)
    locs = {r["zenput_submission_id"]: r["zenput_location_id"] for r in recovered.collect()}
    assert locs["s1"] == "LOC-001"  # deterministic pick (lowest donor id)
    assert locs["s2"] == "LOC-009"  # existing location untouched
    assert recovered.count() == 2


def test_append_idempotent_sink(spark, tmp_path, raw_feed):
    # S5/T2: run the load twice → same sink contents.
    path = str(tmp_path / "sink.parquet")
    parsed = parse_submissions(raw_feed).drop("answers")
    n1 = append_idempotent(spark, parsed, path, "zenput_submission_id", 3)
    n2 = append_idempotent(spark, parsed, path, "zenput_submission_id", 3)
    assert n1 == 3 and n2 == 0
    assert spark.read.parquet(path).count() == 3


def test_repair_scores_null_and_zero(spark):
    # T3 (etl_sync.py:446-498)
    sink = spark.createDataFrame(
        [("a", None), ("b", 0.0), ("c", 88.0)],
        "zenput_submission_id string, calificacion_general double",
    )
    fresh = spark.createDataFrame(
        [("a", 91.0), ("b", 72.0), ("c", 10.0)],
        "zenput_submission_id string, calificacion_general double",
    )
    fixed = {r["zenput_submission_id"]: r["calificacion_general"]
             for r in repair_scores(sink, fresh).collect()}
    assert fixed == {"a": 91.0, "b": 72.0, "c": 88.0}  # c untouched


def test_period_transition(spark):
    # T6 (etl_sync.py:504-566)
    periodos = spark.createDataFrame(
        [
            (1, "P1", "Periodo 1", dt.date(2026, 1, 1), dt.date(2026, 1, 31), True),
            (2, "P2", "Periodo 2", dt.date(2026, 2, 1), dt.date(2026, 2, 28), False),
        ],
        PERIODOS_SCHEMA,
    )
    sucursales = spark.createDataFrame(
        [(1, True), (2, True)], "id int, activo boolean"
    )
    full_coverage = spark.createDataFrame(
        [(1, 1), (2, 1)], "sucursal_id int, periodo_id int"
    )
    out = {r["id"]: r["activo"] for r in
           period_transition(periodos, full_coverage, sucursales).collect()}
    assert out == {1: False, 2: True}

    partial = spark.createDataFrame([(1, 1)], "sucursal_id int, periodo_id int")
    out2 = {r["id"]: r["activo"] for r in
            period_transition(periodos, partial, sucursales).collect()}
    assert out2 == {1: True, 2: False}  # not all covered → no transition

    # coverage is COUNT(DISTINCT sucursal_id), which skips NULL: a
    # supervision whose branch FK did not resolve covers no branch
    null_fk = spark.createDataFrame(
        [(1, 1), (None, 1)], "sucursal_id int, periodo_id int"
    )
    out3 = {r["id"]: r["activo"] for r in
            period_transition(periodos, null_fk, sucursales).collect()}
    assert out3 == {1: True, 2: False}


def test_run_incremental_sync_end_to_end(spark, tmp_path):
    """The full run_sync lifecycle (SURVEY.md §3.2): load → re-run is a
    no-op (T2) → late data after the watermark loads incrementally →
    audit rows accumulate."""
    from epl_cas_etl_2026_spark.etl.sync_job import run_incremental_sync

    landing = tmp_path / "landing"
    landing.mkdir()
    wh = str(tmp_path / "wh")
    (landing / "p0.jsonl").write_text(
        "\n".join(json.dumps(_submission(i)) for i in (1, 2)) + "\n"
    )
    sucursales = spark.createDataFrame(
        [(10, "Centro", "1", "NL", "MTY", 1, True, "local", 25.0, -100.0, "LOC-001")],
        schema=__import__("epl_cas_etl_2026_spark.schemas", fromlist=["SUCURSALES_SCHEMA"]).SUCURSALES_SCHEMA,
    )
    periodos = spark.createDataFrame(
        [(1, "P1", "Periodo 1", dt.date(2026, 2, 1), dt.date(2026, 2, 28), True)],
        schema=PERIODOS_SCHEMA,
    )
    catalog = spark.createDataFrame(
        [(1, "CF", "CUARTO FRIO", 1), (2, "FR", "FREIDORAS", 2)],
        schema=CATALOGO_SCHEMA,
    )

    n1 = run_incremental_sync(spark, str(landing), wh, sucursales, periodos, catalog)
    assert n1 == 2
    master = spark.read.parquet(f"{wh}/supervisiones_operativas")
    assert master.count() == 2
    row = master.filter(F.col("zenput_submission_id") == "1").collect()[0]
    assert row["sucursal_id"] == 10 and row["periodo_id"] == 1
    assert row["calificacion_general"] == 87.5

    # idempotency: same landing content → nothing new
    n2 = run_incremental_sync(spark, str(landing), wh, sucursales, periodos, catalog)
    assert n2 == 0
    assert spark.read.parquet(f"{wh}/supervisiones_operativas").count() == 2

    # a later submission arrives → only it loads (watermark filter)
    (landing / "p1.jsonl").write_text(
        json.dumps(_submission(7, date="2026-02-12T10:00:00Z")) + "\n"
    )
    n3 = run_incremental_sync(spark, str(landing), wh, sucursales, periodos, catalog)
    assert n3 == 1
    assert spark.read.parquet(f"{wh}/supervisiones_operativas").count() == 3

    audit = spark.read.parquet(f"{wh}/sync_log")
    assert audit.count() == 3
    assert {r["estado"] for r in audit.collect()} == {"success"}


def test_admin_period_mutations(spark):
    from epl_cas_etl_2026_spark.etl.pipeline import (
        set_active_period,
        update_period_dates,
    )

    periodos = spark.createDataFrame(
        [
            (1, "P1", "Uno", dt.date(2026, 1, 1), dt.date(2026, 1, 31), True),
            (2, "P2", "Dos", dt.date(2026, 2, 1), dt.date(2026, 2, 28), False),
        ],
        schema=PERIODOS_SCHEMA,
    )
    out = {r["id"]: r for r in set_active_period(periodos, 2).collect()}
    assert out[1]["activo"] is False and out[2]["activo"] is True

    edited = {
        r["id"]: r
        for r in update_period_dates(
            periodos, 2, "2026-02-05", "2026-03-05"
        ).collect()
    }
    assert edited[2]["fecha_inicio"] == dt.date(2026, 2, 5)
    assert edited[2]["fecha_fin"] == dt.date(2026, 3, 5)
    assert edited[1]["fecha_inicio"] == dt.date(2026, 1, 1)  # untouched


# ---------------------------------------------------------------------------
# Round-2 semantic pins (ADVICE round 1).
# ---------------------------------------------------------------------------
def test_score_first_answer_wins_over_title_priority(spark):
    # reference etl_sync.py:167-176 iterates answers IN ORDER, checking
    # each against BOTH accepted titles — so a CALIFICACION variant
    # appearing before the plain 'PORCENTAJE %' wins.
    subs = [
        _submission(9, answers=[
            {"field_type": "formula", "title": "CALIFICACION PORCENTAJE %", "value": "55.0"},
            {"field_type": "formula", "title": "PORCENTAJE %", "value": "88.0"},
        ])
    ]
    feed = spark.createDataFrame([(json.dumps(s),) for s in subs], "value string")
    scores = {
        r["zenput_submission_id"]: r["calificacion_general"]
        for r in parse_submissions(feed)
        .select("zenput_submission_id", extract_calificacion_general())
        .collect()
    }
    assert scores["9"] == 55.0


def test_null_valued_answer_does_not_suppress_later_valid(spark):
    # reference extract_areas skips value=None (etl_sync.py:150-152)
    # BEFORE first-wins dedup: a null-valued first answer must not
    # shadow a later valid answer for the same code.
    subs = [
        _submission(9, answers=[
            {"field_type": "formula", "title": "FREIDORAS PORCENTAJE %", "value": None},
            {"field_type": "formula", "title": "FREIDORAS PORCENTAJE %", "value": "42.0"},
        ])
    ]
    feed = spark.createDataFrame([(json.dumps(s),) for s in subs], "value string")
    catalog = spark.createDataFrame(
        [(2, "FR", "FREIDORAS", 2)], CATALOGO_SCHEMA
    )
    details = extract_detail_items(parse_submissions(feed), catalog)
    rows = {
        (r["zenput_submission_id"], r["codigo"]): r["porcentaje"]
        for r in details.collect()
    }
    assert rows[("9", "FR")] == 42.0


def test_period_transition_no_next_period(spark):
    # reference etl_sync.py:550-553: active period complete but no
    # later period defined → return WITHOUT transitioning.
    periodos = spark.createDataFrame(
        [
            (1, "P1", "Uno", dt.date(2026, 1, 1), dt.date(2026, 1, 31), False),
            (2, "P2", "Dos", dt.date(2026, 2, 1), dt.date(2026, 2, 28), True),
        ],
        PERIODOS_SCHEMA,
    )
    sucursales = spark.createDataFrame(
        [(1, True), (2, True)], "id int, activo boolean"
    )
    full_coverage = spark.createDataFrame(
        [(1, 2), (2, 2)], "sucursal_id int, periodo_id int"
    )
    out = {r["id"]: r["activo"] for r in period_transition(
        periodos, full_coverage, sucursales
    ).collect()}
    assert out == {1: False, 2: True}  # unchanged — P2 stays active


def test_dedup_deterministic_survivor(spark):
    # in-batch duplicates: earliest fecha_supervision wins (stable),
    # not an arbitrary dropDuplicates pick.
    rows = spark.createDataFrame(
        [
            ("k1", dt.datetime(2026, 2, 11, 10, 0), "late"),
            ("k1", dt.datetime(2026, 2, 10, 9, 0), "early"),
            ("k2", dt.datetime(2026, 2, 12, 8, 0), "only"),
        ],
        "zenput_submission_id string, fecha_supervision timestamp, tag string",
    )
    out = {
        r["zenput_submission_id"]: r["tag"]
        for r in dedup_against_sink(rows, None).collect()
    }
    assert out == {"k1": "early", "k2": "only"}


def test_audit_run_id_deterministic(spark, tmp_path):
    from epl_cas_etl_2026_spark.etl.pipeline import audit_log

    inicio = dt.datetime(2026, 2, 10, 12, 0)
    fin = dt.datetime(2026, 2, 10, 12, 5)
    p1, p2 = str(tmp_path / "log1"), str(tmp_path / "log2")
    audit_log(spark, p1, "operativas", inicio, fin, 10, "success")
    audit_log(spark, p2, "operativas", inicio, fin, 10, "success")
    id1 = spark.read.parquet(p1).collect()[0]["id"]
    id2 = spark.read.parquet(p2).collect()[0]["id"]
    assert id1 == id2  # crc32-based, not salted Python hash()


def test_since_prunes_sink_scan_and_keeps_undated_rows(spark, tmp_path):
    """The master dedup reads only the sink rows since the batch's
    earliest submission: a filter pushed into the parquet scan, which
    still passes the rows whose prune column is NULL."""
    from epl_cas_etl_2026_spark.etl.pipeline import since

    path = str(tmp_path / "sink")
    schema = "zenput_submission_id string, fecha_supervision timestamp"
    spark.createDataFrame(
        [("a", dt.datetime(2026, 2, 1)), ("b", dt.datetime(2026, 2, 2)), ("u", None)],
        schema,
    ).write.parquet(path)
    existing = since(spark.read.parquet(path), "fecha_supervision", dt.datetime(2026, 2, 2))
    plan = existing._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [Or(GreaterThanOrEqual(fecha_supervision" in plan, plan
    assert sorted(r.zenput_submission_id for r in existing.collect()) == ["b", "u"]
    batch = spark.createDataFrame(
        [("b", dt.datetime(2026, 2, 2)), ("c", dt.datetime(2026, 2, 3)), ("u", None)],
        schema,
    )
    fresh = dedup_against_sink(batch, existing)
    assert [r.zenput_submission_id for r in fresh.collect()] == ["c"]
    # no bound (an empty batch) prunes nothing
    assert since(spark.read.parquet(path), "fecha_supervision", None).count() == 3


def test_sync_error_path_audits_and_reraises(spark, tmp_path):
    import pytest as _pytest

    from epl_cas_etl_2026_spark.etl.sync_job import run_incremental_sync
    from epl_cas_etl_2026_spark.schemas import CATALOGO_SCHEMA

    wh = str(tmp_path / "wh")
    sucursales = spark.createDataFrame(
        [(1, "S", "L1", True)],
        "id int, nombre string, zenput_location_id string, activo boolean",
    )
    periodos = spark.createDataFrame(
        [(1, "P1", "Uno", dt.date(2026, 1, 1), dt.date(2026, 12, 31), True)],
        PERIODOS_SCHEMA,
    )
    catalog = spark.createDataFrame([(1, "CF", "CUARTO FRIO", 1)], CATALOGO_SCHEMA)
    # nonexistent landing dir → the read fails; the job must still
    # write an 'error' audit row and re-raise for the scheduler
    # (reference etl_sync.py:397-404)
    with _pytest.raises(Exception):
        run_incremental_sync(
            spark, str(tmp_path / "missing"), wh, sucursales, periodos, catalog
        )
    audit = spark.read.parquet(f"{wh}/sync_log").collect()
    assert len(audit) == 1 and audit[0]["estado"] == "error"
    assert audit[0]["registros_nuevos"] == 0


def test_submission_without_answers_survives(spark):
    # reference uses sub.get('answers', []) — a missing/null answers
    # array must not drop the submission from the master load, just
    # leave its score null and emit no detail rows
    sub = {
        "id": 42,
        "smetadata": {
            "location": {"id": "LOC-001"},
            "created_by": {"display_name": "Ana"},
            "date_submitted": "2026-02-10T14:30:00Z",
            "lat": 1.0,
            "lon": 2.0,
        },
        # no "answers" key at all
    }
    feed = spark.createDataFrame([(json.dumps(sub),)], "value string")
    parsed = parse_submissions(feed)
    assert parsed.count() == 1
    scored = parsed.select(extract_calificacion_general()).collect()
    assert scored[0]["calificacion_general"] is None
    catalog = spark.createDataFrame([(1, "CF", "CUARTO FRIO", 1)], CATALOGO_SCHEMA)
    assert extract_detail_items(parsed, catalog).count() == 0


def test_sync_skips_malformed_and_keyless_lines(spark, tmp_path):
    """A landing line that does not parse, or parses without an id,
    loads nothing: it must not become an all-NULL master row whose
    surrogate id is xxhash64(NULL)."""
    from epl_cas_etl_2026_spark.etl.sync_job import run_incremental_sync

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "p0.jsonl").write_text(
        json.dumps(_submission(7)) + "\n"
        + "{not json at all\n"
        + '{"answers": []}\n'
    )
    sucursales = spark.createDataFrame(
        [(10, "Centro", "1", "NL", "MTY", 1, True, "local", 25.0, -100.0, "LOC-001")],
        SUCURSALES_SCHEMA,
    )
    periodos = spark.createDataFrame(
        [(1, "P1", "Periodo 1", dt.date(2026, 2, 1), dt.date(2026, 2, 28), True)],
        PERIODOS_SCHEMA,
    )
    catalog = spark.createDataFrame([(1, "CF", "CUARTO FRIO", 1)], CATALOGO_SCHEMA)
    wh = str(tmp_path / "wh")
    n = run_incremental_sync(spark, str(landing), wh, sucursales, periodos, catalog)
    assert n == 1
    master = spark.read.parquet(f"{wh}/supervisiones_operativas").collect()
    assert [r.zenput_submission_id for r in master] == ["7"]


def test_sync_loads_a_malformed_date_as_undated(spark, tmp_path):
    """A date_submitted that does not parse fails neither the sync nor
    the runs after it (the line stays in the landing dir): under ANSI
    mode a plain cast would raise CAST_INVALID_INPUT. The submission
    loads with a NULL fecha_supervision, like an undated one, and a
    re-run loads nothing."""
    from epl_cas_etl_2026_spark.etl.sync_job import run_incremental_sync

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "p0.jsonl").write_text(
        json.dumps(_submission(1)) + "\n"
        + json.dumps(_submission(2, date="not a date")) + "\n"
        + json.dumps(_submission(3, date="2026-02-11T09:00:00Z")) + "\n"
    )
    wh = str(tmp_path / "wh")
    dims = _sync_dims(spark)
    assert run_incremental_sync(spark, str(landing), wh, *dims) == 3
    master = {
        r.zenput_submission_id: r.fecha_supervision
        for r in spark.read.parquet(f"{wh}/supervisiones_operativas").collect()
    }
    assert master["2"] is None
    assert master["3"] == dt.datetime(2026, 2, 11, 9, 0)
    assert run_incremental_sync(spark, str(landing), wh, *dims) == 0
    assert spark.read.parquet(f"{wh}/supervisiones_operativas").count() == 3


def test_append_idempotent_zero_row_first_run_materializes_sink(spark, tmp_path):
    """An empty first load must still create the sink table (schema-only
    parquet): downstream readers get an empty table, not PATH_NOT_FOUND
    (empty-input sweep, round 4)."""
    from epl_cas_etl_2026_spark.etl.pipeline import append_idempotent

    path = str(tmp_path / "sink")
    empty = spark.createDataFrame([], "k long, v string")
    assert append_idempotent(spark, empty, path, "k", 0) == 0
    out = spark.read.parquet(path)
    assert out.count() == 0 and set(out.columns) == {"k", "v"}
    # and a later non-empty append still works against the empty sink
    rows = spark.createDataFrame([(1, "a")], "k long, v string")
    assert append_idempotent(spark, rows, path, "k", 1) == 1
    assert spark.read.parquet(path).count() == 1


# ---------------------------------------------------------------------------
# One landing scan, one pinned batch, one file per sink.
# ---------------------------------------------------------------------------
def _sync_dims(spark):
    sucursales = spark.createDataFrame(
        [(10, "Centro", "1", "NL", "MTY", 1, True, "local", 25.0, -100.0, "LOC-001")],
        SUCURSALES_SCHEMA,
    )
    periodos = spark.createDataFrame(
        [(1, "P1", "Periodo 1", dt.date(2026, 2, 1), dt.date(2026, 2, 28), True)],
        PERIODOS_SCHEMA,
    )
    catalog = spark.createDataFrame(
        [(1, "CF", "CUARTO FRIO", 1), (2, "FR", "FREIDORAS", 2)],
        CATALOGO_SCHEMA,
    )
    return sucursales, periodos, catalog


def _day_file(landing, day: int, n: int) -> None:
    """``n`` submissions on 2026-02-``day`` (ids day*1000 + j), each
    with a score and both catalog areas."""
    answers = [
        {"field_type": "formula", "title": "PORCENTAJE %", "value": "80.0"},
        {"field_type": "formula", "title": "CUARTO FRIO PORCENTAJE %", "value": "70.0"},
        {"field_type": "formula", "title": "FREIDORAS PORCENTAJE %", "value": "90.0"},
    ]
    (landing / f"2026-02-{day:02d}.jsonl").write_text(
        "\n".join(
            json.dumps(_submission(
                day * 1000 + j, answers=answers,
                date=f"2026-02-{day:02d}T{8 + j % 12:02d}:{j // 12:02d}:00Z"))
            for j in range(n)
        ) + "\n"
    )


def _data_files(path) -> int:
    return sum(
        1 for f in os.listdir(path) if not f.startswith((".", "_"))
    )


def test_in_batch_copies_score_from_the_kept_copy(spark, tmp_path):
    """Two copies of one submission in one batch, with different
    answers: the earlier copy is the one dedup keeps, and its own
    answers give both its score and its detail rows. (The score used
    to be a join keyed by id alone, where the first matching answer
    across all copies won.)"""
    from epl_cas_etl_2026_spark.etl.sync_job import run_incremental_sync

    def copy(date, score, area):
        return json.dumps(_submission(5, date=date, answers=[
            {"field_type": "formula", "title": "PORCENTAJE %", "value": score},
            {"field_type": "formula", "title": "FREIDORAS PORCENTAJE %", "value": area},
        ]))

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "p0.jsonl").write_text(
        copy("2026-02-10T09:00:00Z", "40.0", "41.0") + "\n"
        + copy("2026-02-10T08:00:00Z", "90.0", "91.0") + "\n"
    )
    wh = str(tmp_path / "wh")
    assert run_incremental_sync(spark, str(landing), wh, *_sync_dims(spark)) == 1
    master = spark.read.parquet(f"{wh}/supervisiones_operativas").collect()
    assert [(r.calificacion_general, r.fecha_supervision.hour) for r in master] == [(90.0, 8)]
    detail = spark.read.parquet(f"{wh}/detalle_operativas").collect()
    assert [(r.area_id, r.porcentaje) for r in detail] == [(2, 91.0)]


@pytest.mark.parametrize("sink", ["detalle_operativas", "supervisiones_operativas"])
def test_sync_crash_after_a_sink_append_loses_nothing(spark, tmp_path, monkeypatch, sink):
    """A run that dies right after one sink's append completes (before
    the checkpoint advances) is repaired by the next run: both sinks
    then hold each submission and each of its areas exactly once, and
    the failed run leaves no pinned blocks behind. One submission has
    no date: the pruned master scan must still see it."""
    from pyspark.sql.readwriter import DataFrameWriter

    from epl_cas_etl_2026_spark.etl.sync_job import run_incremental_sync

    landing = tmp_path / "landing"
    landing.mkdir()
    _day_file(landing, 10, 6)
    undated = _submission(10_006, date=None, answers=[
        {"field_type": "formula", "title": "CUARTO FRIO PORCENTAJE %", "value": "70.0"},
        {"field_type": "formula", "title": "FREIDORAS PORCENTAJE %", "value": "90.0"},
    ])
    (landing / "undated.jsonl").write_text(json.dumps(undated) + "\n")
    wh = str(tmp_path / "wh")
    dims = _sync_dims(spark)
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()

    real_parquet = DataFrameWriter.parquet

    def crash_after(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        if os.path.basename(path) == sink:
            raise RuntimeError(f"injected crash after the {sink} append")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_after)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_incremental_sync(spark, str(landing), wh, *dims)
    monkeypatch.undo()
    leaked = spark.sparkContext._jsc.getPersistentRDDs().size() - persisted

    run_incremental_sync(spark, str(landing), wh, *dims)
    ids = [r.zenput_submission_id for r in
           spark.read.parquet(f"{wh}/supervisiones_operativas").collect()]
    assert sorted(ids) == [str(10_000 + j) for j in range(7)]
    details = [(r.supervision_id, r.area_id) for r in
               spark.read.parquet(f"{wh}/detalle_operativas").collect()]
    assert len(details) == len(set(details)) == 7 * 2
    estados = [r.estado for r in spark.read.parquet(f"{wh}/sync_log").collect()]
    assert sorted(estados) == ["error", "success"]
    assert leaked == 0


#: Spark jobs one daily sync launches into existing sinks, measured on
#: the feed below (local[4] and local[8], AQE on); a change that adds a
#: pass over the landing or a sink shows up here
DAILY_SYNC_JOBS = 16


def test_daily_sync_job_and_file_ceiling(spark, tmp_path):
    """One daily sync into existing sinks writes exactly one data file
    to each of its four sinks and launches at most DAILY_SYNC_JOBS
    Spark jobs; it releases what it pins."""
    from epl_cas_etl_2026_spark.etl.sync_job import run_incremental_sync

    landing = tmp_path / "landing"
    landing.mkdir()
    wh = tmp_path / "wh"
    dims = _sync_dims(spark)
    _day_file(landing, 10, 20)
    assert run_incremental_sync(spark, str(landing), str(wh), *dims) == 20
    sinks = ("supervisiones_operativas", "detalle_operativas",
             "sync_checkpoints", "sync_log")
    before = {s: _data_files(wh / s) for s in sinks}

    _day_file(landing, 11, 20)
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs().size()
    group = "test-daily-sync-ceiling"
    sc.setJobGroup(group, "one daily sync")
    try:
        assert run_incremental_sync(spark, str(landing), str(wh), *dims) == 20
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)

    assert {s: _data_files(wh / s) - before[s] for s in sinks} == dict.fromkeys(sinks, 1)
    assert len(jobs) <= DAILY_SYNC_JOBS, sorted(jobs)
    assert sc._jsc.getPersistentRDDs().size() == persisted


def test_detail_rows_of_a_supervision_share_one_file(spark, tmp_path, monkeypatch):
    """The detail guard skips every supervision the detail sink already
    holds, which is exact only if each supervision's rows are written
    by one task into one file: a commit cut short then leaves all of
    them or none. Small ROWS_PER_FILE makes one sync write several
    detail files; at this size AQE would merge the shuffle into one
    partition, so its coalescing is off here, as a production-size
    batch has many partitions anyway."""
    import pyarrow.parquet as pq

    from epl_cas_etl_2026_spark.etl import pipeline
    from epl_cas_etl_2026_spark.etl.sync_job import run_incremental_sync

    landing = tmp_path / "landing"
    landing.mkdir()
    _day_file(landing, 10, 20)
    detail = tmp_path / "wh" / "detalle_operativas"
    monkeypatch.setattr(pipeline, "ROWS_PER_FILE", 5)
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        run_incremental_sync(spark, str(landing), str(tmp_path / "wh"), *_sync_dims(spark))
    finally:
        spark.conf.set(conf, before)

    files = [f for f in os.listdir(detail) if not f.startswith((".", "_"))]
    per_file = [
        set(pq.read_table(detail / f, columns=["supervision_id"]).column(0).to_pylist())
        for f in files
    ]
    assert len([ids for ids in per_file if ids]) > 1, files
    assert sum(len(ids) for ids in per_file) == len(set().union(*per_file)) == 20
    assert spark.read.parquet(str(detail)).columns == ["supervision_id", "area_id", "porcentaje"]


def test_detail_write_runs_the_detail_plan_once(spark, tmp_path, monkeypatch):
    """A daily sync's detail write takes its guard's probe keys from
    the pinned batch, so its plan holds one copy of the detail
    extraction: one catalog nested-loop join and one shuffle, the hash
    partitioning by submission both first-wins windows reuse."""
    from pyspark.sql.readwriter import DataFrameWriter

    from epl_cas_etl_2026_spark.etl.sync_job import run_incremental_sync

    landing = tmp_path / "landing"
    landing.mkdir()
    wh = str(tmp_path / "wh")
    dims = _sync_dims(spark)
    _day_file(landing, 10, 4)
    run_incremental_sync(spark, str(landing), wh, *dims)

    plans = []
    real_parquet = DataFrameWriter.parquet

    def record(self, path, *args, **kwargs):
        if os.path.basename(path) == "detalle_operativas":
            plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", record)
    _day_file(landing, 11, 4)
    assert run_incremental_sync(spark, str(landing), wh, *dims) == 4
    [plan] = plans
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("Exchange hashpartitioning(") == 1, plan
    assert "Exchange hashpartitioning(zenput_submission_id#" in plan, plan
    assert "LeftAnti" in plan, plan


def test_sync_job_binds_the_names_the_benchmark_wraps():
    """perfbench/sync.py wraps these names on ``etl.sync_job`` in traced
    runs (its PIPELINE and ZENPUT tuples); a missing one crashes
    ``perfbench/run.py --workload sync --trace 1``. Read with ast, so
    the benchmark is not imported."""
    import ast

    from epl_cas_etl_2026_spark.etl import sync_job

    src = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "sync.py")
    with open(src) as f:
        tree = ast.parse(f.read())
    tuples = {
        node.targets[0].id: ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.targets[0], ast.Name)
        and node.targets[0].id in ("PIPELINE", "ZENPUT")
    }
    assert set(tuples) == {"PIPELINE", "ZENPUT"}
    names = [n for t in tuples.values() for n in t]
    assert "append_idempotent" in names
    assert [n for n in names if not callable(getattr(sync_job, n, None))] == []
