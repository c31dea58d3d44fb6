"""Reference-endpoint parity: build the FIXTURES.md §A domain tables
(every semantic trap represented), write them to parquet, and
differential-test each api.py endpoint against an ANSI-SQL oracle
translated from the reference's documented query semantics — the same
compare used for the driver gate."""

from __future__ import annotations

import datetime as dt
import os

import duckdb
import pytest

from epl_cas_etl_2026_spark import api

D = dt.date
TS = dt.datetime


@pytest.fixture(scope="module")
def domain_files(spark, tmp_path_factory):
    """Domain tables with the FIXTURES.md traps: PLOG regroup names,
    territory keywords + fallback, inactive dims, NULL clasificacion,
    NULL coords, zero-supervision branches/groups, NULL and 0 scores,
    exact rank ties, bucket-edge scores (70/80/90).

    Returns the in-memory frames, a DuckDB connection with a view per
    table, and the directory holding each table as one parquet file
    (the files the views read)."""
    root = str(tmp_path_factory.mktemp("domain"))
    periodos = spark.createDataFrame(
        [
            (1, "CAS-01", "Periodo 1", D(2026, 1, 1), D(2026, 1, 31), False),
            (2, "CAS-02", "Periodo 2", D(2026, 2, 1), D(2026, 2, 28), True),
            (3, "CAS-03", "Periodo 3", D(2026, 3, 1), D(2026, 3, 31), None),
        ],
        "id int, codigo string, nombre string, fecha_inicio date, "
        "fecha_fin date, activo boolean",
    )
    grupos = spark.createDataFrame(
        [
            (1, "PLOG NORTE", True),      # foranea (not 'PLOG NUEVO LEON')
            (2, "PLOG SUR", True),        # foranea
            (3, "TEPEYAC CENTRO", True),  # local
            (4, "EXPO MTY", True),        # mixto
            (5, "INDEPENDIENTE X", True), # foranea
            (6, "GRUPO INACTIVO", False),
            (7, "SIN SUCURSALES", True),  # foranea
            # the six names whose classification diverged before the
            # reference lists were transcribed verbatim (app.py:46-47)
            (8, "EFM", True),                    # local
            (9, "GRUPO CADE", True),             # local
            (10, "GRUPO SALTILLO", True),        # mixto
            (11, "PLOG NUEVO LEON", True),       # local; collapses into PLOG
            (12, "GRUPO CENTRITO", True),        # local
            (13, "GRUPO SABINAS HIDALGO", True), # local
        ],
        "id int, nombre string, activo boolean",
    )
    sucursales = spark.createDataFrame(
        [
            # id, nombre, numero, estado, ciudad, grupo, activo,
            # clasificacion, lat, lng, zenput
            (1, "Suc A", "1", "NL", "MTY", 1, True, "local", 25.6, -100.3, "Z1"),
            (2, "Suc B", "2", "NL", "MTY", 1, True, None, 25.7, -100.4, "Z2"),
            (3, "Suc C", "3", None, "GDL", 2, True, "foraneo", None, None, "Z3"),
            (4, "Suc D", "4", "JAL", "GDL", 3, True, "local", 20.7, -103.4, "Z4"),
            (5, "Suc E", "5", "CMX", "CDMX", 4, True, "foraneo", 19.4, -99.1, "Z5"),
            (6, "Suc F", "6", "NL", "MTY", 5, True, "local", 25.8, -100.2, "Z6"),
            (7, "Suc G inactiva", "7", "NL", "MTY", 1, False, "local", 25.9, -100.1, "Z7"),
            (8, "Suc H sin datos", "8", "NL", "MTY", 5, True, "local", 25.5, -100.5, "Z8"),
            (9, "Suc I grupo inactivo", "9", "NL", "MTY", 6, True, "local", 25.4, -100.6, "Z9"),
            (10, "Suc J plog nl", "10", "NL", "MTY", 11, True, "foraneo", 25.3, -100.7, "Z10"),
            (11, "Suc K saltillo", "11", "COA", "SAL", 10, True, "local", 25.2, -100.8, "Z11"),
        ],
        "id int, nombre string, numero string, estado string, "
        "ciudad string, grupo_operativo_id int, activo boolean, "
        "clasificacion string, latitud double, longitud double, "
        "zenput_location_id string",
    )
    sup_rows = [
        # id, zenput, sucursal, periodo, supervisor, fecha, calif
        (1, "S1", 1, 2, "Ana", TS(2026, 2, 5, 10), 95.0),
        (2, "S2", 1, 2, "Ana", TS(2026, 2, 12, 11), 85.0),
        (3, "S3", 2, 2, "Luis", TS(2026, 2, 6, 9), 90.0),   # bucket edge
        (4, "S4", 3, 2, "Luis", TS(2026, 2, 7, 9), 65.0),   # critical
        (5, "S5", 4, 2, "Mia", TS(2026, 2, 8, 9), 75.0),    # warning band
        (6, "S6", 5, 2, "Mia", TS(2026, 2, 9, 9), 75.0),    # exact tie w/ 5
        (7, "S7", 6, 2, "Ana", TS(2026, 2, 10, 9), None),   # NULL score
        (8, "S8", 6, 2, "Ana", TS(2026, 2, 10, 9), 70.0),   # same-ts tie (W4)
        (9, "S9", 1, 1, "Ana", TS(2026, 1, 15, 9), 40.0),   # other period
        (10, "S10", 4, None, "Mia", TS(2026, 2, 20, 9), 80.0),  # NULL periodo
        (11, "S11", 1, 2, "Ana", TS(2026, 2, 19, 9), 0.0),  # zero score
        # periodo-1 rows for the divergent-territory groups (keep the
        # periodo-2 scorecard asserts unchanged)
        (12, "S12", 10, 1, "Ana", TS(2026, 1, 20, 9), 80.0),  # PLOG NUEVO LEON
        (13, "S13", 11, 1, "Mia", TS(2026, 1, 21, 9), 90.0),  # GRUPO SALTILLO
    ]
    sup = spark.createDataFrame(
        sup_rows,
        "id long, zenput_submission_id string, sucursal_id int, "
        "periodo_id int, supervisor string, fecha_supervision timestamp, "
        "calificacion_general double",
    )
    seg = spark.createDataFrame(
        [(101, "G1", 1, 2, "Ana", TS(2026, 2, 5, 12), 88.0)],
        "id long, zenput_submission_id string, sucursal_id int, "
        "periodo_id int, supervisor string, fecha_supervision timestamp, "
        "calificacion_general double",
    )
    areas = spark.createDataFrame(
        # the (101, ...) row is the id-space-collision trap: an
        # operativas-keyed detail row sharing the numeric id of the
        # seguridad supervision — the seguridad drill-down must NOT
        # join it (ADVICE r4, reference app.py:894-900)
        [(2, 1, 90.0), (2, 2, 60.0), (1, 1, 80.0), (101, 1, 10.0)],
        "supervision_id long, area_id int, porcentaje double",
    )
    cat_areas = spark.createDataFrame(
        [(1, "A-REF", "Refrigeradores", 2), (2, "A-COC", "Cocina", 1)],
        "id int, codigo string, nombre string, numero int",
    )
    seg_kpis = spark.createDataFrame(
        [(101, 1, 95.0), (101, 2, 70.0)],
        "supervision_id long, kpi_id int, porcentaje double",
    )
    cat_kpis_seg = spark.createDataFrame(
        [(1, "K-EXT", "Extintores", 2), (2, "K-GAS", "Fugas de gas", 1)],
        "id int, codigo string, nombre string, numero int",
    )
    # the OTHER seguridad detail pair (supervision_kpis/catalogo_kpis,
    # app.py:1028-1034 — the reference's by-supervision-id route reads
    # these, inconsistently with the /areas branch route); NULL
    # porcentaje exercises the 0/'critico' display coalesce
    sup_kpis = spark.createDataFrame(
        [(101, 11, 88.0), (101, 12, None)],
        "supervision_id long, kpi_id int, porcentaje double",
    )
    cat_kpis = spark.createDataFrame(
        [(12, "Q-ALM", "Alarmas", 1), (11, "Q-BOT", "Botiquin", 2)],
        "id int, codigo string, nombre string, numero int",
    )
    tables = {
        "periodos_cas": periodos,
        "grupos_operativos": grupos,
        "sucursales": sucursales,
        "supervisiones_operativas": sup,
        "supervisiones_seguridad": seg,
        "supervision_areas": areas,
        "catalogo_areas": cat_areas,
        "seguridad_kpis": seg_kpis,
        "catalogo_kpis_seguridad": cat_kpis_seg,
        "supervision_kpis": sup_kpis,
        "catalogo_kpis": cat_kpis,
    }
    con = duckdb.connect()
    for name, df in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')"
        )
    return tables, con, root


def one_split_tables(spark, frames: dict, root: str) -> dict:
    """The parquet copies of ``frames`` under ``root``, opened with
    ``spark.read.parquet``: one split per table, the shape of a
    one-file warehouse (perfbench's, or a sync sink after one run)."""
    return {
        name: spark.read.parquet(os.path.join(root, f"{name}.parquet"))
        for name in frames
    }


def multi_split_tables(frames: dict) -> dict:
    """``frames`` with two partitions each, whatever the session's core
    count, so every endpoint keeps its distributed plan."""
    return {name: df.repartition(2) for name, df in frames.items()}


@pytest.fixture(scope="module")
def domain(domain_files):
    """The tables as in-memory frames of two partitions each, so every
    endpoint keeps its distributed plan. ``test_api_one_split`` runs
    the tests of this module that take ``domain`` again over the
    one-file parquet copies, which ``api._table`` plans as one
    partition."""
    frames, con, _ = domain_files
    return multi_split_tables(frames), con


# DuckDB twin of functions/scalars.det_avg_sql at 2dp
def _det_avg(expr):
    from epl_cas_etl_2026_spark.functions.scalars import det_avg_sql

    return det_avg_sql(expr)


def _compare(df, con, sql):
    from tests.oracle_utils import compare

    ok, msg = compare(df, con, sql)
    assert ok, msg


# the reference's EXACT territory CASE (app.py:46-47): 8 local, 3 mixto
TERRITORIO_SQL = """
    CASE WHEN lower(nombre) LIKE '%tepeyac%' OR lower(nombre) LIKE '%ogas%'
              OR lower(nombre) LIKE '%efm%' OR lower(nombre) LIKE '%epl so%'
              OR lower(nombre) LIKE '%plog nuevo leon%'
              OR lower(nombre) LIKE '%grupo centrito%'
              OR lower(nombre) LIKE '%grupo sabinas hidalgo%'
              OR lower(nombre) LIKE '%grupo cade%'
         THEN 'local'
         WHEN lower(nombre) LIKE '%tec%' OR lower(nombre) LIKE '%expo%'
              OR lower(nombre) LIKE '%grupo saltillo%'
         THEN 'mixto' ELSE 'foranea' END
"""


def _ranking_grupos_sql(fact_where: str, territorio_where: str = "") -> str:
    """DuckDB twin of api.ranking_grupos, transcribed from the
    reference's SQL + Python (app.py:435-652 + 64-89): per-member-group
    partials, inclusive territory filter BEFORE the PLOG collapse,
    agrupación counts from the inner-join recompute, det_avg from
    exact decimal partials."""
    # det_avg over the member union, from partials (integer half-up)
    s_units = "CAST(SUM(sum_calif) * 1000000 AS HUGEINT)"
    d = "(SUM(n_calif) * 10000)"
    up = f"((2 * ABS({s_units}) + {d}) // (2 * {d}))"
    det = (
        f"CASE WHEN SUM(n_calif) > 0 THEN "
        f"CAST(CASE WHEN {s_units} < 0 THEN -{up} ELSE {up} END AS DOUBLE)"
        f" / 100 END"
    )
    return f"""
    WITH g AS (
      SELECT id, nombre,
             upper(nombre) LIKE 'PLOG%' AS is_agrup,
             CASE WHEN upper(nombre) LIKE 'PLOG%' THEN 'PLOG'
                  ELSE nombre END AS entidad,
             {TERRITORIO_SQL} AS territorio
      FROM grupos_operativos WHERE COALESCE(activo, false)
    ), gf AS (
      SELECT * FROM g {territorio_where}
    ), s AS (
      SELECT id AS sucursal_id, grupo_operativo_id
      FROM sucursales WHERE COALESCE(activo, false)
    ), f AS (
      SELECT id AS sup_id, sucursal_id, calificacion_general
      FROM supervisiones_operativas {fact_where}
    ), pg AS (
      SELECT g.id AS grupo_id, g.entidad, g.is_agrup, g.territorio,
             SUM(CAST(f.calificacion_general AS DECIMAL(18,6))) AS sum_calif,
             COUNT(f.calificacion_general) AS n_calif,
             COUNT(f.sup_id) AS n_sup,
             COUNT(DISTINCT s.sucursal_id) AS suc_all,
             COUNT(DISTINCT CASE WHEN f.sup_id IS NOT NULL
                                 THEN s.sucursal_id END) AS suc_con
      FROM gf g LEFT JOIN s ON g.id = s.grupo_operativo_id
                LEFT JOIN f ON s.sucursal_id = f.sucursal_id
      GROUP BY 1, 2, 3, 4
    ), agg AS (
      SELECT entidad, MAX(is_agrup) AS is_agrup,
             MIN(CASE WHEN NOT is_agrup THEN territorio END) AS territorio,
             {det} AS promedio,
             SUM(n_sup) AS n_sup, SUM(suc_all) AS suc_all,
             SUM(suc_con) AS suc_con
      FROM pg GROUP BY entidad
    )
    SELECT entidad, territorio, promedio,
           CAST(CASE WHEN is_agrup AND promedio IS NULL THEN 0
                     ELSE n_sup END AS BIGINT) AS supervisiones,
           CAST(CASE WHEN is_agrup AND promedio IS NOT NULL THEN suc_con
                     ELSE suc_all END AS BIGINT) AS sucursales,
           CASE WHEN promedio IS NOT NULL THEN
             CAST(RANK() OVER (ORDER BY promedio DESC NULLS LAST) AS BIGINT)
           END AS posicion
    FROM agg
    """


def test_ranking_grupos_parity(domain):
    tables, con = domain
    df = api.ranking_grupos(tables, "operativas", periodo_id=2)
    _compare(df, con, _ranking_grupos_sql("WHERE periodo_id = 2"))
    rows = {r.entidad: r for r in df.collect()}
    # PLOG collapses and is supervision-WEIGHTED: periodo-2 members are
    # Suc A (95, 85, 0), Suc B (90), Suc C (65) → 335/5 = 67, not the
    # mean of member-branch averages
    assert rows["PLOG"].promedio == 67.0
    # the reference agrupación payload has NO territorio field
    # (app.py:588-599) — NULL here
    assert rows["PLOG"].territorio is None
    # agrupación sucursales = member branches WITH supervisions (the
    # inner-join recompute, app.py:64-89): A, B, C — not Suc J (no
    # periodo-2 rows) and not all-members
    assert rows["PLOG"].sucursales == 3
    # zero-supervision group: unranked NULL tail
    assert rows["SIN SUCURSALES"].posicion is None
    # inactive group absent
    assert "GRUPO INACTIVO" not in rows
    # the corrected reference keyword lists (app.py:46-47)
    assert rows["EFM"].territorio == "local"
    assert rows["GRUPO CADE"].territorio == "local"
    assert rows["GRUPO CENTRITO"].territorio == "local"
    assert rows["GRUPO SABINAS HIDALGO"].territorio == "local"
    assert rows["GRUPO SALTILLO"].territorio == "mixto"
    assert rows["INDEPENDIENTE X"].territorio == "foranea"


def test_ranking_grupos_territorio_inclusive(domain):
    """The territory filter is INCLUSIVE (app.py:486-492): 'local'
    keeps {local, mixto}; it applies per MEMBER group before the PLOG
    collapse, and the PLOG average is recomputed over survivors."""
    tables, con = domain
    df = api.ranking_grupos(
        tables, "operativas", periodo_id=None, territorio_filtro="local"
    )
    _compare(
        df,
        con,
        _ranking_grupos_sql(
            "", "WHERE territorio IN ('local', 'mixto')"
        ),
    )
    rows = {r.entidad: r for r in df.collect()}
    # mixto groups survive the 'local' filter (inclusive semantics)
    assert "EXPO MTY" in rows and "GRUPO SALTILLO" in rows
    # foranea groups drop — including PLOG NORTE / PLOG SUR, which are
    # NOT local under the verbatim lists ('plog nuevo leon' only)
    assert "INDEPENDIENTE X" not in rows
    # the PLOG entity is recomputed over surviving members only:
    # PLOG NUEVO LEON's Suc J (80.0) — not NORTE/SUR's branches
    assert rows["PLOG"].promedio == 80.0
    assert rows["PLOG"].supervisiones == 1
    with pytest.raises(ValueError):
        api.ranking_grupos(tables, territorio_filtro="bogus")


def test_ranking_sucursales_parity_and_dynamic_filters(domain):
    tables, con = domain
    df = api.ranking_sucursales(tables, "operativas", periodo_id=2)
    # transcribed from the reference SQL (app.py:666-709): grupos is
    # LEFT-joined with NO activo filter; the clasificacion COALESCE is
    # display-only (app.py:719)
    sql = f"""
    WITH s AS (
      SELECT id AS sucursal_id, nombre AS sucursal, grupo_operativo_id,
             clasificacion
      FROM sucursales WHERE COALESCE(activo, false)
    ), g AS (
      SELECT id, nombre AS grupo FROM grupos_operativos
    ), f AS (
      SELECT id AS sup_id, sucursal_id, calificacion_general
      FROM supervisiones_operativas WHERE periodo_id = 2
    ), agg AS (
      SELECT s.sucursal, g.grupo,
             COALESCE(s.clasificacion, 'local') AS clasificacion,
             {_det_avg('f.calificacion_general')} AS promedio,
             CAST(COUNT(f.sup_id) AS BIGINT) AS supervisiones
      FROM s LEFT JOIN g ON s.grupo_operativo_id = g.id
             LEFT JOIN f ON s.sucursal_id = f.sucursal_id
      GROUP BY s.sucursal_id, s.sucursal, g.grupo, s.clasificacion
    )
    SELECT sucursal, grupo, clasificacion, promedio, supervisiones,
           CASE WHEN promedio IS NOT NULL THEN
             CAST(RANK() OVER (ORDER BY promedio DESC NULLS LAST) AS BIGINT)
           END AS posicion
    FROM agg
    """
    _compare(df, con, sql)
    rows = {r.sucursal: r for r in df.collect()}
    # exact tie shares the position; next rank has a gap
    assert rows["Suc D"].posicion == rows["Suc E"].posicion
    # NULL clasificacion defaulted to local (display only)
    assert rows["Suc B"].clasificacion == "local"
    # zero-supervision branch present, unranked
    assert rows["Suc H sin datos"].posicion is None
    # branch of an inactive group STAYS (reference LEFT JOINs grupos
    # with no activo filter, app.py:672)
    assert "Suc I grupo inactivo" in rows
    assert rows["Suc I grupo inactivo"].grupo == "GRUPO INACTIVO"
    # territory filter reads the RAW column (app.py:698-701):
    # 'foranea' → clasificacion = 'foraneo'
    foraneas = api.ranking_sucursales(
        tables, "operativas", periodo_id=2, territorio_filtro="foranea"
    ).collect()
    assert {r.sucursal for r in foraneas} == {"Suc C", "Suc E", "Suc J plog nl"}
    # 'local' filters the raw value — the NULL-classified Suc B does
    # NOT pass (the COALESCE default would wrongly include it)
    locales = {
        r.sucursal
        for r in api.ranking_sucursales(
            tables, "operativas", periodo_id=2, territorio_filtro="local"
        ).collect()
    }
    assert "Suc B" not in locales and "Suc A" in locales


def test_map_markers_parity(domain):
    tables, con = domain
    df = api.map_markers(tables, "operativas", periodo_id=2)
    # transcribed from app.py:1070-1108: grupos LEFT-joined with NO
    # activo filter; the `if row[5]` truthiness makes a 0.0 average
    # display NULL/'gray'
    sql = f"""
    WITH s AS (
      SELECT id AS sucursal_id, nombre AS sucursal, grupo_operativo_id,
             latitud AS lat, longitud AS lng
      FROM sucursales
      WHERE COALESCE(activo, false)
        AND latitud IS NOT NULL AND longitud IS NOT NULL
    ), g AS (
      SELECT id, nombre AS grupo FROM grupos_operativos
    ), f AS (
      SELECT id AS sup_id, sucursal_id, calificacion_general
      FROM supervisiones_operativas WHERE periodo_id = 2
    ), agg AS (
      SELECT s.sucursal, g.grupo, s.lat, s.lng,
             NULLIF({_det_avg('f.calificacion_general')}, 0.0) AS promedio,
             CAST(COUNT(f.sup_id) AS BIGINT) AS supervisiones
      FROM s LEFT JOIN g ON s.grupo_operativo_id = g.id
             LEFT JOIN f ON s.sucursal_id = f.sucursal_id
      GROUP BY s.sucursal_id, s.sucursal, g.grupo, s.lat, s.lng
    )
    SELECT sucursal, grupo, lat, lng, promedio, supervisiones,
           CASE WHEN promedio IS NULL THEN 'gray'
                WHEN promedio >= 90 THEN 'excellent'
                WHEN promedio >= 80 THEN 'good'
                WHEN promedio >= 70 THEN 'regular'
                ELSE 'critical' END AS color
    FROM agg ORDER BY sucursal
    """
    _compare(df, con, sql)
    rows = {r.sucursal: r for r in df.collect()}
    assert "Suc C" not in rows  # NULL coords filtered
    assert rows["Suc H sin datos"].color == "gray"  # F1 null guard


def test_alerts_parity(domain):
    tables, con = domain
    df = api.alerts(tables, "operativas", periodo_id=2)
    # transcribed from the reference SQL (app.py:1226-1261): critical
    # joins grupos WITHOUT an activo filter (but inner — dangling
    # groups drop the branch); warning joins sucursales WITHOUT an
    # activo filter
    sql = f"""
    WITH f AS (
      SELECT sucursal_id, calificacion_general
      FROM supervisiones_operativas WHERE periodo_id = 2
    ), ba AS (
      SELECT s.id, s.nombre AS s_nombre,
             {_det_avg('f.calificacion_general')} AS promedio
      FROM f JOIN sucursales s ON f.sucursal_id = s.id
             JOIN grupos_operativos g ON s.grupo_operativo_id = g.id
      WHERE COALESCE(s.activo, false)
      GROUP BY s.id, s.nombre
    ), ga AS (
      SELECT g.id, g.nombre AS g_nombre,
             {_det_avg('f.calificacion_general')} AS promedio
      FROM f JOIN sucursales s ON f.sucursal_id = s.id
             JOIN grupos_operativos g ON s.grupo_operativo_id = g.id
      WHERE COALESCE(g.activo, false)
      GROUP BY g.id, g.nombre
    )
    SELECT 'critico' AS nivel, s_nombre AS entidad, promedio
    FROM ba WHERE promedio < 70
    UNION ALL
    SELECT 'advertencia', g_nombre, promedio
    FROM ga WHERE promedio >= 70 AND promedio < 80
    ORDER BY nivel, promedio, entidad
    """
    _compare(df, con, sql)


def test_periodos_with_data_parity(domain):
    tables, con = domain
    from pyspark.sql import functions as F

    # dates compared as ISO strings: pandas surfaces DuckDB DATE as a
    # midnight datetime while Spark yields datetime.date (the repo's
    # documented cross-engine date rule)
    df = api.periodos_with_data(tables, "operativas").select(
        "id",
        "codigo",
        "nombre",
        F.date_format("fecha_inicio", "yyyy-MM-dd").alias("f0"),
        F.date_format("fecha_fin", "yyyy-MM-dd").alias("f1"),
    )
    sql = """
    SELECT id, codigo, nombre,
           strftime(fecha_inicio, '%Y-%m-%d') AS f0,
           strftime(fecha_fin, '%Y-%m-%d') AS f1
    FROM periodos_cas p
    WHERE EXISTS (SELECT 1 FROM supervisiones_operativas f
                  WHERE f.periodo_id = p.id)
    ORDER BY f0 DESC
    """
    _compare(df, con, sql)
    # period 3 has no data; NULL-periodo supervisions attach nowhere
    assert {r.id for r in df.collect()} == {1, 2}


def test_heatmap_matrix_semantics(domain):
    tables, _ = domain
    df = api.heatmap_matrix(tables, "operativas")
    rows = {r.grupo: r.asDict() for r in df.collect()}
    # J4 densification: a group with zero supervisions anywhere still
    # gets its row (all-NULL cells), exactly like the reference's
    # CROSS JOIN grid; inactive groups stay out
    assert "SIN SUCURSALES" in rows
    assert all(
        rows["SIN SUCURSALES"][c] is None
        for c in ("CAS-01", "CAS-02", "CAS-03", "promedio_general")
    )
    assert "GRUPO INACTIVO" not in rows
    # per-cell weighted avg within (grupo, periodo)
    # PLOG NORTE @ CAS-02: Suc A (95, 85, 0) + Suc B (90) → 270/4=67.5
    assert rows["PLOG NORTE"]["CAS-02"] == 67.5
    # overall per group = UNWEIGHTED mean of its period averages (A11)
    assert rows["PLOG NORTE"]["promedio_general"] == round(
        (rows["PLOG NORTE"]["CAS-01"] + rows["PLOG NORTE"]["CAS-02"]) / 2, 2
    )
    # EPL CAS row = unweighted mean over group averages per period (A12)
    per_period = [
        rows[g]["CAS-02"]
        for g in rows
        if g != "EPL CAS" and rows[g]["CAS-02"] is not None
    ]
    assert rows["EPL CAS"]["CAS-02"] == round(
        sum(per_period) / len(per_period), 2
    )


def test_heatmap_territorio_inclusive_filter(domain):
    """/api/historico territorio filter (app.py:1167-1171): INCLUSIVE
    membership ('local' keeps local+mixto), applied BEFORE the EPL CAS
    row accumulates (app.py:1190-1196) so the system average reflects
    only visible groups."""
    tables, _ = domain
    local = api.heatmap_matrix(tables, "operativas", territorio="local")
    rows = {r.grupo: r.asDict() for r in local.collect()}
    # local + mixto stay; foranea drops (PLOG NORTE/SUR are NOT
    # 'PLOG NUEVO LEON' so they classify foranea under the verbatim
    # reference keywords)
    assert "TEPEYAC CENTRO" in rows and "EXPO MTY" in rows  # local, mixto
    assert "GRUPO SALTILLO" in rows                         # mixto
    assert "PLOG NORTE" not in rows and "INDEPENDIENTE X" not in rows
    # EPL CAS is recomputed over ONLY the visible groups
    vis = [
        rows[g]["CAS-02"]
        for g in rows
        if g != "EPL CAS" and rows[g]["CAS-02"] is not None
    ]
    assert rows["EPL CAS"]["CAS-02"] == round(sum(vis) / len(vis), 2)
    allrows = {
        r.grupo: r.asDict()
        for r in api.heatmap_matrix(tables, "operativas").collect()
    }
    assert rows["EPL CAS"]["CAS-02"] != allrows["EPL CAS"]["CAS-02"]
    # foranea keeps mixto too
    for_rows = {
        r.grupo
        for r in api.heatmap_matrix(
            tables, "operativas", territorio="foranea"
        ).collect()
    }
    assert "EXPO MTY" in for_rows and "PLOG NORTE" in for_rows
    assert "TEPEYAC CENTRO" not in for_rows
    # None follows the territorio_filtro convention: no filter
    none_rows = {
        r.grupo
        for r in api.heatmap_matrix(
            tables, "operativas", territorio=None
        ).collect()
    }
    assert none_rows == set(allrows)
    with pytest.raises(ValueError):
        api.heatmap_matrix(tables, "operativas", territorio="bogus")


def test_branch_endpoints(domain):
    tables, _ = domain
    latest = api.branch_latest(tables, 6, "operativas").collect()
    # same-timestamp tie broken by highest id (S8 over S7)
    assert len(latest) == 1 and latest[0].id == 8
    assert latest[0].color == "regular"

    trend = api.branch_trend(tables, 1, "operativas", n=4).collect()
    # last 4 of Suc A's 4 supervisions, chronological
    assert [r.id for r in trend] == [9, 1, 2, 11]
    assert trend[0].label == "15/01"

    areas = api.branch_areas(tables, 1, "operativas").collect()
    # latest supervision for Suc A is id=11 (no areas) → empty;
    # supervision 2's areas belong to an older visit
    assert areas == []
    # wire areas through a branch whose latest HAS areas: Suc B latest=3?
    # (supervision_areas rows attach to supervisions 1 and 2 only)
    latest_a = api.branch_latest(tables, 1, "operativas").first()
    assert latest_a.id == 11


def test_branch_areas_seguridad_path(domain):
    """tipo='seguridad' must read seguridad_kpis ⋈
    catalogo_kpis_seguridad (app.py:894-900) — NOT the operativas
    detail pair. The fixture plants an operativas-keyed
    supervision_areas row with the seguridad supervision's id (101) as
    the id-space-collision trap."""
    tables, con = domain
    df = api.branch_areas(tables, 1, "seguridad")
    sql = """
    WITH latest AS (
      SELECT id FROM supervisiones_seguridad WHERE sucursal_id = 1
      ORDER BY fecha_supervision DESC, id DESC LIMIT 1
    )
    SELECT ck.codigo, ck.nombre AS area, sk.porcentaje, ck.numero
    FROM latest l
    JOIN seguridad_kpis sk ON sk.supervision_id = l.id
    JOIN catalogo_kpis_seguridad ck ON sk.kpi_id = ck.id
    ORDER BY ck.numero
    """
    _compare(df, con, sql)
    rows = df.collect()
    # KPI rows in catalog display order — and NOT the planted
    # supervision_areas collision row (porcentaje 10.0)
    assert [(r.area, r.porcentaje) for r in rows] == [
        ("Fugas de gas", 70.0),
        ("Extintores", 95.0),
    ]
    with pytest.raises(ValueError):
        api.branch_areas(tables, 1, "bogus")


def test_estados_parity(domain):
    tables, con = domain
    df = api.estados(tables)
    sql = """
    SELECT estado, CAST(COUNT(*) AS BIGINT) AS total
    FROM sucursales WHERE COALESCE(activo, false) AND estado IS NOT NULL
    GROUP BY estado ORDER BY estado
    """
    _compare(df, con, sql)
    rows = {r.estado: r.total for r in df.collect()}
    # Suc C's NULL estado is excluded; inactive Suc G doesn't count
    assert None not in rows
    assert rows["COA"] == 1


def _periodo_contexto_sql(hoy: str, tabla: str = "supervisiones_operativas") -> str:
    return f"""
    WITH cand AS (
      SELECT id, codigo, nombre, fecha_inicio, fecha_fin,
             1 AS prio, 'fecha' AS metodo
      FROM periodos_cas
      WHERE fecha_inicio <= DATE '{hoy}' AND fecha_fin >= DATE '{hoy}'
      UNION ALL
      SELECT id, codigo, nombre, fecha_inicio, fecha_fin, 2, 'activo'
      FROM periodos_cas WHERE COALESCE(activo, false)
      UNION ALL
      SELECT p.id, p.codigo, p.nombre, p.fecha_inicio, p.fecha_fin,
             3, 'ultimo_con_datos'
      FROM periodos_cas p
      WHERE EXISTS (SELECT 1 FROM {tabla} f WHERE f.periodo_id = p.id)
    ), best AS (
      SELECT * FROM cand ORDER BY prio, fecha_inicio DESC, id DESC LIMIT 1
    ), sup AS (
      SELECT periodo_id, COUNT(DISTINCT sucursal_id) AS supervisadas
      FROM {tabla} GROUP BY periodo_id
    ), tot AS (
      SELECT COUNT(*) AS n FROM sucursales WHERE COALESCE(activo, false)
    )
    SELECT b.id, b.codigo, b.nombre,
           strftime(b.fecha_inicio, '%Y-%m-%d') AS f0,
           strftime(b.fecha_fin, '%Y-%m-%d') AS f1,
           b.metodo,
           CAST(COALESCE(s.supervisadas, 0) AS BIGINT) AS supervisadas,
           CAST(CASE WHEN t.n = 0 THEN 86 ELSE t.n END AS BIGINT) AS total,
           COALESCE(ROUND(COALESCE(s.supervisadas, 0) * 100.0
             / NULLIF(CASE WHEN t.n = 0 THEN 86 ELSE t.n END, 0), 1), 0.0)
             AS porcentaje
    FROM best b LEFT JOIN sup s ON b.id = s.periodo_id CROSS JOIN tot t
    """


def _periodo_contexto_iso(tables, tipo, hoy):
    from pyspark.sql import functions as F

    return api.periodo_contexto(tables, tipo, hoy=hoy).select(
        "id",
        "codigo",
        "nombre",
        F.date_format("fecha_inicio", "yyyy-MM-dd").alias("f0"),
        F.date_format("fecha_fin", "yyyy-MM-dd").alias("f1"),
        "metodo",
        "supervisadas",
        "total",
        "porcentaje",
    )


def test_periodo_contexto_by_date(domain):
    """Resolution level 1: hoy inside a period's date range →
    metodo='fecha' (app.py:222-236)."""
    tables, con = domain
    df = _periodo_contexto_iso(tables, "operativas", D(2026, 2, 15))
    _compare(df, con, _periodo_contexto_sql("2026-02-15"))
    r = df.first()
    assert (r.id, r.metodo) == (2, "fecha")
    # periodo-2 coverage: branches 1,2,3,4,5,6 supervised of 10 active
    assert (r.supervisadas, r.total, r.porcentaje) == (6, 10, 60.0)


def test_periodo_contexto_by_flag_and_last_with_data(domain):
    tables, con = domain
    # level 2: hoy outside every range → the activo flag (periodo 2)
    df = _periodo_contexto_iso(tables, "operativas", D(2026, 6, 1))
    _compare(df, con, _periodo_contexto_sql("2026-06-01"))
    assert df.first().metodo == "activo"

    # level 3: no date match, no activo flag → latest period WITH data
    # in the tipo's fact (seguridad: only periodo 2 has rows)
    from pyspark.sql import functions as F

    no_flag = {
        **tables,
        "periodos_cas": tables["periodos_cas"].withColumn(
            "activo", F.lit(None).cast("boolean")
        ),
    }
    r = api.periodo_contexto(no_flag, "seguridad", hoy=D(2026, 6, 1)).first()
    assert (r.id, r.metodo) == (2, "ultimo_con_datos")
    # seguridad coverage in periodo 2: one branch supervised
    assert r.supervisadas == 1

    # no periods at all → empty frame (reference: periodo_actual=None)
    empty = {
        **tables,
        "periodos_cas": tables["periodos_cas"].filter(F.lit(False)),
    }
    assert api.periodo_contexto(empty, "operativas", hoy=D(2026, 6, 1)).count() == 0
    with pytest.raises(ValueError):
        api.periodo_contexto(tables, "operativas")


def test_periodos_selector(domain):
    tables, _ = domain
    rows = api.periodos_selector(tables, n=2).collect()
    # latest 2 by fecha_inicio DESC (app.py:269-274)
    assert [r.id for r in rows] == [3, 2]


def test_kpis_parity(domain):
    tables, con = domain
    df = api.kpis(tables, "operativas", periodo_id=2)
    sql = f"""
    WITH f AS (
      SELECT * FROM supervisiones_operativas WHERE periodo_id = 2
    ), per AS (
      SELECT COALESCE({_det_avg('calificacion_general')}, 0.0) AS prom_sel,
             CAST(COUNT(id) AS BIGINT) AS total_supervisiones,
             CAST(COUNT(DISTINCT sucursal_id) AS BIGINT)
               AS sucursales_supervisadas,
             CAST(COALESCE(SUM(CASE WHEN calificacion_general >= 90 THEN 1 ELSE 0 END), 0) AS BIGINT) AS excelente,
             CAST(COALESCE(SUM(CASE WHEN calificacion_general >= 80 AND calificacion_general < 90 THEN 1 ELSE 0 END), 0) AS BIGINT) AS bueno,
             CAST(COALESCE(SUM(CASE WHEN calificacion_general >= 70 AND calificacion_general < 80 THEN 1 ELSE 0 END), 0) AS BIGINT) AS regular,
             CAST(COALESCE(SUM(CASE WHEN calificacion_general < 70 THEN 1 ELSE 0 END), 0) AS BIGINT) AS critico
      FROM f
    ), acum AS (
      SELECT COALESCE({_det_avg('calificacion_general')}, 0.0)
        AS promedio_acumulado
      FROM supervisiones_operativas
    ), ts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_sucursales
      FROM sucursales WHERE COALESCE(activo, false)
    ), tg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_grupos
      FROM grupos_operativos WHERE COALESCE(activo, false)
    )
    SELECT prom_sel AS promedio, prom_sel AS promedio_periodo,
           promedio_acumulado,
           CASE WHEN prom_sel >= 90 THEN 'excellent'
                WHEN prom_sel >= 80 THEN 'good'
                WHEN prom_sel >= 70 THEN 'regular'
                ELSE 'critical' END AS color,
           total_supervisiones, sucursales_supervisadas,
           total_sucursales, total_grupos,
           COALESCE(ROUND(sucursales_supervisadas * 100.0
             / NULLIF(total_sucursales, 0), 1), 0.0) AS cobertura,
           excelente, bueno, regular, critico
    FROM per, acum, ts, tg
    """
    _compare(df, con, sql)
    r = df.first()
    # 90.0 lands in excelente, 70.0 in regular, 0 in critico (edges);
    # the NULL score counts in no bucket
    assert (r.excelente, r.bueno, r.regular, r.critico) == (2, 1, 3, 2)
    # displayed promedio = the period average when a period is given
    assert r.promedio == r.promedio_periodo
    assert r.promedio_acumulado != r.promedio  # history includes P1
    # no-period call: promedio_periodo NULL, displayed = accumulated
    r2 = api.kpis(tables, "operativas").first()
    assert r2.promedio_periodo is None
    assert r2.promedio == r2.promedio_acumulado
    # empty-period trap (app.py:356 `scalar() or 0`): promedio 0,
    # classed 'critico' — NOT NULL / 'sin-datos'
    r3 = api.kpis(tables, "operativas", periodo_id=3).first()
    assert (r3.promedio, r3.color) == (0.0, "critical")


def test_periodos_list(domain):
    tables, con = domain
    from pyspark.sql import functions as F

    df = api.periodos_list(tables, n=10).select(
        "id", "codigo", "nombre",
        F.date_format("fecha_inicio", "yyyy-MM-dd").alias("f0"),
        F.date_format("fecha_fin", "yyyy-MM-dd").alias("f1"),
        "activo",
    )
    sql = """
    SELECT id, codigo, nombre,
           strftime(fecha_inicio, '%Y-%m-%d') AS f0,
           strftime(fecha_fin, '%Y-%m-%d') AS f1, activo
    FROM periodos_cas ORDER BY id DESC LIMIT 10
    """
    _compare(df, con, sql)


def test_grupo_detalle_parity(domain):
    tables, con = domain
    # branch table for grupo 1 (PLOG NORTE), periodo 2 — transcribed
    # with the reference's post-join OR-IS-NULL filter (app.py:796-797)
    df = api.grupo_detalle_sucursales(tables, 1, "operativas", periodo_id=2)
    sql = f"""
    WITH s AS (
      SELECT id AS sucursal_id, nombre FROM sucursales
      WHERE COALESCE(activo, false) AND grupo_operativo_id = 1
    ), f AS (
      SELECT id AS sup_id, sucursal_id, periodo_id, calificacion_general
      FROM supervisiones_operativas
    ), base AS (
      SELECT s.sucursal_id, s.nombre, f.sup_id, f.calificacion_general
      FROM s LEFT JOIN f ON s.sucursal_id = f.sucursal_id
      WHERE f.periodo_id = 2 OR f.periodo_id IS NULL
    ), agg AS (
      SELECT sucursal_id AS id, nombre,
             COALESCE({_det_avg('calificacion_general')}, 0.0) AS promedio,
             CAST(COUNT(sup_id) AS BIGINT) AS supervisiones
      FROM base GROUP BY sucursal_id, nombre
    )
    SELECT id, nombre, promedio,
           CASE WHEN promedio >= 90 THEN 'excellent'
                WHEN promedio >= 80 THEN 'good'
                WHEN promedio >= 70 THEN 'regular'
                ELSE 'critical' END AS color,
           supervisiones
    FROM agg ORDER BY promedio DESC, id
    """
    _compare(df, con, sql)
    rows = {r.id: r for r in df.collect()}
    # inactive Suc G (id 7) excluded; actives of grupo 1: Suc A, B
    assert set(rows) == {1, 2}
    # the OR-IS-NULL trap in action for a branch with no periodo-2
    # rows would keep it at 0 supervisions — here both have data
    assert rows[2].supervisiones == 1

    # header: group average is computed over ALL branches (inner join,
    # no activo filter), while totals come from the ACTIVE branch rows
    hdr = api.grupo_detalle_stats(tables, 1, "operativas", periodo_id=2).first()
    assert hdr.nombre == "PLOG NORTE"
    assert hdr.total_sucursales == 2
    # all periodo-2 supervisions of grupo-1 branches: Suc A (95,85,0),
    # Suc B (90), inactive Suc G has none → weighted avg 67.5
    assert hdr.promedio == 67.5
    assert hdr.total_supervisiones == 4


def test_sucursal_detail_endpoints(domain):
    tables, con = domain
    # header block (LEFT-joined group, no activo filters)
    info = api.sucursal_info(tables, 9).first()
    assert (info.nombre, info.grupo_nombre) == (
        "Suc I grupo inactivo", "GRUPO INACTIVO",
    )
    # periodo-filtered latest: Suc A's latest in periodo 1 is id 9
    latest_p1 = api.branch_latest(tables, 1, "operativas", periodo_id=1).first()
    assert latest_p1.id == 9
    # supervision-by-id header: score/fecha display coalescing +
    # periodo name left join
    hdr = api.supervision_header(tables, 7, "operativas").first()
    assert (hdr.calificacion, hdr.periodo) == (0.0, "Periodo 2")
    assert hdr.fecha == "10/02/2026"
    # by-id drill-down, operativas: supervision 2's areas in catalog
    # numero order
    ops = api.supervision_areas_by_id(tables, 2, "operativas")
    sql = """
    SELECT ca.nombre,
           COALESCE(sa.porcentaje, 0.0) AS porcentaje,
           CASE WHEN COALESCE(sa.porcentaje, 0.0) >= 90 THEN 'excellent'
                WHEN COALESCE(sa.porcentaje, 0.0) >= 80 THEN 'good'
                WHEN COALESCE(sa.porcentaje, 0.0) >= 70 THEN 'regular'
                ELSE 'critical' END AS color,
           CAST(ca.numero AS BIGINT) AS orden
    FROM supervision_areas sa
    JOIN catalogo_areas ca ON sa.area_id = ca.id
    WHERE sa.supervision_id = 2
    ORDER BY ca.numero
    """
    _compare(ops.select("nombre", "porcentaje", "color",
                        ops.orden.cast("long").alias("orden")), con, sql)
    # by-id drill-down, seguridad: the INCONSISTENT reference pair
    # (supervision_kpis x catalogo_kpis, ordered by catalog id) — and
    # the NULL porcentaje displays 0/'critico'
    seg = api.supervision_areas_by_id(tables, 101, "seguridad").collect()
    assert [(r.nombre, r.porcentaje, r.color) for r in seg] == [
        ("Botiquin", 88.0, "good"),
        ("Alarmas", 0.0, "critical"),
    ]


def test_health_and_preview(domain, spark):
    tables, _ = domain
    assert api.health(spark).first().ok == 1
    assert api.preview(tables, "grupos_operativos", 3).count() == 3
    with pytest.raises(ValueError):
        api.preview(tables, "sync_checkpoints; DROP TABLE x")


def test_api_serves_etl_sync_output(spark, tmp_path):
    """Extract → load → serve: run the real incremental sync job on a
    zenput-shaped landing feed, then point the dashboard API at the
    warehouse it produced."""
    import json

    import datetime as _dt

    from epl_cas_etl_2026_spark.etl.sync_job import run_incremental_sync
    from epl_cas_etl_2026_spark.schemas import (
        CATALOGO_SCHEMA,
        PERIODOS_SCHEMA,
        SUCURSALES_SCHEMA,
    )
    from tests.test_etl_pipeline import _submission

    landing = tmp_path / "landing"
    landing.mkdir()
    wh = str(tmp_path / "wh")
    (landing / "p0.jsonl").write_text(
        "\n".join(json.dumps(_submission(i)) for i in (1, 2)) + "\n"
    )
    sucursales = spark.createDataFrame(
        [
            (10, "Centro", "1", "NL", "MTY", 1, True, "local",
             25.0, -100.0, "LOC-001"),
            (11, "Sin datos", "2", "NL", "MTY", 1, True, "local",
             25.1, -100.1, "LOC-002"),
        ],
        schema=SUCURSALES_SCHEMA,
    )
    periodos = spark.createDataFrame(
        [(1, "P1", "Periodo 1", _dt.date(2026, 2, 1),
          _dt.date(2026, 2, 28), True)],
        schema=PERIODOS_SCHEMA,
    )
    catalog = spark.createDataFrame(
        [(1, "CF", "CUARTO FRIO", 1), (2, "FR", "FREIDORAS", 2)],
        schema=CATALOGO_SCHEMA,
    )
    n = run_incremental_sync(
        spark, str(landing), wh, sucursales, periodos, catalog
    )
    assert n == 2

    master = spark.read.parquet(f"{wh}/supervisiones_operativas")
    grupos = spark.createDataFrame(
        [(1, "GRUPO CENTRO", True)], "id int, nombre string, activo boolean"
    )
    tables = {
        "grupos_operativos": grupos,
        "sucursales": sucursales,
        "supervisiones_operativas": master,
    }
    ranked = api.ranking_sucursales(tables, "operativas", periodo_id=1)
    rows = {r.sucursal: r for r in ranked.collect()}
    assert rows["Centro"].supervisiones == 2
    assert rows["Centro"].promedio == 87.5
    assert rows["Centro"].posicion == 1
    assert rows["Sin datos"].posicion is None  # unranked tail from sync

    stats = api.kpis(tables, "operativas", periodo_id=1).first()
    assert stats.total_supervisiones == 2
    assert stats.sucursales_supervisadas == 1
    assert stats.total_sucursales == 2
    assert stats.cobertura == 50.0

    # the drill-downs join the synced detail sink on the reference's
    # FK name (area_id for operativas)
    tables["supervision_areas"] = spark.read.parquet(f"{wh}/detalle_operativas")
    tables["catalogo_areas"] = catalog
    areas = api.branch_areas(tables, 10, "operativas", periodo_id=1).collect()
    assert [tuple(r) for r in areas] == [("CF", "CUARTO FRIO", 92.0, 1)]
    for sid in [r.id for r in master.collect()]:
        by_id = api.supervision_areas_by_id(tables, sid, "operativas").collect()
        assert [tuple(r) for r in by_id] == [("CUARTO FRIO", 92.0, "excellent", 1)]


def test_set_periodo_activo(domain):
    tables, _ = domain
    out = api.set_periodo_activo(tables, 3).collect()
    assert {r.id: r.activo for r in out} == {1: False, 2: False, 3: True}
    with pytest.raises(ValueError):
        api.set_periodo_activo(tables, 99)


def test_ranking_grupos_members_parity(domain):
    """The nested agrupación member rows (app.py:566-586):
    posicion_interna is competition rank within the PLOG entity,
    NULL-promedio members unranked and 'gray'."""
    tables, con = domain
    df = api.ranking_grupos_members(tables, "operativas", periodo_id=2)
    sql = f"""
    WITH g AS (
      SELECT id AS grupo_id, nombre,
             CASE WHEN upper(nombre) LIKE 'PLOG%' THEN 'PLOG' END AS entidad,
             {TERRITORIO_SQL} AS territorio
      FROM grupos_operativos WHERE COALESCE(activo, false)
    ), gm AS (SELECT * FROM g WHERE entidad IS NOT NULL),
    s AS (
      SELECT id AS sucursal_id, grupo_operativo_id
      FROM sucursales WHERE COALESCE(activo, false)
    ), f AS (
      SELECT id AS sup_id, sucursal_id, calificacion_general
      FROM supervisiones_operativas WHERE periodo_id = 2
    ), pg AS (
      SELECT g.entidad, g.grupo_id AS id, g.nombre, g.territorio,
             {_det_avg('f.calificacion_general')} AS promedio,
             CAST(COUNT(DISTINCT s.sucursal_id) AS BIGINT)
               AS total_sucursales,
             CAST(COUNT(f.sup_id) AS BIGINT) AS total_supervisiones
      FROM gm g LEFT JOIN s ON g.grupo_id = s.grupo_operativo_id
                LEFT JOIN f ON s.sucursal_id = f.sucursal_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT entidad, id, nombre, territorio, promedio,
           CASE WHEN promedio IS NULL THEN 'gray'
                WHEN promedio >= 90 THEN 'excellent'
                WHEN promedio >= 80 THEN 'good'
                WHEN promedio >= 70 THEN 'regular'
                ELSE 'critical' END AS color,
           total_sucursales, total_supervisiones,
           CASE WHEN promedio IS NOT NULL THEN
             CAST(RANK() OVER (PARTITION BY entidad
                               ORDER BY promedio DESC NULLS LAST)
                  AS BIGINT)
           END AS posicion_interna
    FROM pg ORDER BY entidad, promedio DESC NULLS LAST, nombre
    """
    _compare(df, con, sql)
    rows = {r.nombre: r for r in df.collect()}
    # members: PLOG NORTE (Suc A 95,85,0 + Suc B 90 → 67.5),
    # PLOG SUR (Suc C 65), PLOG NUEVO LEON (Suc J, no periodo-2 rows)
    assert set(rows) == {"PLOG NORTE", "PLOG SUR", "PLOG NUEVO LEON"}
    assert rows["PLOG NORTE"].posicion_interna == 1
    assert rows["PLOG SUR"].posicion_interna == 2
    assert rows["PLOG NUEVO LEON"].posicion_interna is None
    assert rows["PLOG NUEVO LEON"].color == "gray"
    assert rows["PLOG NUEVO LEON"].territorio == "local"


#: py4j commands that building ranking_grupos may send. Measured 707
#: over the frames and 680 over the one-split scans; with call-site
#: capture on (and two countDistincts), 1846
RANKING_GRUPOS_BUILD_CALLS = 1000


def test_ranking_grupos_build_py4j_ceiling(domain, monkeypatch):
    """Building an endpoint's DataFrame is driver round trips, one py4j
    command each. With PySpark's DataFrame call-site capture on, every
    ``functions.*``/Column call adds several (session.py). Only the
    building thread's commands count: py4j's finalizer thread frees the
    JVM objects of unrelated garbage concurrently (449 of its commands
    once landed in the window, after the ``gc.collect()`` below), and
    the cyclic collector stays off so the build makes no such backlog."""
    import gc
    import threading

    from py4j.clientserver import ClientServerConnection

    tables, _ = domain
    send = ClientServerConnection.send_command
    building = threading.get_ident()
    calls = 0

    def counted(self, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == building
        return send(self, *args, **kwargs)

    gc.collect()
    gc.disable()
    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    try:
        api.ranking_grupos(
            tables, "operativas", periodo_id=2, territorio_filtro="local"
        )
    finally:
        monkeypatch.undo()
        gc.enable()
    assert calls <= RANKING_GRUPOS_BUILD_CALLS, calls

