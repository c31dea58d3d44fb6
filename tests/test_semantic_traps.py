"""Unit tests pinning the reference's semantic traps (SURVEY.md §5
item 2) on tiny literal DataFrames."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark import api
from epl_cas_etl_2026_spark.functions.scalars import color_class, territorio
from epl_cas_etl_2026_spark.operators.ranking import competition_rank


@pytest.fixture(scope="module")
def dashboard(spark):
    """Dashboard tables for the A11/A13/J4 traps, read through the
    endpoints: 'OTRA' scores 100 in CAS-01 and 50 three times in
    CAS-02; 'PLOG A' (one row of 100) and 'PLOG B' (two rows of 50)
    collapse into the PLOG agrupación; 'SIN DATOS' has no supervisions."""
    periodos = spark.createDataFrame(
        [
            (1, "CAS-01", "Periodo 1", dt.date(2026, 1, 1), dt.date(2026, 3, 31), False),
            (2, "CAS-02", "Periodo 2", dt.date(2026, 4, 1), dt.date(2026, 6, 30), True),
        ],
        "id int, codigo string, nombre string, fecha_inicio date, "
        "fecha_fin date, activo boolean",
    )
    grupos = spark.createDataFrame(
        [(1, "PLOG A", True), (2, "PLOG B", True), (3, "OTRA", True), (4, "SIN DATOS", True)],
        "id int, nombre string, activo boolean",
    )
    sucursales = spark.createDataFrame(
        [
            (1, "Suc A", 1, True, "local", 25.0, -100.0),
            (2, "Suc B", 2, True, "local", 25.1, -100.1),
            (3, "Suc O", 3, True, "local", 25.2, -100.2),
            (4, "Suc S", 4, True, "local", 25.3, -100.3),
        ],
        "id int, nombre string, grupo_operativo_id int, activo boolean, "
        "clasificacion string, latitud double, longitud double",
    )
    sup = spark.createDataFrame(
        [
            (1, 1, 1, 100.0),
            (2, 2, 1, 50.0),
            (3, 2, 1, 50.0),
            (4, 3, 1, 100.0),
            (5, 3, 2, 50.0),
            (6, 3, 2, 50.0),
            (7, 3, 2, 50.0),
        ],
        "id long, sucursal_id int, periodo_id int, calificacion_general double",
    )
    return {
        "periodos_cas": periodos,
        "grupos_operativos": grupos,
        "sucursales": sucursales,
        "supervisiones_operativas": sup,
    }


def test_competition_rank_tie_gaps_and_null_tail(spark):
    # W1/W2 (app.py:624-646): ties share a position, gaps follow,
    # NULL scores are unranked and sort last.
    df = spark.createDataFrame(
        [("a", 90.0), ("b", 90.0), ("c", 80.0), ("d", None), ("e", 95.0)],
        "name string, promedio double",
    )
    rows = competition_rank(df, "promedio", tiebreak=[F.asc("name")]).collect()
    got = [(r["name"], r["posicion"]) for r in rows]
    assert got == [("e", 1), ("a", 2), ("b", 2), ("c", 4), ("d", None)]


def test_left_join_filter_in_on_preserves_dims(spark):
    # J2 (app.py:451-456): filter in ON keeps dims with zero facts.
    dims = spark.createDataFrame([(1, "g1"), (2, "g2")], "id int, nombre string")
    facts = spark.createDataFrame(
        [(1, 10, 50.0), (1, 20, 70.0), (2, 10, 99.0)],
        "dim_id int, periodo_id int, score double",
    )
    on_clause = (
        dims.join(
            facts,
            (dims.id == facts.dim_id) & (facts.periodo_id == 20),
            "left",
        )
        .groupBy("id")
        .agg(F.count("score").alias("n"))
    )
    got = {r["id"]: r["n"] for r in on_clause.collect()}
    assert got == {1: 1, 2: 0}  # g2 preserved with 0 — NOT dropped


def test_unweighted_vs_weighted_average_differ(dashboard):
    # A11 vs A13 (app.py:1186-1189 vs 65-89): the heatmap's overall is
    # the mean of period averages, the ranking's is the pooled mean.
    heat = {r.grupo: r for r in api.heatmap_matrix(dashboard).collect()}
    assert heat["OTRA"].promedio_general == 75.0  # (100 + 50) / 2
    ranked = {r.entidad: r for r in api.ranking_grupos(dashboard).collect()}
    assert ranked["OTRA"].promedio == 62.5  # (100+50+50+50)/4


def test_regrouped_avg_pools_member_rows(dashboard):
    # A13: the PLOG agrupación pools ALL member supervisions, not the
    # mean of member averages (which would be 75.0).
    rows = {r.entidad: r for r in api.ranking_grupos(dashboard).collect()}
    assert "PLOG A" not in rows and "PLOG B" not in rows
    assert rows["PLOG"].promedio == round(200.0 / 3, 2)
    assert rows["PLOG"].supervisiones == 3


def test_color_class_boundaries_and_null(spark):
    # F1 (app.py:32-42): >=90 / >=80 / >=70 / else; NULL is its own class.
    df = spark.createDataFrame(
        [(90.0,), (89.99,), (80.0,), (70.0,), (69.99,), (None,)],
        "score double",
    )
    got = [r[0] for r in df.select(color_class(F.col("score"))).collect()]
    assert got == ["excellent", "good", "good", "regular", "critical", "gray"]


def test_territorio_first_match_wins(spark):
    # F2 (app.py:44-55): local beats mixto beats foranea.
    df = spark.createDataFrame(
        [("Grupo TEPEYAC EXPO",), ("EXPO Norte",), ("Sin marca",)],
        "nombre string",
    )
    got = [r[0] for r in df.select(territorio(F.col("nombre"))).collect()]
    assert got == ["local", "mixto", "foranea"]


def test_territorio_reference_default_lists(spark):
    # F2 — the DEFAULT keyword lists are the reference's verbatim
    # 8-local / 3-mixto lists (app.py:46-47). Pins the six names that
    # diverged under the old shortened defaults, plus the 'PLOG'
    # overbreadth trap: only 'PLOG NUEVO LEON' is local — any other
    # 'PLOG ...' group is foranea.
    cases = [
        ("EFM", "local"),
        ("GRUPO CENTRITO", "local"),
        ("GRUPO SABINAS HIDALGO", "local"),
        ("GRUPO CADE", "local"),
        ("GRUPO SALTILLO", "mixto"),
        ("PLOG NUEVO LEON", "local"),
        ("PLOG LAGUNA", "foranea"),
        ("OGAS", "local"),
        ("TEC CAMPUS", "mixto"),
    ]
    df = spark.createDataFrame([(n,) for n, _ in cases], "nombre string")
    got = [r[0] for r in df.select(territorio(F.col("nombre"))).collect()]
    assert got == [t for _, t in cases]


def test_densified_matrix_has_every_cell(dashboard):
    # J4 (app.py:1141-1151): every active group gets a row and every
    # period a column; cells without supervisions are NULL.
    rows = {r.grupo: r.asDict() for r in api.heatmap_matrix(dashboard).collect()}
    assert set(rows) == {"PLOG A", "PLOG B", "OTRA", "SIN DATOS", "EPL CAS"}
    assert all(set(r) >= {"CAS-01", "CAS-02"} for r in rows.values())
    assert rows["PLOG A"]["CAS-01"] == 100.0
    assert rows["PLOG A"]["CAS-02"] is None
    assert all(
        rows["SIN DATOS"][c] is None for c in ("CAS-01", "CAS-02", "promedio_general")
    )


def test_as_of_join_strict_vs_inclusive(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from epl_cas_etl_2026_spark.operators.windows import as_of_join

    t = lambda m: dt.datetime(2026, 1, 1, 12, m)
    left = spark.createDataFrame(
        [(1, 10, t(5)), (2, 10, t(10)), (3, 20, t(3))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, 10, t(5)), (101, 10, t(2)), (102, 30, t(1))],
        "r_id long, user_id long, r_ts timestamp",
    )
    strict = {
        r["event_id"]: r["r_id"]
        for r in as_of_join(
            left, right, "user_id", "ts", "r_ts", ["r_id"], strict=True
        ).collect()
    }
    # same-instant right row must NOT match under strict <
    assert strict == {1: 101, 2: 100, 3: None}
    inclusive = {
        r["event_id"]: r["r_id"]
        for r in as_of_join(
            left, right, "user_id", "ts", "r_ts", ["r_id"], strict=False
        ).collect()
    }
    # ... and MUST match under <=
    assert inclusive == {1: 100, 2: 100, 3: None}


def test_as_of_join_plan_single_shuffle_no_range_join(spark):
    import datetime as dt

    from epl_cas_etl_2026_spark.operators.windows import as_of_join

    t = lambda m: dt.datetime(2026, 1, 1, 12, m)
    left = spark.createDataFrame(
        [(1, 10, t(5))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(100, 10, t(4))], "r_id long, user_id long, r_ts timestamp"
    )
    joined = as_of_join(left, right, "user_id", "ts", "r_ts", ["r_id"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the scalable shape: a union + ONE keyed window — never a
    # nested-loop/range join and never a single-partition window
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert plan.count("Window") >= 1


def test_as_of_join_forward_direction_and_tie_rule(spark):
    import datetime as dt

    from epl_cas_etl_2026_spark.operators.windows import as_of_join

    t = lambda m: dt.datetime(2026, 1, 1, 12, m)
    left = spark.createDataFrame(
        [(1, 10, t(5)), (2, 10, t(1)), (3, 20, t(3))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, 10, t(5)), (101, 10, t(8)), (102, 30, t(9))],
        "r_id long, user_id long, r_ts timestamp",
    )
    fwd_strict = {
        r["event_id"]: r["r_id"]
        for r in as_of_join(
            left, right, "user_id", "ts", "r_ts", ["r_id"],
            strict=True, direction="forward",
        ).collect()
    }
    # nearest LATER row; the same-instant right must NOT match under >
    assert fwd_strict == {1: 101, 2: 100, 3: None}
    fwd_incl = {
        r["event_id"]: r["r_id"]
        for r in as_of_join(
            left, right, "user_id", "ts", "r_ts", ["r_id"],
            strict=False, direction="forward",
        ).collect()
    }
    # ... and MUST match under >=
    assert fwd_incl == {1: 100, 2: 100, 3: None}
