"""Round-6 quirk pins (ADVICE r5): the three reference inconsistencies
that could not be distinguished by the main domain fixture's names and
score distributions —

1. the PLOG membership-vs-aggregation inconsistency: collapse
   membership is ``upper(nombre).startswith('PLOG')`` (app.py:506-508)
   but the UNfiltered aggregate re-selects members with case-sensitive
   ``LIKE 'PLOG %'`` (app.py:64-89), so 'PLOGX' is collapsed yet
   excluded from the entity's numbers; the filtered path recomputes by
   member id (app.py:528-553) and uses ALL members;
2. the exactly-0.0 truthiness demotion (``... if row[x] else None``):
   independent groups and members demote to NULL/unranked
   (app.py:497/609-614), the agrupación keeps 0.0 ranked (is-not-None
   check, app.py:556), sucursales keep 0.0 branches RANKED with
   consecutive non-shared positions and a NULL displayed promedio
   (app.py:721-742), and the check is on the RAW average — a raw
   0.003 rounds to a displayed 0.0 but stays truthy (map markers,
   app.py:1102);
3. /api/historico's territorio filter has no 'mixto' branch
   (app.py:1167-1171) — 'mixto' falls through UNFILTERED.
"""

from __future__ import annotations

import datetime as dt

import pytest

from epl_cas_etl_2026_spark import api

D = dt.date


@pytest.fixture(scope="module")
def quirk_tables(spark):
    periodos = spark.createDataFrame(
        [(1, "Q1", "Periodo Q1", D(2026, 1, 1), D(2026, 3, 31), True)],
        "id int, codigo string, nombre string, fecha_inicio date, "
        "fecha_fin date, activo boolean",
    )
    grupos = spark.createDataFrame(
        [
            (1, "PLOG NORTE", True),  # collapse member AND LIKE member
            (2, "PLOGX", True),       # collapsed, NOT a LIKE member
            (3, "ZERO GROUP", True),  # independent, all-zero scores
            (4, "NORMAL", True),      # independent, scored
        ],
        "id int, nombre string, activo boolean",
    )
    sucursales = spark.createDataFrame(
        [
            (1, "Suc P1", 1, True, "local", 25.0, -100.0),
            (2, "Suc PX", 2, True, "local", 25.1, -100.1),
            (3, "Suc Z1", 3, True, "foraneo", 25.2, -100.2),
            (4, "Suc N", 4, True, "local", 25.3, -100.3),
            (5, "Suc Z2", 3, True, "foraneo", 25.4, -100.4),
            (6, "Suc Pend", 4, True, "local", 25.5, -100.5),
            (7, "Suc Tiny", 4, True, "local", 25.6, -100.6),
        ],
        "id int, nombre string, grupo_operativo_id int, activo boolean, "
        "clasificacion string, latitud double, longitud double",
    )
    sup = spark.createDataFrame(
        [
            (1, 1, 1, 80.0),   # PLOG NORTE
            (2, 2, 1, 40.0),   # PLOGX
            (3, 3, 1, 0.0),    # ZERO GROUP / Suc Z1 (two zero scores)
            (4, 3, 1, 0.0),
            (5, 4, 1, 75.0),   # NORMAL / Suc N
            (6, 5, 1, 0.0),    # second zero branch
            # raw avg 0.01/3 = 0.00333... -> rounds to 0.0 but truthy
            (7, 7, 1, 0.01),
            (8, 7, 1, 0.0),
            (9, 7, 1, 0.0),
        ],
        "id long, sucursal_id int, periodo_id int, "
        "calificacion_general double",
    )
    return {
        "periodos_cas": periodos,
        "grupos_operativos": grupos,
        "sucursales": sucursales,
        "supervisiones_operativas": sup,
    }


def test_plog_like_vs_membership_unfiltered(quirk_tables):
    """Unfiltered path: 'PLOGX' collapses into the PLOG entity (it
    vanishes from the independents) but calcular_promedio_agrupacion's
    LIKE 'PLOG %' excludes it from promedio/supervisiones/sucursales
    (app.py:64-89 vs 506-508)."""
    rows = {
        r.entidad: r
        for r in api.ranking_grupos(quirk_tables, "operativas").collect()
    }
    assert "PLOGX" not in rows  # collapsed
    plog = rows["PLOG"]
    assert plog.promedio == 80.0  # only PLOG NORTE's score, not 60.0
    assert plog.supervisiones == 1
    assert plog.sucursales == 1
    assert plog.territorio is None


def test_plog_like_vs_membership_filtered(quirk_tables):
    """Filtered path recomputes by member id (app.py:528-553): every
    surviving collapse member counts, including non-LIKE 'PLOGX'."""
    rows = {
        r.entidad: r
        for r in api.ranking_grupos(
            quirk_tables, "operativas", territorio_filtro="foranea"
        ).collect()
    }
    plog = rows["PLOG"]
    assert plog.promedio == 60.0  # (80 + 40) / 2 over BOTH members
    assert plog.supervisiones == 2
    assert plog.sucursales == 2


def test_zero_average_demotion_grupos(quirk_tables):
    """An independent group whose raw average is exactly 0.0 is
    demoted to the unranked tail (app.py:497/609-614); its
    LEFT-JOIN supervision count survives."""
    rows = {
        r.entidad: r
        for r in api.ranking_grupos(quirk_tables, "operativas").collect()
    }
    zero = rows["ZERO GROUP"]
    assert zero.promedio is None
    assert zero.posicion is None
    assert zero.supervisiones == 3  # both zero branches' LEFT-JOIN count
    # ranked entities: PLOG 80 -> 1, NORMAL (75+0.0033 branch avg ...)
    assert rows["PLOG"].posicion == 1
    assert rows["NORMAL"].posicion == 2


def test_zero_branch_ranked_with_null_promedio(quirk_tables):
    """ranking_sucursales: an exactly-0.0 branch is IN supervisadas
    (the membership test uses the raw value, app.py:724) so it gets a
    position — but its displayed promedio is None, so ties never share
    and each zero branch gets its own consecutive position after every
    scored branch (app.py:728-742). True pendientes stay unranked."""
    rows = {
        r.sucursal: r
        for r in api.ranking_sucursales(quirk_tables, "operativas").collect()
    }
    # scored branches: P1 80 -> 1, N 75 -> 2, PX 40 -> 3, Tiny 0.0 -> 4
    assert rows["Suc P1"].posicion == 1
    assert rows["Suc N"].posicion == 2
    assert rows["Suc PX"].posicion == 3
    # Suc Tiny: raw 0.00333 rounds to displayed 0.0 but is truthy ->
    # stays ranked WITH a displayed (0.0) promedio
    assert rows["Suc Tiny"].promedio == 0.0
    assert rows["Suc Tiny"].posicion == 4
    # the two exactly-zero branches: ranked, NULL promedio, positions
    # consecutive by branch name, NOT tie-shared
    z1, z2 = rows["Suc Z1"], rows["Suc Z2"]
    assert z1.promedio is None and z2.promedio is None
    assert (z1.posicion, z2.posicion) == (5, 6)
    assert z1.supervisiones == 2 and z2.supervisiones == 1
    # pendiente: no supervisions at all -> unranked
    assert rows["Suc Pend"].posicion is None
    assert rows["Suc Pend"].promedio is None


def test_zero_member_demotion_in_members(quirk_tables):
    """Agrupación member rows are the same item dicts (app.py:497), so
    a 0.0-averaging member would demote too; here both PLOG members are
    nonzero and rank 1/2 internally."""
    rows = {
        r.nombre: r
        for r in api.ranking_grupos_members(
            quirk_tables, "operativas"
        ).collect()
    }
    assert rows["PLOG NORTE"].posicion_interna == 1
    assert rows["PLOGX"].posicion_interna == 2
    assert rows["PLOGX"].color == "critical"


def test_map_markers_raw_truthiness(quirk_tables):
    """map_markers: demotion keys on the RAW average (app.py:1102) —
    'Suc Tiny' (raw 0.0033, rounds to 0.0) keeps promedio 0.0 and
    color 'critical'; exactly-zero branches show NULL/gray."""
    rows = {
        r.sucursal: r
        for r in api.map_markers(quirk_tables, "operativas").collect()
    }
    assert rows["Suc Tiny"].promedio == 0.0
    assert rows["Suc Tiny"].color == "critical"
    assert rows["Suc Z1"].promedio is None
    assert rows["Suc Z1"].color == "gray"


def test_heatmap_mixto_falls_through_unfiltered(quirk_tables):
    """/api/historico has no 'mixto' filter branch (app.py:1167-1171):
    territorio='mixto' must return the SAME rows as unfiltered, and an
    unknown value raises instead of silently returning everything."""
    base = api.heatmap_matrix(
        quirk_tables, "operativas", territorio="todas"
    ).collect()
    mixto = api.heatmap_matrix(
        quirk_tables, "operativas", territorio="mixto"
    ).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, mixto))
    with pytest.raises(ValueError):
        api.heatmap_matrix(quirk_tables, "operativas", territorio="bogus")


def test_sucursales_positions_match_reference_loop(spark):
    """ranking_sucursales must reproduce the reference loop's position
    semantics exactly (app.py:724-748): competition rank on the rounded
    promedio, exact-zero branches consecutive after every scored one,
    pendientes unranked. Randomized 200-branch fixture with heavy ties,
    exact-zero branches and pendientes; expected positions recomputed
    in pure Python."""
    import random

    rng = random.Random(7)
    n_branch = 200
    sucursales = spark.createDataFrame(
        [
            (i, f"Suc {i:03d}", 1 + i % 5, True, "local", 25.0, -100.0)
            for i in range(1, n_branch + 1)
        ],
        "id int, nombre string, grupo_operativo_id int, activo boolean, "
        "clasificacion string, latitud double, longitud double",
    )
    grupos = spark.createDataFrame(
        [(g, f"GRP {g}", True) for g in range(1, 6)],
        "id int, nombre string, activo boolean",
    )
    periodos = spark.createDataFrame(
        [(1, "Q1", "Periodo Q1", D(2026, 1, 1), D(2026, 3, 31), True)],
        "id int, codigo string, nombre string, fecha_inicio date, "
        "fecha_fin date, activo boolean",
    )
    sup_rows, sid = [], 0
    kind = {}
    for i in range(1, n_branch + 1):
        r = rng.random()
        if r < 0.15:
            kind[i] = "pend"  # no supervision rows at all
            continue
        if r < 0.35:
            kind[i] = "ez"  # exact zeros only
            for _ in range(rng.randint(1, 3)):
                sid += 1
                sup_rows.append((sid, i, 1, 0.0))
            continue
        kind[i] = "scored"
        # coarse score grid -> heavy rounded-average ties
        for _ in range(rng.randint(1, 4)):
            sid += 1
            sup_rows.append((sid, i, 1, float(rng.choice([60, 70, 80, 90]))))
    sup = spark.createDataFrame(
        sup_rows,
        "id long, sucursal_id int, periodo_id int, "
        "calificacion_general double",
    )
    tables = {
        "periodos_cas": periodos,
        "grupos_operativos": grupos,
        "sucursales": sucursales,
        "supervisiones_operativas": sup,
    }
    out = api.ranking_sucursales(tables, "operativas").collect()
    assert len(out) == n_branch

    # pure-Python expectation from the raw fixture
    import collections

    per = collections.defaultdict(list)
    for _, b, _, score in sup_rows:
        per[b].append(score)
    disp = {}
    for i in range(1, n_branch + 1):
        scores = per.get(i)
        if not scores:
            disp[i] = None  # pendiente
        elif sum(scores) == 0:
            disp[i] = "ez"
        else:
            avg = sum(scores) / len(scores)
            disp[i] = round(avg, 2)
    scored = sorted(
        (i for i in disp if isinstance(disp[i], float)),
        key=lambda i: -disp[i],
    )
    exp_pos = {}
    for idx, i in enumerate(scored):
        exp_pos[i] = (
            exp_pos[scored[idx - 1]]
            if idx and disp[scored[idx - 1]] == disp[i]
            else idx + 1
        )
    ez_sorted = sorted(
        (i for i in disp if disp[i] == "ez"), key=lambda i: f"Suc {i:03d}"
    )
    for j, i in enumerate(ez_sorted):
        exp_pos[i] = len(scored) + 1 + j

    by_name = {r["sucursal"]: r for r in out}
    for i in range(1, n_branch + 1):
        r = by_name[f"Suc {i:03d}"]
        if disp[i] is None:
            assert r["posicion"] is None and r["promedio"] is None, i
        elif disp[i] == "ez":
            assert r["promedio"] is None, i
            assert r["posicion"] == exp_pos[i], (i, r["posicion"], exp_pos[i])
        else:
            assert r["posicion"] == exp_pos[i], (i, r["posicion"], exp_pos[i])
            assert abs(r["promedio"] - disp[i]) < 1e-9, i


# an unknown <tipo> path parameter is a ValueError from api._fact on
# every endpoint, never a KeyError from the fact-table lookup
_BAD_TIPO_CALLS = {
    "heatmap_matrix": lambda t: api.heatmap_matrix(t, "bogus"),
    "branch_latest": lambda t: api.branch_latest(t, 1, "bogus", periodo_id=1),
    "branch_trend": lambda t: api.branch_trend(t, 1, "bogus"),
    "grupo_detalle_sucursales": lambda t: api.grupo_detalle_sucursales(
        t, 1, "bogus", periodo_id=1
    ),
    "grupo_detalle_stats": lambda t: api.grupo_detalle_stats(
        t, 1, "bogus", periodo_id=1
    ),
    "supervision_header": lambda t: api.supervision_header(t, 1, "bogus"),
    "periodos_with_data": lambda t: api.periodos_with_data(t, "bogus"),
    "periodo_contexto": lambda t: api.periodo_contexto(
        t, "bogus", hoy=D(2026, 2, 1)
    ),
}


@pytest.mark.parametrize("endpoint", sorted(_BAD_TIPO_CALLS))
def test_unknown_tipo_raises_value_error(quirk_tables, endpoint):
    with pytest.raises(ValueError, match="tipo"):
        _BAD_TIPO_CALLS[endpoint](quirk_tables)
