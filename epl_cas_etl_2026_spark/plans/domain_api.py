"""Driver-gated endpoint-parity queries (SURVEY.md §3.1; reference
app.py routes).

Round-4's verdict: ``api.py`` was the one substantive surface with no
``queries()`` entry — endpoint parity was pytest-only. These queries
close that gap by running the REAL ``api.*`` functions over a
deterministic domain fixture derived lazily from the driver's TPC-H
tables (same pattern as ``plans/lifecycle.py``): nation → grupos
(names cycle the reference's territory keyword list, app.py:46-47,
including the 'PLOG ...'-but-not-'PLOG NUEVO LEON' trap), customer →
sucursales (dangling group FKs, inactive rows, NULL clasificacion /
estado), orders → supervisiones (NULL periodo, NULL scores, dense
rank ties). Every DuckDB oracle re-derives the SAME fixture in SQL
and then transcribes the REFERENCE query semantics — so a hash match
certifies both the fixture derivation and the endpoint logic.

Scale shape: the dims derive from nation (25 rows — broadcast) and
customer (dim-sized scan); the fact derives from orders and is
aggregated to entity grain with ONE shuffle before any window; the
heatmap pivot carries explicit column values (no distinct-values
job); periodo resolution is a 3-way tagged union + TakeOrdered(1).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark import api
from epl_cas_etl_2026_spark.functions.scalars import det_avg_sql
from epl_cas_etl_2026_spark.plans.registry import register as _register
from epl_cas_etl_2026_spark.schemas import PERIODOS_SCHEMA
from epl_cas_etl_2026_spark.sources.parquet import load_table

# grupo base names: the reference's 11 territory keywords (8 local +
# 3 mixto, app.py:46-47) plus the PLOG-overbreadth trap name
_GRUPO_BASES = (
    "TEPEYAC",
    "OGAS",
    "EFM",
    "EPL SO",
    "PLOG NUEVO LEON",
    "GRUPO CENTRITO",
    "GRUPO SABINAS HIDALGO",
    "GRUPO CADE",
    "TEC",
    "EXPO",
    "GRUPO SALTILLO",
    "PLOG LAGUNA",
)

_PERIODO_ROWS = [
    (1, "P1", "Periodo Uno", dt.date(1992, 1, 1), dt.date(1994, 12, 31), False),
    (2, "P2", "Periodo Dos", dt.date(1995, 1, 1), dt.date(1996, 12, 31), False),
    (3, "P3", "Periodo Tres", dt.date(1997, 1, 1), dt.date(1998, 12, 31), False),
]


def domain_tables(spark: SparkSession, sf_dir: str) -> dict:
    """The deterministic domain fixture, all lazy single-scan
    derivations (oracle twin: :data:`_DOMAIN_CTES`)."""
    k = F.col("n_nationkey")
    base = F.element_at(
        F.array(*[F.lit(b) for b in _GRUPO_BASES]), (k % 12 + 1).cast("int")
    )
    grupos = load_table(spark, sf_dir, "nation").select(
        (k + 1).cast("int").alias("id"),
        F.concat(base, F.lit(" "), k.cast("string")).alias("nombre"),
        (k % 8 != 7).alias("activo"),
    )
    c = F.col("c_custkey")
    sucursales = load_table(spark, sf_dir, "customer").select(
        c.cast("int").alias("id"),
        F.concat(F.lit("Suc "), c.cast("string")).alias("nombre"),
        (c % 26).cast("int").alias("grupo_operativo_id"),
        (c % 10 != 0).alias("activo"),
        F.when(c % 3 == 0, F.lit("local"))
        .when(c % 3 == 1, F.lit("foraneo"))
        .alias("clasificacion"),
        F.when(
            c % 5 != 4, F.concat(F.lit("E"), (c % 5).cast("string"))
        ).alias("estado"),
    )
    o = F.col("o_orderkey")
    sup = load_table(spark, sf_dir, "orders").select(
        o.alias("id"),
        F.col("o_custkey").cast("int").alias("sucursal_id"),
        F.when(o % 17 == 0, F.lit(None).cast("int"))
        .when(F.year("o_orderdate") <= 1994, F.lit(1))
        .when(F.year("o_orderdate") <= 1996, F.lit(2))
        .otherwise(F.lit(3))
        .cast("int")
        .alias("periodo_id"),
        F.col("o_orderdate").cast("timestamp").alias("fecha_supervision"),
        F.when(o % 13 == 0, F.lit(None).cast("double"))
        .otherwise((o % 101).cast("double"))
        .alias("calificacion_general"),
    )
    periodos = spark.createDataFrame(_PERIODO_ROWS, PERIODOS_SCHEMA)
    return {
        "grupos_operativos": grupos,
        "sucursales": sucursales,
        "supervisiones_operativas": sup,
        "periodos_cas": periodos,
    }


_DOMAIN_CTES = """
    grupos_operativos AS (
      SELECT CAST(n_nationkey + 1 AS INT) AS id,
             CASE n_nationkey % 12
               WHEN 0 THEN 'TEPEYAC' WHEN 1 THEN 'OGAS' WHEN 2 THEN 'EFM'
               WHEN 3 THEN 'EPL SO' WHEN 4 THEN 'PLOG NUEVO LEON'
               WHEN 5 THEN 'GRUPO CENTRITO'
               WHEN 6 THEN 'GRUPO SABINAS HIDALGO'
               WHEN 7 THEN 'GRUPO CADE' WHEN 8 THEN 'TEC' WHEN 9 THEN 'EXPO'
               WHEN 10 THEN 'GRUPO SALTILLO' ELSE 'PLOG LAGUNA'
             END || ' ' || CAST(n_nationkey AS VARCHAR) AS nombre,
             (n_nationkey % 8) <> 7 AS activo
      FROM nation
    ),
    sucursales AS (
      SELECT CAST(c_custkey AS INT) AS id,
             'Suc ' || CAST(c_custkey AS VARCHAR) AS nombre,
             CAST(c_custkey % 26 AS INT) AS grupo_operativo_id,
             (c_custkey % 10) <> 0 AS activo,
             CASE WHEN c_custkey % 3 = 0 THEN 'local'
                  WHEN c_custkey % 3 = 1 THEN 'foraneo' END AS clasificacion,
             CASE WHEN c_custkey % 5 <> 4
                  THEN 'E' || CAST(c_custkey % 5 AS VARCHAR) END AS estado
      FROM customer
    ),
    supervisiones_operativas AS (
      SELECT o_orderkey AS id, CAST(o_custkey AS INT) AS sucursal_id,
             CASE WHEN o_orderkey % 17 = 0 THEN NULL
                  WHEN year(o_orderdate) <= 1994 THEN 1
                  WHEN year(o_orderdate) <= 1996 THEN 2
                  ELSE 3 END AS periodo_id,
             CAST(o_orderdate AS TIMESTAMP) AS fecha_supervision,
             CASE WHEN o_orderkey % 13 = 0 THEN NULL
                  ELSE CAST(o_orderkey % 101 AS DOUBLE)
             END AS calificacion_general
      FROM orders
    ),
    periodos_cas AS (
      SELECT * FROM (VALUES
        (1, 'P1', 'Periodo Uno', DATE '1992-01-01', DATE '1994-12-31', false),
        (2, 'P2', 'Periodo Dos', DATE '1995-01-01', DATE '1996-12-31', false),
        (3, 'P3', 'Periodo Tres', DATE '1997-01-01', DATE '1998-12-31', false)
      ) AS t(id, codigo, nombre, fecha_inicio, fecha_fin, activo)
    )
"""

# the reference's EXACT territory CASE over the fixture names
_TERRITORIO_CASE = """
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


# ---------------------------------------------------------------------------
# /api/ranking/grupos — the full reference semantics at once: verbatim
# territory lists, INCLUSIVE 'local' filter (keeps mixto) applied per
# member group, PLOG collapse with the inner-join count recompute,
# NULL-territorio agrupación row, competition rank with NULL tail.
# ---------------------------------------------------------------------------
def _ranking_grupos_oracle() -> str:
    # promedio from the entity-level partial sums, with the reference's
    # truthiness demotion: an INDEPENDENT entity whose exact sum is 0
    # with count > 0 displays NULL and drops to the unranked tail
    # (app.py:497/609-614); the agrupación keeps 0.0 (app.py:556).
    s_units = "CAST(m_sum * 1000000 AS HUGEINT)"
    d = "(m_n * 10000)"
    up = f"((2 * ABS({s_units}) + {d}) // (2 * {d}))"
    det = (
        f"CASE WHEN m_n > 0 AND (is_agrup OR m_sum <> 0) THEN "
        f"CAST(CASE WHEN {s_units} < 0 THEN -{up} ELSE {up} END AS DOUBLE)"
        f" / 100 END"
    )
    return f"""
    WITH {_DOMAIN_CTES},
    g AS (
      SELECT id, nombre, upper(nombre) LIKE 'PLOG%' AS is_agrup,
             CASE WHEN upper(nombre) LIKE 'PLOG%' THEN 'PLOG'
                  ELSE nombre END AS entidad,
             {_TERRITORIO_CASE} AS territorio
      FROM grupos_operativos WHERE COALESCE(activo, false)
    ),
    gf AS (SELECT * FROM g WHERE territorio IN ('local', 'mixto')),
    s AS (
      SELECT id AS sucursal_id, grupo_operativo_id
      FROM sucursales WHERE COALESCE(activo, false)
    ),
    f AS (
      SELECT id AS sup_id, sucursal_id, calificacion_general
      FROM supervisiones_operativas WHERE periodo_id = 2
    ),
    pg AS (
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
    ),
    agg AS (
      SELECT entidad, MAX(is_agrup) AS is_agrup,
             MIN(CASE WHEN NOT is_agrup THEN territorio END) AS territorio,
             SUM(sum_calif) AS m_sum, SUM(n_calif) AS m_n,
             SUM(n_sup) AS n_sup, SUM(suc_all) AS suc_all,
             SUM(suc_con) AS suc_con
      FROM pg GROUP BY entidad
    ),
    agg2 AS (
      SELECT entidad, territorio, is_agrup, m_n, n_sup, suc_all, suc_con,
             {det} AS promedio
      FROM agg
    )
    SELECT entidad, territorio, promedio,
           CAST(CASE WHEN is_agrup AND m_n = 0 THEN 0
                     ELSE n_sup END AS BIGINT) AS supervisiones,
           CAST(CASE WHEN is_agrup AND m_n > 0 THEN suc_con
                     ELSE suc_all END AS BIGINT) AS sucursales,
           CASE WHEN promedio IS NOT NULL THEN
             CAST(RANK() OVER (ORDER BY promedio DESC NULLS LAST) AS BIGINT)
           END AS posicion
    FROM agg2
    ORDER BY promedio DESC NULLS LAST, entidad
    """


@_register("api_ranking_grupos_local", _ranking_grupos_oracle())
def api_ranking_grupos_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = domain_tables(spark, sf_dir)
    return api.ranking_grupos(
        t, "operativas", periodo_id=2, territorio_filtro="local"
    )


# ---------------------------------------------------------------------------
# /api/ranking/sucursales — every active branch (zero-supervision ones
# unranked), grupos LEFT-joined with NO activo filter (dangling FK →
# NULL grupo), display-only clasificacion COALESCE, rank ties shared.
# ---------------------------------------------------------------------------
_RANKING_SUC_ORACLE = f"""
    WITH {_DOMAIN_CTES},
    s AS (
      SELECT id AS sucursal_id, nombre AS sucursal, grupo_operativo_id,
             clasificacion
      FROM sucursales WHERE COALESCE(activo, false)
    ),
    g AS (SELECT id, nombre AS grupo FROM grupos_operativos),
    f AS (
      SELECT id AS sup_id, sucursal_id, calificacion_general
      FROM supervisiones_operativas
    ),
    agg AS (
      SELECT s.sucursal_id, s.sucursal, g.grupo,
             COALESCE(s.clasificacion, 'local') AS clasificacion,
             SUM(CAST(f.calificacion_general AS DECIMAL(18,6))) AS m_sum,
             COUNT(f.calificacion_general) AS n_calif,
             {det_avg_sql('f.calificacion_general')} AS promedio_r,
             CAST(COUNT(f.sup_id) AS BIGINT) AS supervisiones
      FROM s LEFT JOIN g ON s.grupo_operativo_id = g.id
             LEFT JOIN f ON s.sucursal_id = f.sucursal_id
      GROUP BY s.sucursal_id, s.sucursal, g.grupo, s.clasificacion
    ),
    shaped AS (
      -- displayed promedio: NULL for pendientes AND the exactly-0.0
      -- truthiness demotion (app.py:721); ez marks the quirky
      -- ranked-but-NULL-promedio branches (app.py:724-742)
      SELECT sucursal_id, sucursal, grupo, clasificacion,
             CASE WHEN m_sum <> 0 THEN promedio_r END AS promedio,
             supervisiones,
             (n_calif > 0 AND m_sum = 0) AS ez
      FROM agg
    )
    -- sucursal_id is the FINAL tie-break (names are not unique): same
    -- column, same position, on both engines — see api.py
    SELECT sucursal, grupo, clasificacion, promedio, supervisiones,
           CASE WHEN promedio IS NOT NULL THEN
             CAST(RANK() OVER (ORDER BY promedio DESC NULLS LAST) AS BIGINT)
           WHEN ez THEN
             CAST(ROW_NUMBER() OVER (ORDER BY promedio DESC NULLS LAST,
                                     ez DESC, sucursal, sucursal_id)
                  AS BIGINT)
           END AS posicion
    FROM shaped
    ORDER BY promedio DESC NULLS LAST, ez DESC, sucursal, sucursal_id
"""


@_register("api_ranking_sucursales_all", _RANKING_SUC_ORACLE)
def api_ranking_sucursales_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = domain_tables(spark, sf_dir)
    return api.ranking_sucursales(t, "operativas", periodo_id=None)


# ---------------------------------------------------------------------------
# /api/analisis/heatmap — densified (grupo × periodo) matrix pivoted
# wide (A10/J4), per-group overall = UNWEIGHTED mean of period
# averages (A11), 'EPL CAS' row = unweighted mean over group averages
# per period (A12).
# ---------------------------------------------------------------------------
_HEATMAP_ORACLE = f"""
    WITH {_DOMAIN_CTES},
    g AS (
      SELECT id, nombre AS grupo FROM grupos_operativos
      WHERE COALESCE(activo, false)
    ),
    s AS (
      SELECT id, grupo_operativo_id FROM sucursales
      WHERE COALESCE(activo, false)
    ),
    cell AS (
      SELECT g.grupo, p.codigo,
             {det_avg_sql('f.calificacion_general')} AS promedio
      FROM supervisiones_operativas f
      JOIN s ON f.sucursal_id = s.id
      JOIN g ON s.grupo_operativo_id = g.id
      JOIN periodos_cas p ON f.periodo_id = p.id
      GROUP BY g.grupo, p.codigo
    ),
    grid AS (SELECT g.grupo, p.codigo FROM g CROSS JOIN periodos_cas p),
    dense AS (
      SELECT grid.grupo, grid.codigo, cell.promedio
      FROM grid LEFT JOIN cell USING (grupo, codigo)
    ),
    epl AS (
      SELECT 'EPL CAS' AS grupo, codigo,
             {det_avg_sql('promedio')} AS promedio
      FROM dense GROUP BY codigo
    ),
    longt AS (
      SELECT grupo, codigo, promedio FROM dense
      UNION ALL SELECT grupo, codigo, promedio FROM epl
    ),
    wide AS (
      SELECT grupo,
             MAX(CASE WHEN codigo = 'P1' THEN promedio END) AS P1,
             MAX(CASE WHEN codigo = 'P2' THEN promedio END) AS P2,
             MAX(CASE WHEN codigo = 'P3' THEN promedio END) AS P3
      FROM longt GROUP BY grupo
    ),
    overall AS (
      SELECT grupo, {det_avg_sql('promedio')} AS promedio_general
      FROM longt GROUP BY grupo
    )
    SELECT w.grupo, P1, P2, P3, promedio_general
    FROM wide w JOIN overall USING (grupo)
    ORDER BY grupo
"""


@_register("api_heatmap_wide", _HEATMAP_ORACLE)
def api_heatmap_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = domain_tables(spark, sf_dir)
    return api.heatmap_matrix(t, "operativas")


# ---------------------------------------------------------------------------
# /api/historico/<tipo>?territorio=foranea — the heatmap under the
# reference's INCLUSIVE territory filter (app.py:1167-1171: 'foranea'
# keeps foranea+mixto), applied BEFORE the EPL CAS row accumulates
# (app.py:1190-1196) so the system average is recomputed over only the
# visible groups. The fixture's 12-name cycle guarantees all three
# classes are present, so the filter genuinely changes membership AND
# the EPL CAS values.
# ---------------------------------------------------------------------------
_HISTORICO_TERR_ORACLE = f"""
    WITH {_DOMAIN_CTES},
    g AS (
      SELECT id, nombre AS grupo FROM grupos_operativos
      WHERE COALESCE(activo, false)
        AND {_TERRITORIO_CASE} IN ('foranea', 'mixto')
    ),
    s AS (
      SELECT id, grupo_operativo_id FROM sucursales
      WHERE COALESCE(activo, false)
    ),
    cell AS (
      SELECT g.grupo, p.codigo,
             {det_avg_sql('f.calificacion_general')} AS promedio
      FROM supervisiones_operativas f
      JOIN s ON f.sucursal_id = s.id
      JOIN g ON s.grupo_operativo_id = g.id
      JOIN periodos_cas p ON f.periodo_id = p.id
      GROUP BY g.grupo, p.codigo
    ),
    grid AS (SELECT g.grupo, p.codigo FROM g CROSS JOIN periodos_cas p),
    dense AS (
      SELECT grid.grupo, grid.codigo, cell.promedio
      FROM grid LEFT JOIN cell USING (grupo, codigo)
    ),
    epl AS (
      SELECT 'EPL CAS' AS grupo, codigo,
             {det_avg_sql('promedio')} AS promedio
      FROM dense GROUP BY codigo
    ),
    longt AS (
      SELECT grupo, codigo, promedio FROM dense
      UNION ALL SELECT grupo, codigo, promedio FROM epl
    ),
    wide AS (
      SELECT grupo,
             MAX(CASE WHEN codigo = 'P1' THEN promedio END) AS P1,
             MAX(CASE WHEN codigo = 'P2' THEN promedio END) AS P2,
             MAX(CASE WHEN codigo = 'P3' THEN promedio END) AS P3
      FROM longt GROUP BY grupo
    ),
    overall AS (
      SELECT grupo, {det_avg_sql('promedio')} AS promedio_general
      FROM longt GROUP BY grupo
    )
    SELECT w.grupo, P1, P2, P3, promedio_general
    FROM wide w JOIN overall USING (grupo)
    ORDER BY grupo
"""


@_register("api_historico_territorio", _HISTORICO_TERR_ORACLE)
def api_historico_territorio(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = domain_tables(spark, sf_dir)
    return api.heatmap_matrix(t, "operativas", territorio="foranea")


# ---------------------------------------------------------------------------
# /api/periodo-contexto — the 3-level resolution chain. The fixture's
# periods are all activo=false and hoy=1999-06-01 misses every date
# range, so resolution must fall through BOTH upper levels to
# 'ultimo_con_datos' (the most involved branch: A9 semi-join + latest,
# then the coverage progress block).
# ---------------------------------------------------------------------------
_HOY = dt.date(1999, 6, 1)

_PERIODO_CTX_ORACLE = f"""
    WITH {_DOMAIN_CTES},
    cand AS (
      SELECT id, codigo, nombre, fecha_inicio, fecha_fin,
             1 AS prio, 'fecha' AS metodo
      FROM periodos_cas
      WHERE fecha_inicio <= DATE '{_HOY}' AND fecha_fin >= DATE '{_HOY}'
      UNION ALL
      SELECT id, codigo, nombre, fecha_inicio, fecha_fin, 2, 'activo'
      FROM periodos_cas WHERE COALESCE(activo, false)
      UNION ALL
      SELECT p.id, p.codigo, p.nombre, p.fecha_inicio, p.fecha_fin,
             3, 'ultimo_con_datos'
      FROM periodos_cas p
      WHERE EXISTS (SELECT 1 FROM supervisiones_operativas f
                    WHERE f.periodo_id = p.id)
    ),
    best AS (
      SELECT * FROM cand ORDER BY prio, fecha_inicio DESC, id DESC LIMIT 1
    ),
    sup AS (
      SELECT periodo_id, COUNT(DISTINCT sucursal_id) AS supervisadas
      FROM supervisiones_operativas GROUP BY periodo_id
    ),
    tot AS (
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


@_register("api_periodo_contexto_resolved", _PERIODO_CTX_ORACLE)
def api_periodo_contexto_resolved(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    t = domain_tables(spark, sf_dir)
    return api.periodo_contexto(t, "operativas", hoy=_HOY).select(
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


# ---------------------------------------------------------------------------
# /api/estados — branch counts per state (A8 over the fixture's
# NULL-bearing estado column).
# ---------------------------------------------------------------------------
_ESTADOS_ORACLE = f"""
    WITH {_DOMAIN_CTES}
    SELECT estado, CAST(COUNT(*) AS BIGINT) AS total
    FROM sucursales
    WHERE COALESCE(activo, false) AND estado IS NOT NULL
    GROUP BY estado ORDER BY estado
"""


@_register("api_estados_counts", _ESTADOS_ORACLE)
def api_estados_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = domain_tables(spark, sf_dir)
    return api.estados(t)


# ---------------------------------------------------------------------------
# /api/kpis — the dashboard's headline KPI card: period-filtered
# aggregates + the ALWAYS-all-history accumulated average, the
# reference's or-0 NULL coalescing, color class, active dim totals,
# coverage, and the 4-bucket distribution — seven reference
# round-trips collapsed into one row.
# ---------------------------------------------------------------------------
def _kpis_oracle() -> str:
    det = det_avg_sql("calificacion_general")
    return f"""
    WITH {_DOMAIN_CTES},
    f AS (
      SELECT * FROM supervisiones_operativas WHERE periodo_id = 2
    ), per AS (
      SELECT COALESCE({det}, 0.0) AS prom_sel,
             CAST(COUNT(id) AS BIGINT) AS total_supervisiones,
             CAST(COUNT(DISTINCT sucursal_id) AS BIGINT)
               AS sucursales_supervisadas,
             CAST(COALESCE(SUM(CASE WHEN calificacion_general >= 90
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS excelente,
             CAST(COALESCE(SUM(CASE WHEN calificacion_general >= 80
               AND calificacion_general < 90 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS bueno,
             CAST(COALESCE(SUM(CASE WHEN calificacion_general >= 70
               AND calificacion_general < 80 THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS regular,
             CAST(COALESCE(SUM(CASE WHEN calificacion_general < 70
               THEN 1 ELSE 0 END), 0) AS BIGINT) AS critico
      FROM f
    ), acum AS (
      SELECT COALESCE({det}, 0.0) AS promedio_acumulado
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


@_register("api_kpis_card", _kpis_oracle())
def api_kpis_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = domain_tables(spark, sf_dir)
    return api.kpis(t, "operativas", periodo_id=2)
