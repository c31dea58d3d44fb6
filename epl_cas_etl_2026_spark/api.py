"""Reference-endpoint parity layer: every dashboard endpoint of the
reference app (app.py routes, SURVEY.md §3.1) re-expressed as ONE lazy
DataFrame graph over the reconstructed domain schema — the module a
reference user calls after switching engines.

Each function takes ``tables`` (a dict of domain DataFrames — from the
ETL sinks, ``sources.parquet.register_views``, or test fixtures) plus
the endpoint's query parameters, and returns a DataFrame. The
reference's N+1 round-trips, Python-side ranking/pivots, and f-string
SQL assembly (SURVEY §3.1 steps 2-4) collapse into single Catalyst
plans: dynamic parameters become conditional ``.filter`` chaining
(P10), the PLOG re-aggregation becomes a second groupBy over the same
base (A13 — no second query), ranking is a window (W1/W2), and the
heatmap pivot is ``pivot`` (A10).

Semantics preserved from the reference, trap-by-trap:

- outer joins keep zero-supervision groups/branches; period filters
  apply to the FACT side before the join (J2's ON-clause placement);
- ``activo`` dims filter everywhere (P3), ``COALESCE(clasificacion,
  'local')`` default (F8, app.py:719);
- averages are det_avg (decimal-exact, half-up 2dp) so results are
  reproducible across engines and partitionings;
- competition rank with tie gaps and a NULL-scored unranked tail
  (W1/W2, app.py:624-646);
- PLOG groups collapse into one 'PLOG' entity whose average is
  weighted over ALL member supervisions — explicitly not the mean of
  member averages (A13, app.py:65-89);
- the heatmap's per-group overall column IS the unweighted mean of
  its period averages (A11, app.py:1186-1189), and the 'EPL CAS' row
  is the unweighted mean over group averages per period (A12).

Scale: every table is read through :func:`_table`, and one size rule
decides how. A table of at most :data:`SNAPSHOT_MAX_BYTES` of parquet
files, one file (perfbench's warehouse) or several (a sync sink after
a few daily runs), is planned as one partition, so aggregates, windows
and sorts over it need no shuffle; from a frame's second request on it
is served from an in-memory snapshot of about 7x its parquet bytes. A
caller that opens its tables once per request (``plans/domain_api``)
never snapshots. A larger table, or an in-memory frame (no size
statistics), keeps the distributed plan: dims broadcast, facts shuffle
once per aggregate grain. Every ranking window is
post-aggregation (entity-grained) and guarded by competition_rank's
row-count check.
"""

from __future__ import annotations

import functools
import itertools
import threading
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.functions.scalars import (
    bucket_counts,
    color_class,
    det_avg,
    pct_of,
    territorio,
)
from epl_cas_etl_2026_spark.functions.scalars import territorio as territorio_col
from epl_cas_etl_2026_spark.operators.ranking import competition_rank, intra_group_rank
from epl_cas_etl_2026_spark.schemas import DETAIL_FK

FACT_TABLES = {
    "operativas": "supervisiones_operativas",
    "seguridad": "supervisiones_seguridad",
}

#: table-preview allowlist (P9, app.py:1310-1315)
PREVIEW_ALLOWLIST = frozenset(
    {
        "periodos_cas",
        "grupos_operativos",
        "sucursales",
        "supervisiones_operativas",
        "supervisiones_seguridad",
        "supervision_areas",
        "catalogo_areas",
        "seguridad_kpis",
        "catalogo_kpis_seguridad",
    }
)


#: the largest table, in bytes of its files, that :func:`_table` plans as
#: one partition and keeps an in-memory snapshot of; the snapshot takes
#: about 7x that in executor storage memory. perfbench's largest
#: generated table is 2.3 MB.
SNAPSHOT_MAX_BYTES = 8 << 20

#: table frame -> [the frame requests read, None when that is the
#: table frame itself; the request that first read it, None once no
#: snapshot is due] (see :func:`_table`)
_SERVED: WeakKeyDictionary = WeakKeyDictionary()

#: the request the current thread is building, if any
_CURRENT = threading.local()
_REQUEST_IDS = itertools.count()


def _request(endpoint):
    """Mark ``endpoint`` as a request: every table it reads, also
    through endpoints it calls, is read by one request (see
    :func:`_table`)."""

    @functools.wraps(endpoint)
    def request(*args, **kwargs):
        if getattr(_CURRENT, "request", None) is not None:
            return endpoint(*args, **kwargs)
        _CURRENT.request = next(_REQUEST_IDS)
        try:
            return endpoint(*args, **kwargs)
        finally:
            _CURRENT.request = None

    return request


def _table(tables: dict, name: str) -> DataFrame:
    """``tables[name]`` as a request reads it. One rule decides how:
    a frame whose optimized-plan ``sizeInBytes`` is at most
    :data:`SNAPSHOT_MAX_BYTES` is read as ``coalesce(1)`` of itself on
    its first request, and from the lazy
    ``coalesce(1).localCheckpoint(eager=False)`` snapshot from its
    second request on. A larger frame, or one with no size statistics
    (Spark reports ``Long.MaxValue``), comes back unchanged.

    Precondition: no endpoint's output depends on its input's row
    order, because ``coalesce(1)`` concatenates the table's splits
    (``tests/test_plan_audit.py`` compares every endpoint over
    three-file and one-file copies of the same rows).

    - ``coalesce(1)`` moves no row across the network, and its
      ``SinglePartition`` output meets every aggregate, window and sort
      requirement, so no shuffle Exchange is planned over the table.
      The first request's scan stays pruned and filter-pushed.
    - The snapshot keeps the partitioning and the size statistics, so
      plans and broadcast choices are unchanged. The request that
      first reads it stores all the table's columns inside its own
      job; later requests read memory instead of the files. A caller
      that opens its tables per request never makes one.
    - The size and the snapshot are kept per table frame, in a
      weak-keyed dict, so the snapshot lives as long as the caller's
      frame: Spark's ContextCleaner drops its blocks once the frame and
      every result built on it are garbage in Python and in the JVM
      (after a finalization pass). A frame opened later over the same
      path gets its own entry, so a rewritten file is read anew
      (``cache()`` would match the new frame to the old blocks)."""
    df = tables[name]
    request = getattr(_CURRENT, "request", None)
    if request is None:
        # outside an endpoint: each read is a request of its own
        request = next(_REQUEST_IDS)
    entry = _SERVED.get(df)
    if entry is None:
        # the entry must not refer to df, or its weak key never dies
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        small = size <= SNAPSHOT_MAX_BYTES
        entry = _SERVED[df] = [df.coalesce(1), request] if small else [None, None]
    if entry[1] not in (None, request):
        entry[0] = entry[0].localCheckpoint(eager=False)
        entry[1] = None
    return df if entry[0] is None else entry[0]


def _fact(tables: dict, tipo: str, periodo_id: int | None) -> DataFrame:
    if tipo not in FACT_TABLES:
        raise ValueError(f"tipo must be one of {sorted(FACT_TABLES)}")
    f = _table(tables, FACT_TABLES[tipo])
    if periodo_id is not None:
        # filter the FACT side pre-join — the J2 ON-clause trap:
        # a post-join WHERE would drop zero-supervision dim rows
        f = f.filter(F.col("periodo_id") == periodo_id)
    return f


def _active(df: DataFrame) -> DataFrame:
    return df.filter(F.coalesce(F.col("activo"), F.lit(False)))


def _territorio_keep(filtro: str | None) -> tuple | None:
    """The territorio classes a territory filter keeps; None when it
    keeps everything (None or 'todas'). The only check of a filter's
    value: an unknown one raises instead of silently returning
    everything. The reference's filter is INCLUSIVE (app.py:486-492,
    1167-1171): 'local' keeps local+mixto, 'foranea' keeps
    foranea+mixto, 'mixto' keeps only mixto."""
    if filtro is None or filtro == "todas":
        return None
    keep = {
        "local": ("local", "mixto"),
        "foranea": ("foranea", "mixto"),
        "mixto": ("mixto",),
    }.get(filtro)
    if keep is None:
        raise ValueError(
            f"territorio filter must be local/foranea/mixto/todas, "
            f"got {filtro!r}"
        )
    return keep


@_request
def ranking_grupos(
    tables: dict,
    tipo: str = "operativas",
    periodo_id: int | None = None,
    territorio_filtro: str | None = None,
) -> DataFrame:
    """GET /api/ranking/grupos/<tipo> (app.py:435-652).

    Columns: entidad, territorio, promedio, supervisiones, sucursales,
    posicion. Reference semantics, trap-by-trap:

    - groups whose UPPER(nombre) starts with 'PLOG' (the
      GRUPOS_AGRUPACIONES patron with '%' stripped, app.py:506-508 —
      note: NOT 'PLOG ' with a space) collapse into ONE 'PLOG' entity
      whose promedio is supervision-WEIGHTED over member groups
      (A13, app.py:64-89). The reference is INCONSISTENT about which
      members feed the aggregate: membership into the collapse is
      ``upper(nombre).startswith('PLOG')`` (app.py:506-508), but the
      UNfiltered aggregate (calcular_promedio_agrupacion, app.py:64-89)
      re-selects members with case-sensitive ``LIKE 'PLOG %'`` — a
      group named 'PLOGX' or 'plog sur' is collapsed into the entity
      yet EXCLUDED from its promedio/supervisiones/sucursales. The
      filtered path (app.py:528-553) recomputes by member id, so there
      both sets coincide. Both behaviors are reproduced verbatim
      (pinned by tests/test_semantic_traps.py);
    - an INDEPENDENT group whose raw (unrounded) average is exactly
      0.0 is demoted to NULL by the reference's truthiness coalesce
      (``round(float(row[2]), 2) if row[2] else None``, app.py:497)
      and lands in the unranked tail with posicion NULL — but the
      agrupación row keeps promedio 0.0 RANKED because its check is
      ``is not None`` (app.py:556). The raw average is exactly 0.0
      iff the exact decimal SUM is 0 with a nonzero count
      (calificaciones are nonnegative), which is how the demotion is
      expressed order-deterministically here;
    - the agrupación item carries NO territorio field in the reference
      payload (app.py:588-599), so the collapsed row's territorio is
      NULL here; independent groups keep get_territorio(nombre);
    - ``territorio_filtro`` is INCLUSIVE (app.py:486-492): 'local'
      keeps {local, mixto} groups, 'foranea' keeps {foranea, mixto},
      'mixto' keeps only mixto, None/'todas' keeps all. The filter
      applies per MEMBER group BEFORE the PLOG collapse, and the PLOG
      promedio is then recomputed over surviving members only
      (app.py:528-553);
    - agrupación counts follow the reference's inner-join recompute
      (app.py:64-89): with a non-NULL promedio, ``sucursales`` counts
      only member branches WITH supervisions; with a NULL promedio the
      fallback (app.py:560-564) forces supervisiones=0 and sums ALL
      member branch counts. Independent groups keep the LEFT-JOIN
      counts (all active branches);
    - posicion is competition rank with gaps, NULL for entities with
      no scored supervisions (W1/W2, app.py:625-646); display order
      promedio DESC NULLS LAST, entidad ASC (tie order is
      display-only — positions are tie-shared either way).
    """
    g = _active(_table(tables, "grupos_operativos")).select(
        F.col("id").alias("grupo_id"),
        F.upper(F.col("nombre")).startswith("PLOG").alias("is_agrup"),
        # the unfiltered aggregate's stricter membership: case-sensitive
        # 'PLOG ' prefix (SQL LIKE 'PLOG %', app.py:64-89)
        F.col("nombre").startswith("PLOG ").alias("in_like"),
        F.when(
            F.upper(F.col("nombre")).startswith("PLOG"), F.lit("PLOG")
        )
        .otherwise(F.col("nombre"))
        .alias("entidad"),
        territorio(F.col("nombre")).alias("territorio"),
    )
    keep = _territorio_keep(territorio_filtro)
    filtered = keep is not None
    if filtered:
        g = g.filter(F.col("territorio").isin(*keep))
    s = _active(_table(tables, "sucursales")).select(
        F.col("id").alias("sucursal_id"),
        F.col("grupo_operativo_id"),
    )
    f = _fact(tables, tipo, periodo_id).select(
        F.col("id").alias("sup_id"),
        F.col("sucursal_id").alias("f_sucursal_id"),
        F.col("calificacion_general"),
    )
    base = g.join(
        s, g.grupo_id == s.grupo_operativo_id, "left"
    ).join(f, s.sucursal_id == f.f_sucursal_id, "left")
    # per-(member group, branch) partials, then per-member-group ones
    # (branches belong to exactly one group, so per-group branch counts
    # sum exactly across the collapse). Counting branch rows of the
    # first grain replaces two countDistincts, whose Expand would drop
    # a one-partition scan's SinglePartition and plan shuffles; the
    # decimal partial sums stay exact, and a group with no branches
    # (one NULL sucursal_id row) still counts 0
    keys = ["grupo_id", "entidad", "is_agrup", "in_like", "territorio"]
    per_branch = base.groupBy(*keys, "sucursal_id").agg(
        F.sum(F.col("calificacion_general").cast("decimal(18,6)")).alias("sum_calif"),
        F.count("calificacion_general").cast("long").alias("n_calif"),
        F.count("sup_id").cast("long").alias("n_sup"),
    )
    per_group = per_branch.groupBy(*keys).agg(
        F.sum("sum_calif").alias("sum_calif"),
        F.sum("n_calif").alias("n_calif"),
        F.sum("n_sup").alias("n_sup"),
        F.count("sucursal_id").cast("long").alias("suc_all"),
        F.count(
            F.when(F.col("n_sup") > 0, F.col("sucursal_id"))
        ).cast("long").alias("suc_con"),
    )
    # which member groups feed the entity-level aggregate: the FILTERED
    # path recomputes over every surviving member by id (app.py:528-553);
    # the UNfiltered path re-selects agrupación members with
    # case-sensitive LIKE 'PLOG %' (app.py:64-89), so a collapsed-but-
    # not-LIKE member ('PLOGX', 'plog sur') is excluded. Independents
    # are their own single member either way. suc_all (the NULL-promedio
    # fallback count, app.py:560-564) always sums ALL members.
    memb = (
        F.lit(True)
        if filtered
        else (~F.col("is_agrup")) | F.col("in_like")
    )
    agg = per_group.groupBy("entidad").agg(
        F.max("is_agrup").alias("is_agrup"),
        F.min(F.when(~F.col("is_agrup"), F.col("territorio"))).alias(
            "territorio"
        ),
        F.sum(F.when(memb, F.col("sum_calif"))).alias("m_sum"),
        F.coalesce(F.sum(F.when(memb, F.col("n_calif"))), F.lit(0)).alias(
            "m_n"
        ),
        F.coalesce(F.sum(F.when(memb, F.col("n_sup"))), F.lit(0)).alias(
            "m_sup"
        ),
        F.sum("suc_all").alias("suc_all"),
        F.coalesce(F.sum(F.when(memb, F.col("suc_con"))), F.lit(0)).alias(
            "suc_con"
        ),
    )
    shaped = agg.select(
        "entidad",
        "territorio",
        # det_avg over the member union, from per-group partials: exact
        # decimal sum / count at scale>=16, then HALF_UP to 2dp — same
        # construction (and same DuckDB twin) as det_avg; the m_n > 0
        # guard keeps ANSI mode from raising DIVIDE_BY_ZERO. The
        # is_agrup | m_sum != 0 term is the reference's truthiness
        # demotion: an INDEPENDENT group whose raw average is exactly
        # 0.0 (exact decimal sum 0, count > 0 — calificaciones are
        # nonnegative) displays NULL and drops to the unranked tail
        # (app.py:497, 609-614); the agrupación keeps 0.0 (app.py:556)
        F.when(
            (F.col("m_n") > 0)
            & (F.col("is_agrup") | (F.col("m_sum") != 0)),
            F.round(
                F.col("m_sum").cast("decimal(28,6)")
                / F.col("m_n").cast("decimal(12,0)"),
                2,
            ),
        ).cast("double").alias("promedio"),
        F.when(
            F.col("is_agrup") & (F.col("m_n") == 0), F.lit(0)
        )
        .otherwise(F.col("m_sup"))
        .cast("long")
        .alias("supervisiones"),
        F.when(
            F.col("is_agrup") & (F.col("m_n") > 0),
            F.col("suc_con"),
        )
        .otherwise(F.col("suc_all"))
        .cast("long")
        .alias("sucursales"),
    )
    return competition_rank(
        shaped, "promedio", tiebreak=[F.asc("entidad")]
    ).select(
        "entidad",
        "territorio",
        "promedio",
        "supervisiones",
        "sucursales",
        "posicion",
    )


@_request
def ranking_grupos_members(
    tables: dict,
    tipo: str = "operativas",
    periodo_id: int | None = None,
) -> DataFrame:
    """The agrupación MEMBER rows nested inside /api/ranking/grupos
    (app.py:566-586): each PLOG member group with its own LEFT-JOIN
    average, color class, and ``posicion_interna`` — competition rank
    within the agrupación, NULL-promedio members unranked (the
    reference's tie loop is exactly competition-rank semantics).
    Entity-level rows are :func:`ranking_grupos`; this is the
    ``grupos`` list of its 'agrupacion' items."""
    g = _active(_table(tables, "grupos_operativos")).select(
        F.col("id").alias("grupo_id"),
        F.col("nombre"),
        F.when(
            F.upper(F.col("nombre")).startswith("PLOG"), F.lit("PLOG")
        ).alias("entidad"),
        territorio(F.col("nombre")).alias("territorio"),
    ).filter(F.col("entidad").isNotNull())
    s = _active(_table(tables, "sucursales")).select(
        F.col("id").alias("sucursal_id"), F.col("grupo_operativo_id")
    )
    f = _fact(tables, tipo, periodo_id).select(
        F.col("id").alias("sup_id"),
        F.col("sucursal_id").alias("f_sucursal_id"),
        F.col("calificacion_general"),
    )
    per_group = (
        g.join(s, g.grupo_id == s.grupo_operativo_id, "left")
        .join(f, s.sucursal_id == f.f_sucursal_id, "left")
        .groupBy("grupo_id", "nombre", "entidad", "territorio")
        .agg(
            F.sum(
                F.col("calificacion_general").cast("decimal(18,6)")
            ).alias("m_sum"),
            F.count("calificacion_general").cast("long").alias("m_n"),
            F.countDistinct("sucursal_id")
            .cast("long")
            .alias("total_sucursales"),
            F.count("sup_id").cast("long").alias("total_supervisiones"),
        )
        # member rows are the same item dicts the independent-group path
        # builds (app.py:497), so the exactly-0.0 truthiness demotion
        # applies here too: such members are unranked (posicion_interna
        # NULL) and gray (app.py:585-586)
        .withColumn(
            "promedio",
            F.when(
                (F.col("m_n") > 0) & (F.col("m_sum") != 0),
                F.round(
                    F.col("m_sum").cast("decimal(28,6)")
                    / F.col("m_n").cast("decimal(12,0)"),
                    2,
                ),
            ).cast("double"),
        )
        .drop("m_sum", "m_n")
    )
    ranked = intra_group_rank(per_group, "entidad", "promedio")
    return ranked.select(
        "entidad",
        F.col("grupo_id").alias("id"),
        "nombre",
        "territorio",
        "promedio",
        # app.py:582/586: ranked members get get_color_class(promedio),
        # unranked (NULL promedio) members 'gray'
        color_class(F.col("promedio")).alias("color"),
        "total_sucursales",
        "total_supervisiones",
        "posicion_interna",
    ).orderBy(
        "entidad", F.desc_nulls_last("promedio"), "nombre"
    )


@_request
def ranking_sucursales(
    tables: dict,
    tipo: str = "operativas",
    periodo_id: int | None = None,
    grupo_id: int | None = None,
    territorio_filtro: str | None = None,
) -> DataFrame:
    """GET /api/ranking/sucursales/<tipo> (app.py:666-756): dynamic
    optional filters (P10) over an outer join that preserves branches
    with zero supervisions.

    Join/filter placement mirrors the reference exactly:

    - grupos_operativos is LEFT-joined with NO activo filter
      (app.py:672) — a branch whose group is inactive or dangling
      stays in the ranking with a NULL grupo;
    - ``territorio_filtro`` filters the RAW clasificacion column
      (app.py:698-701): 'local' keeps clasificacion='local', 'foranea'
      keeps clasificacion='foraneo' (note the reference's column value
      spelling) — NULL-classified branches match NEITHER filter;
    - the COALESCE(clasificacion, 'local') default is display-only
      (app.py:719), applied AFTER filtering.
    """
    s = _active(_table(tables, "sucursales")).select(
        F.col("id").alias("sucursal_id"),
        F.col("nombre").alias("sucursal"),
        "grupo_operativo_id",
        F.col("clasificacion").alias("raw_clasificacion"),
    )
    if grupo_id is not None:
        s = s.filter(F.col("grupo_operativo_id") == grupo_id)
    # 'mixto' applies NO filter here — the reference's sucursales
    # endpoint handles only 'local'/'foranea' (app.py:698-701), so
    # 'mixto' falls through unfiltered (preserved quirk); unknown
    # values raise in _territorio_keep
    _territorio_keep(territorio_filtro)
    col_value = {"local": "local", "foranea": "foraneo"}.get(territorio_filtro)
    if col_value is not None:
        s = s.filter(F.col("raw_clasificacion") == col_value)
    g = _table(tables, "grupos_operativos").select(
        F.col("id").alias("g_id"), F.col("nombre").alias("grupo")
    )
    f = _fact(tables, tipo, periodo_id).select(
        F.col("id").alias("sup_id"),
        F.col("sucursal_id").alias("f_sucursal_id"),
        "calificacion_general",
    )
    base = s.join(g, s.grupo_operativo_id == g.g_id, "left").join(
        f, s.sucursal_id == f.f_sucursal_id, "left"
    )
    agg = base.groupBy(
        "sucursal_id", "sucursal", "grupo", "raw_clasificacion"
    ).agg(
        F.sum(
            F.col("calificacion_general").cast("decimal(18,6)")
        ).alias("m_sum"),
        F.count("calificacion_general").cast("long").alias("m_n"),
        det_avg(F.col("calificacion_general")).alias("promedio_r"),
        F.count("sup_id").cast("long").alias("supervisiones"),
    )
    shaped = agg.select(
        "sucursal_id",
        "sucursal",
        "grupo",
        F.coalesce(F.col("raw_clasificacion"), F.lit("local")).alias(
            "clasificacion"
        ),
        # displayed promedio: NULL for pendientes AND for the
        # exactly-0.0 truthiness demotion (``round(float(row[5]), 2)
        # if row[5] else None``, app.py:721) — exact decimal sum 0
        # with count > 0 iff the raw average is 0.0 (calificaciones
        # are nonnegative)
        F.when(F.col("m_sum") != 0, F.col("promedio_r")).alias(
            "promedio"
        ),
        "supervisiones",
        ((F.col("m_n") > 0) & (F.col("m_sum") == 0)).alias("__ez"),
    )
    # posicion quirk (app.py:724-742): the supervisadas membership
    # test uses the RAW value (``row[5] is not None``, app.py:724), so
    # an exactly-0.0 branch IS ranked — but its displayed promedio is
    # already None, so the tie-share comparison (app.py:733) never
    # fires and each such branch gets its own consecutive position
    # after every positively-scored branch. Nonzero branches tie-share
    # on the ROUNDED value (plain competition rank, which matches the
    # loop because equal-rounded raws are contiguous in the raw sort);
    # true pendientes stay unranked (posicion NULL, app.py:745-748).
    # sucursal_id (unique, non-null) is the FINAL tie-break: branch
    # names are not unique across grupos, and two same-named all-zero
    # branches would otherwise get their consecutive positions in
    # partition-dependent order (grupo is NOT used — it is nullable
    # via the left join, and Spark's ASC puts NULLs first while
    # DuckDB's puts them last)
    # Two single-partition windows over the post-aggregation
    # (branch-grained) frame. A range-partitioned two-phase variant
    # measured slower even at 150k branches, so there is one path.
    display_order = [
        F.desc_nulls_last("promedio"),
        F.desc("__ez"),
        F.asc("sucursal"),
        F.asc("sucursal_id"),
    ]
    w_rank = Window.orderBy(F.desc_nulls_last("promedio"))
    w_rn = Window.orderBy(*display_order)
    rank_expr = F.when(
        F.col("promedio").isNotNull(),
        F.rank().over(w_rank).cast("long"),
    ).when(F.col("__ez"), F.row_number().over(w_rn).cast("long"))
    ranked = shaped.withColumn("posicion", rank_expr)
    return ranked.orderBy(*display_order).select(
        "sucursal",
        "grupo",
        "clasificacion",
        "promedio",
        "supervisiones",
        "posicion",
    )


@_request
def heatmap_matrix(
    tables: dict,
    tipo: str = "operativas",
    territorio: str | None = "todas",
) -> DataFrame:
    """GET /api/historico/<tipo> (app.py:1128-1215): (grupo × periodo)
    densified matrix (J4) pivoted wide (A10), per-group overall =
    unweighted mean of period averages (A11), plus an 'EPL CAS' row =
    unweighted mean over group averages per period (A12). Period
    columns are the period codes, ordered by fecha_inicio.

    ``territorio`` is the reference's INCLUSIVE filter
    (app.py:1167-1171) applied BEFORE the EPL CAS row is computed, so
    the system average reflects only the visible groups — exactly the
    reference's ordering of filter vs. epl_cas accumulation
    (app.py:1190-1196). The reference's /api/historico filter has
    branches ONLY for 'local' and 'foranea' (each keeping mixto too);
    ``territorio='mixto'`` matches neither branch and falls through
    UNFILTERED — the same preserved quirk as ranking_sucursales'
    clasificacion filter (pinned by tests). Unknown values raise
    instead of silently returning everything.
    Deviation: rows come back ordered by grupo
    name, not promedio_general DESC (app.py:1187) — the wide frame is
    re-sorted client-side and a stable key order keeps the gate hash
    deterministic."""
    g = _active(_table(tables, "grupos_operativos")).select(
        F.col("id").alias("grupo_id"), F.col("nombre").alias("grupo")
    )
    # None and 'todas' both mean unfiltered, matching the
    # territorio_filtro convention of ranking_grupos/ranking_sucursales;
    # app.py:1167-1171 has no 'mixto' branch — that value falls
    # through unfiltered (preserved quirk); only local/foranea apply
    # the inclusive keep-set
    keep = _territorio_keep(territorio)
    if keep is not None and territorio != "mixto":
        g = g.filter(territorio_col(F.col("grupo")).isin(*keep))
    p = _table(tables, "periodos_cas").select(
        F.col("id").alias("periodo_id"), "codigo"
    )
    s = _active(_table(tables, "sucursales")).select(
        F.col("id").alias("sucursal_id"), "grupo_operativo_id"
    )
    f = _fact(tables, tipo, None).select(
        "sucursal_id", "periodo_id", "calificacion_general"
    )
    cell = (
        f.join(s, "sucursal_id")
        .join(g, s.grupo_operativo_id == g.grupo_id)
        # the periodos dim is a handful of rows; the hint keeps the join
        # a broadcast where its frame carries no size statistics
        .join(F.broadcast(p), "periodo_id")
        .groupBy("grupo", "codigo")
        .agg(det_avg(F.col("calificacion_general")).alias("promedio"))
    )
    # J4 densification: EVERY active group appears, even with zero
    # supervisions anywhere — the reference builds the grid with a
    # CROSS JOIN (app.py:1141-1151) and hangs facts on it; a facts-only
    # matrix would silently drop never-supervised groups
    grid = g.select("grupo").crossJoin(p.select("codigo"))
    dense = grid.join(F.broadcast(cell), ["grupo", "codigo"], "left")
    # one lineage from the densified matrix to the pivot, no union and
    # no pin: the EPL CAS row (A12, the unweighted mean over group
    # averages per period) is a window over codigo, emitted once per
    # period beside that period's first group row; the per-group
    # overall (A11, the unweighted mean of a row's period averages, NULL
    # cells skipped) is then one window over grupo, which covers the
    # EPL row too — the reference accumulates epl_cas from the already
    # averaged period entries (app.py:1190-1196)
    by_code = Window.partitionBy("codigo")
    per_code = dense.select(
        "grupo",
        "codigo",
        "promedio",
        det_avg(F.col("promedio"), over=by_code).alias("epl"),
        (F.row_number().over(by_code.orderBy("grupo")) == 1).alias("is_first"),
    )
    row = F.struct(F.col("grupo"), F.col("promedio"))
    epl = F.struct(
        F.lit("EPL CAS").alias("grupo"), F.col("epl").alias("promedio")
    )
    long_df = per_code.select(
        "codigo",
        F.explode(
            F.when(F.col("is_first"), F.array(row, epl)).otherwise(
                F.array(row)
            )
        ).alias("r"),
    ).select("r.grupo", "codigo", "r.promedio")
    overall = det_avg(F.col("promedio"), over=Window.partitionBy("grupo"))
    # A10: explicit pivot values (the period codes, by fecha_inicio)
    # spare Spark the distinct-values job it otherwise runs
    codes = _period_codes(tables)
    return (
        long_df.withColumn("promedio_general", overall)
        .groupBy("grupo", "promedio_general")
        .pivot("codigo", codes)
        .agg(F.first("promedio"))
        .select("grupo", *codes, "promedio_general")
        .orderBy("grupo")
    )


#: periodos_cas frame -> its period codes ordered by fecha_inicio, the
#: heatmap's column order; kept per frame like :data:`_SERVED`, so a
#: request collects nothing while its frame is built
_PERIOD_CODES: WeakKeyDictionary = WeakKeyDictionary()


def _period_codes(tables: dict) -> list:
    df = tables["periodos_cas"]
    if df not in _PERIOD_CODES:
        _PERIOD_CODES[df] = [
            r.codigo
            for r in _table(tables, "periodos_cas")
            .orderBy("fecha_inicio", "codigo")
            .select("codigo")
            .collect()
        ]
    return _PERIOD_CODES[df]


@_request
def kpis(
    tables: dict, tipo: str = "operativas", periodo_id: int | None = None
) -> DataFrame:
    """GET /api/kpis/<tipo> (app.py:342-432) — the dashboard's full
    KPI card as ONE row, collapsing the reference's seven sequential
    scalar round-trips into a single plan.

    Reference semantics, trap-by-trap:

    - ``promedio_periodo`` exists only when a period is selected, and
      the reference's ``scalar() or 0`` coalesces a no-data NULL
      average to 0 BEFORE display (app.py:356-357) — an empty period
      shows 0, classed 'critico', not 'sin datos';
    - ``promedio_acumulado`` is ALWAYS the all-history average
      (same ``or 0``);
    - the displayed ``promedio`` is the period average when a period
      is selected, else the accumulated one (app.py:411);
    - totals/distribution respect the period filter; branch and group
      totals count active dims only; ``cobertura`` is half-up 1dp
      with a zero-total guard (app.py:385).
    """
    f = _fact(tables, tipo, periodo_id)
    f_all = _table(tables, FACT_TABLES[tipo])
    per_agg = f.agg(
        F.coalesce(det_avg(F.col("calificacion_general")), F.lit(0.0)).alias(
            "prom_sel"
        ),
        F.count("id").cast("long").alias("total_supervisiones"),
        F.countDistinct("sucursal_id")
        .cast("long")
        .alias("sucursales_supervisadas"),
        *[
            F.coalesce(c, F.lit(0)).cast("long").alias(name)
            for c, name in zip(
                bucket_counts(F.col("calificacion_general")),
                ("excelente", "bueno", "regular", "critico"),
            )
        ],
    )
    acum = f_all.agg(
        F.coalesce(det_avg(F.col("calificacion_general")), F.lit(0.0)).alias(
            "promedio_acumulado"
        )
    )
    tot_s = _active(_table(tables, "sucursales")).agg(
        F.count(F.lit(1)).cast("long").alias("total_sucursales")
    )
    tot_g = _active(_table(tables, "grupos_operativos")).agg(
        F.count(F.lit(1)).cast("long").alias("total_grupos")
    )
    row = per_agg.crossJoin(acum).crossJoin(tot_s).crossJoin(tot_g)
    promedio_periodo = (
        F.col("prom_sel") if periodo_id is not None else F.lit(None).cast("double")
    )
    promedio = (
        F.col("prom_sel") if periodo_id is not None else F.col("promedio_acumulado")
    )
    return row.select(
        promedio.alias("promedio"),
        promedio_periodo.alias("promedio_periodo"),
        "promedio_acumulado",
        color_class(promedio).alias("color"),
        "total_supervisiones",
        "sucursales_supervisadas",
        "total_sucursales",
        "total_grupos",
        F.coalesce(
            pct_of(
                F.col("sucursales_supervisadas"), F.col("total_sucursales")
            ),
            F.lit(0.0),
        ).alias("cobertura"),
        "excelente",
        "bueno",
        "regular",
        "critico",
    )


@_request
def map_markers(
    tables: dict, tipo: str = "operativas", periodo_id: int | None = None
) -> DataFrame:
    """GET /api/mapa/<tipo> (app.py:1062-1128): ALL active branches
    with coordinates (P4 NULL filter), their group LEFT-joined with NO
    activo filter (app.py:1078), per-branch average + count, color
    class with the NULL guard (F1).

    Display quirk preserved from the reference (app.py:1102 —
    ``round(float(row[5]), 2) if row[5] else None``): a branch whose
    RAW average is exactly 0.0 displays promedio = NULL and color
    'gray', exactly like a branch with no scored supervisions. The
    check is on the raw (unrounded) value — a branch averaging 0.004
    rounds to a displayed 0.0 but stays truthy — so the demotion here
    tests the exact decimal SUM, not the rounded average
    (calificaciones are nonnegative)."""
    s = (
        _active(_table(tables, "sucursales"))
        .filter(
            F.col("latitud").isNotNull() & F.col("longitud").isNotNull()
        )
        .select(
            F.col("id").alias("sucursal_id"),
            F.col("nombre").alias("sucursal"),
            "grupo_operativo_id",
            F.col("latitud").alias("lat"),
            F.col("longitud").alias("lng"),
        )
    )
    g = _table(tables, "grupos_operativos").select(
        F.col("id").alias("g_id"), F.col("nombre").alias("grupo")
    )
    f = _fact(tables, tipo, periodo_id).select(
        F.col("id").alias("sup_id"),
        F.col("sucursal_id").alias("f_sucursal_id"),
        "calificacion_general",
    )
    agg = (
        s.join(F.broadcast(g), s.grupo_operativo_id == g.g_id, "left")
        .join(f, s.sucursal_id == f.f_sucursal_id, "left")
        .groupBy("sucursal_id", "sucursal", "grupo", "lat", "lng")
        .agg(
            F.sum(
                F.col("calificacion_general").cast("decimal(18,6)")
            ).alias("m_sum"),
            det_avg(F.col("calificacion_general")).alias("promedio_r"),
            F.count("sup_id").cast("long").alias("supervisiones"),
        )
        .withColumn(
            "promedio",
            F.when(F.col("m_sum") != 0, F.col("promedio_r")),
        )
    )
    return agg.select(
        "sucursal",
        "grupo",
        "lat",
        "lng",
        "promedio",
        "supervisiones",
        color_class(F.col("promedio")).alias("color"),
    ).orderBy("sucursal")


@_request
def alerts(
    tables: dict, tipo: str = "operativas", periodo_id: int | None = None
) -> DataFrame:
    """GET /api/alertas/<tipo> (app.py:1215-1280): critical branches
    (avg < 70) and warning groups (70 <= avg < 80) — the A7 HAVING
    shape, the two levels (U1) labeled in one aggregate over one join.

    Join/filter placement mirrors the reference exactly:

    - critical: sucursales INNER JOIN grupos_operativos (no
      g.activo filter — an inactive group's branches still alert, but
      a branch with a dangling/NULL group does NOT) with
      WHERE s.activo = true (app.py:1227-1232);
    - warning: grupos_operativos (g.activo = true) INNER JOIN
      sucursales with NO s.activo filter — inactive branches' scores
      count toward the group average (app.py:1251-1256).
    """
    s_all = _table(tables, "sucursales").select(
        F.col("id").alias("sucursal_id"),
        F.col("nombre").alias("s_nombre"),
        "grupo_operativo_id",
        F.coalesce(F.col("activo"), F.lit(False)).alias("s_activo"),
    )
    g_all = _table(tables, "grupos_operativos").select(
        F.col("id").alias("g_id"),
        F.col("nombre").alias("g_nombre"),
        F.coalesce(F.col("activo"), F.lit(False)).alias("g_activo"),
    )
    f = _fact(tables, tipo, periodo_id).select(
        "sucursal_id", "calificacion_general"
    )
    # both halves inner-join fact, branch and group, so ONE join feeds
    # them; each row then feeds the levels its activo flags admit: a
    # critical branch needs an active branch (any group), a warning
    # group an active group (any branch)
    level = F.explode(
        F.array(
            F.when(
                F.col("s_activo"),
                F.struct(
                    F.lit("critico").alias("nivel"),
                    F.col("sucursal_id").alias("key"),
                    F.col("s_nombre").alias("entidad"),
                ),
            ),
            F.when(
                F.col("g_activo"),
                F.struct(
                    F.lit("advertencia").alias("nivel"),
                    F.col("g_id").alias("key"),
                    F.col("g_nombre").alias("entidad"),
                ),
            ),
        )
    ).alias("lv")
    avg = (
        f.join(s_all, "sucursal_id")
        .join(g_all, F.col("grupo_operativo_id") == F.col("g_id"))
        .select(level, "calificacion_general")
        .filter(F.col("lv").isNotNull())
        .select("lv.*", "calificacion_general")
        .groupBy("nivel", "key", "entidad")
        .agg(det_avg(F.col("calificacion_general")).alias("promedio"))
    )
    p = F.col("promedio")
    in_band = F.when(F.col("nivel") == "critico", p < 70).otherwise(
        (p >= 70) & (p < 80)
    )
    return (
        avg.filter(in_band)
        .select("nivel", "entidad", "promedio")
        .orderBy("nivel", "promedio", "entidad")
    )


@_request
def branch_latest(
    tables: dict,
    sucursal_id: int,
    tipo: str = "operativas",
    periodo_id: int | None = None,
) -> DataFrame:
    """GET /api/sucursal/<id>/<tipo> latest supervision (app.py:846-858
    — W4: row_number over fecha DESC, id DESC tie-break) with color
    class; optional period filter (app.py:852-854)."""
    f = _fact(tables, tipo, periodo_id).filter(
        F.col("sucursal_id") == sucursal_id
    )
    w = Window.partitionBy("sucursal_id").orderBy(
        F.desc("fecha_supervision"), F.desc("id")
    )
    return (
        f.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "id",
            "fecha_supervision",
            "supervisor",
            "calificacion_general",
            color_class(F.col("calificacion_general")).alias("color"),
        )
    )


@_request
def branch_trend(
    tables: dict, sucursal_id: int, tipo: str = "operativas", n: int = 4
) -> DataFrame:
    """Trend: last-n supervisions per branch reversed to chronological
    order (W5, app.py:938-960)."""
    f = _fact(tables, tipo, None).filter(
        F.col("sucursal_id") == sucursal_id
    )
    w = Window.partitionBy("sucursal_id").orderBy(
        F.desc("fecha_supervision"), F.desc("id")
    )
    return (
        f.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select(
            "id",
            "fecha_supervision",
            "calificacion_general",
            F.date_format("fecha_supervision", "dd/MM").alias("label"),
        )
        .orderBy("fecha_supervision", "id")
    )


#: per-tipo (detail fact, catalog, detail FK column) for the area/KPI
#: drill-down — the reference reads supervision_areas ⋈ catalogo_areas
#: for operativas (app.py:862-868) and seguridad_kpis ⋈
#: catalogo_kpis_seguridad for seguridad (app.py:894-900). (The
#: reference's OTHER seguridad endpoint reads supervision_kpis ⋈
#: catalogo_kpis, app.py:1028-1034 — a documented reference
#: inconsistency; this layer follows the /areas route's pair.)
DETAIL_TABLES = {
    "operativas": ("supervision_areas", "catalogo_areas", DETAIL_FK["operativas"]),
    "seguridad": ("seguridad_kpis", "catalogo_kpis_seguridad", DETAIL_FK["seguridad"]),
}


@_request
def branch_areas(
    tables: dict,
    sucursal_id: int,
    tipo: str = "operativas",
    periodo_id: int | None = None,
) -> DataFrame:
    """Area/KPI breakdown of the latest supervision, catalog display
    order (J9). The (detail, catalog) pair is selected by ``tipo`` —
    joining a seguridad supervision id against the operativas detail
    table would be an id-space collision (silently wrong or empty)."""
    if tipo not in DETAIL_TABLES:
        raise ValueError(f"tipo must be one of {sorted(DETAIL_TABLES)}")
    detail_name, catalog_name, fk = DETAIL_TABLES[tipo]
    latest = branch_latest(tables, sucursal_id, tipo, periodo_id).select(
        F.col("id").alias("supervision_id")
    )
    detail = _table(tables, detail_name)
    cat = _table(tables, catalog_name)
    return (
        latest.join(detail, "supervision_id")
        .join(F.broadcast(cat), detail[fk] == cat.id)
        .select(
            "codigo",
            F.col("nombre").alias("area"),
            "porcentaje",
            "numero",
        )
        .orderBy("numero")
    )


@_request
def sucursal_info(tables: dict, sucursal_id: int) -> DataFrame:
    """GET /api/sucursal/<id>/<tipo> header block (app.py:829-836):
    the branch row with its group LEFT-joined (no activo filters —
    the detail header shows inactive branches/groups too)."""
    s = _table(tables, "sucursales").filter(F.col("id") == sucursal_id).select(
        "id", "nombre", "numero", "estado", "ciudad", "grupo_operativo_id"
    )
    g = _table(tables, "grupos_operativos").select(
        F.col("id").alias("grupo_id"), F.col("nombre").alias("grupo_nombre")
    )
    return s.join(
        F.broadcast(g), s.grupo_operativo_id == g.grupo_id, "left"
    ).select(
        "id", "nombre", "numero", "estado", "ciudad",
        "grupo_nombre", "grupo_id",
    )


@_request
def periodos_list(tables: dict, n: int = 10) -> DataFrame:
    """GET /api/periodos (app.py:307-325): the raw period rows, latest
    n by id DESC (the reference's SELECT * ... ORDER BY id DESC
    LIMIT 10)."""
    return _table(tables, "periodos_cas").orderBy(F.desc("id")).limit(n)


@_request
def grupo_detalle_sucursales(
    tables: dict,
    grupo_id: int,
    tipo: str = "operativas",
    periodo_id: int | None = None,
) -> DataFrame:
    """GET /api/grupo/<id>/<tipo> branch table (app.py:786-808).

    Transcribed trap-for-trap from the reference SQL:

    - LEFT JOIN facts with the period filter applied POST-join as
      ``(sup.periodo_id = :p OR sup.periodo_id IS NULL)``
      (app.py:796-797) — which keeps zero-supervision branches via the
      unmatched-row arm AND lets NULL-periodo supervisions through
      (they count in every period's view — a documented reference
      quirk, NOT the J2 filter-fact-first shape the ranking endpoints
      use);
    - ``COALESCE(AVG(...), 0)`` — a branch with no (or all-NULL)
      scores displays 0, classed 'critico' (app.py:789);
    - active branches only; ORDER BY promedio DESC.
    """
    s = (
        _active(_table(tables, "sucursales"))
        .filter(F.col("grupo_operativo_id") == grupo_id)
        .select(F.col("id").alias("sucursal_id"), F.col("nombre"))
    )
    f = _fact(tables, tipo, None).select(
        F.col("id").alias("sup_id"),
        F.col("sucursal_id").alias("f_sucursal_id"),
        "periodo_id",
        "calificacion_general",
    )
    base = s.join(f, s.sucursal_id == f.f_sucursal_id, "left")
    if periodo_id is not None:
        base = base.filter(
            (F.col("periodo_id") == periodo_id)
            | F.col("periodo_id").isNull()
        )
    agg = base.groupBy("sucursal_id", "nombre").agg(
        F.coalesce(
            det_avg(F.col("calificacion_general")), F.lit(0.0)
        ).alias("promedio"),
        F.count("sup_id").cast("long").alias("supervisiones"),
    )
    return agg.select(
        F.col("sucursal_id").alias("id"),
        "nombre",
        "promedio",
        color_class(F.col("promedio")).alias("color"),
        "supervisiones",
    ).orderBy(F.desc("promedio"), "id")


@_request
def grupo_detalle_stats(
    tables: dict,
    grupo_id: int,
    tipo: str = "operativas",
    periodo_id: int | None = None,
) -> DataFrame:
    """GET /api/grupo/<id>/<tipo> header (app.py:764-784, 810-818):
    one row — group name, its supervision-weighted average (INNER
    joins over ALL branches, active or not, ``or 0`` on NULL —
    app.py:772-784), and the branch/supervision totals the reference
    derives from the (active-only) branch table."""
    g = _table(tables, "grupos_operativos").filter(F.col("id") == grupo_id).select(
        F.col("id").alias("gid"), F.col("nombre")
    )
    s_all = _table(tables, "sucursales").select(
        F.col("id").alias("sucursal_id"), "grupo_operativo_id"
    )
    f = _fact(tables, tipo, periodo_id)
    prom = (
        f.join(s_all, f.sucursal_id == s_all.sucursal_id)
        .filter(F.col("grupo_operativo_id") == grupo_id)
        .agg(
            F.coalesce(
                det_avg(F.col("calificacion_general")), F.lit(0.0)
            ).alias("promedio")
        )
    )
    branch_rows = grupo_detalle_sucursales(
        tables, grupo_id, tipo, periodo_id
    ).agg(
        F.count(F.lit(1)).cast("long").alias("total_sucursales"),
        F.coalesce(F.sum("supervisiones"), F.lit(0))
        .cast("long")
        .alias("total_supervisiones"),
    )
    return (
        g.crossJoin(prom)
        .crossJoin(branch_rows)
        .select(
            F.col("gid").alias("id"),
            "nombre",
            "promedio",
            color_class(F.col("promedio")).alias("color"),
            "total_sucursales",
            "total_supervisiones",
        )
    )


#: per-tipo (detail fact, catalog, FK, catalog order col) for the
#: BY-SUPERVISION-ID drill-down — the reference's seguridad arm here
#: reads supervision_kpis ⋈ catalogo_kpis ordered by ck.id
#: (app.py:1028-1034), NOT the seguridad_kpis pair the /areas branch
#: route uses — a preserved reference inconsistency.
SUPERVISION_DETAIL_TABLES = {
    "operativas": (
        "supervision_areas", "catalogo_areas", DETAIL_FK["operativas"], "numero"
    ),
    "seguridad": ("supervision_kpis", "catalogo_kpis", DETAIL_FK["seguridad"], "id"),
}


@_request
def supervision_header(
    tables: dict, supervision_id: int, tipo: str = "operativas"
) -> DataFrame:
    """GET /api/supervision/<id>/areas/<tipo> header (app.py:972-979,
    1015-1024): the supervision row with its period name LEFT-joined,
    the ``x if x else 0`` score coalescing, and the dd/MM/yyyy date
    label ('-' when NULL)."""
    f = _fact(tables, tipo, None).filter(F.col("id") == supervision_id)
    p = _table(tables, "periodos_cas").select(
        F.col("id").alias("pid"), F.col("nombre").alias("periodo")
    )
    return f.join(
        F.broadcast(p), f.periodo_id == p.pid, "left"
    ).select(
        F.col("id").alias("supervision_id"),
        F.coalesce(F.col("calificacion_general"), F.lit(0.0)).alias(
            "calificacion"
        ),
        F.coalesce(
            F.date_format("fecha_supervision", "dd/MM/yyyy"), F.lit("-")
        ).alias("fecha"),
        "supervisor",
        "periodo",
    )


@_request
def supervision_areas_by_id(
    tables: dict, supervision_id: int, tipo: str = "operativas"
) -> DataFrame:
    """GET /api/supervision/<id>/areas/<tipo> rows (app.py:984-991,
    1028-1034): detail ⋈ catalog for the given supervision id, in the
    catalog's display order — operativas orders by numero, seguridad
    (via the inconsistent supervision_kpis/catalogo_kpis pair) by
    catalog id. NULL percentages display 0 with 'critico' color
    (the reference's ``if row[1] else 0`` truthiness)."""
    if tipo not in SUPERVISION_DETAIL_TABLES:
        raise ValueError(
            f"tipo must be one of {sorted(SUPERVISION_DETAIL_TABLES)}"
        )
    detail_name, catalog_name, fk, order_col = SUPERVISION_DETAIL_TABLES[tipo]
    detail = _table(tables, detail_name).filter(
        F.col("supervision_id") == supervision_id
    )
    cat = _table(tables, catalog_name)
    pct = F.coalesce(F.col("porcentaje"), F.lit(0.0))
    return (
        detail.join(F.broadcast(cat), detail[fk] == cat.id)
        .select(
            F.col("nombre"),
            pct.alias("porcentaje"),
            color_class(pct).alias("color"),
            cat[order_col].alias("orden"),
        )
        .orderBy("orden")
    )


@_request
def periodos_with_data(tables: dict, tipo: str = "operativas") -> DataFrame:
    """Periods having supervisions — the reference's GROUP-BY-all-cols
    dedup expressed as a left-semi join (A9, app.py:253-259)."""
    p = _table(tables, "periodos_cas")
    f = _fact(tables, tipo, None).select("periodo_id")
    return (
        p.join(f, p.id == f.periodo_id, "left_semi")
        .select("id", "codigo", "nombre", "fecha_inicio", "fecha_fin")
        .orderBy(F.desc("fecha_inicio"))
    )


@_request
def estados(tables: dict) -> DataFrame:
    """GET /api/estados (app.py:327-339): branch counts per state —
    active-only, NULL states excluded (P4 + A8), ordered by estado."""
    return (
        _active(_table(tables, "sucursales"))
        .filter(F.col("estado").isNotNull())
        .groupBy("estado")
        .agg(F.count(F.lit(1)).cast("long").alias("total"))
        .orderBy("estado")
    )


@_request
def periodo_contexto(tables: dict, tipo: str = "operativas", hoy=None) -> DataFrame:
    """GET /api/periodo-contexto/<tipo> (app.py:211-305): resolve the
    dashboard's active period and its coverage progress — the first
    endpoint the frontend calls on every load.

    Three-level resolution, exactly the reference's fallback chain,
    expressed as ONE lazy plan (no driver-side branching): each level
    contributes candidate rows tagged with a priority + metodo label —
    1 'fecha' (fecha_inicio <= hoy <= fecha_fin), 2 'activo' (the
    activo flag), 3 'ultimo_con_datos' (periods with supervisions in
    the tipo fact, A9 semi-join) — and a single TakeOrderedAndProject
    picks (priority ASC, fecha_inicio DESC, id DESC). Ties on
    fecha_inicio are unspecified in the reference (plain ORDER BY ...
    LIMIT 1); id DESC makes them deterministic here.

    The result is one row: the period columns + metodo + the progreso
    block (supervisadas = COUNT(DISTINCT sucursal_id) in the period,
    total = active branch count with the reference's ``or 86``
    zero-fallback app.py:287, porcentaje half-up 1dp). An EMPTY frame
    means the reference would return periodo_actual=None (caller
    applies its static default progreso). ``hoy`` must be passed
    explicitly (the reference uses date.today(); injecting it keeps
    the plan deterministic and testable).
    """
    if hoy is None:
        raise ValueError("pass hoy explicitly (the reference's date.today())")
    p = _table(tables, "periodos_cas").select(
        "id", "codigo", "nombre", "fecha_inicio", "fecha_fin", "activo"
    )
    f = _fact(tables, tipo, None)
    base_cols = ["id", "codigo", "nombre", "fecha_inicio", "fecha_fin"]
    c1 = (
        p.filter(
            (F.col("fecha_inicio") <= F.lit(hoy))
            & (F.col("fecha_fin") >= F.lit(hoy))
        )
        .select(*base_cols)
        .withColumn("prio", F.lit(1))
        .withColumn("metodo", F.lit("fecha"))
    )
    c2 = (
        p.filter(F.coalesce(F.col("activo"), F.lit(False)))
        .select(*base_cols)
        .withColumn("prio", F.lit(2))
        .withColumn("metodo", F.lit("activo"))
    )
    c3 = (
        p.join(
            f.select("periodo_id"), p.id == F.col("periodo_id"), "left_semi"
        )
        .select(*base_cols)
        .withColumn("prio", F.lit(3))
        .withColumn("metodo", F.lit("ultimo_con_datos"))
    )
    best = (
        c1.unionByName(c2)
        .unionByName(c3)
        .orderBy(F.asc("prio"), F.desc("fecha_inicio"), F.desc("id"))
        .limit(1)
    )
    sup = f.groupBy("periodo_id").agg(
        F.countDistinct("sucursal_id").cast("long").alias("supervisadas")
    )
    tot = _active(_table(tables, "sucursales")).agg(
        F.count(F.lit(1)).cast("long").alias("n_activas")
    )
    return (
        best.join(sup, best.id == sup.periodo_id, "left")
        .crossJoin(tot)
        .select(
            *base_cols,
            "metodo",
            F.coalesce(F.col("supervisadas"), F.lit(0))
            .cast("long")
            .alias("supervisadas"),
            F.when(F.col("n_activas") == 0, F.lit(86))
            .otherwise(F.col("n_activas"))
            .cast("long")
            .alias("total"),
        )
        .withColumn(
            "porcentaje",
            F.coalesce(
                pct_of(F.col("supervisadas"), F.col("total")), F.lit(0.0)
            ),
        )
    )


@_request
def periodos_selector(tables: dict, n: int = 6) -> DataFrame:
    """The periodo-contexto selector list (app.py:269-274): latest n
    periods by fecha_inicio DESC (id DESC deterministic tiebreak)."""
    return (
        _table(tables, "periodos_cas")
        .select("id", "codigo", "nombre", "fecha_inicio", "fecha_fin")
        .orderBy(F.desc("fecha_inicio"), F.desc("id"))
        .limit(n)
    )


def health(spark: SparkSession) -> DataFrame:
    """GET /api/health (S8, app.py:1287)."""
    return spark.sql("SELECT 1 AS ok")


@_request
def preview(tables: dict, table_name: str, n: int = 100) -> DataFrame:
    """Admin table preview behind the P9 allowlist (app.py:1310-1318).

    Which ``n`` rows come back is unspecified (a ``LIMIT`` with no
    order, as in the reference), so this endpoint alone is exempt from
    :func:`_table`'s row-order precondition."""
    if table_name not in PREVIEW_ALLOWLIST:
        raise ValueError(f"table not allowed: {table_name}")
    return _table(tables, table_name).limit(n)


@_request
def set_periodo_activo(tables: dict, periodo_id: int) -> DataFrame:
    """POST /admin/set-periodo (§3.3, app.py:165-183): deactivate all
    periods, activate one — expressed as a single conditional overwrite
    of the 8-row dim (etl.pipeline.set_active_period). The caller
    persists the returned frame to the periodos sink; existence is
    validated here so a bad id fails loudly instead of deactivating
    everything."""
    from epl_cas_etl_2026_spark.etl.pipeline import set_active_period

    p = _table(tables, "periodos_cas")
    if p.filter(F.col("id") == periodo_id).limit(1).count() == 0:
        raise ValueError(f"periodo {periodo_id} does not exist")
    return set_active_period(p, periodo_id)
