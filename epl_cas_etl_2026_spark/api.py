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

Scale: dims broadcast (20/86/29 rows); facts shuffle once per
aggregate grain; every ranking window is post-aggregation
(entity-grained) and guarded by competition_rank's row-count check.
"""

from __future__ import annotations

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
from epl_cas_etl_2026_spark.operators.ranking import competition_rank
from epl_cas_etl_2026_spark.operators.reshape import pivot_matrix

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


def _fact(tables: dict, tipo: str, periodo_id: int | None) -> DataFrame:
    if tipo not in FACT_TABLES:
        raise ValueError(f"tipo must be one of {sorted(FACT_TABLES)}")
    f = tables[FACT_TABLES[tipo]]
    if periodo_id is not None:
        # filter the FACT side pre-join — the J2 ON-clause trap:
        # a post-join WHERE would drop zero-supervision dim rows
        f = f.filter(F.col("periodo_id") == periodo_id)
    return f


def _active(df: DataFrame) -> DataFrame:
    return df.filter(F.coalesce(F.col("activo"), F.lit(False)))


def _territorio_keep(filtro: str) -> tuple:
    """The reference's territory filter is INCLUSIVE (app.py:486-492,
    1167-1171): 'local' keeps local+mixto, 'foranea' keeps
    foranea+mixto, 'mixto' keeps only mixto."""
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
    g = _active(tables["grupos_operativos"]).select(
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
    filtered = territorio_filtro is not None and territorio_filtro != "todas"
    if filtered:
        g = g.filter(
            F.col("territorio").isin(*_territorio_keep(territorio_filtro))
        )
    s = _active(tables["sucursales"]).select(
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
    # per-member-group partials first (branches belong to exactly one
    # group, so per-group distincts sum exactly across the collapse)
    per_group = base.groupBy(
        "grupo_id", "entidad", "is_agrup", "in_like", "territorio"
    ).agg(
        F.sum(F.col("calificacion_general").cast("decimal(18,6)")).alias("sum_calif"),
        F.count("calificacion_general").cast("long").alias("n_calif"),
        F.count("sup_id").cast("long").alias("n_sup"),
        F.countDistinct("sucursal_id").cast("long").alias("suc_all"),
        F.countDistinct(
            F.when(F.col("sup_id").isNotNull(), F.col("sucursal_id"))
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
    g = _active(tables["grupos_operativos"]).select(
        F.col("id").alias("grupo_id"),
        F.col("nombre"),
        F.when(
            F.upper(F.col("nombre")).startswith("PLOG"), F.lit("PLOG")
        ).alias("entidad"),
        territorio(F.col("nombre")).alias("territorio"),
    ).filter(F.col("entidad").isNotNull())
    s = _active(tables["sucursales"]).select(
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
    from epl_cas_etl_2026_spark.operators.ranking import intra_group_rank

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
    s = _active(tables["sucursales"]).select(
        F.col("id").alias("sucursal_id"),
        F.col("nombre").alias("sucursal"),
        "grupo_operativo_id",
        F.col("clasificacion").alias("raw_clasificacion"),
    )
    if grupo_id is not None:
        s = s.filter(F.col("grupo_operativo_id") == grupo_id)
    if territorio_filtro is not None and territorio_filtro != "todas":
        if territorio_filtro not in ("local", "foranea", "mixto"):
            raise ValueError(
                "territorio_filtro must be local/foranea/mixto/todas, "
                f"got {territorio_filtro!r}"
            )
        # 'mixto' applies NO filter here — the reference's sucursales
        # endpoint handles only 'local'/'foranea' (app.py:698-701), so
        # 'mixto' falls through unfiltered (preserved quirk); unknown
        # values raise instead of silently returning everything
        col_value = {"local": "local", "foranea": "foraneo"}.get(
            territorio_filtro
        )
        if col_value is not None:
            s = s.filter(F.col("raw_clasificacion") == col_value)
    g = tables["grupos_operativos"].select(
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
    g = _active(tables["grupos_operativos"]).select(
        F.col("id").alias("grupo_id"), F.col("nombre").alias("grupo")
    )
    # None and 'todas' both mean unfiltered, matching the
    # territorio_filtro convention of ranking_grupos/ranking_sucursales
    if territorio is not None and territorio != "todas":
        if territorio not in ("local", "foranea", "mixto"):
            raise ValueError(
                "territorio must be local/foranea/mixto/todas, "
                f"got {territorio!r}"
            )
        # app.py:1167-1171 has no 'mixto' branch — that value falls
        # through unfiltered (preserved quirk); only local/foranea
        # apply the inclusive keep-set
        if territorio != "mixto":
            g = g.filter(
                territorio_col(F.col("grupo")).isin(
                    *_territorio_keep(territorio)
                )
            )
    p = tables["periodos_cas"].select(
        F.col("id").alias("periodo_id"),
        F.col("codigo"),
        F.col("fecha_inicio"),
    )
    s = _active(tables["sucursales"]).select(
        F.col("id").alias("sucursal_id"), "grupo_operativo_id"
    )
    f = _fact(tables, tipo, None).select(
        "sucursal_id", "periodo_id", "calificacion_general"
    )
    cell = (
        f.join(s, "sucursal_id")
        .join(g, s.grupo_operativo_id == g.grupo_id)
        # explicit broadcasts: inside a persisted subtree Catalyst
        # plans without AQE's runtime stats, and the 3-row periodos
        # dim was observed to fall back to a sort-merge join
        .join(F.broadcast(p), "periodo_id")
        .groupBy("grupo", "codigo")
        .agg(det_avg(F.col("calificacion_general")).alias("promedio"))
    )
    # J4 densification: EVERY active group appears, even with zero
    # supervisions anywhere — the reference builds the grid with a
    # CROSS JOIN (app.py:1141-1151) and hangs facts on it; a facts-only
    # matrix would silently drop never-supervised groups
    grid = g.select("grupo").crossJoin(p.select("codigo"))
    dense = grid.join(cell, ["grupo", "codigo"], "left")
    # ONE grouping-sets pass over the densified matrix replaces the
    # three separate consumers (pivot cells, per-group overall, EPL
    # row) — the fact aggregation runs once and the dim-grained frame
    # shuffles once instead of three times (measured 19 → 5
    # executed-plan exchanges at domain scale, hash-identical):
    #   gid 0 = (grupo, codigo): the matrix cells (pivot input);
    #   gid 1 = (grupo): per-group overall — A11, the unweighted mean
    #           of that group's period averages (NULL cells skipped;
    #           a never-supervised group keeps a NULL overall);
    #   gid 2 = (codigo): the EPL CAS row — A12, the unweighted mean
    #           over group averages per period.
    # localCheckpoint (lazy), NOT persist: three downstream branches
    # read marg; blocks release when the frame is garbage-collected,
    # so repeated invocations don't accumulate cache entries the way
    # .persist() would (the sync_job precedent); the frame is
    # ~4×|groups|×|periods| rows.
    marg = (
        dense.groupingSets(
            [["grupo", "codigo"], ["grupo"], ["codigo"]],
            "grupo",
            "codigo",
        )
        .agg(
            det_avg(F.col("promedio")).alias("promedio"),
            F.grouping_id().alias("gid"),
        )
        .localCheckpoint(eager=False)
    )
    cells = marg.filter(F.col("gid") == 0).select(
        "grupo", "codigo", "promedio"
    )
    epl_p = marg.filter(F.col("gid") == 2).select(
        F.lit("EPL CAS").alias("grupo"), "codigo", "promedio"
    )
    # the EPL row's own overall is the mean of ITS period values —
    # the reference accumulates epl_cas from the already-averaged
    # period entries (app.py:1190-1196); |periods| rows
    epl_overall = epl_p.groupBy("grupo").agg(
        det_avg(F.col("promedio")).alias("promedio_general")
    )
    long_df = cells.unionByName(epl_p)
    codes = [
        r.codigo
        for r in p.orderBy("fecha_inicio", "codigo").collect()
    ]
    wide = pivot_matrix(
        long_df, row_key="grupo", col_key="codigo",
        value_col="promedio", col_values=codes,
    )
    overall = marg.filter(F.col("gid") == 1).select(
        "grupo", F.col("promedio").alias("promedio_general")
    ).unionByName(epl_overall)
    # both sides are entity-grained (|groups|+1 rows); broadcast keeps
    # the final join shuffle-free (without the hint the checkpointed
    # marg frame hides cardinality from AQE and Catalyst picks a
    # sort-merge)
    return wide.join(F.broadcast(overall), "grupo").orderBy("grupo")


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
    f_all = tables[FACT_TABLES[tipo]]
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
    tot_s = _active(tables["sucursales"]).agg(
        F.count(F.lit(1)).cast("long").alias("total_sucursales")
    )
    tot_g = _active(tables["grupos_operativos"]).agg(
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
        _active(tables["sucursales"])
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
    g = tables["grupos_operativos"].select(
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


def alerts(
    tables: dict, tipo: str = "operativas", periodo_id: int | None = None
) -> DataFrame:
    """GET /api/alertas/<tipo> (app.py:1215-1280): critical branches
    (avg < 70) and warning groups (70 <= avg < 80) — the A7 HAVING
    shape, labeled and unioned (U1).

    Join/filter placement mirrors the reference exactly:

    - critical: sucursales INNER JOIN grupos_operativos (no
      g.activo filter — an inactive group's branches still alert, but
      a branch with a dangling/NULL group does NOT) with
      WHERE s.activo = true (app.py:1227-1232);
    - warning: grupos_operativos (g.activo = true) INNER JOIN
      sucursales with NO s.activo filter — inactive branches' scores
      count toward the group average (app.py:1251-1256).
    """
    s_all = tables["sucursales"].select(
        F.col("id").alias("sucursal_id"),
        F.col("nombre").alias("s_nombre"),
        "grupo_operativo_id",
        F.coalesce(F.col("activo"), F.lit(False)).alias("s_activo"),
    )
    g_all = tables["grupos_operativos"].select(
        F.col("id").alias("g_id"),
        F.col("nombre").alias("g_nombre"),
        F.coalesce(F.col("activo"), F.lit(False)).alias("g_activo"),
    )
    f = _fact(tables, tipo, periodo_id).select(
        "sucursal_id", "calificacion_general"
    )
    branch_avg = (
        f.join(s_all.filter("s_activo"), "sucursal_id")
        .join(g_all, F.col("grupo_operativo_id") == F.col("g_id"))
        .groupBy("sucursal_id", "s_nombre")
        .agg(det_avg(F.col("calificacion_general")).alias("promedio"))
    )
    critical = branch_avg.filter(F.col("promedio") < 70).select(
        F.lit("critico").alias("nivel"),
        F.col("s_nombre").alias("entidad"),
        F.col("promedio"),
    )
    group_avg = (
        f.join(s_all, "sucursal_id")
        .join(
            g_all.filter("g_activo"),
            F.col("grupo_operativo_id") == F.col("g_id"),
        )
        .groupBy("g_id", "g_nombre")
        .agg(det_avg(F.col("calificacion_general")).alias("promedio"))
    )
    warning = group_avg.filter(
        (F.col("promedio") >= 70) & (F.col("promedio") < 80)
    ).select(
        F.lit("advertencia").alias("nivel"),
        F.col("g_nombre").alias("entidad"),
        F.col("promedio"),
    )
    return critical.unionByName(warning).orderBy(
        "nivel", "promedio", "entidad"
    )


def branch_latest(
    tables: dict,
    sucursal_id: int,
    tipo: str = "operativas",
    periodo_id: int | None = None,
) -> DataFrame:
    """GET /api/sucursal/<id>/<tipo> latest supervision (app.py:846-858
    — W4: row_number over fecha DESC, id DESC tie-break) with color
    class; optional period filter (app.py:852-854)."""
    from pyspark.sql import Window

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


def branch_trend(
    tables: dict, sucursal_id: int, tipo: str = "operativas", n: int = 4
) -> DataFrame:
    """Trend: last-n supervisions per branch reversed to chronological
    order (W5, app.py:938-960)."""
    from pyspark.sql import Window

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
    "operativas": ("supervision_areas", "catalogo_areas", "area_id"),
    "seguridad": ("seguridad_kpis", "catalogo_kpis_seguridad", "kpi_id"),
}


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
    detail = tables[detail_name]
    cat = tables[catalog_name]
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


def sucursal_info(tables: dict, sucursal_id: int) -> DataFrame:
    """GET /api/sucursal/<id>/<tipo> header block (app.py:829-836):
    the branch row with its group LEFT-joined (no activo filters —
    the detail header shows inactive branches/groups too)."""
    s = tables["sucursales"].filter(F.col("id") == sucursal_id).select(
        "id", "nombre", "numero", "estado", "ciudad", "grupo_operativo_id"
    )
    g = tables["grupos_operativos"].select(
        F.col("id").alias("grupo_id"), F.col("nombre").alias("grupo_nombre")
    )
    return s.join(
        F.broadcast(g), s.grupo_operativo_id == g.grupo_id, "left"
    ).select(
        "id", "nombre", "numero", "estado", "ciudad",
        "grupo_nombre", "grupo_id",
    )


def periodos_list(tables: dict, n: int = 10) -> DataFrame:
    """GET /api/periodos (app.py:307-325): the raw period rows, latest
    n by id DESC (the reference's SELECT * ... ORDER BY id DESC
    LIMIT 10)."""
    return tables["periodos_cas"].orderBy(F.desc("id")).limit(n)


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
        _active(tables["sucursales"])
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
    g = tables["grupos_operativos"].filter(F.col("id") == grupo_id).select(
        F.col("id").alias("gid"), F.col("nombre")
    )
    s_all = tables["sucursales"].select(
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
    "operativas": ("supervision_areas", "catalogo_areas", "area_id", "numero"),
    "seguridad": ("supervision_kpis", "catalogo_kpis", "kpi_id", "id"),
}


def supervision_header(
    tables: dict, supervision_id: int, tipo: str = "operativas"
) -> DataFrame:
    """GET /api/supervision/<id>/areas/<tipo> header (app.py:972-979,
    1015-1024): the supervision row with its period name LEFT-joined,
    the ``x if x else 0`` score coalescing, and the dd/MM/yyyy date
    label ('-' when NULL)."""
    f = _fact(tables, tipo, None).filter(F.col("id") == supervision_id)
    p = tables["periodos_cas"].select(
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
    detail = tables[detail_name].filter(
        F.col("supervision_id") == supervision_id
    )
    cat = tables[catalog_name]
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


def periodos_with_data(tables: dict, tipo: str = "operativas") -> DataFrame:
    """Periods having supervisions — the reference's GROUP-BY-all-cols
    dedup expressed as a left-semi join (A9, app.py:253-259)."""
    p = tables["periodos_cas"]
    f = _fact(tables, tipo, None).select("periodo_id")
    return (
        p.join(f, p.id == f.periodo_id, "left_semi")
        .select("id", "codigo", "nombre", "fecha_inicio", "fecha_fin")
        .orderBy(F.desc("fecha_inicio"))
    )


def estados(tables: dict) -> DataFrame:
    """GET /api/estados (app.py:327-339): branch counts per state —
    active-only, NULL states excluded (P4 + A8), ordered by estado."""
    return (
        _active(tables["sucursales"])
        .filter(F.col("estado").isNotNull())
        .groupBy("estado")
        .agg(F.count(F.lit(1)).cast("long").alias("total"))
        .orderBy("estado")
    )


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
    p = tables["periodos_cas"].select(
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
    tot = _active(tables["sucursales"]).agg(
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


def periodos_selector(tables: dict, n: int = 6) -> DataFrame:
    """The periodo-contexto selector list (app.py:269-274): latest n
    periods by fecha_inicio DESC (id DESC deterministic tiebreak)."""
    return (
        tables["periodos_cas"]
        .select("id", "codigo", "nombre", "fecha_inicio", "fecha_fin")
        .orderBy(F.desc("fecha_inicio"), F.desc("id"))
        .limit(n)
    )


def health(spark: SparkSession) -> DataFrame:
    """GET /api/health (S8, app.py:1287)."""
    return spark.sql("SELECT 1 AS ok")


def preview(tables: dict, table_name: str, n: int = 100) -> DataFrame:
    """Admin table preview behind the P9 allowlist (app.py:1310-1318)."""
    if table_name not in PREVIEW_ALLOWLIST:
        raise ValueError(f"table not allowed: {table_name}")
    return tables[table_name].limit(n)


def set_periodo_activo(tables: dict, periodo_id: int) -> DataFrame:
    """POST /admin/set-periodo (§3.3, app.py:165-183): deactivate all
    periods, activate one — expressed as a single conditional overwrite
    of the 8-row dim (etl.pipeline.set_active_period). The caller
    persists the returned frame to the periodos sink; existence is
    validated here so a bad id fails loudly instead of deactivating
    everything."""
    from epl_cas_etl_2026_spark.etl.pipeline import set_active_period

    p = tables["periodos_cas"]
    if p.filter(F.col("id") == periodo_id).limit(1).count() == 0:
        raise ValueError(f"periodo {periodo_id} does not exist")
    return set_active_period(p, periodo_id)
