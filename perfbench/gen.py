"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same
arguments write byte-identical files (checked by ``selftest.py``).
Each returns the facts the workload's output checks need, computed
from the generated arrays themselves, never from the engine.

* :func:`testdata_tables` — the TPC-H-ish parquet tables the
  benchmarked registered queries read (the schemas of
  ``schemas.TESTDATA_SCHEMAS``, value distributions of the testdata
  at sf0.01). The testdata itself is not part of a checkout, and
  ``tools/gen_sf1.py`` writes sf1 with a fixed seed, so the same
  per-table code is kept here with seed and size as parameters; it
  also stays fixed when that tool changes.
* :func:`domain_warehouse` — the dashboard's domain warehouse
  (groups, periods, branches, both supervision facts, area/KPI detail
  and catalogs) with every column of ``schemas.py``.
* :func:`zenput_day` — one day of Zenput-shaped JSONL submissions,
  with in-batch and late re-deliveries and missing locations
  (:func:`sync_dims` gives the matching branches, periods, catalog).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# analytics: the registered queries' tables
# --------------------------------------------------------------------------

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_W = [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "error", "purchase", "signup", "view"]

#: row counts of the sf0.01 testdata generation
ANALYTICS_SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "events": 10000, "event_users": 150, "documents": 500,
}


def _write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _days_ts(rng, n, start, end):
    s = np.datetime64(start)
    d = int((np.datetime64(end) - s) / np.timedelta64(1, "D"))
    days = rng.integers(0, d + 1, n).astype("timedelta64[D]")
    return (s + days).astype("datetime64[us]")


def testdata_tables(out: str, seed: int, scale: float = 1.0) -> dict:
    """Write the query tables to ``out``; ``scale`` multiplies the
    sf0.01 row counts. Returns the row count of each table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in ANALYTICS_SIZES.items()}
    counts = {}

    def put(name, cols):
        t = pa.table(cols)
        _write(out, name, t)
        counts[name] = t.num_rows

    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = np.arange(n["supplier"])
    put("supplier", {
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, len(k)).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, len(k)), 2),
    })
    k = np.arange(n["part"])
    adj = np.array(ADJ)[rng.integers(0, len(ADJ), len(k))]
    noun = np.array(NOUN)[rng.integers(0, len(NOUN), len(k))]
    put("part", {
        "p_partkey": k,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, len(k))
        ],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, len(k))],
        "p_size": rng.integers(1, 51, len(k)).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, len(k)), 2),
    })
    ok = np.arange(n["orders"])
    put("orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], len(ok)),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, len(ok))],
        "o_totalprice": np.round(rng.uniform(1000, 500000, len(ok)), 2),
        "o_orderdate": _days_ts(rng, len(ok), "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, len(ok))],
    })
    lines_per = rng.integers(1, 8, len(ok))
    l_ok = np.repeat(ok, lines_per)
    n_li = len(l_ok)
    put("lineitem", {
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(0, n["part"], n_li),
        "l_suppkey": rng.integers(0, n["supplier"], n_li),
        "l_linenumber": np.concatenate(
            [np.arange(1, m + 1) for m in lines_per]
        ).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days_ts(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    ne = n["events"]
    gaps = rng.exponential(30 * 86400 / ne, ne)
    ts = np.datetime64("2024-01-01") + (np.cumsum(gaps) * 1e6).astype(
        "timedelta64[us]"
    )
    put("events", {
        "event_id": np.arange(ne),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n["event_users"], ne),
        "event_type": np.array(ETYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [json.dumps({"k": int(x)}) for x in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    w = np.array(VOCAB)
    texts = []
    for i, m in enumerate(rng.integers(10, 101, nd)):
        if i and rng.random() < 0.2:
            # a near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(w[rng.integers(0, len(w), m)]))
    put("documents", {
        "doc_id": np.arange(nd),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), nd, p=LANG_W)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return counts


# --------------------------------------------------------------------------
# dashboard: the domain warehouse
# --------------------------------------------------------------------------

#: group base names; the first eight classify 'local', the next three
#: 'mixto' (functions.scalars.territorio keywords), the rest 'foranea'
GRUPO_BASES = [
    "TEPEYAC", "OGAS", "EFM", "EPL SO", "PLOG NUEVO LEON", "GRUPO CENTRITO",
    "GRUPO SABINAS HIDALGO", "GRUPO CADE", "TEC", "EXPO", "GRUPO SALTILLO",
    "PLOG LAGUNA", "PLOG QUERETARO", "GRUPO RIO BRAVO", "GRUPO NAVARREZ",
    "GRUPO MATAMOROS", "CRR", "RAP", "OCHTER", "GRUPO PIEDRAS NEGRAS",
    "GRUPO CANTERA ROSA", "GRUPO REYNOSA", "HUASTECA", "SOLIS", "PENINSULA",
]
ESTADOS = [
    "Nuevo Leon", "Coahuila", "Tamaulipas", "Queretaro", "Durango",
    "Michoacan", "Sinaloa", "Sonora", "Yucatan", "Jalisco",
]
CLASIFICACIONES = ["local", "foranea", "mixto", None]
SUPERVISORES = [f"Supervisor {i:02d}" for i in range(40)]
AREAS = [
    "CUARTO FRIO", "FREIDORAS", "HORNOS", "SANITARIOS", "COCINA",
    "ALMACEN", "CAJA", "COMEDOR", "ESTACIONAMIENTO", "EXTERIOR",
    "PERSONAL", "LIMPIEZA", "BEBIDAS", "MOSTRADOR", "REFRIGERADORES",
    "PLANCHA", "HIELO", "MARINADO", "ASADOR", "SERVICIO AL CLIENTE",
]
KPIS = [
    "EXTINTORES", "BOTIQUIN", "SALIDAS DE EMERGENCIA", "SENALETICA",
    "INSTALACION ELECTRICA", "GAS", "ALARMAS", "CAPACITACION",
]
#: the fixed "today" periodo_contexto resolves against (inside the
#: last generated period)
HOY = dt.date(2026, 3, 15)
PERIODOS = [
    (1, "T1-25", "Trimestre 1 2025", dt.date(2025, 1, 1), dt.date(2025, 3, 31)),
    (2, "T2-25", "Trimestre 2 2025", dt.date(2025, 4, 1), dt.date(2025, 6, 30)),
    (3, "T3-25", "Trimestre 3 2025", dt.date(2025, 7, 1), dt.date(2025, 9, 30)),
    (4, "T4-25", "Trimestre 4 2025", dt.date(2025, 10, 1), dt.date(2025, 12, 31)),
    (5, "T1-26", "Trimestre 1 2026", dt.date(2026, 1, 1), dt.date(2026, 3, 31)),
]

DOMAIN_SIZES = {"sucursales": 5000, "supervisiones": 50000, "areas_per_sup": 4}


def _catalog(names):
    return pa.table({
        "id": pa.array(range(1, len(names) + 1), pa.int32()),
        "codigo": [f"C{i:02d}" for i in range(1, len(names) + 1)],
        "nombre": names,
        "numero": pa.array(range(1, len(names) + 1), pa.int32()),
    })


def domain_warehouse(out: str, seed: int, scale: float = 1.0) -> dict:
    """Write the dashboard's domain tables to ``out`` (one parquet per
    ``tables`` key ``api.py`` reads). Returns the facts the output
    checks use."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_suc = max(50, int(DOMAIN_SIZES["sucursales"] * scale))
    n_sup = max(500, int(DOMAIN_SIZES["supervisiones"] * scale))

    g_ids = np.arange(1, len(GRUPO_BASES) + 1, dtype=np.int32)
    g_activo = np.ones(len(g_ids), bool)
    g_activo[rng.choice(len(g_ids), 2, replace=False)] = False
    _write(out, "grupos_operativos", pa.table({
        "id": g_ids, "nombre": GRUPO_BASES, "activo": g_activo,
    }))
    _write(out, "periodos_cas", pa.table({
        "id": pa.array([p[0] for p in PERIODOS], pa.int32()),
        "codigo": [p[1] for p in PERIODOS],
        "nombre": [p[2] for p in PERIODOS],
        "fecha_inicio": pa.array([p[3] for p in PERIODOS], pa.date32()),
        "fecha_fin": pa.array([p[4] for p in PERIODOS], pa.date32()),
        "activo": [p[0] == 4 for p in PERIODOS],
    }))

    s_ids = np.arange(1, n_suc + 1, dtype=np.int32)
    # skewed group sizes: a few large operators, a long tail
    g_w = rng.dirichlet(np.full(len(g_ids), 0.8))
    s_grupo = rng.choice(g_ids, n_suc, p=g_w).astype(np.int32)
    s_activo = rng.random(n_suc) > 0.05
    estado = np.array(ESTADOS, dtype=object)[rng.integers(0, len(ESTADOS), n_suc)]
    estado[rng.random(n_suc) < 0.02] = None
    clas = np.array(CLASIFICACIONES, dtype=object)[
        rng.choice(4, n_suc, p=[0.5, 0.3, 0.1, 0.1])
    ]
    lat = np.round(rng.uniform(18.0, 30.0, n_suc), 6)
    lon = np.round(rng.uniform(-110.0, -88.0, n_suc), 6)
    no_geo = rng.random(n_suc) < 0.03
    _write(out, "sucursales", pa.table({
        "id": s_ids,
        "nombre": [f"Sucursal {i}" for i in s_ids],
        "numero": [str(i) for i in s_ids],
        "estado": pa.array(estado, pa.string()),
        "ciudad": [f"Ciudad {i % 300}" for i in s_ids],
        "grupo_operativo_id": s_grupo,
        "activo": s_activo,
        "clasificacion": pa.array(clas, pa.string()),
        "latitud": pa.array(np.where(no_geo, np.nan, lat), from_pandas=True),
        "longitud": pa.array(np.where(no_geo, np.nan, lon), from_pandas=True),
        "zenput_location_id": [f"LOC-{i:06d}" for i in s_ids],
    }))

    p_start = np.datetime64(PERIODOS[0][3])
    span = int((np.datetime64(PERIODOS[-1][4]) - p_start) / np.timedelta64(1, "s"))
    facts = {"n_sup": n_sup, "hoy": HOY, "sup_ids": {}, "n_areas": {}}
    for tipo, id_base in (("operativas", 0), ("seguridad", 10_000_000)):
        ids = np.arange(id_base + 1, id_base + n_sup + 1, dtype=np.int64)
        secs = np.sort(rng.integers(0, span, n_sup))
        fecha = (p_start + secs.astype("timedelta64[s]")).astype("datetime64[us]")
        days = (fecha.astype("datetime64[D]") - p_start).astype(np.int64)
        bounds = np.array(
            [(np.datetime64(p[4]) - p_start).astype(np.int64) for p in PERIODOS]
        )
        periodo = (np.searchsorted(bounds, days) + 1).astype(np.int32)
        periodo_null = rng.random(n_sup) < 0.01
        score = np.round(np.clip(rng.normal(84.0, 9.0, n_sup), 0, 100), 2)
        score_null = rng.random(n_sup) < 0.02
        score[rng.random(n_sup) < 0.005] = 0.0
        _write(out, f"supervisiones_{tipo}", pa.table({
            "id": ids,
            "zenput_submission_id": [str(9_000_000_000 + i) for i in ids],
            "sucursal_id": rng.integers(1, n_suc + 1, n_sup).astype(np.int32),
            "periodo_id": pa.array(np.where(periodo_null, 0, periodo), mask=periodo_null),
            "supervisor": np.array(SUPERVISORES)[rng.integers(0, len(SUPERVISORES), n_sup)],
            "fecha_supervision": fecha,
            "calificacion_general": pa.array(score, mask=score_null),
            "lat_entrega": np.round(rng.uniform(18.0, 30.0, n_sup), 6),
            "lon_entrega": np.round(rng.uniform(-110.0, -88.0, n_sup), 6),
        }))
        facts["sup_ids"][tipo] = (int(ids[0]), int(ids[-1]))

    # per-supervision detail: areas for operativas, kpis for seguridad
    # (both the /areas and the by-id drill-down pairs)
    details = (
        ("supervision_areas", "area_id", len(AREAS), 0, DOMAIN_SIZES["areas_per_sup"]),
        ("seguridad_kpis", "kpi_id", len(KPIS), 10_000_000, 2),
        ("supervision_kpis", "kpi_id", len(KPIS), 10_000_000, 2),
    )
    for name, fk, n_items, id_base, per in details:
        k = rng.integers(max(1, per - 2), per + 3, n_sup)
        sup = np.repeat(np.arange(id_base + 1, id_base + n_sup + 1, dtype=np.int64), k)
        # distinct items per supervision: a random offset walked by k
        first = np.repeat(rng.integers(0, n_items, n_sup), k)
        step = np.concatenate([np.arange(m) for m in k])
        item = ((first + step) % n_items + 1).astype(np.int32)
        pct = np.round(rng.uniform(40.0, 100.0, len(sup)), 2)
        _write(out, name, pa.table({
            "supervision_id": sup, fk: item,
            "porcentaje": pa.array(pct, mask=rng.random(len(sup)) < 0.01),
        }))
        facts["n_areas"][name] = np.bincount(sup - id_base, minlength=n_sup + 1)
    _write(out, "catalogo_areas", _catalog(AREAS))
    _write(out, "catalogo_kpis_seguridad", _catalog(KPIS))
    _write(out, "catalogo_kpis", _catalog(KPIS))
    facts.update(
        n_suc=n_suc, grupo_ids=[int(g) for g in g_ids],
        estados_activos=len({e for e, a in zip(estado, s_activo) if a and e}),
    )
    return facts


# --------------------------------------------------------------------------
# sync: the Zenput landing feed
# --------------------------------------------------------------------------

#: first day of the backfill window
FEED_START = dt.date(2026, 1, 1)


def sync_dims(n_suc: int):
    """(sucursales, periodos, catalog) rows for run_incremental_sync:
    every branch carries a Zenput location; periods are calendar
    months covering the backfill and the daily increments."""
    sucursales = [
        (i, f"Sucursal {i}", str(i), ESTADOS[i % len(ESTADOS)], f"Ciudad {i % 50}",
         1 + i % len(GRUPO_BASES), True, "local", 25.0, -100.0, f"LOC-{i:06d}")
        for i in range(1, n_suc + 1)
    ]
    periodos = [
        (m, f"M{m:02d}", f"Mes {m}", dt.date(2026, m, 1),
         dt.date(2026, m + 1, 1) - dt.timedelta(days=1), m == 1)
        for m in range(1, 12)
    ]
    catalog = [(i, f"A{i:02d}", a, i) for i, a in enumerate(AREAS[:15], start=1)]
    return sucursales, periodos, catalog


def zenput_day(landing: str, seed: int, day: int, n_subs: int, n_suc: int,
               dup_rate: float = 0.03, no_loc_rate: float = 0.03,
               late: list[str] = ()) -> dict:
    """Write day ``day`` (0-based from FEED_START) of the feed as one
    JSONL file. Submission ids are unique per (day, index); a
    ``dup_rate`` share of them is re-delivered inside the same file and
    ``late`` lines (earlier days' submissions) are delivered again.
    Returns {unique, details, max_ts, sample} for the output
    checks; ``sample`` is a few of the day's lines to re-deliver."""
    rng = np.random.default_rng([seed, day])
    date = FEED_START + dt.timedelta(days=day)
    n_areas = len(AREAS[:15])
    secs = np.sort(rng.integers(6 * 3600, 22 * 3600, n_subs))
    lines, details = [], 0
    for j in range(n_subs):
        sid = 100_000_000 + day * 100_000 + j
        ts = dt.datetime.combine(date, dt.time()) + dt.timedelta(seconds=int(secs[j]))
        k = int(rng.integers(10, n_areas + 1))
        areas = rng.choice(n_areas, k, replace=False)
        vals = np.round(rng.uniform(40.0, 100.0, k), 1)
        answers = [{
            "field_type": "formula", "title": "PORCENTAJE %",
            "value": f"{float(np.mean(vals)):.2f}",
        }]
        for a, v in zip(areas, vals):
            answers.append({
                "field_type": "formula",
                "title": f"{AREAS[a]} PORCENTAJE %",
                "value": f"{v:.1f}",
            })
        answers.append({"field_type": "text", "title": "COMENTARIOS", "value": f"obs {j}"})
        answers.append({"field_type": "text", "title": "RESPONSABLE", "value": "gerente"})
        details += k
        loc = None if rng.random() < no_loc_rate else {
            "id": f"LOC-{int(rng.integers(1, n_suc + 1)):06d}"
        }
        doc = json.dumps({
            "id": sid,
            "smetadata": {
                "location": loc,
                "created_by": {"display_name": SUPERVISORES[j % len(SUPERVISORES)]},
                "date_submitted": ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                "lat": round(float(rng.uniform(18, 30)), 5),
                "lon": round(float(rng.uniform(-110, -88)), 5),
            },
            "answers": answers,
        }, separators=(",", ":"))
        lines.append(doc)
        if rng.random() < dup_rate:
            lines.append(doc)
    sample = lines[:: max(1, len(lines) // 5)]
    lines.extend(late)
    with open(os.path.join(landing, f"zenput-{date.isoformat()}.jsonl"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return {
        "unique": n_subs, "details": details, "sample": sample,
        "max_ts": dt.datetime.combine(date, dt.time()) + dt.timedelta(seconds=int(secs[-1])),
    }
