"""The dashboard half of the ``read`` workload: one closed-loop client
sending the reference dashboard's endpoints (``epl_cas_etl_2026_spark.api``)
with seeded parameters.

The server opens each warehouse table once, with
``sources.parquet.load_table`` on first use; a request is what a route
handler does: build the endpoint's DataFrame with the ``api`` call and
``collect()`` it. An untimed prime runs every endpoint once, pins its
row count and order-insensitive digest, and checks the row counts the
generator predicts. At least :data:`MIN_ROUNDS` timed rounds then run
every endpoint once each, in seeded order, and every timed request
must reproduce its pinned output. The request latency of the mix is
the mean of each endpoint's median latency, weighted by the endpoint's
share of the mix (:data:`ENDPOINTS`), so every run measures the whole
mix and one slow sample moves it little.
"""

from __future__ import annotations

import os
import random
import time

import gen
from common import Ctx, digest, mean, p50

from epl_cas_etl_2026_spark import api
from epl_cas_etl_2026_spark.sources import parquet as sources

# the seed draws parameter values, never which filters a request
# applies, so every seed builds the same plan shapes
TIPOS = ("operativas", "seguridad")
PERIODOS = (1, 2, 3, 4, 5)
TERRITORIOS = ("local", "foranea", "mixto")

#: mix weights. Nothing records how often the reference frontend calls
#: each endpoint, so the mix is assumed and kept simple: every
#: page-load endpoint weighs the same, every drill-down half as much.
PAGE_LOAD, DRILL_DOWN = 2, 1
#: timed rounds per run at least; more while --seconds lasts
MIN_ROUNDS = 1

#: endpoint -> (weight, parameter draw)
ENDPOINTS = {
    "periodo_contexto": (PAGE_LOAD, lambda r, f: {"tipo": r.choice(TIPOS), "hoy": gen.HOY}),
    "kpis": (PAGE_LOAD, lambda r, f: _tp(r)),
    "ranking_grupos": (PAGE_LOAD, lambda r, f: {**_tp(r), "territorio_filtro": r.choice(TERRITORIOS)}),
    "ranking_sucursales": (PAGE_LOAD, lambda r, f: {**_tp(r), "territorio_filtro": r.choice(TERRITORIOS)}),
    "map_markers": (PAGE_LOAD, lambda r, f: _tp(r)),
    "alerts": (PAGE_LOAD, lambda r, f: _tp(r)),
    "estados": (PAGE_LOAD, lambda r, f: {}),
    "heatmap_matrix": (PAGE_LOAD, lambda r, f: {"tipo": r.choice(TIPOS), "territorio": r.choice(("local", "foranea"))}),
    "grupo_detalle_stats": (DRILL_DOWN, lambda r, f: {**_tp(r), "grupo_id": r.choice(f["grupo_ids"])}),
    "branch_latest": (DRILL_DOWN, lambda r, f: {**_tp(r), "sucursal_id": r.randint(1, f["n_suc"])}),
    "branch_areas": (DRILL_DOWN, lambda r, f: {**_tp(r), "sucursal_id": r.randint(1, f["n_suc"])}),
    "supervision_areas_by_id": (DRILL_DOWN, lambda r, f: _sup(r, f)),
}


def _tp(r):
    return {"tipo": r.choice(TIPOS), "periodo_id": r.choice(PERIODOS)}


def _sup(r, f):
    tipo = r.choice(TIPOS)
    lo, hi = f["sup_ids"][tipo]
    return {"tipo": tipo, "supervision_id": r.randint(lo, hi)}


def expected_rows(name: str, kw: dict, facts: dict) -> int | None:
    """Row counts that follow from the generated data alone."""
    if name in ("periodo_contexto", "kpis", "grupo_detalle_stats"):
        return 1
    if name == "estados":
        return facts["estados_activos"]
    if name == "supervision_areas_by_id":
        table, base = (("supervision_areas", 0) if kw["tipo"] == "operativas"
                       else ("supervision_kpis", 10_000_000))
        return int(facts["n_areas"][table][kw["supervision_id"] - base])
    return None


class _Tables(dict):
    """Warehouse tables, each opened with load_table on first use."""

    def __init__(self, spark, root):
        super().__init__()
        self.spark, self.root = spark, root

    def __missing__(self, name):
        df = sources.load_table(self.spark, self.root, name)
        self[name] = df
        return df


def _request(ctx: Ctx, tables: dict, name: str, kw: dict):
    tr = ctx.tracer
    with tr.span("api.build", group="build"):
        df = getattr(api, name)(tables, **kw)
    if tr.active:
        with tr.span("api.plan", group="plan"):
            df._jdf.queryExecution().executedPlan()
    with tr.span("api.exec", group="exec"):
        rows = df.collect()
    return df.columns, rows


def measure(ctx: Ctx) -> dict:
    wh = os.path.join(ctx.work, "warehouse")
    t0 = time.perf_counter()
    facts = gen.domain_warehouse(wh, ctx.seed, ctx.scale)
    t_gen = time.perf_counter() - t0
    rng = random.Random(ctx.seed)
    pool = [(name, draw(rng, facts)) for name, (_, draw) in ENDPOINTS.items()]
    # the server opens each warehouse table once, on first use
    tables = _Tables(ctx.spark, wh)

    # prime: every request once, untimed; pins its output
    pinned = []
    for name, kw in pool:
        n, d = digest(*_request(ctx, tables, name, kw))
        exp = expected_rows(name, kw, facts)
        ctx.check(exp is None or n == exp, f"{name}{kw}: {n} rows, expected {exp}")
        pinned.append((n, d))
        ctx.pacer.burst()

    t_prime = time.perf_counter() - t0 - t_gen
    # timed rounds: every request once per round, in seeded order; a
    # traced run traces every other request, and runs two rounds at
    # least so that every endpoint has a traced and an untraced request
    ops = []
    deadline = time.perf_counter() + ctx.seconds
    rounds, min_rounds = 0, 2 if ctx.trace else MIN_ROUNDS
    while time.perf_counter() < deadline or rounds < min_rounds:
        order = list(range(len(pool)))
        rng.shuffle(order)
        for k in order:
            name, kw = pool[k]
            with ctx.tracer.op("request", name, ctx.traced(k + rounds)) as op:
                out = _request(ctx, tables, name, kw)
            got = digest(*out)
            op["extra"]["rows"] = got[0]
            ctx.check(got == pinned[k], f"{name}{kw}: output differs from its pinned run")
            ops.append(op)
            ctx.pacer.burst()
        rounds += 1

    per_endpoint = {}
    for o in ops:
        if not o["traced"]:
            per_endpoint.setdefault(o["name"], []).append(o["wall_s"] * 1000.0)
    weights = {name: ENDPOINTS[name][0] for name in per_endpoint}
    mix_ms = sum(w * p50(per_endpoint[name]) for name, w in weights.items()) / sum(weights.values())
    return {"ops": ops, "per_endpoint": per_endpoint, "mix_ms": mix_ms,
            "gen_s": t_gen, "prime_s": t_prime}


def layers(ctx: Ctx, state: dict) -> dict:
    """Per-layer numbers of the traced requests (after harvest)."""
    tr = ctx.tracer
    ops = state["ops"]
    t_ops = [o for o in ops if o["traced"]]
    rows_out = [o["extra"]["rows"] for o in t_ops]
    layer = {
        "sources.rows_read_per_row_out": mean([o["input_rows"] for o in t_ops])
        / max(1.0, mean(rows_out)),
        "api.build_ms": mean([tr.span_ms(o["id"], "api.build")[1] for o in t_ops]),
        "api.build_jobs_per_req": mean([o["sub_jobs"].get("build", 0) for o in t_ops]),
        "api.plan_ms": mean([tr.span_ms(o["id"], "api.plan")[1] for o in t_ops]),
        "api.exec_ms": mean([tr.span_ms(o["id"], "api.exec")[1] for o in t_ops]),
        "api.jobs_per_req": mean([len(o["jobs"]) for o in t_ops]),
        "api.stages_per_req": mean([o["stages"] for o in t_ops]),
        "api.tasks_per_req": mean([o["tasks"] for o in t_ops]),
        "api.rows_out_per_req": mean(rows_out),
    }
    for name in ENDPOINTS:
        layer[f"api.{name}.p50_ms"] = p50(state["per_endpoint"].get(name, []))
    return layer
