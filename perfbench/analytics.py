"""The analytics half of the ``read`` workload: registered queries
(``plans.QUERIES``) over generated sf0.01-sized tables, in a seeded
order, in one long-lived session (no cache clearing between queries).

One timed pass runs every query once, its first run in the session,
and collects the result; outside the timed region the result's row
count and order-insensitive digest are compared with the query's
DuckDB oracle (``plans.ORACLES``) over the same parquet files.
"""

from __future__ import annotations

import inspect
import os
import random
import sys

import duckdb
import gen
from common import Ctx, digest, mean

from epl_cas_etl_2026_spark.plans import ORACLES, QUERIES
from epl_cas_etl_2026_spark.sources import parquet as sources

#: scans, joins, windows and aggregates
RELATIONAL = (
    "pricing_summary", "product_profit_q9",
    "orders_trailing_30d_range_frame", "events_user_sessions",
)
#: a query dominated by the similarity operators
OPERATORS = ("docs_simhash_band_sweep",)


def _wrap_layers(tr) -> None:
    """Spans around the plans modules' calls into sources.load_table
    and into the operators package (public functions, whether the
    plans import them at module level or inside a query)."""
    tr.wrap(sources, "load_table", "sources.load_table")
    for mname, mod in list(sys.modules.items()):
        if mod is None or not mname.startswith(
            ("epl_cas_etl_2026_spark.plans.", "epl_cas_etl_2026_spark.operators.")
        ):
            continue
        for attr, val in list(vars(mod).items()):
            if getattr(val, "__wrapped__", None) is not None:
                val = val.__wrapped__
            if val is sources.load_table.__wrapped__:
                tr.wrap(mod, attr, "sources.load_table")
            elif (inspect.isfunction(val) and not attr.startswith("_")
                  and val.__module__.startswith("epl_cas_etl_2026_spark.operators.")):
                tr.wrap(mod, attr, "operators")


def measure(ctx: Ctx) -> dict:
    sf = os.path.join(ctx.work, "tables")
    tables = gen.testdata_tables(sf, ctx.seed, ctx.scale)
    order = list(RELATIONAL + OPERATORS)
    random.Random(ctx.seed).shuffle(order)
    if ctx.trace:
        _wrap_layers(ctx.tracer)
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    # one pass: each query's first run in the session, checked against
    # its oracle outside the timed region; a traced run traces it all
    ops = []
    for q in order:
        with ctx.tracer.op("query", q, ctx.trace) as op:
            df = QUERIES[q](ctx.spark, sf)
            rows = df.collect()
        got = digest(df.columns, rows)
        rel = con.sql(ORACLES[q])
        want = digest(rel.columns, rel.fetchall())
        ctx.check(got == want, f"{q}: {got[0]} rows vs oracle {want[0]} rows, digests differ")
        ops.append(op)
        ctx.pacer.burst()
    con.close()
    return {
        "ops": ops,
        "relational_s": sum(o["wall_s"] for o in ops if o["name"] in RELATIONAL),
        "operators_s": sum(o["wall_s"] for o in ops if o["name"] in OPERATORS),
    }


def layers(ctx: Ctx, state: dict) -> dict:
    """Per-layer numbers of the traced queries (after harvest)."""
    tr = ctx.tracer
    t_ops = [o for o in state["ops"] if o["traced"]]
    opers = [tr.span_ms(o["id"], "operators") for o in t_ops]
    layer = {
        "operators.calls": mean([c for c, _ in opers]),
        "operators.ms": mean([ms for _, ms in opers]),
        "plans.relational_s": state["relational_s"],
        "plans.operators_s": state["operators_s"],
    }
    for o in t_ops:
        layer[f"plans.{o['name']}.s"] = o["wall_s"]
        layer[f"plans.{o['name']}.jobs"] = len(o["jobs"])
    return layer
