"""read: the read side of the system in one long-lived session — the
dashboard's endpoints (``dashboard.py``) and then a pass over
registered analytic queries (``analytics.py``).

End-to-end: op_ms is the dashboard's request latency under the
weighted endpoint mix; batch_s is the wall of one analytics pass (its
relational and operator-heavy subtotals are per-layer numbers).
"""

from __future__ import annotations

import time

import analytics
import dashboard
from common import Ctx, mean, overhead_pct, spark_layer


def run(ctx: Ctx) -> dict:
    t0 = time.perf_counter()
    d = dashboard.measure(ctx)
    t1 = time.perf_counter()
    a = analytics.measure(ctx)
    phases = {"dashboard_s": round(t1 - t0, 2), "analytics_s": round(time.perf_counter() - t1, 2),
              "gen_s": round(d["gen_s"], 2), "prime_s": round(d["prime_s"], 2)}
    e2e = {
        "op_ms": d["mix_ms"],
        "batch_s": a["relational_s"] + a["operators_s"],
    }
    if not ctx.trace:
        return {"e2e": e2e, "phases": phases}
    tr = ctx.tracer
    tr.harvest()
    ops = d["ops"] + a["ops"]
    t_ops = [o for o in ops if o["traced"]]
    calls = [tr.span_ms(o["id"], "sources.load_table") for o in t_ops]
    layer = spark_layer(t_ops)
    layer.update(dashboard.layers(ctx, d))
    layer.update(analytics.layers(ctx, a))
    layer.update({
        "sources.load_table.calls": mean([c for c, _ in calls]),
        "sources.load_table.ms": mean([ms for _, ms in calls]),
        # the analytics pass is traced whole; overhead from the requests
        "trace.overhead_pct": overhead_pct(d["ops"]),
        "trace.ops": len(t_ops),
    })
    return {"e2e": e2e, "layer": layer, "phases": phases}
