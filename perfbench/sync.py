"""sync: the write side. After an untimed warm-up sync of one small day
into a throwaway warehouse, one backfill run over a generated history
of Zenput JSONL days, then daily increments into the same landing dir
and warehouse, each one ``etl.sync_job.run_incremental_sync`` call.

Checks: every run loads exactly the generated unique submissions of
its new days; the master and detail sinks hold exactly the unique
submissions and their formula areas; re-delivered submissions of
earlier days load nothing; the checkpoint equals the latest
submission time.
"""

from __future__ import annotations

import os
import time

import gen
import pyarrow.dataset as ds
from common import Ctx, mean, overhead_pct, p50, spark_layer

from epl_cas_etl_2026_spark.etl import sync_job
from epl_cas_etl_2026_spark.schemas import (
    CATALOGO_SCHEMA,
    PERIODOS_SCHEMA,
    SUCURSALES_SCHEMA,
)

BACKFILL_DAYS = 2
SUBS_PER_DAY = 300
N_SUCURSALES = 2000
#: names sync_job imports from etl.pipeline / etl.zenput, wrapped in traced runs
PIPELINE = ("append_idempotent", "read_checkpoint", "advance_checkpoint", "audit_log")
ZENPUT = ("parse_submissions", "extract_calificacion_general", "extract_detail_items")


def _files(path: str) -> tuple[int, int]:
    """(data files, bytes) under a warehouse dir."""
    n = b = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.startswith((".", "_")):
                continue
            n += 1
            b += os.path.getsize(os.path.join(d, f))
    return n, b


def _rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows()


def run(ctx: Ctx) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    landing = os.path.join(ctx.work, "landing")
    wh = os.path.join(ctx.work, "warehouse")
    os.makedirs(landing)
    per_day = max(20, int(SUBS_PER_DAY * ctx.scale))
    suc, per, cat = gen.sync_dims(N_SUCURSALES)
    dims = (
        spark.createDataFrame(suc, SUCURSALES_SCHEMA),
        spark.createDataFrame(per, PERIODOS_SCHEMA),
        spark.createDataFrame(cat, CATALOGO_SCHEMA),
    )
    if ctx.trace:
        for name in PIPELINE:
            tr.wrap(sync_job, name, f"etl.pipeline.{name}")
        for name in ZENPUT:
            tr.wrap(sync_job, name, "etl.zenput")

    # untimed warm-up: one small day synced into a throwaway landing dir
    # and warehouse, so the timed backfill is not the session's first sync
    warm = os.path.join(ctx.work, "warmup-landing")
    os.makedirs(warm)
    want = gen.zenput_day(warm, ctx.seed, 0, 20, N_SUCURSALES)["unique"]
    n = sync_job.run_incremental_sync(spark, warm, os.path.join(ctx.work, "warmup-warehouse"), *dims)
    ctx.check(n == want, f"warm-up run: loaded {n}, expected {want}")
    ctx.pacer.burst(4)

    days = []

    def sync(kind: str, i: int, new_days: list[dict]) -> dict:
        before = _files(wh)
        with tr.op(kind, kind, ctx.traced(i)) as op:
            with tr.span("etl.sync_job"):
                n = sync_job.run_incremental_sync(spark, landing, wh, *dims)
        after = _files(wh)
        want = sum(d["unique"] for d in new_days)
        ctx.check(n == want, f"{kind} run {i}: loaded {n}, expected {want}")
        op["extra"].update(new_rows=n, files=after[0] - before[0],
                           bytes=after[1] - before[1])
        ctx.pacer.burst(4)
        return op

    for d in range(BACKFILL_DAYS):
        days.append(gen.zenput_day(landing, ctx.seed, d, per_day, N_SUCURSALES))
    ops = [sync("backfill", 1, days)]

    # each daily file re-delivers a few of the previous day's
    # submissions: already loaded, so they must load nothing
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while time.perf_counter() < deadline or i < 2:
        day = gen.zenput_day(landing, ctx.seed, len(days), per_day, N_SUCURSALES,
                             late=days[-1]["sample"])
        days.append(day)
        ops.append(sync("daily", i, [day]))
        i += 1

    ctx.check(_rows(os.path.join(wh, "supervisiones_operativas")) == sum(d["unique"] for d in days),
              "master sink row count")
    ctx.check(_rows(os.path.join(wh, "detalle_operativas")) == sum(d["details"] for d in days),
              "detail sink row count")
    ckpt = ds.dataset(os.path.join(wh, "sync_checkpoints"), format="parquet").to_table()
    wm = max(ckpt.column("ultima_fecha").to_pylist())
    ctx.check(wm.replace(tzinfo=None) == max(d["max_ts"] for d in days),
              f"checkpoint {wm} != latest submission")

    daily = [o for o in ops if o["kind"] == "daily"]
    walls_ms = [o["wall_s"] * 1000.0 for o in daily if not o["traced"]]
    # the first days of the schedule: the backfill and the first two
    # daily runs (one backfill alone varied by a third between runs)
    e2e = {"op_ms": p50(walls_ms), "batch_s": sum(o["wall_s"] for o in ops[:3])}
    if not ctx.trace:
        return {"e2e": e2e}

    tr.harvest()
    t_ops = [o for o in ops if o["traced"]]
    t_daily = [o for o in t_ops if o["kind"] == "daily"]
    layer = spark_layer(t_ops)

    def per_new_row(values):
        return mean([v / max(1, o["extra"]["new_rows"]) for v, o in zip(values, t_ops)])

    pipeline_ms = {
        name: mean([tr.span_ms(o["id"], f"etl.pipeline.{name}")[1] for o in t_ops])
        for name in PIPELINE
    }
    layer.update({
        "etl.sync_job.jobs_per_run": mean([len(o["jobs"]) for o in t_daily]),
        "etl.sync_job.self_ms": mean([tr.self_ms(o["id"], "etl.sync_job") for o in t_ops]),
        "etl.files_written_per_run": mean([o["extra"]["files"] for o in t_daily]),
        "etl.sink_files_total": _files(wh)[0],
        "etl.bytes_written_per_new_row": per_new_row([o["extra"]["bytes"] for o in t_ops]),
        # rows out of the run's text scans (the landing JSONL), from
        # the SQL plan metrics
        "etl.landing_rows_read_per_new_row": per_new_row(
            [o["scan_rows"].get("text", 0.0) for o in t_ops]),
        # driver-side time in the zenput calls, which only build lazy
        # DataFrames: their parse and explode work runs in later jobs
        "etl.zenput.build_ms": mean([tr.span_ms(o["id"], "etl.zenput")[1] for o in t_ops]),
        "sources.rows_read_per_row_out": layer["sources.input_rows"]
        / max(1.0, mean([o["extra"]["new_rows"] for o in t_ops])),
        "trace.overhead_pct": overhead_pct([o for o in ops if o["kind"] == "daily"]),
        "trace.ops": len(t_ops),
    })
    for name, ms in pipeline_ms.items():
        layer[f"etl.pipeline.{name}.ms"] = ms
    return {"e2e": e2e, "layer": layer}
