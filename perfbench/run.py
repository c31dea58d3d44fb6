"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload read --seed 1 --seconds 5 --trace 0

Run from the repository root. Workloads: ``read`` (dashboard
requests, then a pass over registered queries) and ``sync`` (backfill
+ daily incremental syncs); see README.md.

Inputs are generated from ``--seed`` under ``.perfbench_work/`` in the
current directory, which also holds Spark's scratch space; it is
removed on exit. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run and writes its
spans to ``.perfbench_out/``. The last stdout line is one JSON object
with the keys correct, attempted, failed and metrics; the line before
it records the host context (load, CPU calibration, versions).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

import common

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("read", "sync")
#: set-up cycles per run; setup_s is their median
SETUP_CYCLES = 5
#: Spark runs local[nproc // CPU_SHARE]: the JVM's own threads (driver,
#: scheduler, GC, JIT) and the Python driver need the other CPUs, or
#: the run measures the host's scheduler
CPU_SHARE = 2


def cpu_calibration() -> float:
    """Fixed single-thread hashing loop (~0.1 s on an idle host); a
    host-condition constant recorded beside the metrics (same loop as
    the repository's bench.py)."""
    import hashlib

    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        h = b"x" * 1000
        for _ in range(200000):
            h = hashlib.sha256(h).digest()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _configure(work: str, cpus: int) -> None:
    """Keep every file Spark and its Python workers write under
    ``work``; must run before pyspark launches the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a traced run in the status stores
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    args = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"{args} --driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def _warmup(spark, work: str) -> None:
    """A fixed small job mix: parquet write and scan, a shuffle
    aggregate, a join and a collect."""
    from pyspark.sql import functions as F

    path = os.path.join(work, "warmup.parquet")
    df = spark.range(0, 20_000, numPartitions=4).selectExpr("id % 101 AS k", "id * 3 AS v")
    df.write.mode("overwrite").parquet(path)
    r = spark.read.parquet(path)
    r.groupBy("k").agg(F.sum("v").alias("s")).join(r.select("k").distinct(), "k").collect()


def setup(work: str, cpus: int):
    """get_spark + warm-up, SETUP_CYCLES times in this process (the
    first cycle also launches the JVM), with a pace burst after each;
    returns the session of the last cycle, the per-cycle timings and
    the run's :class:`common.Pace`."""
    from epl_cas_etl_2026_spark.session import get_spark

    cycles = []
    spark = pace = None
    for i in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=cpus)
        t1 = time.perf_counter()
        _warmup(spark, work)
        cycles.append((t1 - t0, time.perf_counter() - t1))
        if pace is None:
            from pyspark import SparkContext

            pace = common.Pace(SparkContext._jvm)
        pace.burst(2)
    return spark, cycles, pace


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    """One run; returns the host context, the failed checks' messages
    and the result object."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # import the package before creating or launching anything: without
    # it the run fails here, fast
    import epl_cas_etl_2026_spark  # noqa: F401

    import tracing

    mod = __import__(workload)
    nproc = len(os.sched_getaffinity(0))
    cpus = max(1, nproc // CPU_SHARE)
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    _configure(work, cpus)
    host = {"loadavg_start": os.getloadavg(), "cpu_calib_s": cpu_calibration(),
            "nproc": nproc, "spark_cpus": cpus, "python": platform.python_version()}
    spark = None
    try:
        spark, cycles, pace = setup(work, cpus)
        host["spark"] = spark.version
        host["setup_cycles_s"] = [[round(a, 3), round(b, 3)] for a, b in cycles]
        ctx = common.Ctx(spark=spark, tracer=tracing.Tracer(spark), seed=seed,
                         seconds=seconds, trace=trace, work=work, scale=scale,
                         pacer=pace)
        t0 = time.perf_counter()
        out = mod.run(ctx)
        host["workload_wall_s"] = round(time.perf_counter() - t0, 3)
        host.update(out.get("phases", {}))
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        from pyspark import SparkContext

        jvm = getattr(SparkContext._gateway, "proc", None)
        rss = _vm_hwm_mb("self") + (_vm_hwm_mb(jvm.pid) if jvm else 0.0)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    host["loadavg_end"] = os.getloadavg()

    setups = [a + b for a, b in cycles]
    if trace:
        values = dict(out["layer"])
        values.update({
            "session.get_spark_s": statistics.median(a for a, _ in cycles),
            "session.warmup_s": statistics.median(b for _, b in cycles),
            "session.first_setup_s": setups[0],
            "spark.persisted_rdds_after": persisted,
        })
        wanted = spec["per_layer"]
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        with open(os.path.join(ROOT, ".perfbench_out", f"{workload}-seed{seed}.json"), "w") as fh:
            json.dump({"host": host, "ops": ctx.tracer.ops, "spans": ctx.tracer.spans},
                      fh, default=str)
    else:
        # times at the reference pace: the measured time scaled by how
        # fast the host ran during this run (see README, "Pace")
        speed = pace.speed()
        raw = dict(out["e2e"], setup_s=statistics.median(setups))
        host["pace"] = pace.summary()
        host["measured"] = {k: round(v, 4) for k, v in raw.items()}
        values = {k: v * speed for k, v in raw.items()}
        values["peak_rss_mb"] = rss
        wanted = spec["end_to_end"]
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # metrics of layers this workload does not exercise print as 0
    host["not_exercised"] = sorted({m["name"] for m in wanted} - set(values))
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    return {
        "host": host,
        "errors": ctx.errors,
        "result": {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": metrics,
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (smaller for smoke tests)")
    a = ap.parse_args()
    out = run(a.workload, a.seed, a.seconds, bool(a.trace), a.scale)
    for e in out["errors"]:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({"host": out["host"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
