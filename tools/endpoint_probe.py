"""Per-endpoint layers of the dashboard's requests, in one process.

    python tools/endpoint_probe.py [--seed 1] [--rounds 8] [--fresh-frames]

Run from the repository root. It writes perfbench's generated domain
warehouse (``perfbench/gen.domain_warehouse``) to a temporary
directory, opens each table once as perfbench's server does, and sends
the endpoints of the ``read`` mix (``perfbench/dashboard.ENDPOINTS``,
with the same seeded parameters): one untimed request each, then
``--rounds`` rounds. A request is the ``api`` call (build) and its
``collect()`` (exec); each phase runs under its own Spark job group.
With ``--fresh-frames`` every request opens its tables anew instead, as
a caller that keeps no frames (``plans/domain_api``) does.

For each endpoint it prints the median build ms, exec ms, build jobs
and exec jobs per timed request, and the output digest (rows and a
sha1 prefix, perfbench's ``common.digest``). The mix line weighs the
endpoints as perfbench does. The storage line is what the run left in
Spark's block store: the persisted RDDs and their memory and disk
bytes. The last line is the same numbers as one JSON object. Run it
on two checkouts to A/B a change layer by layer; it changes nothing
under ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def _jobs(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--fresh-frames", action="store_true",
                    help="open the tables anew for every request")
    a = ap.parse_args()
    # perfbench's rule: half the CPUs for Spark, the rest for the JVM's
    # own threads and the Python process
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)

    work = tempfile.mkdtemp(prefix="endpoint-probe-")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import dashboard
    import gen
    from common import digest

    from epl_cas_etl_2026_spark import api
    from epl_cas_etl_2026_spark.session import get_spark

    spark = get_spark(app_name="endpoint-probe", cpus=cpus)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    try:
        wh = os.path.join(work, "warehouse")
        facts = gen.domain_warehouse(wh, a.seed)
        rng = random.Random(a.seed)
        pool = [(name, draw(rng, facts)) for name, (_, draw) in dashboard.ENDPOINTS.items()]
        tables = dashboard._Tables(spark, wh)
        samples = {name: [] for name, _ in pool}
        outputs = {}
        for r in range(a.rounds + 1):
            for name, kw in pool:
                group = f"probe-{r}-{name}"
                if a.fresh_frames:
                    tables = dashboard._Tables(spark, wh)
                sc.setJobGroup(f"{group}-build", "build")
                t0 = time.perf_counter()
                df = getattr(api, name)(tables, **kw)
                t1 = time.perf_counter()
                sc.setJobGroup(f"{group}-exec", "exec")
                rows = df.collect()
                t2 = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", None)
                bus.waitUntilEmpty()
                outputs[name] = digest(df.columns, rows)
                if r:  # round 0 is the untimed first request
                    samples[name].append((
                        (t1 - t0) * 1000.0, (t2 - t1) * 1000.0,
                        _jobs(sc, f"{group}-build"), _jobs(sc, f"{group}-exec"),
                    ))

        def med(name, k):
            return statistics.median(s[k] for s in samples[name])

        print(f"{'endpoint':26s} {'build ms':>9s} {'exec ms':>9s} {'b.jobs':>7s} {'e.jobs':>7s}  digest")
        per = {}
        for name, _ in pool:
            n, d = outputs[name]
            per[name] = {"build_ms": med(name, 0), "exec_ms": med(name, 1),
                         "build_jobs": med(name, 2), "exec_jobs": med(name, 3),
                         "rows": n, "digest": d}
            p = per[name]
            print(f"{name:26s} {p['build_ms']:9.1f} {p['exec_ms']:9.1f} "
                  f"{p['build_jobs']:7.1f} {p['exec_jobs']:7.1f}  {n} {d[:12]}")
        weights = {name: dashboard.ENDPOINTS[name][0] for name in per}
        total = sum(weights.values())
        mix = {k: sum(weights[n] * per[n][k] for n in per) / total
               for k in ("build_ms", "exec_ms", "build_jobs", "exec_jobs")}
        print("mix (weighted)             " + " ".join(
            f"{mix[k]:{w}.{f}f}" for k, w, f in
            (("build_ms", 9, 1), ("exec_ms", 9, 1), ("build_jobs", 7, 2), ("exec_jobs", 7, 2))))
        infos = list(sc._jsc.sc().getRDDStorageInfo())
        storage = {
            "persisted_rdds": sc._jsc.getPersistentRDDs().size(),
            "mem_bytes": sum(i.memSize() for i in infos),
            "disk_bytes": sum(i.diskSize() for i in infos),
            "warehouse_bytes": sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(wh) for f in fs if f.endswith(".parquet")
            ),
        }
        print("storage: " + ", ".join(f"{k} {v}" for k, v in storage.items()))
        print(json.dumps({"seed": a.seed, "rounds": a.rounds, "cpus": cpus,
                          "fresh_frames": a.fresh_frames,
                          "endpoints": per, "mix": mix, "storage": storage}))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
