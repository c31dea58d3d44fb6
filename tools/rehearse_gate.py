"""Dress-rehearse the driver's correctness gate locally: run the
first-50 gate window (or --all queries) on a VANILLA SparkSession —
exactly what the external driver constructs, not the tuned get_spark —
and compare each query against its DuckDB oracle with the dtype-strict
comparator. Exits non-zero on any failure.

Usage: python tools/rehearse_gate.py [--all | --changed]
           [--sf /root/testdata/sf0.01] [--queries a,b,c]

--changed rehearses ONLY queries the gate ledger cannot vouch for:
never hash-green in any committed CORRECTNESS round, or with a
fingerprint that differs from the one recorded at their last green
row — i.e. gate_policy priorities 0 and 1. The fingerprint covers the
oracle SQL and every package definition the query reaches, so an edit
to a shared operator or helper selects every query that reaches it
without a hand-kept list. An unchanged tree rehearses nothing; a
one-query edit rehearses that query in seconds instead of the full
sweep.

Each query prints ``PASS <name> <seconds>`` or ``FAIL <name> <seconds>``
to stdout as it finishes; the summary line and each failure's message
follow the last one.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--all", action="store_true", help="every query, not just the window")
    ap.add_argument(
        "--changed",
        action="store_true",
        help="only queries with no green row or a changed fingerprint",
    )
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--queries", default=None, help="comma-separated subset to rehearse"
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    import __spark_entry__ as entry_mod

    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()

    from tests.oracle_utils import compare, duckdb_connection

    con = duckdb_connection(args.sf)
    if args.queries:
        names = [n.strip() for n in args.queries.split(",") if n.strip()]
        unknown = [n for n in names if n not in qs]
        if unknown:
            print(f"unknown queries: {unknown}")
            return 1
    elif args.changed:
        from epl_cas_etl_2026_spark.plans.gate_policy import classify

        keys = classify(qs, osql)
        names = [n for n in qs if keys[n][0] <= 1]
        if not names:
            print(
                "nothing changed: every registered query has a green row "
                "with a matching ledger fingerprint"
            )
            return 0
    else:
        from epl_cas_etl_2026_spark.plans.gate_policy import GATE_CAP

        names = list(qs) if args.all else list(qs)[:GATE_CAP]
    t0 = time.time()
    failures = []
    for name in names:
        # query-boundary marker on stderr: the JVM's own warnings (e.g.
        # "WindowExec: No Partition Defined") land on stderr too, so a
        # sweep log attributes every warning to the query that emitted
        # it — grep -B1 for the warning to find the marker above it
        print(f"### QUERY {name}", file=sys.stderr, flush=True)
        t = time.time()
        error = None
        try:
            sdf = qs[name](spark, args.sf)
            if name in osql:
                ok, msg = compare(sdf, con, osql[name])
                if not ok:
                    error = msg[:200]
            else:
                sdf.count()  # rows-only query: must at least execute
        except Exception as ex:  # noqa: BLE001 — report, don't abort the sweep
            error = repr(ex)[:200]
        print(f"{'FAIL' if error else 'PASS'} {name} {time.time() - t:.1f}", flush=True)
        if error:
            failures.append((name, error))
    print(
        f"rehearsed {len(names)} queries at {args.sf} in "
        f"{time.time() - t0:.0f}s — failures: {len(failures)}"
    )
    for n, m in failures:
        print(f"  {n}: {m}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
