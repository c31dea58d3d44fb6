"""Robustness sweep: run EVERY registered query against zero-row
copies of the testdata tables (same schemas) and report anything that
crashes. Documented, intentional errors (k-means init needing seed
rows) are listed but don't fail the sweep; everything else does —
a query over an empty warehouse must yield an empty result, not a
stack trace (round-4 find: missing sink dirs on zero-row first loads).

Usage: python tools/sweep_empty.py [--src /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EXPECTED_VALUEERRORS = {
    # kmeans_fit and pq_fit take their deterministic init from rows id
    # 0..k-1: empty input raises a clear ValueError instead of training
    # on nothing. The composed IVF-PQ serving path inherits the guard.
    "embedding_ivfpq_topk",
    # round-8 persisted-index pair: build (and serve's build-on-first-
    # touch) run pq_fit, inheriting its deterministic-init guard
    "embedding_pq_index_build",
    "embedding_pq_index_serve",
    # round-7 batch serving form: same pq_fit init guard
    "embedding_pq_batch_topk",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    import duckdb

    empty_dir = tempfile.mkdtemp(prefix="empty_sf_")
    con = duckdb.connect()
    for p in glob.glob(os.path.join(args.src, "*.parquet")):
        name = os.path.basename(p)
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{p}') WHERE 1=0) "
            f"TO '{os.path.join(empty_dir, name)}' (FORMAT PARQUET)"
        )

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    t0 = time.time()
    hard, expected = [], []
    for name, fn in qs.items():
        try:
            # noop sink, NOT .count(): count lets Catalyst prune the
            # final projection, hiding e.g. ANSI DIVIDE_BY_ZERO in
            # output expressions (found exactly that in round 6)
            fn(spark, empty_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except ValueError as ex:
            (expected if name in EXPECTED_VALUEERRORS else hard).append(
                (name, f"ValueError: {str(ex)[:140]}")
            )
        except Exception as ex:  # noqa: BLE001 — collect every crash class
            hard.append((name, f"{type(ex).__name__}: {str(ex)[:140]}"))
    print(
        f"swept {len(qs)} queries on empty tables in {time.time() - t0:.0f}s"
        f" — hard failures: {len(hard)}, expected guards: {len(expected)}"
    )
    for n, m in expected:
        print(f"  guard {n}: {m}")
    for n, m in hard:
        print(f"FAIL {n}: {m}")
    return 1 if hard else 0


if __name__ == "__main__":
    raise SystemExit(main())
