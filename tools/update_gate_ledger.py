"""Record epl_cas_etl_2026_spark/plans/gate_ledger.json facts for
CORRECTNESS rounds the ledger has not seen yet. Run it once at ROUND
START, after the driver's CORRECTNESS_r{N}.json lands and before any
code is edited, so the working tree is the tree the driver just gated.

What it does:
- for every CORRECTNESS round not yet in ``data_gen_by_round``, records
  the current tree's fingerprint (``gate_policy.fingerprint_query``:
  oracle SQL plus every package definition the query reaches) for each
  query hash-green in that round, then maps the round to the current
  data generation. Rounds already mapped are never re-recorded, so a
  re-run after a code edit cannot vouch for the edit; the edited
  queries stay at gate priority 1 until a newer round gates them;
- pins the current testdata fingerprint, bumping the data-generation id
  when the parquet files changed since the last ledger (which expires
  all prior-generation green rows via the policy's priority 2);
- drops fingerprints of queries that no longer exist.

Usage: python tools/update_gate_ledger.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from epl_cas_etl_2026_spark.plans import ORACLES, QUERIES
from epl_cas_etl_2026_spark.plans.gate_policy import (
    LEDGER_PATH,
    _is_green,
    fingerprint_query,
    load_correctness_rounds,
    load_ledger,
    testdata_fingerprint,
)


def refresh(ledger: dict, rounds: dict, queries, oracles, testdata_fp: str) -> dict:
    """The ledger after recording every round it has not mapped yet."""
    current_gen = ledger.get("current_data_gen", "g2")
    if ledger.get("testdata_fingerprint") not in (None, testdata_fp):
        current_gen = f"g{int(current_gen.lstrip('g')) + 1}"
        print(f"testdata changed → data generation bumped to {current_gen}")

    gen_by_round = dict(ledger.get("data_gen_by_round", {}))
    fingerprints = dict(ledger.get("fingerprints", {}))
    for r in sorted(r for r in rounds if str(r) not in gen_by_round):
        recorded = 0
        for name, row in rounds[r].items():
            if name in queries and _is_green(row, name in oracles):
                fingerprints[name] = fingerprint_query(queries[name], oracles.get(name))
                recorded += 1
        gen_by_round[str(r)] = current_gen
        print(f"round r{r:02d}: {recorded} fingerprints recorded")
    return {
        "current_data_gen": current_gen,
        "data_gen_by_round": gen_by_round,
        "fingerprints": {n: fp for n, fp in sorted(fingerprints.items()) if n in queries},
        "testdata_fingerprint": testdata_fp,
    }


def main() -> None:
    rounds = load_correctness_rounds()
    if not rounds:
        raise SystemExit("no CORRECTNESS_r*.json found — nothing to record")
    out = refresh(load_ledger(), rounds, QUERIES, ORACLES, testdata_fingerprint())
    with open(LEDGER_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        f"ledger written: gen {out['current_data_gen']}, "
        f"{len(out['fingerprints'])} fingerprints"
    )


if __name__ == "__main__":
    main()
