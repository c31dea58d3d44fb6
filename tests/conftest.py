from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from epl_cas_etl_2026_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="epl-cas-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


# -- two-tier test loop (round-9 verdict item 5) ---------------------------
# `pytest -m gate` = the fast half of the documented sub-5-minute
# certification loop (COVERAGE.md): semantic traps, plan audits,
# reference-quirk pins, budget-model pins, and the cheap third-
# implementation differentials — the tests that decide whether a CHANGE
# broke a pinned behavior. Query-vs-oracle certification itself is NOT
# re-run here: `tools/rehearse_gate.py --changed` covers exactly the
# queries whose fingerprints moved, in 1-2 min, against the same
# dtype-strict comparator (test_oracle_differential re-walks ALL
# registered queries — 9+ min — and stays in the once-per-round full
# suite with the property tail). Marking is by module
# (keeps the mark out of 700 test bodies); a new pin-style module
# joins the loop by adding its basename. Measured at r9: ~200 s total.
_GATE_MODULES = {
    "test_semantic_traps",
    "test_plan_audit",
    "test_api_quirks",
    "test_bench_budgets",
    "test_dsir",
    "test_cc_oracle",
    "test_r11_rewrites",
    "test_r12_rewrites",
    # round-12 expansion (verdict item 2): the gate tier is now the
    # DEFAULT pytest selection (pytest.ini addopts), sized so the
    # driver's verify window always completes — these additions are
    # the fast operator/plan pins (~90 s extra at 8 cores, measured
    # from the r12 full-run junit timings), keeping the default tier
    # ≈3 min nominal / <10 min on a 2.5×-slow host window. The heavy
    # tails (test_oracle_differential 635 s, test_properties 90 s)
    # stay in the once-per-round full run:
    # `pytest -m "gate or not gate"`.
    "test_retrieval",
    "test_retrieval_eval",
    "test_sketch_fingerprint",
    "test_graph",
    "test_setjoin_properties",
    "test_decision_support",
    "test_warehouse",
    "test_enrich",
    "test_substring_dedup",
    "test_attribution_rag",
    "test_layout",
    # the sync job's tests: without them no ETL test runs in the
    # default tier, and a change that breaks run_incremental_sync
    # would pass it (21 tests, ~70 s at 4 cores)
    "test_etl_pipeline",
    # the dashboard endpoints' DuckDB parity tests: without them no
    # endpoint-vs-oracle check runs in the default tier (23 tests,
    # ~105 s at 4 cores)
    "test_api",
    # the same endpoint tests over one-split tables, whose plans hold
    # no shuffle (22 tests, ~60 s at 4 cores)
    "test_api_one_split",
    # the lifetime of the snapshot one-split tables are served from
    # (3 tests)
    "test_api_snapshot",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.module.__name__.rsplit(".", 1)[-1] in _GATE_MODULES:
            item.add_marker(pytest.mark.gate)
