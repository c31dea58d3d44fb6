"""Physical-plan regression suite: the plan properties that make the
headline queries scale are asserted, not assumed — a regression that
drops a pushed filter, breaks a broadcast, or sneaks in a cartesian
product fails here before it costs anything at scale.

Assertions are deliberately loose (feature present / absent), not
plan-string snapshots — AQE re-plans freely within them.
"""

from __future__ import annotations

import datetime as dt
import os
import re

import pytest

from epl_cas_etl_2026_spark.plans import QUERIES
from tests.test_api import (  # noqa: F401 (domain_files is a fixture)
    domain_files,
    multi_split_tables,
    one_split_tables,
)


def _plan(spark, sf_dir, name: str) -> str:
    return (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _pushed(plan: str) -> str:
    return " ".join(re.findall(r"PushedFilters: \[[^\]]+\]", plan))


# every query here must never build a cartesian product or an
# all-pairs nested loop (the one BroadcastNestedLoopJoin we allow is
# the tiny-build-side range join, tested separately)
NO_CARTESIAN = [
    "pricing_summary",
    "top_unshipped_orders_q3",
    "purchase_attribution_asof",
    "docs_near_dup_pairs",
    "embedding_near_dup_cosine",
    "docs_benchmark_decontaminate",
    "orders_global_rank_two_phase",
]


@pytest.mark.parametrize("name", NO_CARTESIAN)
def test_no_cartesian_product(spark, sf_oracle, name):
    plan = _plan(spark, sf_oracle, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pricing_summary_scan_is_pruned(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "pricing_summary")
    pushed = _pushed(plan)
    assert "l_shipdate" in pushed  # date filter reaches the parquet scan
    # projection pruning: the scan must not read money columns it
    # doesn't need (l_tax is unused by this query)
    m = re.search(r"ReadSchema: [^\n]*", plan)
    assert m and "l_tax" not in m.group(0)


def test_q3_broadcasts_and_topk(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "top_unshipped_orders_q3")
    pushed = _pushed(plan)
    assert "c_mktsegment" in pushed and "l_shipdate" in pushed
    assert "BroadcastHashJoin" in plan  # dim side broadcast
    assert "TakeOrderedAndProject" in plan  # top-k, not a full sort


def test_asof_filters_pushed_and_window_keyed(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "purchase_attribution_asof")
    pushed = _pushed(plan)
    assert "purchase" in pushed and "click" in pushed
    assert "SinglePartition" not in plan


def test_range_join_build_side_is_broadcast(spark, sf_oracle):
    # J7: the periods dim (~rows) must be the broadcast build side —
    # a BroadcastNestedLoopJoin here is CORRECT (tiny side), the fact
    # side must never shuffle for the join itself
    plan = _plan(spark, sf_oracle, "orders_period_range_join")
    assert "BroadcastNestedLoopJoin" in plan


def test_two_phase_rank_no_single_partition(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "orders_global_rank_two_phase")
    assert "SinglePartition" not in plan


def test_contamination_benchmark_side_broadcast(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "docs_benchmark_decontaminate")
    assert "BroadcastHashJoin" in plan


def test_topk_cosine_is_take_ordered(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "embedding_topk_cosine")
    assert "TakeOrderedAndProject" in plan


def test_span_dedup_no_cartesian_and_single_gram_exchange(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "docs_span_dedup_stats")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r11 shape: the gram stream is shuffled ONCE (explicit gram
    # repartition) and there is NO join back at all — the per-gram doc
    # count comes from a window over the same partitioning, so any
    # join node means the single-exchange plan regressed
    assert "Join" not in plan, plan
    assert plan.count("Window") >= 1
    # exchanges must be exactly: the one gram repartition plus the
    # final tiny per-source rollup — a (gram, source) or (gram,
    # doc_id) scheme would mean the aggregation/window stopped
    # reusing the gram partitioning
    exchanges = re.findall(r"hashpartitioning\((\w+)#", plan)
    assert exchanges.count("gram") == 1, exchanges
    assert set(exchanges) <= {"gram", "source"}, exchanges


def test_vocab_topk_is_take_ordered(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "docs_vocab_topk")
    # top-20 must be TakeOrderedAndProject (partial per-partition top-k,
    # no global sort of the vocabulary), and the rank window must run
    # AFTER the cut so its single partition only ever holds 20 rows
    assert "TakeOrderedAndProject" in plan


def test_char_entropy_scan_prunes_text_early(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "docs_char_entropy")
    # only lang + text are needed from the scan
    m = re.search(r"ReadSchema: [^\n]*", plan)
    assert m and "doc_id" not in m.group(0) and "source" not in m.group(0)


def test_gate_window_follows_policy_rule():
    """The driver records only the first 50 queries(): the ordering
    must be exactly what the mechanical policy computes — a priority
    sort over recorded facts — so no query can be hand-curated into or
    out of the gated window."""
    from epl_cas_etl_2026_spark.plans import ORACLES, QUERIES
    from epl_cas_etl_2026_spark.plans.registry import ORACLES as _ALL_ORACLES
    from epl_cas_etl_2026_spark.plans.registry import QUERIES as _ALL_QUERIES
    from epl_cas_etl_2026_spark.plans.gate_policy import (
        GATE_CAP,
        classify,
        gate_order,
    )

    order = list(QUERIES)
    assert order == gate_order(_ALL_QUERIES, _ALL_ORACLES)
    assert set(order) == set(_ALL_QUERIES)
    assert set(ORACLES) == set(_ALL_ORACLES)

    # priority is monotone along the dict: no lower-priority query may
    # precede a higher-priority one (the rule never-green ≻ plan-changed
    # ≻ data-stale ≻ current-green is what guarantees changed or
    # unproven plans cannot be rotated out of the driver's window)
    keys = classify(_ALL_QUERIES, _ALL_ORACLES)
    classes = [keys[n][0] for n in order]
    assert classes == sorted(classes)

    # every query needing (re-)gating sits before every current-green
    # one; if ≤ GATE_CAP need gating, all of them are inside the window
    needing = [n for n in order if keys[n][0] <= 2]
    if len(needing) <= GATE_CAP:
        assert set(needing) <= set(order[:GATE_CAP])


def test_gate_ledger_matches_current_testdata():
    """A driver-side testdata regeneration expires prior green rows;
    the ledger pins the generation fingerprint so that happening
    without a ledger refresh fails HERE instead of silently leaving
    stale evidence in the rotation (round-3 verdict, gap #3c)."""
    from epl_cas_etl_2026_spark.plans.gate_policy import (
        load_ledger,
        testdata_fingerprint,
    )

    ledger = load_ledger()
    assert ledger, "gate_ledger.json missing — run tools/update_gate_ledger.py"
    actual = testdata_fingerprint()
    if actual == "unavailable":
        pytest.skip("testdata not present on this host")
    assert ledger.get("testdata_fingerprint") == actual, (
        "testdata regenerated since the ledger was written — run "
        "tools/update_gate_ledger.py so prior-generation green rows "
        "expire and re-enter the gate window"
    )


def test_queries_md_matches_registry():
    """QUERIES.md is the driver-contract index: a registry edit that
    skips `python tools/gen_queries_md.py` must fail here rather than
    leave the index listing queries that no longer exist (or missing
    new ones)."""
    from tools.gen_queries_md import render

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "QUERIES.md")) as f:
        committed = f.read()
    assert committed == render(), (
        "QUERIES.md is stale — run python tools/gen_queries_md.py"
    )


_PARQUET = "epl_cas_etl_2026_spark.sources.parquet"


def _fingerprints() -> dict[str, str]:
    from epl_cas_etl_2026_spark.plans import ORACLES
    from epl_cas_etl_2026_spark.plans.gate_policy import fingerprint_query

    return {n: fingerprint_query(fn, ORACLES.get(n)) for n, fn in QUERIES.items()}


@pytest.mark.parametrize(
    "name, must_move, must_stay",
    [
        (
            "spread_scan",
            # direct, via operators/dedup, via operators/similarity
            ["lineitem_moments_stats", "docs_simhash_near_dup", "embedding_near_dup_cosine"],
            ["api_estados_counts"],
        ),
        # a module constant read by load_table
        ("_CANON_TS_TABLES", ["events_user_sessions", "api_estados_counts"], []),
    ],
    ids=["spread_scan", "module_constant"],
)
def test_definition_edit_moves_exactly_its_consumers(monkeypatch, name, must_move, must_stay):
    """The fingerprint is transitive: an edit to a shared helper or
    constant re-gates exactly the queries that reach it, with no
    hand-kept list of changed queries. The edit is made to the cached
    definition text, not to the file."""
    from epl_cas_etl_2026_spark.plans import gate_policy

    before = _fingerprints()
    real = gate_policy._definitions

    def edited(modname):
        index = real(modname)
        if modname != _PARQUET:
            return index
        defs, imports = index
        text, chains, local = defs[name]
        return {**defs, name: (text + "\n# edited", chains, local)}, imports

    monkeypatch.setattr(gate_policy, "_definitions", edited)
    after = _fingerprints()
    moved = {n for n in before if before[n] != after[n]}
    assert moved == {
        n for n, fn in QUERIES.items() if (_PARQUET, name) in gate_policy._reachable(fn)
    }
    assert set(must_move) <= moved
    assert not set(must_stay) & moved


def test_fingerprints_independent_of_loaded_modules():
    """Function-local imports are resolved by importing the package
    module, so the fingerprints taken when ``plans`` is first imported
    equal those taken after every package module is loaded (a lookup in
    sys.modules would make them depend on what was imported before)."""
    import subprocess
    import sys

    code = """if 1:
        import importlib, pkgutil
        import epl_cas_etl_2026_spark as pkg
        from epl_cas_etl_2026_spark.plans import ORACLES, QUERIES, gate_policy as gp
        fps = lambda: {n: gp.fingerprint_query(f, ORACLES.get(n)) for n, f in QUERIES.items()}
        before = fps()
        for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
            importlib.import_module(m.name)
        gp._definitions.cache_clear()
        gp._edges.cache_clear()
        print(sorted(n for n in before if before[n] != fps()[n]))
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.splitlines()[-1] == "[]"


def test_package_binding_its_own_submodule_resolves():
    """``plans/__init__.py`` runs ``from epl_cas_etl_2026_spark.plans
    import registry``, which binds ``registry`` to (plans, registry)
    inside plans itself. The resolver reads that binding as the
    submodule instead of following it back to itself forever."""
    from epl_cas_etl_2026_spark.plans import gate_policy

    edges = gate_policy._edges("epl_cas_etl_2026_spark.plans", "_ORDER")
    registry = "epl_cas_etl_2026_spark.plans.registry"
    assert {(registry, "QUERIES"), (registry, "ORACLES")} <= set(edges)


# package definitions that no root reaches: the SURVEY S2 REST extract
# operator, a Spark data source that no sync path registers yet
_UNREACHED_ALLOWED = {
    f"sources.rest_datasource.{name}"
    for name in ("PAGE_SIZE", "PageRange", "ZenputRestDataSource", "ZenputRestReader", "register")
}

# non-test code outside the package; every package name it reads is a root
_OUTSIDE_CONSUMERS = ("__spark_entry__.py", "bench.py", "perfbench", "tools")


def test_every_plans_definition_is_reachable():
    """Every top-level definition of every package module is reached
    from a root unless the allowlist names it. The roots: every
    registered query; every decorator expression (decorators run at
    import: ``@_register(...)`` reads the oracle constants,
    ``@_request`` wraps the endpoints); every public ``api`` function;
    and every package name read by non-test code outside the package
    (``_OUTSIDE_CONSUMERS``). Deleting a caller must delete what only
    it reached, or move it into ``tests/`` when a test still compares
    against it."""
    import ast
    import importlib
    import inspect
    import pkgutil

    import epl_cas_etl_2026_spark as pkg
    from epl_cas_etl_2026_spark import api
    from epl_cas_etl_2026_spark.plans import gate_policy as gp, registry

    modules = [pkg.__name__] + [
        m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")
    ]
    stack = [node for fn in registry.QUERIES.values() for node in gp._reachable(fn)]
    for mod in modules:
        module = importlib.import_module(mod)
        with open(module.__file__) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            for dec in getattr(node, "decorator_list", ()):
                stack.extend(gp._targets(mod, *gp._references(dec, module.__package__)))
    stack += [
        (api.__name__, name)
        for name, v in vars(api).items()
        if inspect.isfunction(v) and v.__module__ == api.__name__ and not name.startswith("_")
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = []
    for entry in _OUTSIDE_CONSUMERS:
        path = os.path.join(root, entry)
        if os.path.isdir(path):
            paths += [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".py")]
        else:
            paths.append(path)
    for path in paths:
        with open(path) as f:
            chains, imported = gp._references(ast.parse(f.read()), "")
        for head, *attrs in chains:
            node = head in imported and gp._resolve(*imported[head])
            for attr in attrs:
                if node and node[1] is None:
                    node = gp._resolve(node[0], attr)
            if node and node[1]:
                stack.append(node)
    reached = set()
    while stack:
        node = stack.pop()
        if node not in reached:
            reached.add(node)
            stack.extend(gp._edges(*node))
    unreached = {
        f"{mod[len(pkg.__name__) + 1:]}.{name}"
        for mod in modules
        for name in gp._definitions(mod)[0]
        if (mod, name) not in reached and not (name.startswith("__") and name.endswith("__"))
    }
    assert unreached == _UNREACHED_ALLOWED


def test_ledger_tool_records_each_round_once(monkeypatch):
    """tools/update_gate_ledger.py records fingerprints only for rounds
    the ledger has not mapped yet: a second run in the same round keeps
    the first fingerprint (a re-run after an edit cannot vouch for the
    edit), and a newer round re-records it. The committed ledger has
    the tool's exact shape."""
    from epl_cas_etl_2026_spark.plans.gate_policy import load_ledger
    from tools import update_gate_ledger as ugl

    tree = {"fp": "fp-v1"}
    monkeypatch.setattr(ugl, "fingerprint_query", lambda fn, sql: tree["fp"])
    queries, oracles = {"q_a": None, "q_b": None}, {"q_a": "SELECT 1", "q_b": "SELECT 1"}
    rounds = {12: {"q_a": {"hash_match": True}, "q_b": {"hash_match": False}}}
    ledger = ugl.refresh({"current_data_gen": "g2"}, rounds, queries, oracles, "td")
    assert ledger["fingerprints"] == {"q_a": "fp-v1"}
    assert ledger["data_gen_by_round"] == {"12": "g2"}

    tree["fp"] = "fp-v2"  # the code changed after round 12 was gated
    assert ugl.refresh(ledger, rounds, queries, oracles, "td") == ledger

    rounds[13] = {"q_a": {"hash_match": True}}
    newer = ugl.refresh(ledger, rounds, queries, oracles, "td")
    assert newer["fingerprints"] == {"q_a": "fp-v2"}
    assert newer["data_gen_by_round"] == {"12": "g2", "13": "g2"}
    assert set(load_ledger()) == set(newer)


# ---- round-4 additions: plan-shape pins for the new operators ----


def test_winnow_fingerprint_selection_in_scan_stage(spark, sf_oracle):
    """The winnowing claim: fingerprint selection is a per-row
    expression — no Exchange may exist below the first aggregate
    except the aggregate's own shuffles (source key / distinct-hash
    rollup + the final source-key join)."""
    plan = _plan(spark, sf_oracle, "docs_winnow_fingerprints")
    assert "CartesianProduct" not in plan
    # no window, no per-doc repartition — selection never shuffles docs
    assert "Window" not in plan
    assert plan.count("Exchange") <= 6, plan.count("Exchange")


def test_jaccard_prefix_join_no_cartesian(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "docs_jaccard_prefix_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_probe_match_broadcasts_probe_side(spark, sf_oracle):
    """Length-band theta join must be a BroadcastNestedLoopJoin with
    the (tiny) probe side broadcast — never a CartesianProduct."""
    plan = _plan(spark, sf_oracle, "parts_fuzzy_probe_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_gap_fill_windows_are_keyed(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "events_hourly_gap_fill")
    assert "CartesianProduct" not in plan
    # forward-fill window partitioned by user_id, never global
    import re as _re

    for m in _re.findall(r"Window .*", plan):
        assert "user_id" in m, m


def test_cms_sketch_shares_exact_aggregate(spark, sf_oracle):
    """The CMS query folds cells from the persisted exact aggregate:
    both branches must read the cached relation (plan text prints the
    cached child per reference, so the runtime guarantee to pin is
    the InMemoryTableScan nodes, not the FileScan count)."""
    plan = _plan(spark, sf_oracle, "events_heavy_hitters_cms")
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_triangles_degree_oriented_no_cartesian(spark, sf_oracle):
    """Triangle counting must stay equi-join shaped (degree-ordered
    wedge enumeration) — no cartesian/nested-loop pair generation, and
    the wedge join is keyed (hub-proof)."""
    plan = _plan(spark, sf_oracle, "docs_near_dup_triangles")
    assert "CartesianProduct" not in plan
    # the only nested-loop joins allowed are the two 1-row scalar
    # cross joins assembling the final (n_edges × wedge-stats ×
    # triangle-count) row — the wedge/closing joins must be equi
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_distribution_ranks_window_is_keyed(spark, sf_oracle):
    """ntile/percent_rank/cume_dist run in ONE window pass partitioned
    by segment — a second Window node or a global (unkeyed) window
    would be a plan regression."""
    plan = _plan(spark, sf_oracle, "customer_balance_distribution_ranks")
    windows = re.findall(r"Window .*", plan)
    assert windows, plan
    for w in windows:
        assert "c_mktsegment" in w, w


def test_range_frame_window_is_keyed(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "orders_trailing_30d_range_frame")
    for w in re.findall(r"Window .*", plan):
        assert "o_custkey" in w, w


def test_ols_single_scan_pruned(spark, sf_oracle):
    """Closed-form OLS is one scan over exactly the three needed
    columns — moments fold in the aggregate, nothing else reads the
    table."""
    plan = _plan(spark, sf_oracle, "lineitem_ols_price_on_qty")
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(scans) == 1, plan
    assert len(scans[0].split(",")) == 3, scans


def test_heatmap_exchange_budget(spark, sf_smoke):
    """heatmap_matrix is one lineage from the densified matrix to the
    pivot: the EPL CAS row and the per-group overall are two windows
    over it, not separate consumers of a pinned subtree — executed-plan
    Exchange count <= 8 at domain scale (a three-consumer shape measured
    19)."""
    from epl_cas_etl_2026_spark import api
    from epl_cas_etl_2026_spark.plans.domain_api import domain_tables

    t = domain_tables(spark, sf_smoke)
    plan = (
        api.heatmap_matrix(t, "operativas")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 8, plan.count("Exchange")


#: the 12 dashboard endpoints the perfbench read workload sends, each
#: with every optional filter applied
_ONE_SPLIT_ENDPOINTS = {
    "periodo_contexto": {"tipo": "operativas", "hoy": dt.date(2026, 2, 10)},
    "kpis": {"tipo": "operativas", "periodo_id": 2},
    "ranking_grupos": {"tipo": "operativas", "periodo_id": 2, "territorio_filtro": "local"},
    "ranking_sucursales": {"tipo": "operativas", "periodo_id": 2, "territorio_filtro": "local"},
    "map_markers": {"tipo": "operativas", "periodo_id": 2},
    "alerts": {"tipo": "seguridad", "periodo_id": 2},
    "estados": {},
    "heatmap_matrix": {"tipo": "operativas", "territorio": "local"},
    "grupo_detalle_stats": {"tipo": "operativas", "periodo_id": 2, "grupo_id": 1},
    "branch_latest": {"tipo": "operativas", "periodo_id": 2, "sucursal_id": 1},
    "branch_areas": {"tipo": "seguridad", "periodo_id": 2, "sucursal_id": 1},
    "supervision_areas_by_id": {"tipo": "operativas", "supervision_id": 2},
}


def _shuffles(df) -> int:
    """Shuffle Exchanges in the executed plan (BroadcastExchange and
    reused exchanges are not counted)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan))


def test_one_split_tables_plan_no_shuffle(spark, domain_files):
    """Over one-split tables (the parquet copies of the api domain
    fixture) every dashboard endpoint plans without a shuffle:
    api._table serves each table as one partition, which meets
    every aggregate, window and sort requirement. The rewrite depends
    on that precondition, so over the same rows as in-memory frames of
    two partitions ranking_sucursales still shuffles."""
    from epl_cas_etl_2026_spark import api

    frames, _, root = domain_files
    scans = one_split_tables(spark, frames, root)
    shuffles = {
        name: _shuffles(getattr(api, name)(scans, **kw))
        for name, kw in _ONE_SPLIT_ENDPOINTS.items()
    }
    assert not any(shuffles.values()), shuffles
    kw = _ONE_SPLIT_ENDPOINTS["ranking_sucursales"]
    assert _shuffles(api.ranking_sucursales(multi_split_tables(frames), **kw)) > 0


def test_second_build_launches_no_job(spark, domain_files):
    """Over one-split tables, once every endpoint has served a request,
    building any endpoint's DataFrame again launches no Spark job: the
    table snapshots are lazy, and heatmap_matrix's period codes are
    kept per periodos_cas frame. The benchmark's
    ``api.build_jobs_per_req`` reads the same job-group count."""
    from epl_cas_etl_2026_spark import api

    frames, _, root = domain_files
    scans = one_split_tables(spark, frames, root)
    for name, kw in _ONE_SPLIT_ENDPOINTS.items():
        getattr(api, name)(scans, **kw).collect()
    sc = spark.sparkContext
    for name, kw in _ONE_SPLIT_ENDPOINTS.items():
        sc.setJobGroup(f"build-{name}", "second build")
        try:
            getattr(api, name)(scans, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = {
        name: len(tracker.getJobIdsForGroup(f"build-{name}"))
        for name in _ONE_SPLIT_ENDPOINTS
    }
    assert not any(jobs.values()), jobs


def test_runtime_bloom_filter_injection(spark, sf_oracle):
    """Scale feature demo: Spark's runtime bloom-filter injection
    (SPARK-32268) — with a selective build side and a shuffle join,
    the optimizer injects might_contain(bloom_filter_agg(...)) on the
    probe side so the fact scan drops non-joining rows BEFORE the
    shuffle. Local scans sit under the 10 GiB application-side
    threshold, so the test lowers it to 0 (and disables broadcast so a
    join survives to inject into) purely to exercise the path the
    100 TB deployment gets by default; confs restore afterwards."""
    from pyspark.sql import functions as F

    from epl_cas_etl_2026_spark.sources.parquet import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, sf_oracle, "orders").filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_totalprice") > 450000)
        )
        li = load_table(spark, sf_oracle, "lineitem")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("rev"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        row = j.collect()[0]
        assert row["n"] > 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_smoke):
    """The benchmark gram set must broadcast (left-semi, BuildRight) so
    corpus grams never shuffle, and no cartesian form may appear."""
    from epl_cas_etl_2026_spark.plans.extensions import (
        docs_benchmark_decontaminate,
    )

    plan = (
        docs_benchmark_decontaminate(spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi, BuildRight" in plan, plan[:1500]
    assert "CartesianProduct" not in plan


def test_weighted_sample_is_take_ordered(spark, sf_smoke):
    """Efraimidis-Spirakis top-k must compile to TakeOrderedAndProject
    (per-partition heaps + driver merge) — zero exchanges, no global
    sort of the fact."""
    from epl_cas_etl_2026_spark.plans.extensions import (
        orders_weighted_sample_noreplace,
    )

    plan = (
        orders_weighted_sample_noreplace(spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 0, plan


def test_exact_substring_dedup_single_scan_jvm_rewrite(spark, sf_oracle):
    """ExactSubstr (round 8): the pinned-candidate / pinned-span plan
    must keep exactly ONE parquet scan in the final query (the gram
    explode and its two-phase hash→string confirm live behind the
    checkpoint cuts and run once, not three times), the doc rewrite
    must stay a JVM higher-order fold (no Arrow/Python eval anywhere),
    and post-checkpoint exchanges must stay on the doc/source keys."""
    plan = _plan(spark, sf_oracle, "docs_exact_substring_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("FileScan parquet") == 1, plan.count("FileScan parquet")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    exchanges = set(re.findall(r"hashpartitioning\((\w+)#", plan))
    assert exchanges <= {"doc_id", "source", "h", "gram"}, exchanges
    # scan reads only the three columns the query needs
    m = re.search(r"ReadSchema: [^\n]*", plan)
    assert m and "lang" not in m.group(0), m.group(0)


def test_dsir_broadcasts_terms_and_takes_ordered(spark, sf_oracle):
    """DSIR's term table (B=256 rows) must broadcast — never shuffle
    the gram stream by bucket for the weight join — and the top-K
    must be TakeOrderedAndProject, not a global sort."""
    plan = _plan(spark, sf_oracle, "docs_dsir_topk_select")
    assert "TakeOrderedAndProject" in plan
    # the corpus-side weight join must broadcast the 256-row term
    # table (a sort-merge join here would shuffle the whole gram
    # stream by bucket a second time); the bucket-count aggregations
    # themselves may exchange — they are map-side combined to <=B
    # rows per partition before any shuffle
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, re.findall(r"\w*Join\w*", plan)
    # the one nested-loop join is the broadcast 1-row totals frame
    assert plan.count("BroadcastNestedLoopJoin") <= 1
