"""Plan audits for the decision-support suite (TPC-H Q2/Q8/Q9/Q11/Q12/
Q15/Q16/Q20/Q22 shapes): correctness is covered by the differential
oracle sweep; these assert the physical properties that make each
shape scale — broadcast dims, pushed filters, top-k short-circuits,
anti-join placement — and that scalar-subquery cross joins stay 1-row.
"""

from __future__ import annotations

import re

import pytest

from epl_cas_etl_2026_spark.plans import QUERIES, decision_support

# this module's queries only (the registry is shared by all plan modules)
_QUERIES = {
    n: fn
    for n, fn in QUERIES.items()
    if fn.__module__ == decision_support.__name__
}


def _plan(spark, sf_dir, name: str) -> str:
    return (
        _QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _pushed(plan: str) -> str:
    # capture to end-of-line: Spark truncates long filter lists at
    # ~100 chars (no closing bracket), which a [^]]+ pattern would drop
    return " ".join(re.findall(r"PushedFilters: \[[^\n]*", plan))


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_no_cartesian_product(spark, sf_oracle, name):
    # BroadcastNestedLoopJoin appears ONLY as the 1-row scalar-subquery
    # cross join (Q11 total, Q22 stats); a CartesianProduct anywhere is
    # a scale bug.
    plan = _plan(spark, sf_oracle, name)
    assert "CartesianProduct" not in plan
    if name not in (
        "important_stock_q11",
        "top_supplier_q15",
        "global_sales_opportunity_q22",
    ):
        assert "BroadcastNestedLoopJoin" not in plan


def test_q2_prunes_parts_before_shuffle(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "min_cost_supplier_q2")
    pushed = _pushed(plan)
    # part predicate reaches the parquet scan; qualifying-part semi
    # filter broadcasts; LIMIT 100 is a top-k, not a global sort
    assert "p_size" in pushed and "p_type" in pushed
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q9_part_filter_pushed_and_dims_broadcast(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "product_profit_q9")
    assert "StringStartsWith(p_name,hot)" in _pushed(plan).replace(" ", "")
    assert "BroadcastHashJoin" in plan


def test_q12_filters_pushed(spark, sf_oracle):
    pushed = _pushed(_plan(spark, sf_oracle, "priority_lines_q12"))
    assert "IsNotNull(l_shipdate)" in pushed and "l_returnflag" in pushed


def test_q16_exclusion_is_broadcast_anti_join(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "supplier_variety_q16")
    # the complaints exclusion must anti-join on a broadcast build side
    # (excluded suppliers are always a sliver of the fact stream)
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan[:2000]
    pushed = _pushed(plan)
    # p_size sits past Spark's 100-char filter-list truncation; brand
    # and type prove the part scan received the compound predicate
    assert "p_brand" in pushed and "p_type" in pushed


def test_q20_part_prefix_pushed_and_semi_join(spark, sf_oracle):
    plan = _plan(spark, sf_oracle, "promotion_candidates_q20")
    assert "StringStartsWith(p_name,red)" in _pushed(plan).replace(" ", "")
    assert "LeftSemi" in plan


def test_q15_ties_kept_exactly(spark, sf_oracle):
    # decimal-exact equality join against the scalar max: every supplier
    # tied at the max must appear (no float-rounded max can drop ties)
    df = _QUERIES["top_supplier_q15"](spark, sf_oracle)
    rows = df.collect()
    assert len(rows) >= 1
    assert len({r.total_revenue for r in rows}) == 1
