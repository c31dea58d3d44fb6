"""Unit + invariant tests for the fixed-point PageRank operator (the
gated query is covered by the differential oracle sweep)."""

from __future__ import annotations

import pytest

from epl_cas_etl_2026_spark.operators.graph import (
    RANK_SCALE,
    pagerank_fixed_point,
)
from epl_cas_etl_2026_spark.plans import QUERIES, graph

# this module's queries only (the registry is shared by all plan modules)
_QUERIES = {
    n: fn for n, fn in QUERIES.items() if fn.__module__ == graph.__name__
}


def _ranks(spark, nodes, edges, iterations):
    ndf = spark.createDataFrame([(n,) for n in nodes], ["word"])
    edf = spark.createDataFrame(edges, ["src", "dst", "w"])
    out = pagerank_fixed_point(ndf, edf, iterations=iterations)
    return {r.word: r.rank_micros for r in out.collect()}


def test_cycle_is_exact_fixed_point(spark):
    # a→b→c→a, unit weights: every node keeps exactly RANK_SCALE
    # (150000 + 85% of 1e6 == 1e6 — integer arithmetic closes exactly)
    ranks = _ranks(
        spark, ["a", "b", "c"], [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)], 3
    )
    assert ranks == {"a": RANK_SCALE, "b": RANK_SCALE, "c": RANK_SCALE}


def test_star_two_iterations_hand_computed(spark):
    # a→b and c→b: after one round b holds 150000 + 85%·2e6 = 1850000,
    # sources fall to the 150000 base; round two feeds b only the
    # shrunken base mass: 150000 + (85 · 300000) div 100 = 405000
    one = _ranks(spark, ["a", "b", "c"], [("a", "b", 1), ("c", "b", 1)], 1)
    assert one == {"a": 150_000, "b": 1_850_000, "c": 150_000}
    two = _ranks(spark, ["a", "b", "c"], [("a", "b", 1), ("c", "b", 1)], 2)
    assert two == {"a": 150_000, "b": 405_000, "c": 150_000}


def test_weighted_split_truncates_per_edge(spark):
    # a splits 2:1 over (b, c): contributions are floor(r·w/out_w) —
    # 666666 and 333333 exactly, each then damped
    ranks = _ranks(spark, ["a", "b", "c"], [("a", "b", 2), ("a", "c", 1)], 1)
    assert ranks["b"] == 150_000 + (85 * 666_666) // 100
    assert ranks["c"] == 150_000 + (85 * 333_333) // 100


def test_rejects_zero_iterations(spark):
    with pytest.raises(ValueError):
        _ranks(spark, ["a"], [("a", "a", 1)], 0)


def test_query_rank_mass_bounded(spark, sf_oracle):
    # total emitted mass can never exceed the initial corpus mass
    # (dangling truncation only removes mass); the top-10 is sorted
    rows = _QUERIES["docs_word_pagerank"](spark, sf_oracle).collect()
    assert 0 < len(rows) <= 10
    keys = [(-r.rank_micros, r.word) for r in rows]
    assert keys == sorted(keys)
    assert all(r.rank_micros >= 150_000 for r in rows)
