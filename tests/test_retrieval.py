"""Plan audits + semantic pins for the retrieval queries (correctness
vs DuckDB is covered by the differential sweep)."""

from __future__ import annotations

import pytest

from epl_cas_etl_2026_spark.plans import QUERIES, retrieval

# this module's queries only (the registry is shared by all plan modules)
_QUERIES = {
    n: fn for n, fn in QUERIES.items() if fn.__module__ == retrieval.__name__
}


def _plan(spark, sf_dir, name: str) -> str:
    return (
        _QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


# queries whose FINAL operator is LIMIT-k over a total order (or that
# contain a shortlist top-k): must compile to a partial top-k, never a
# global sort. The eval/keyword queries end in a bounded-row sort
# instead (|Q| = 5 metric rows / probe-docs × 3 terms) — a global sort
# there is over ≤ 15 rows by construction, so no top-k is required.
_TOPK_FINAL = {
    "docs_bm25_topk",
    "docs_inverted_index_rarest",
    "docs_hybrid_rrf_fusion",
    "docs_rag_context_pack",
}


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_no_cartesian_and_topk_short_circuit(spark, sf_oracle, name):
    plan = _plan(spark, sf_oracle, name)
    assert "CartesianProduct" not in plan
    if name in _TOPK_FINAL:
        assert "TakeOrderedAndProject" in plan


def test_bm25_term_filter_precedes_tf_shuffle(spark, sf_oracle):
    # the IN-term filter must run inside the scan/explode stage so only
    # query-term tokens reach the (doc_id, word) aggregate exchange —
    # at corpus scale this is the difference between shuffling ~hits
    # and shuffling the whole token stream; and the corpus must be
    # tokenized exactly once (tf is persisted; df reads the cache, not
    # a duplicated explode subtree)
    plan = _plan(spark, sf_oracle, "docs_bm25_topk")
    # both tf consumers (df aggregation + score join) must read the
    # persisted tf, not re-derive it — i.e. exactly two cache scans
    # (any Generate explode in the string is the InMemoryRelation
    # printing its cached definition, not a second tokenize stage)
    assert plan.count("InMemoryTableScan") == 2, plan[:1500]
    # and the term filter sits against the explode inside the cached
    # definition, before the (doc_id, word) exchange
    cached_def = plan[plan.index("InMemoryRelation") :]
    assert cached_def.index("IN (hash,merge,batch)") < cached_def.index(
        "FileScan parquet"
    )


def test_bm25_scores_monotone_in_term_hits(spark, sf_oracle):
    # semantic pin: every returned score is positive and the result is
    # sorted desc with doc_id tiebreak
    rows = _QUERIES["docs_bm25_topk"](spark, sf_oracle).collect()
    assert rows and all(row.score_millis > 0 for row in rows)
    keys = [(-row.score_millis, row.doc_id) for row in rows]
    assert keys == sorted(keys)


def test_inverted_index_postings_sorted(spark, sf_oracle):
    rows = _QUERIES["docs_inverted_index_rarest"](spark, sf_oracle).collect()
    assert len(rows) == 5
    for row in rows:
        ids = [int(x) for x in row.postings.split(",")]
        assert ids == sorted(ids)
        assert len(ids) == row.n_docs  # postings are DISTINCT doc ids
