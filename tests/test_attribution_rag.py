"""Fixture + randomized pure-Python differential tests for the
position-based multi-touch attribution and the RAG context packer.
Oracle parity is covered by the differential sweep; these pin the
credit-split arithmetic and the greedy-prefix packing semantics."""

from __future__ import annotations

import datetime as dt
import os
import random

from epl_cas_etl_2026_spark.plans.enrich import events_multitouch_attribution
from epl_cas_etl_2026_spark.plans.retrieval import (
    _RAG_BUDGET,
    docs_rag_context_pack,
)

_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write(spark, tmp_path, table, rows, schema):
    d = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, f"{table}.parquet")
    )
    return d


def _ev(eid, minute, user, etype):
    return (eid, dt.datetime(2024, 3, 1, 10, 0, 0)
            + dt.timedelta(minutes=minute), user, etype, 1.0, "{}")


def _py_attribution(rows):
    """Third implementation: pure-Python conversion-path partitioning +
    U-shaped split. rows = (event_id, minute_ts, user, type)."""
    from collections import defaultdict

    per_user = defaultdict(list)
    for eid, ts, u, t in rows:
        per_user[u].append((ts, eid, t))
    agg = defaultdict(lambda: [0, 0, 0, 0])  # type -> [n, first, last, bps]
    for u, evs in per_user.items():
        evs.sort()
        paths, cur = [], []
        for ts, eid, t in evs:
            if t == "purchase":
                paths.append(cur)
                cur = []
            elif t in ("click", "view", "signup"):
                cur.append((ts, eid, t))
        for path in paths:
            n = len(path)
            for pos, (_, _, t) in enumerate(path, start=1):
                if n == 1:
                    bps = 10000
                elif n == 2:
                    bps = 5000
                elif pos in (1, n):
                    bps = 4000
                else:
                    bps = 2000 // (n - 2) + (
                        2000 % (n - 2) if pos == 2 else 0
                    )
                a = agg[t]
                a[0] += 1
                a[1] += pos == 1
                a[2] += pos == n
                a[3] += bps
    return {t: tuple(v) for t, v in agg.items()}


def test_attribution_u_split_and_path_partitioning(spark, tmp_path):
    """P1 takes the three touches before it (4000/2000/4000), P2 the
    single touch between the purchases (10000); a dangling touch after
    the last purchase earns nothing; 'error' events never touch."""
    rows = [
        _ev(1, 0, 1, "click"),
        _ev(2, 1, 1, "view"),
        _ev(3, 2, 1, "signup"),
        _ev(4, 3, 1, "purchase"),
        _ev(5, 4, 1, "view"),
        _ev(6, 5, 1, "purchase"),
        _ev(7, 6, 1, "click"),      # dangling — after last purchase
        _ev(8, 0, 2, "error"),      # never a touch
        _ev(9, 1, 2, "purchase"),   # purchase with zero touches
    ]
    d = _write(spark, tmp_path, "events", rows, _EV_SCHEMA)
    got = {r["event_type"]: r.asDict()
           for r in events_multitouch_attribution(spark, d).collect()}
    assert set(got) == {"click", "view", "signup"}
    assert got["click"]["credit_bps"] == 4000      # first of P1 path only
    assert got["signup"]["credit_bps"] == 4000     # last of P1 path
    assert got["view"]["credit_bps"] == 2000 + 10000  # middle + solo
    total = sum(r["credit_bps"] for r in got.values())
    assert total == 20000  # exactly 10000 per attributed purchase


def test_attribution_remainder_goes_to_earliest_middle(spark, tmp_path):
    """n=5 touches: the three middle positions split 2000 →
    668/666/666 with the
    remainder on the earliest middle position."""
    rows = [
        _ev(1, 0, 1, "click"),
        _ev(2, 1, 1, "view"),    # pos 2 → 666 + 2
        _ev(3, 2, 1, "signup"),  # pos 3 → 666
        _ev(4, 3, 1, "view"),    # pos 4 → 666
        _ev(5, 4, 1, "click"),
        _ev(6, 5, 1, "purchase"),
    ]
    d = _write(spark, tmp_path, "events", rows, _EV_SCHEMA)
    got = {r["event_type"]: r.asDict()
           for r in events_multitouch_attribution(spark, d).collect()}
    assert got["click"]["credit_bps"] == 8000
    assert got["view"]["credit_bps"] == 668 + 666
    assert got["signup"]["credit_bps"] == 666
    assert sum(r["credit_bps"] for r in got.values()) == 10000


def test_attribution_matches_pure_python_randomized(spark, tmp_path):
    """200 seeded random events across 8 users vs the pure-Python
    reimplementation — every aggregate column equal."""
    rng = random.Random(60_601)
    rows, raw = [], []
    for eid in range(200):
        minute = rng.randrange(0, 5000)
        user = rng.randrange(1, 9)
        etype = rng.choice(
            ["click", "view", "signup", "error", "purchase", "purchase"]
        )
        rows.append(_ev(eid, minute, user, etype))
        raw.append((eid, minute, user, etype))
    d = _write(spark, tmp_path, "events", rows, _EV_SCHEMA)
    got = {r["event_type"]: (r["n_touches"], r["n_first"], r["n_last"],
                             r["credit_bps"])
           for r in events_multitouch_attribution(spark, d).collect()}
    exp = _py_attribution(raw)
    assert got == exp


def test_rag_pack_budget_is_a_prefix_stop(spark, tmp_path):
    """Packing is a PREFIX of the ranked shortlist: once a chunk
    overflows the budget, no later (smaller) chunk sneaks in; ranks
    and cumulative sums recompute exactly in pure Python."""
    # 12 docs of 64 tokens each containing 'hash' i times → distinct
    # scores; every chunk is exactly one 64-token window
    docs = []
    for i in range(1, 13):
        words = ["hash"] * i + ["w%d" % j for j in range(64 - i)]
        docs.append((i, " ".join(words), "en", "s", 64 * 5))
    d = _write(spark, tmp_path, "documents", docs, _DOC_SCHEMA)
    rows = docs_rag_context_pack(spark, d).collect()
    # ranked by score desc → doc 12, 11, ... each 64 tokens; budget 512
    # admits exactly 8 chunks (8*64 = 512)
    assert len(rows) == _RAG_BUDGET // 64 == 8
    assert [r["doc_id"] for r in rows] == [12, 11, 10, 9, 8, 7, 6, 5]
    assert [r["rank"] for r in rows] == list(range(1, 9))
    cum = 0
    for r in rows:
        cum += r["chunk_tokens"]
        assert r["cum_tokens"] == cum
    assert cum <= _RAG_BUDGET


def test_rag_pack_scores_chunk_slice_not_whole_doc(spark, tmp_path):
    """A term in the SECOND window of a long doc must score chunk 1,
    not chunk 0 (the packer scores the slice, not the document)."""
    words = ["w%d" % j for j in range(48)] + ["hash"] + [
        "v%d" % j for j in range(40)
    ]
    docs = [(1, " ".join(words), "en", "s", 400)]
    d = _write(spark, tmp_path, "documents", docs, _DOC_SCHEMA)
    rows = docs_rag_context_pack(spark, d).collect()
    # token 49 ('hash') is inside BOTH window 0 (tokens 1-64) and
    # window 1 (tokens 49-89, overlap 16) → both chunks score 1
    assert {(r["chunk_index"], r["score"]) for r in rows} == {
        (0, 1), (1, 1)
    }
