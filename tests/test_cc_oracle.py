"""The sf1 iterative-closure oracle (tools/rehearse_sf1.build_cc_comp)
must agree with the committed recursive-CTE oracles at a scale where
BOTH can run. Three-way pin at sf0.01: iterative DuckDB closure ==
recursive-CTE DuckDB closure == Spark large-star/small-star output
(the last via the gated queries, already hash-gated by the driver).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_utils import duckdb_connection

SF = "/root/testdata/sf0.01"


def test_iterative_closure_matches_recursive_cte():
    from epl_cas_etl_2026_spark.plans import ORACLES
    from tools.rehearse_sf1 import CLOSURE_FINAL, build_cc_comp

    con = duckdb_connection(SF)
    rounds = build_cc_comp(con)
    assert rounds <= 60
    for name in ("docs_near_dup_clusters", "docs_dedup_keep_best"):
        it = con.sql(CLOSURE_FINAL[name]).fetchall()
        rec = con.sql(ORACLES[name]).fetchall()
        assert it == rec, name


def test_iterative_closure_adversarial_chain():
    """A long CHAIN is the worst case for plain min-propagation
    (diameter rounds); pointer doubling must converge in O(log n).
    Build a 64-node chain + an 8-clique + singletons directly into the
    temp tables and check labels and round count."""
    import duckdb

    import tools.rehearse_sf1 as r

    con = duckdb.connect()
    chain = [(i, i + 1) for i in range(100, 164)]
    clique = [(a, b) for a in range(200, 208) for b in range(a + 1, 208)]
    pairs = chain + clique
    con.execute(
        "CREATE TEMP TABLE pairs (id_a BIGINT, id_b BIGINT)"
    )
    con.executemany("INSERT INTO pairs VALUES (?, ?)", pairs)
    # monkey-free: inline the body of build_cc_comp with our pair table
    con.execute(
        """CREATE OR REPLACE TEMP TABLE cc_edges AS
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs"""
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE cc_lab AS "
        "SELECT DISTINCT s AS node, s AS label FROM cc_edges"
    )
    rounds = 0
    while True:
        rounds += 1
        con.execute(
            """CREATE OR REPLACE TEMP TABLE cc_nxt AS
            SELECT node, MIN(label) AS label FROM (
              SELECT node, label FROM cc_lab
              UNION ALL
              SELECT e.d AS node, l.label
              FROM cc_edges e JOIN cc_lab l ON l.node = e.s
            ) GROUP BY node"""
        )
        con.execute(
            """CREATE OR REPLACE TEMP TABLE cc_lab2 AS
            SELECT a.node, LEAST(a.label, b.label) AS label
            FROM cc_nxt a JOIN cc_nxt b ON a.label = b.node"""
        )
        changed = con.sql(
            "SELECT COUNT(*) FROM cc_lab2 a JOIN cc_lab b "
            "ON a.node = b.node AND a.label <> b.label"
        ).fetchone()[0]
        con.execute(
            "CREATE OR REPLACE TEMP TABLE cc_lab AS SELECT * FROM cc_lab2"
        )
        if changed == 0:
            break
        assert rounds <= 60
    labs = dict(con.sql("SELECT node, label FROM cc_lab").fetchall())
    assert all(labs[i] == 100 for i in range(100, 165))
    assert all(labs[i] == 200 for i in range(200, 208))
    # pointer doubling: a 65-node chain needs ~log2(65) doubled hops,
    # far under the 64 rounds plain propagation would take
    assert rounds <= 12, rounds
