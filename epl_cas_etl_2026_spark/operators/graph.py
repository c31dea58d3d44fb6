"""Distributed graph analytics beyond connected components (which
lives in operators/dedup.py): weighted PageRank in exact integer
fixed-point arithmetic.

Why fixed-point: classic PageRank iterates float divisions whose
associativity-dependent sums would hash differently across engines
(and across partitionings of the SAME engine). Holding ranks in
integer micro-units and using integral division makes every iteration
bit-exact and engine-independent — the same trick the repo uses for
moments, z-scores, and surprisal millibits. The trade (≤1 micro-unit
truncation per edge per iteration) is far below any ranking
granularity anyone consumes.

Scale shape: per iteration ONE join (edges ⋈ ranks on src — both
sides partitioned by src/word after the first iteration, so AQE
reuses the exchange) and ONE groupBy(dst) with map-side combine; the
node frame re-enters via a left join to keep rank mass for nodes
without in-edges. Edges and nodes persist once; iteration count is a
parameter, lineage stays a fixed-depth lazy plan (checkpointing per
round, as connected_components does, becomes worthwhile only for
10+-iteration runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RANK_SCALE = 1_000_000  # initial rank per node, in micro-units
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio
BASE = 150_000  # (1 - d) * RANK_SCALE


def pagerank_fixed_point(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 5,
    node_col: str = "word",
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted PageRank over (src, dst, weight) edges in integer
    micro-units: r0 = RANK_SCALE; each round
    r(v) = BASE + (85 * Σ_u (r(u)·w_uv div out_w(u))) div 100.
    Dangling-node mass is dropped (not redistributed) — deterministic
    and documented, matching the common sparse-implementation choice.
    Returns (node_col, rank_micros)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    outw = edges.groupBy(src).agg(F.sum(weight).alias("out_w"))
    # attach each source's total out-weight once, persist the small
    # normalized edge frame for reuse across iterations; only persist
    # (and later release) the nodes frame if the CALLER hasn't cached
    # it — unpersisting a caller-owned cache would silently evict it
    edges_n = edges.join(outw, src).persist()
    nodes_was_cached = nodes.is_cached
    if not nodes_was_cached:
        nodes = nodes.persist()
    ranks = nodes.select(
        F.col(node_col), F.lit(RANK_SCALE).cast("bigint").alias("r")
    )
    for _ in range(iterations):
        inc = (
            edges_n.join(ranks, edges_n[src] == ranks[node_col])
            .select(
                F.col(dst).alias("inc_node"),
                F.expr(f"(r * {weight}) div out_w").alias("contrib"),
            )
            .groupBy("inc_node")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = nodes.join(
            inc, nodes[node_col] == inc.inc_node, "left"
        ).select(
            F.col(node_col),
            (
                F.lit(BASE)
                + F.expr(f"({DAMP_NUM} * coalesce(s, 0L)) div {DAMP_DEN}")
            )
            .cast("bigint")
            .alias("r"),
        )
    # materialize (node-sized) before releasing the cached inputs, so
    # repeated gate/bench invocations don't accumulate leaked storage
    result = ranks.select(
        F.col(node_col), F.col("r").alias("rank_micros")
    ).localCheckpoint(eager=True)
    edges_n.unpersist()
    if not nodes_was_cached:
        nodes.unpersist()
    return result


def bfs_hop_distance(
    edges: DataFrame,
    source,
    max_depth: int,
    node_col: str = "word",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Single-source BFS hop distance by frontier expansion: the
    frontier joins the edge list, newly reached nodes (anti-join
    against everything already labeled) get distance k. Returns
    (node_col, dist: bigint) for every node reachable within
    max_depth hops, source included at 0.

    The per-round .count() is loop control only (a scalar at the
    driver boundary, like connected_components' convergence sum) —
    an empty frontier ends the walk early with a result identical to
    running all max_depth rounds. Scale shape: each round is one
    frontier⋈edges join (both sides hash-partitioned on the node
    key, reused across rounds) plus one anti-join against the label
    set; frontiers and labels persist, and unpersist when replaced.
    For graphs needing many rounds, checkpoint the label set every
    few rounds to cut lineage (same guidance as pagerank above)."""
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    spark = edges.sparkSession
    seed = (
        spark.range(1)
        .select(
            F.lit(source).alias(node_col),
            F.lit(0).cast("bigint").alias("dist"),
        )
        .persist()
    )
    # the cumulative label set is a UNION of the persisted per-round
    # frontier frames (each tiny) — one job per round (the frontier
    # count that doubles as loop control), instead of the former two
    # (count + an extra union materialization): the anti-join and the
    # final checkpoint read every member from cache.
    rounds = [seed]
    dist = seed
    frontier = seed.select(node_col)
    for k in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier[node_col] == edges[src])
            .select(F.col(dst).alias(node_col))
            .distinct()
            .join(dist.select(node_col), node_col, "left_anti")
            .select(
                F.col(node_col), F.lit(k).cast("bigint").alias("dist")
            )
            .persist()
        )
        if nxt.count() == 0:
            nxt.unpersist()
            break
        rounds.append(nxt)
        dist = dist.unionByName(nxt)
        frontier = nxt.select(node_col)
    # hand back a materialized (reachable-set-sized) frame and release
    # every cached intermediate, the (caller-persisted) edge frame
    # included — no storage leaks across invocations
    result = dist.localCheckpoint(eager=True)
    for f in rounds:
        f.unpersist()
    edges.unpersist()
    return result
