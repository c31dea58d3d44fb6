"""Graph-analytics query shapes over corpus-derived graphs: weighted
PageRank on the word co-occurrence (bigram) digraph — the link-analysis
capability (term centrality / authority scoring) of the engine.

The bigram edge list is built as a PURE per-row expression (a
transform over the token array — no token-stream self-join, no extra
shuffle); edge weights come from one map-side-combined groupBy. The
iteration runs in exact integer fixed-point (operators/graph.py), so
all five rounds of divisions hash identically across engines — the
DuckDB oracle unrolls the same five iterations as chained CTEs and
must match bit-for-bit, making this a rare HASH-GATED iterative
algorithm (k-means stays rows-only because float centroids cannot
cross engines exactly; integer PageRank can).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.operators.graph import (
    BASE,
    bfs_hop_distance,
    DAMP_DEN,
    DAMP_NUM,
    RANK_SCALE,
    pagerank_fixed_point,
)
from epl_cas_etl_2026_spark.plans.registry import register as _register
from epl_cas_etl_2026_spark.sources.parquet import load_table

_ITERATIONS = 5

# per-row bigram pair construction over the cleaned token array; the
# slice bound keeps 0- and 1-token documents empty instead of erroring
# (try_element_at: the dummy iteration's out-of-range subscripts must
# not throw under default ANSI mode)
_PAIRS_EXPR = """
slice(
  transform(sequence(1, greatest(size(ws) - 1, 1)),
            i -> struct(try_element_at(ws, i) AS src,
                        try_element_at(ws, i + 1) AS dst)),
  1, greatest(size(ws) - 1, 0))
"""


def _pagerank_oracle(iterations: int) -> str:
    """Unroll the fixed-point iterations as chained CTEs (DuckDB has
    recursive CTEs, but unrolling keeps every round's arithmetic
    visibly identical to the Spark loop)."""
    ctes = [
        """
    WITH docs2 AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), toks AS (
      SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos
      FROM docs2
    ), edges AS (
      SELECT a.word AS src, b.word AS dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY 1, 2
    ), outw AS (
      SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src
    ), nodes AS (
      SELECT DISTINCT word FROM toks
    ), r0 AS (
      SELECT word, CAST({scale} AS BIGINT) AS r FROM nodes
    )""".format(scale=RANK_SCALE)
    ]
    for k in range(1, iterations + 1):
        ctes.append(
            """
    r{k} AS (
      SELECT n.word,
             CAST({base} + ({dnum} * COALESCE(inc.s, 0)) // {dden}
                  AS BIGINT) AS r
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst AS word, SUM((r.r * e.w) // o.out_w) AS s
        FROM edges e
        JOIN r{prev} r ON e.src = r.word
        JOIN outw o ON e.src = o.src
        GROUP BY e.dst
      ) inc USING (word)
    )""".format(
                k=k, prev=k - 1, base=BASE, dnum=DAMP_NUM, dden=DAMP_DEN
            )
        )
    return (
        ",".join(ctes)
        + """
    SELECT word, r AS rank_micros
    FROM r{last}
    ORDER BY rank_micros DESC, word
    LIMIT 10
    """.format(last=iterations)
    )


# ---------------------------------------------------------------------------
# Weighted PageRank over the word bigram digraph, 5 exact fixed-point
# iterations, top-10 terms by rank. Per iteration: one edges⋈ranks
# join + one groupBy(dst) (map-side combined) + the node left join —
# the canonical distributed PageRank step; nodes/edges persist once.
# ---------------------------------------------------------------------------
@_register("docs_word_pagerank", _pagerank_oracle(_ITERATIONS))
def docs_word_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_ws = docs.select(
        F.filter(F.split(F.col("text"), " "), lambda w: w != "").alias("ws")
    )
    pairs = with_ws.select(F.explode(F.expr(_PAIRS_EXPR)).alias("p")).select(
        F.col("p.src").alias("src"), F.col("p.dst").alias("dst")
    )
    edges = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    nodes = (
        with_ws.select(F.explode(F.col("ws")).alias("word")).distinct()
    )
    ranks = pagerank_fixed_point(
        nodes, edges, iterations=_ITERATIONS, node_col="word"
    )
    return ranks.orderBy(F.desc("rank_micros"), "word").limit(10)


_BFS_SOURCE = "merge"
_BFS_DEPTH = 4


def _bfs_oracle(source: str, depth: int) -> str:
    """Unrolled breadth-first levels: r_k = MIN-dist union of r_{k-1}
    and its one-hop expansion — identical set algebra to the Spark
    frontier loop (an early-emptied frontier changes nothing)."""
    ctes = [
        """
    WITH docs2 AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), toks AS (
      SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos
      FROM docs2
    ), e0 AS (
      SELECT a.word AS src, b.word AS dst
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ), edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0
      )
    ), r0 AS (
      SELECT '{source}' AS word, CAST(0 AS BIGINT) AS dist
    )""".format(source=source)
    ]
    for k in range(1, depth + 1):
        ctes.append(
            """
    r{k} AS (
      SELECT word, CAST(MIN(dist) AS BIGINT) AS dist FROM (
        SELECT word, dist FROM r{prev}
        UNION ALL
        SELECT e.dst AS word, CAST({k} AS BIGINT) AS dist
        FROM edges e JOIN r{prev} p ON e.src = p.word
      ) GROUP BY word
    )""".format(k=k, prev=k - 1)
        )
    return (
        ",".join(ctes)
        + """
    SELECT word, dist FROM r{last}
    ORDER BY dist, word
    """.format(last=depth)
    )


# ---------------------------------------------------------------------------
# Single-source BFS hop distance over the UNDIRECTED bigram graph
# (word adjacency = "ever appeared next to"): every word reachable
# from the source within 4 hops, with its hop count — the iterative
# frontier-expansion twin of the recursive-CTE closure. Edge build is
# the same zero-extra-shuffle per-row pair expression as PageRank's.
# ---------------------------------------------------------------------------
@_register(
    "docs_word_bfs_distance", _bfs_oracle(_BFS_SOURCE, _BFS_DEPTH)
)
def docs_word_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_ws = docs.select(
        F.filter(F.split(F.col("text"), " "), lambda w: w != "").alias("ws")
    )
    pairs = with_ws.select(F.explode(F.expr(_PAIRS_EXPR)).alias("p")).select(
        F.col("p.src").alias("src"), F.col("p.dst").alias("dst")
    )
    edges = (
        pairs.unionByName(
            pairs.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .persist()
    )
    dist = bfs_hop_distance(
        edges,
        _BFS_SOURCE,
        max_depth=_BFS_DEPTH,
        node_col="word",
    )
    return dist.orderBy("dist", "word")
