"""Text-retrieval query shapes over the documents corpus: BM25 ranked
search and inverted-index (posting-list) construction — the retrieval
side of a training-data pipeline (dedup against eval sets, RAG corpus
serving, quality-weighted sampling all start from these).

Scale shapes (100 TB):

- BM25: query terms are filtered from the token stream BEFORE any
  shuffle, so the per-(doc, term) aggregate only ever shuffles rows
  that mention a query term (~|q| × hit-rate of the corpus, not the
  corpus). Document length is a pure per-row expression on the scan
  (no tokenize-shuffle); corpus stats (N, avgdl) and per-term document
  frequencies are 1-row / |q|-row broadcasts. One real shuffle joins
  tf to dl on doc_id; the top-k is TakeOrderedAndProject.
- Inverted index: one groupBy(word) with map-side combine; posting
  lists stay bounded here by restricting to the rarest terms (a real
  index build would write every posting list to a sink instead of
  returning it).

Cross-engine determinism: BM25 scores mix ln() with float division,
so the emitted score is quantized to integer millis via
FLOOR(x*1000 + 0.5) (the repo-wide cross-engine float rule, see
docs_unigram_surprisal); every other output column is integer/string
exact. avgdl is computed as exact-integer SUM(dl)/COUNT so both
engines divide identical doubles.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.functions.vectors import cosine, to_double
from epl_cas_etl_2026_spark.plans.registry import register as _register
from epl_cas_etl_2026_spark.sources.parquet import load_table


# the standing test query: three mid-frequency corpus words
_BM25_TERMS = ("hash", "merge", "batch")
_K1 = 1.2
_B = 0.75


# ---------------------------------------------------------------------------
# BM25 top-k ranked retrieval. tf and df run over the term-filtered
# token stream only; dl is a per-row expression; (N, avgdl) and df are
# broadcast scalars; score = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
# with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), quantized to millis.
# ---------------------------------------------------------------------------
@_register(
    "docs_bm25_topk",
    """
    WITH dl AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w <> '')) AS BIGINT) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE word IN ('hash', 'merge', 'batch')
      GROUP BY doc_id, word
    ), df AS (
      SELECT word, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY word
    )
    SELECT tf.doc_id,
           CAST(FLOOR(SUM(
             ln(1 + (n_docs - df + 0.5) / (df + 0.5))
             * tf * (1.2 + 1)
             / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           ) * 1000 + 0.5) AS BIGINT) AS score_millis
    FROM tf
    JOIN df USING (word)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY score_millis DESC, tf.doc_id
    LIMIT 10
    """,
)
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _bm25_scored(docs)
        .orderBy(F.desc("score_millis"), "doc_id")
        .limit(10)
    )


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, score_millis) for every doc hitting ≥1 standing query
    term — the shared scorer behind docs_bm25_topk and the RRF fusion
    (extracted verbatim; the physical plan is unchanged)."""
    dl = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda w: w != "")
        )
        .cast("bigint")
        .alias("dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        # tf feeds both df and the score join; without materialization,
        # Catalyst duplicates the subtree and tokenizes the corpus
        # TWICE — at scale tf is tiny (query-term hits only), so
        # holding it is the correct trade. persist(), not
        # localCheckpoint (r12): serial consumers, KMV cache-lock case
        # inapplicable; A/B a wash (0.51/0.62 vs 0.51/0.62 min/med)
        # and persist keeps the plan-audit InMemoryTableScan pin.
        .persist()
    )
    df = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = (
        idf
        * F.col("tf")
        * (_K1 + 1)
        / (
            F.col("tf")
            + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.floor(F.sum(term_score) * 1000 + 0.5)
            .cast("bigint")
            .alias("score_millis")
        )
    )


# ---------------------------------------------------------------------------
# Inverted-index construction for the corpus's rarest terms: posting
# lists (sorted doc ids) per word. The full-index shape is one
# map-side-combined groupBy(word) writing lists to a sink; here the
# returned slice is bounded to the 5 rarest words (count, then word for
# a total order) so the result is driver-safe. Posting lists are
# emitted as comma-joined sorted ids — order pinned on both engines.
# ---------------------------------------------------------------------------
@_register(
    "docs_inverted_index_rarest",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(string_split(text, ' ')) AS word
      FROM documents
    ), ranked AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n_docs,
             string_agg(CAST(doc_id AS VARCHAR), ','
                        ORDER BY doc_id) AS postings
      FROM toks WHERE word <> ''
      GROUP BY word
    )
    SELECT word, n_docs, postings
    FROM ranked
    ORDER BY n_docs, word
    LIMIT 5
    """,
)
def docs_inverted_index_rarest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .distinct()
    )
    return (
        toks.groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc_id"))), ","
            ).alias("postings"),
        )
        .orderBy("n_docs", "word")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Phrase / proximity search over a POSITIONAL index (round-11; the
# retrieval-surface deepening the r10 runway named): the standard IR
# positional-postings query (Manning-Raghavan-Schütze IIR §2.4 —
# public algorithm). Query = the corpus's two most frequent words
# (count desc, word asc — engine-exact tie-break); per doc the
# positional posting lists of both terms are built AS PER-ROW INTEGER
# ARRAYS on the scan (no tokenize-shuffle anywhere), then
#
#   phrase_hits  = |{p ∈ pos(t1) : p+1 ∈ pos(t2)}|   (t1 t2 adjacency)
#   min_fwd_gap  = min{b - a : a ∈ pos(t1), b ∈ pos(t2), b > a}
#
# the classic "t1 NEAR t2" ranking pair. The min-gap is a sort-merge
# FOLD over the tag-encoded position stream (pos*2+tag), O(|A|+|B|)
# per doc — never the |A|×|B| cross product. DuckDB twin folds the
# same encoded stream with the flat-BIGINT-list accumulator +
# prepended-init sentinel (struct accumulators misbind in
# list_reduce).
#
# Scale shape (100 TB): term selection is one map-side-combined
# groupBy(word) (the only shuffle); the scoring pass is per-row
# integer expressions on the scan + TakeOrderedAndProject top-10 —
# ZERO exchanges after the scan. All-integer output, no float risk.
# ---------------------------------------------------------------------------
_GAP_INF = 1 << 40


@_register(
    "docs_phrase_proximity_topk",
    f"""
    WITH allw AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (
      SELECT w, COUNT(*) AS n FROM allw WHERE w <> '' GROUP BY w
    ),
    top2 AS (SELECT w, n FROM wc ORDER BY n DESC, w LIMIT 2),
    terms AS (
      SELECT list(w ORDER BY n DESC, w)[1] AS t1,
             list(w ORDER BY n DESC, w)[2] AS t2
      FROM top2
    ),
    d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    pos AS (
      SELECT doc_id,
             [i FOR i IN range(1, len(ws) + 1) IF ws[i] = t1] AS pa,
             [i FOR i IN range(1, len(ws) + 1) IF ws[i] = t2] AS pb
      FROM d, terms
    ),
    scored AS (
      SELECT doc_id,
             CAST(len(pa) AS BIGINT) AS n_t1,
             CAST(len(pb) AS BIGINT) AS n_t2,
             CAST(len(list_intersect([p + 1 FOR p IN pa], pb)) AS BIGINT)
               AS phrase_hits,
             list_reduce(
               [[CAST(0 AS BIGINT), {_GAP_INF}]] ||
               list_transform(
                 list_sort([p * 2 FOR p IN pa] || [p * 2 + 1 FOR p IN pb]),
                 x -> [x]),
               (acc, x) -> CASE WHEN x[1] % 2 = 0
                 THEN [x[1] // 2, acc[2]]
                 ELSE [acc[1],
                       CASE WHEN acc[1] > 0
                            THEN least(acc[2], x[1] // 2 - acc[1])
                            ELSE acc[2] END]
               END) AS st
      FROM pos WHERE len(pa) > 0 AND len(pb) > 0
    )
    SELECT doc_id, n_t1, n_t2, phrase_hits,
           CAST(NULLIF(st[2], {_GAP_INF}) AS BIGINT) AS min_fwd_gap
    FROM scored
    ORDER BY phrase_hits DESC, min_fwd_gap ASC NULLS LAST, doc_id
    LIMIT 10
    """,
)
def docs_phrase_proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    top2 = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(2)
        .collect()  # bounded driver coordination: exactly 2 rows
    )
    if len(top2) < 2:  # empty/degenerate corpus: schema'd zero rows
        return spark.createDataFrame(
            [],
            "doc_id long, n_t1 long, n_t2 long, "
            "phrase_hits long, min_fwd_gap long",
        )
    t1 = top2[0]["w"].replace("'", "''")
    t2 = top2[1]["w"].replace("'", "''")
    # let-bind split(text) via transform(array(...))[0] (the winnow
    # lesson: a raw column expression referenced inside a HOF lambda
    # gets inlined and re-evaluated PER ELEMENT by interpreted eval —
    # O(len²) per doc; the binding makes it once per row)
    def _positions(term: str) -> str:
        return (
            "transform(array(split(text, ' ')), ws ->"
            " filter(sequence(1, size(ws)),"
            f" i -> element_at(ws, i) = '{term}'))[0]"
        )

    d = docs.select(
        "doc_id",
        F.expr(_positions(t1)).alias("pa"),
        F.expr(_positions(t2)).alias("pb"),
    ).filter("size(pa) > 0 AND size(pb) > 0")
    fold = f"""
      aggregate(
        array_sort(concat(transform(pa, p -> cast(p * 2 as bigint)),
                          transform(pb, p -> cast(p * 2 + 1 as bigint)))),
        struct(cast(0 as bigint) as lasta,
               cast({_GAP_INF} as bigint) as best),
        (acc, x) -> IF(x % 2 = 0,
                       struct(x div 2 as lasta, acc.best as best),
                       struct(acc.lasta as lasta,
                              IF(acc.lasta > 0,
                                 least(acc.best, x div 2 - acc.lasta),
                                 acc.best) as best)),
        acc -> nullif(acc.best, {_GAP_INF}))
    """
    return (
        d.select(
            "doc_id",
            F.expr("cast(size(pa) as bigint)").alias("n_t1"),
            F.expr("cast(size(pb) as bigint)").alias("n_t2"),
            F.expr(
                "cast(size(array_intersect("
                "transform(pa, p -> p + 1), pb)) as bigint)"
            ).alias("phrase_hits"),
            F.expr(fold).cast("long").alias("min_fwd_gap"),
        )
        .orderBy(
            F.desc("phrase_hits"),
            F.asc_nulls_last("min_fwd_gap"),
            F.asc("doc_id"),
        )
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: Reciprocal Rank Fusion (Cormack, Clarke &
# Buettcher, SIGIR'09 — public algorithm) of a LEXICAL ranking (the
# standing BM25 query) and a SEMANTIC ranking (cosine to the standing
# query vector, vec_id 0) — the standard production shape for "BM25 +
# embedding" retrieval in a RAG / training-data pipeline.
#
# score(d) = Σ_lists 1/(K + rank_d), K = 60, summing only over lists
# that actually ranked d (the original RRF definition). Both input
# rankings are depth-limited to 50.
#
# Cross-engine determinism: ranks are ROW_NUMBERs over ALREADY
# QUANTIZED scores (BM25 millis; cosine rounded to 6dp — the two
# gated precedents) with id tie-breaks, so the rank integers are
# engine-exact; the fused score is the sum of at most two doubles
# computed from those integers in a fixed textual order (lex + sem),
# then micro-quantized.
#
# Scale shape (100 TB): each list is a TakeOrderedAndProject top-50
# over its scorer (BM25: term-filtered aggregate; cosine: brute scan
# at test scale, IVF ANN in the serving path — both exist in
# operators/similarity.py); the fusion itself is a 50∪50-row
# full-outer join — driver-bounded regardless of corpus size.
# ---------------------------------------------------------------------------
_RRF_K = 60
_RRF_DEPTH = 50


@_register(
    "docs_hybrid_rrf_fusion",
    f"""
    WITH dl AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w <> '')) AS BIGINT) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
      WHERE word IN ('hash', 'merge', 'batch')
      GROUP BY doc_id, word
    ), df AS (
      SELECT word, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY word
    ), bm AS (
      SELECT tf.doc_id,
             CAST(FLOOR(SUM(
               ln(1 + (n_docs - df + 0.5) / (df + 0.5))
               * tf * (1.2 + 1)
               / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
             ) * 1000 + 0.5) AS BIGINT) AS score_millis
      FROM tf
      JOIN df USING (word)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id
    ), lex AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score_millis DESC, doc_id) AS r
        FROM bm)
      WHERE r <= {_RRF_DEPTH}
    ), q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), sims AS (
      SELECT vec_id AS doc_id,
             ROUND(list_dot_product(embedding::DOUBLE[], qv)
                   / (sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[]))
                      * sqrt(list_dot_product(qv, qv))), 6) AS sim
      FROM embeddings, q
      WHERE vec_id <> 0
    ), sem AS (
      SELECT doc_id, r FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS r
        FROM sims)
      WHERE r <= {_RRF_DEPTH}
    )
    SELECT doc_id,
           CAST(COALESCE(l.r, 0) AS BIGINT) AS lex_rank,
           CAST(COALESCE(s.r, 0) AS BIGINT) AS sem_rank,
           CAST(FLOOR((
             (CASE WHEN l.r IS NULL THEN 0.0
                   ELSE 1.0 / ({_RRF_K} + l.r) END)
             + (CASE WHEN s.r IS NULL THEN 0.0
                     ELSE 1.0 / ({_RRF_K} + s.r) END)
           ) * 1000000 + 0.5) AS BIGINT) AS rrf_micros
    FROM lex l FULL OUTER JOIN sem s USING (doc_id)
    ORDER BY rrf_micros DESC, doc_id
    LIMIT 15
    """,
)
def docs_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # lexical list: BM25 top-50 (quantized millis, doc_id tie-break);
    # the row_number window runs AFTER the limit, on ≤ 50 rows —
    # driver-bounded, not a fact-sized SinglePartition window
    lex = (
        _bm25_scored(docs)
        .orderBy(F.desc("score_millis"), "doc_id")
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("score_millis"), F.asc("doc_id")))
            .alias("lex_r"),
        )
    )

    # semantic list: cosine-to-query top-50 (rounded 6dp, id tie-break)
    qrow = emb.filter(F.col("vec_id") == 0).select(
        to_double(F.col("embedding")).alias("qv")
    )
    sem = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine(to_double(F.col("embedding")), F.col("qv")), 6
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("sim"), F.asc("doc_id")))
            .alias("sem_r"),
        )
    )

    def term(rank_col):
        return F.when(rank_col.isNull(), F.lit(0.0)).otherwise(
            F.lit(1.0) / (F.lit(_RRF_K) + rank_col)
        )

    return (
        lex.join(sem, ["doc_id"], "full")
        .select(
            "doc_id",
            F.coalesce(F.col("lex_r"), F.lit(0))
            .cast("bigint")
            .alias("lex_rank"),
            F.coalesce(F.col("sem_r"), F.lit(0))
            .cast("bigint")
            .alias("sem_rank"),
            F.floor(
                (term(F.col("lex_r")) + term(F.col("sem_r"))) * 1000000
                + 0.5
            )
            .cast("bigint")
            .alias("rrf_micros"),
        )
        .orderBy(F.desc("rrf_micros"), "doc_id")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Retrieval-quality evaluation: hits@k / MRR / nDCG@k for a standing
# query set (vec_ids 1..5) against the label ground truth — the eval
# harness a retrieval pipeline runs after every index build. Ranking =
# cosine (rounded 6dp, id tie-break), relevance = candidate label ==
# query label, k = 10.
#
# Cross-engine determinism: the DCG discount 1/log2(r+1) is NOT
# computed in floats at query time — rank r ∈ 1..10, so the ten
# possible micro-quantized discounts are a PRECOMPUTED INTEGER TABLE
# inlined as literals in both engines (ln() on the exact mathematical
# half 1/log2(4) = 0.5 is a genuine floor-boundary landmine the usual
# quantize-last rule cannot absorb). DCG/IDCG are integer sums of
# table entries; nDCG is integer-division ppm.
#
# Scale shape (100 TB): |Q| queries broadcast against the corpus, one
# scan computing all |Q| rankings via per-query top-k; metrics are
# |Q|-row aggregates. The per-query window here partitions on qid
# (|Q| = 5 groups) — at production scale the top-k comes from the ANN
# serving path (embedding_ivfpq_topk) and this harness
# scores its output; the brute ranking doubles as the recall oracle.
# ---------------------------------------------------------------------------
_EVAL_QIDS = (1, 2, 3, 4, 5)
_EVAL_K = 10
# micro-quantized DCG discounts: W[r] = round(1e6 / log2(r+1)), r=1..10
_DCG_W = tuple(
    int(math.floor(1_000_000 / math.log2(r + 1) + 0.5))
    for r in range(1, _EVAL_K + 1)
)
# IDCG prefix sums: P[m] = Σ_{i=1..m} W[i], m=1..10
_IDCG_P = tuple(
    sum(_DCG_W[: m + 1]) for m in range(_EVAL_K)
)


@_register(
    "embedding_retrieval_eval_ndcg",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id IN {tuple(_EVAL_QIDS)}
    ), scored AS (
      SELECT q.qid, q.qlabel, e.vec_id, e.label,
             ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ), pool AS (
      SELECT qid,
             CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rel_pool
      FROM scored GROUP BY qid
    ), ranked AS (
      SELECT qid, qlabel, vec_id, label,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY sim DESC, vec_id) AS r
      FROM scored
    ), top AS (
      SELECT * FROM ranked WHERE r <= {_EVAL_K}
    ), m AS (
      SELECT qid,
             CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_at_k,
             CAST(COALESCE(MIN(CASE WHEN label = qlabel THEN r END), 0)
                  AS BIGINT) AS first_hit_rank,
             CAST(SUM(CASE WHEN label = qlabel
                           THEN ([{", ".join(str(w) for w in _DCG_W)}])[r]
                           ELSE 0 END) AS BIGINT) AS dcg_micros
      FROM top GROUP BY qid
    )
    SELECT m.qid AS query_id,
           q.qlabel AS query_label,
           p.n_rel_pool,
           m.hits_at_k,
           m.first_hit_rank,
           CAST(CASE WHEN m.first_hit_rank = 0 THEN 0
                     ELSE 1000000 // m.first_hit_rank END
                AS BIGINT) AS rr_micros,
           m.dcg_micros,
           CAST(CASE WHEN p.n_rel_pool = 0 THEN 0
                     ELSE ([{", ".join(str(p) for p in _IDCG_P)}])
                          [LEAST(p.n_rel_pool, {_EVAL_K})] END
                AS BIGINT) AS idcg_micros,
           CAST(CASE WHEN p.n_rel_pool = 0 THEN 0
                     ELSE m.dcg_micros * 1000000
                          // ([{", ".join(str(p) for p in _IDCG_P)}])
                             [LEAST(p.n_rel_pool, {_EVAL_K})] END
                AS BIGINT) AS ndcg_ppm
    FROM m
    JOIN pool p ON m.qid = p.qid
    JOIN (SELECT DISTINCT qid, qlabel FROM scored) q ON m.qid = q.qid
    ORDER BY query_id
    """,
)
def embedding_retrieval_eval_ndcg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id").isin(*_EVAL_QIDS))
        .select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            to_double(F.col("embedding")).alias("qv"),
        )
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(
                cosine(to_double(F.col("embedding")), F.col("qv")), 6
            ).alias("sim"),
        )
    )
    rel = F.col("label") == F.col("qlabel")
    in_top = F.col("r") <= _EVAL_K
    # ONE ranked pass computes both the pool counts (over all rows)
    # and the top-k metrics (rank-gated conditional aggregates) — no
    # persist, no second scan; element_at only evaluates under the
    # r <= k guard (ANSI-safe lazy CASE)
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    w_arr = F.array(*[F.lit(x) for x in _DCG_W])
    m = (
        scored.withColumn("r", F.row_number().over(w))
        .groupBy("qid", "qlabel")
        .agg(
            F.sum(rel.cast("long")).cast("bigint").alias("n_rel_pool"),
            F.sum((rel & in_top).cast("long"))
            .cast("bigint")
            .alias("hits_at_k"),
            F.coalesce(
                F.min(F.when(rel & in_top, F.col("r"))), F.lit(0)
            )
            .cast("bigint")
            .alias("first_hit_rank"),
            F.sum(
                F.when(
                    rel & in_top,
                    F.element_at(w_arr, F.col("r").cast("int")),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("dcg_micros"),
        )
    )
    p_arr = F.array(*[F.lit(x) for x in _IDCG_P])
    idcg = F.when(F.col("n_rel_pool") == 0, F.lit(0)).otherwise(
        F.element_at(
            p_arr, F.least(F.col("n_rel_pool"), F.lit(_EVAL_K)).cast("int")
        )
    )
    return (
        m.withColumn("idcg_micros", idcg.cast("bigint"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("qlabel").alias("query_label"),
            "n_rel_pool",
            "hits_at_k",
            "first_hit_rank",
            # integer div throughout (never a double quotient — a
            # correctly-rounded-UP double truncates differently than
            # integer floor division); nullif guards ANSI
            # DIVIDE_BY_ZERO on the no-hit / no-relevant rows
            F.coalesce(
                F.expr(
                    "1000000 div nullif(first_hit_rank, 0)"
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("rr_micros"),
            "dcg_micros",
            "idcg_micros",
            F.coalesce(
                F.expr(
                    "(dcg_micros * 1000000) div nullif(idcg_micros, 0)"
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("ndcg_ppm"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# RAG context assembly — the serving-side capstone composing three
# gated primitives: chunk long documents into overlapping token
# windows (stride 48 / window 64), score each
# chunk by standing-query-term occurrences IN THE CHUNK SLICE (not the
# whole doc), and greedily pack the top-ranked chunks into a fixed
# context budget (512 tokens) — rank order, prefix cumsum, stop at the
# budget. Everything is integer: term counts, ranks, token counts,
# prefix sums — no float appears anywhere.
#
# Scale shape (100 TB): chunk slicing + scoring are per-row array
# expressions in the scan stage; score > 0 prunes the corpus to
# query-term hits BEFORE any shuffle; the shortlist is
# TakeOrderedAndProject top-64; the pack cumsum is a window over ≤ 64
# rows. The only fact-sized work is the scan.
# ---------------------------------------------------------------------------
_RAG_BUDGET = 512
_RAG_SHORTLIST = 64
_RAG_W, _RAG_STRIDE, _RAG_OVERLAP = 64, 48, 16
# both engines cap fan-out at this many chunks per doc (the oracle's
# generate_series(0, 1000)); docs longer than ~48k tokens truncate
# identically on both sides
_RAG_MAX_CHUNKS = 1001


@_register(
    "docs_rag_context_pack",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tok,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), chunks AS (
      SELECT doc_id, c AS chunk_index,
             LEAST({_RAG_W}, n_tok - c * {_RAG_STRIDE}) AS chunk_tokens,
             len(list_filter(
               tok[(c * {_RAG_STRIDE} + 1):(c * {_RAG_STRIDE} + {_RAG_W})],
               w -> w IN ('hash', 'merge', 'batch'))) AS score
      FROM toks, generate_series(0, 1000) AS t(c)
      WHERE c * {_RAG_STRIDE} < n_tok
        AND (c = 0 OR c * {_RAG_STRIDE} + {_RAG_OVERLAP} < n_tok)
    ), short AS (
      SELECT * FROM chunks WHERE score > 0
      ORDER BY score DESC, doc_id, chunk_index
      LIMIT {_RAG_SHORTLIST}
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id, chunk_index)
               AS rank,
             SUM(chunk_tokens) OVER (ORDER BY score DESC, doc_id,
                                     chunk_index
                                     ROWS UNBOUNDED PRECEDING)
               AS cum_tokens
      FROM short
    )
    SELECT CAST(rank AS BIGINT) AS rank, doc_id,
           CAST(chunk_index AS BIGINT) AS chunk_index,
           CAST(score AS BIGINT) AS score,
           CAST(chunk_tokens AS BIGINT) AS chunk_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked
    WHERE cum_tokens <= {_RAG_BUDGET}
    ORDER BY rank
    """,
)
def docs_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("tok"),
        F.size(F.split("text", " ")).alias("n_tok"),
    )
    # cap the fan-out at 1001 chunks/doc (≈48k tokens) to match the
    # oracle's generate_series(0, 1000) bound EXACTLY — a longer doc
    # is truncated identically on both engines (test corpora max out
    # around 1k tokens; a production corpus would shard such docs
    # upstream)
    n_chunks = F.least(
        F.lit(_RAG_MAX_CHUNKS),
        F.greatest(
            F.lit(1),
            F.ceil(
                (F.col("n_tok") - F.lit(_RAG_OVERLAP)) / F.lit(_RAG_STRIDE)
            ).cast("int"),
        ),
    )
    chunks = toks.select(
        "doc_id",
        "tok",
        "n_tok",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_index"),
    ).select(
        "doc_id",
        "chunk_index",
        F.least(
            F.lit(_RAG_W),
            F.col("n_tok") - F.col("chunk_index") * _RAG_STRIDE,
        )
        .cast("long")
        .alias("chunk_tokens"),
        F.size(
            F.filter(
                F.slice(
                    F.col("tok"),
                    F.col("chunk_index") * _RAG_STRIDE + 1,
                    F.lit(_RAG_W),
                ),
                lambda w: w.isin(*_BM25_TERMS),
            )
        )
        .cast("long")
        .alias("score"),
    )
    short = (
        chunks.filter(F.col("score") > 0)
        .orderBy(F.desc("score"), "doc_id", "chunk_index")
        .limit(_RAG_SHORTLIST)
    )
    # post-limit frame: ≤ _RAG_SHORTLIST rows ever reach this window —
    # WindowExec's single-partition warning is expected and bounded
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"), F.asc("chunk_index"))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        short.select(
            F.row_number().over(w).cast("bigint").alias("rank"),
            "doc_id",
            F.col("chunk_index").cast("bigint").alias("chunk_index"),
            "score",
            "chunk_tokens",
            F.sum("chunk_tokens").over(wsum).cast("bigint").alias(
                "cum_tokens"
            ),
        )
        .filter(F.col("cum_tokens") <= _RAG_BUDGET)
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Per-document TF-IDF keyword extraction — the doc-labeling /
# summarization primitive (top-3 terms per document for a probe set of
# docs): tfidf(t, d) = tf · ln(N / df), ranked per doc over the
# MILLI-QUANTIZED score with a word tie-break, so the rank integers
# are engine-exact (the BM25/cosine precedent).
#
# Scale shape (100 TB): df comes from ONE map-side-combined
# groupBy(word) over the distinct (doc, word) stream — the vocab
# aggregate every index build already runs; the tf side is pruned to
# the probe docs BEFORE the join (5 docs here, a dashboard page's
# worth in production), so the join ships |probe| × |doc vocab| rows
# against the broadcast-scale df frame, and the per-doc rank window is
# probe-bounded. The full-corpus variant writes all (doc, top-k) pairs
# to a sink instead of returning them.
# ---------------------------------------------------------------------------
_TFIDF_PROBE_DOCS = 5
_TFIDF_TOPK = 3


@_register(
    "docs_tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ), tokf AS (
      SELECT doc_id, word FROM toks WHERE word <> ''
    ), n AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs
      FROM documents
    ), df AS (
      SELECT word, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
      FROM tokf GROUP BY word
    ), tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tokf WHERE doc_id < {_TFIDF_PROBE_DOCS}
      GROUP BY doc_id, word
    ), scored AS (
      SELECT tf.doc_id, tf.word, tf.tf,
             CAST(df.df AS BIGINT) AS df,
             CAST(FLOOR(tf.tf * ln(n_docs / df.df) * 1000 + 0.5)
                  AS BIGINT) AS tfidf_millis
      FROM tf JOIN df USING (word) CROSS JOIN n
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf_millis DESC, word)
               AS term_rank
      FROM scored
    )
    SELECT doc_id, CAST(term_rank AS BIGINT) AS term_rank, word,
           tf, df, tfidf_millis
    FROM ranked WHERE term_rank <= {_TFIDF_TOPK}
    ORDER BY doc_id, term_rank
    """,
)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokf = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    n = docs.agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs")
    )
    df = tokf.groupBy("word").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    tf = (
        tokf.filter(F.col("doc_id") < _TFIDF_PROBE_DOCS)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            F.col("df").cast("bigint").alias("df"),
            F.floor(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * 1000
                + 0.5
            )
            .cast("bigint")
            .alias("tfidf_millis"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_millis"), F.asc("word")
    )
    return (
        scored.withColumn(
            "term_rank", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("term_rank") <= _TFIDF_TOPK)
        .select("doc_id", "term_rank", "word", "tf", "df", "tfidf_millis")
        .orderBy("doc_id", "term_rank")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining — the contrastive-training-data operator: for
# each eval query, the top-K most-similar candidates whose label
# DISAGREES with the query's (near in embedding space, wrong class —
# exactly the negatives a contrastive/reranker fine-tune needs;
# random negatives are too easy, same-label candidates are
# positives). Same probe set, 6dp-rounded cosine and vec_id tie-break
# as the nDCG eval above; per-query top-K is a keyed window over the
# label-mismatch subset. Output grain: (query, neg_rank) — fully
# SQL-twinned, the mined ids themselves hash.
#
# 100 TB shape: the scan is corpus × |probe set| (the eval-baseline
# cost, probe sets are sampled); the label filter prunes BEFORE the
# rank, and the per-query window is the two-phase-prunable shape used
# throughout (|probe| keys here, so the plain keyed window is right).
# ---------------------------------------------------------------------------
_HN_K = 5


# ---------------------------------------------------------------------------
# Semantic decontamination — the embedding-space complement of the
# n-gram scrub (docs_benchmark_decontaminate): a corpus item is
# contaminated if it sits within cosine τ of ANY benchmark item, even
# with zero lexical overlap (paraphrased eval questions are the
# classic leak). Benchmark = the first 16 vectors (the repo's probe
# convention); production benchmarks are thousands of rows — SMALL —
# so corpus × benchmark with the benchmark broadcast IS the scale
# shape (one corpus pass, no shuffle), and the max-sim aggregation is
# map-side combined.
# ---------------------------------------------------------------------------
_DECON_TAU_MICRO = 400_000  # cosine ≥ 0.40 → semantically too close


@_register(
    "embedding_semantic_decontaminate",
    f"""
    WITH b AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    bench AS (SELECT vec_id AS bid, v AS bv FROM b WHERE vec_id < 16),
    corpus AS (SELECT vec_id, label, v FROM b WHERE vec_id >= 16),
    scored AS (
      SELECT c.vec_id, c.label,
             MAX(CAST(FLOOR(
               list_dot_product(c.v, bench.bv)
               / (sqrt(list_dot_product(c.v, c.v))
                  * sqrt(list_dot_product(bench.bv, bench.bv)))
               * 1000000 + 0.5) AS BIGINT)) AS max_sim_micro
      FROM corpus c CROSS JOIN bench
      GROUP BY c.vec_id, c.label
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_corpus,
           CAST(SUM(CASE WHEN max_sim_micro >= {_DECON_TAU_MICRO}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(MAX(max_sim_micro) AS BIGINT) AS worst_sim_micro
    FROM scored GROUP BY label ORDER BY label
    """,
)
def embedding_semantic_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", to_double(F.col("embedding")).alias("v")
    )
    bench = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("bid"), F.col("v").alias("bv")
    )
    corpus = emb.filter(F.col("vec_id") >= 16)
    scored = (
        corpus.crossJoin(F.broadcast(bench))
        .select(
            "vec_id",
            "label",
            F.floor(
                cosine(F.col("v"), F.col("bv")) * 1000000 + 0.5
            )
            .cast("long")
            .alias("sim_micro"),
        )
        .groupBy("vec_id", "label")
        .agg(F.max("sim_micro").alias("max_sim_micro"))
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_corpus"),
            F.sum(
                (F.col("max_sim_micro") >= _DECON_TAU_MICRO).cast("long")
            )
            .cast("long")
            .alias("n_contaminated"),
            F.max("max_sim_micro").cast("long").alias("worst_sim_micro"),
        )
        .orderBy("label")
    )


@_register(
    "embedding_hard_negatives",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id IN {tuple(_EVAL_QIDS)}
    ), scored AS (
      SELECT q.qid, q.qlabel, e.vec_id, e.label,
             ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                            e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid AND e.label <> q.qlabel
    ), ranked AS (
      SELECT qid, qlabel, vec_id, label, sim,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY sim DESC, vec_id) AS neg_rank
      FROM scored
    )
    SELECT qid AS query_id, qlabel AS query_label,
           CAST(neg_rank AS BIGINT) AS neg_rank,
           vec_id AS negative_id, label AS negative_label,
           CAST(FLOOR(sim * 1000000 + 0.5) AS BIGINT) AS sim_micro
    FROM ranked WHERE neg_rank <= {_HN_K}
    ORDER BY query_id, neg_rank
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(*_EVAL_QIDS)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        to_double(F.col("embedding")).alias("qv"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(
            (F.col("vec_id") != F.col("qid"))
            & (F.col("label") != F.col("qlabel"))
        )
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(
                cosine(to_double(F.col("embedding")), F.col("qv")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= _HN_K)
        .select(
            F.col("qid").alias("query_id"),
            F.col("qlabel").alias("query_label"),
            "neg_rank",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            F.floor(F.col("sim") * 1000000 + 0.5)
            .cast("long")
            .alias("sim_micro"),
        )
        .orderBy("query_id", "neg_rank")
    )
