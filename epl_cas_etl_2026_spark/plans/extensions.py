"""Training-data pipeline query plans with DuckDB oracle twins: dedup,
near-dup LSH, text analysis, embedding similarity, event-time windows,
sessionization, JSON extraction (BASELINE.json north star; SURVEY.md
§7 Phase 4).

Determinism notes: all hash-based ops use md5-derived values both
engines compute identically; vector math is double-precision with a
fixed fold order; averages are rounded.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.functions.text import (
    bpe_token_count,
    greedy_pair_merge,
    quality_class,
    token_count,
)
from epl_cas_etl_2026_spark.functions.scalars import det_avg, det_avg_sql
from epl_cas_etl_2026_spark.functions.vectors import cosine, to_double
from epl_cas_etl_2026_spark.operators.dedup import near_dup_pairs
from epl_cas_etl_2026_spark.plans.registry import ORACLES, register as _register
from epl_cas_etl_2026_spark.sources.parquet import load_table, spread_scan


# ---------------------------------------------------------------------------
# Text analysis: token counts (whitespace + BPE-ish regex).
# ---------------------------------------------------------------------------
@_register(
    "docs_token_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(len(string_split(text, ' '))), 2) AS avg_tokens,
           ROUND(AVG(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))), 2) AS avg_bpe_tokens,
           ROUND(AVG(length(text)), 2) AS avg_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(token_count(t)), 2).alias("avg_tokens"),
            F.round(F.avg(bpe_token_count(t)), 2).alias("avg_bpe_tokens"),
            F.round(F.avg(F.length(t)), 2).alias("avg_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup over the FULL corpus: 60-bit simhash (Arrow-
# vectorized, md5-token variant both engines reproduce), banded into
# 4×15-bit keys, exact bit_count(xor) verify on candidates only.
# max_hamming=3 < n_bands ⇒ the band join has GUARANTEED 100% recall
# (pigeonhole) — unlike the probabilistic LSH paths, this one is
# exact w.r.t. its hamming threshold. One shuffle on band keys.
# ---------------------------------------------------------------------------
_SIMHASH_SQL = """
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b)
                           ELSE 0 END) AS BIGINT) AS h
      FROM (
        SELECT doc_id, b,
               SUM(CASE WHEN (hh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        FROM (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hh
          FROM (SELECT doc_id,
                       unnest(list_distinct(string_split(text, ' '))) AS tok
                FROM documents)
        ), generate_series(0, 59) AS t(b)
        GROUP BY doc_id, b
      ) GROUP BY doc_id
"""

# Verified simhash near-dup pairs (hamming <= 3) as a standalone
# SELECT — the pair-generation prefix shared (textually) by the
# docs_simhash_near_dup / docs_near_dup_clusters / docs_dedup_keep_best
# oracles. tools/rehearse_sf1.py builds its ITERATIVE closure oracle
# from this constant at sf1, where the recursive-CTE `reach` closure is
# output-quadratic on near-clique components (round-7 verdict item 5).
_SIMHASH_PAIRS_SQL = f"""
    WITH sim AS ({_SIMHASH_SQL}),
    banded AS (
      SELECT doc_id, k AS band, (h >> (k * 15)) & 32767 AS key
      FROM sim, generate_series(0, 3) AS t(k)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM banded a JOIN banded c
        ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
    )
    SELECT id_a, id_b FROM cand
    JOIN sim sa ON sa.doc_id = id_a
    JOIN sim sb ON sb.doc_id = id_b
    WHERE bit_count(xor(sa.h, sb.h)) <= 3
"""


@_register(
    "docs_simhash_near_dup",
    f"""
    WITH sim AS ({_SIMHASH_SQL}),
    banded AS (
      SELECT doc_id, k AS band, (h >> (k * 15)) & 32767 AS key
      FROM sim, generate_series(0, 3) AS t(k)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM banded a JOIN banded c
        ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sa.h, sb.h)) AS INTEGER) AS hamming
    FROM cand
    JOIN sim sa ON sa.doc_id = id_a
    JOIN sim sb ON sb.doc_id = id_b
    WHERE bit_count(xor(sa.h, sb.h)) <= 3
    ORDER BY id_a, id_b
    """,
)
def docs_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return (
        simhash_near_dup_pairs(docs, max_hamming=3)
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Duplicate CLUSTERS from near-dup pairs — connected components over
# the simhash pair graph (min-label propagation; the dedup step that
# picks one representative per cluster). Oracle: recursive-CTE
# transitive closure in DuckDB — an independent algorithm arriving at
# the same components.
# ---------------------------------------------------------------------------
@_register(
    "docs_near_dup_clusters",
    f"""
    WITH RECURSIVE sim AS ({_SIMHASH_SQL}),
    banded AS (
      SELECT doc_id, k AS band, (h >> (k * 15)) & 32767 AS key
      FROM sim, generate_series(0, 3) AS t(k)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM banded a JOIN banded c
        ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM cand
      JOIN sim sa ON sa.doc_id = id_a
      JOIN sim sb ON sb.doc_id = id_b
      WHERE bit_count(xor(sa.h, sb.h)) <= 3
    ),
    sym AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS n FROM sym),
    reach(a, b) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.a, e.d FROM reach r JOIN sym e ON r.b = e.s
    )
    SELECT comp AS component, COUNT(*) AS cluster_size
    FROM (SELECT a, MIN(b) AS comp FROM reach GROUP BY a)
    GROUP BY comp ORDER BY comp
    """,
)
def docs_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.dedup import (
        connected_components,
        simhash_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_near_dup_pairs(docs, max_hamming=3)
    comps = connected_components(pairs, "id_a", "id_b")
    return (
        comps.groupBy(F.col("label").alias("component"))
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# Dedup keep-best — the terminal dedup step: within each near-dup
# cluster keep ONE representative (longest text, ties → lowest id);
# docs in no cluster survive untouched. Output: per-lang corpus
# before/after counts.
# ---------------------------------------------------------------------------
@_register(
    "docs_dedup_keep_best",
    f"""
    WITH RECURSIVE sim AS ({_SIMHASH_SQL}),
    banded AS (
      SELECT doc_id, k AS band, (h >> (k * 15)) & 32767 AS key
      FROM sim, generate_series(0, 3) AS t(k)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM banded a JOIN banded c
        ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM cand
      JOIN sim sa ON sa.doc_id = id_a
      JOIN sim sb ON sb.doc_id = id_b
      WHERE bit_count(xor(sa.h, sb.h)) <= 3
    ),
    sym AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS n FROM sym),
    reach(a, b) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.a, e.d FROM reach r JOIN sym e ON r.b = e.s
    ),
    comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a),
    ranked AS (
      SELECT d.doc_id, d.lang,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY length(d.text) DESC, d.doc_id)
               AS rn
      FROM documents d JOIN comp c ON d.doc_id = c.doc_id
    ),
    kept AS (
      SELECT doc_id, lang FROM ranked WHERE rn = 1
      UNION ALL
      SELECT doc_id, lang FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM comp)
    )
    SELECT d.lang,
           COUNT(*) AS n_docs,
           (SELECT COUNT(*) FROM kept k WHERE k.lang = d.lang) AS n_kept
    FROM documents d GROUP BY d.lang ORDER BY d.lang
    """,
)
def docs_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.dedup import (
        connected_components,
        simhash_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_near_dup_pairs(docs, max_hamming=3)
    comps = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )
    clustered = docs.join(comps, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc(F.length("text")), F.asc("doc_id")
    )
    kept_in_clusters = (
        clustered.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang")
    )
    unclustered = docs.join(comps, "doc_id", "left_anti").select(
        "doc_id", "lang"
    )
    kept = kept_in_clusters.unionByName(unclustered)
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    kept_counts = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        totals.join(kept_counts, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection: MinHash signatures → LSH band buckets →
# exact Jaccard verify. No O(n²) pass anywhere.
# ---------------------------------------------------------------------------
_NEARDUP_BODY = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             [array_to_string(w[i:i+2], ' ') FOR i IN range(1, greatest(len(w) - 1, 1))] AS shingles
      FROM toks
    ),
    hp AS (  -- Kirsch-Mitzenmacher pair per shingle: one md5, 16 derived fns
      SELECT doc_id,
             [{'h1': CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT),
               'h2': CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT) % 72057594037927936}
              FOR s IN shingles] AS pairs
      FROM sh WHERE len(shingles) > 0
    ),
    sigs AS (
      SELECT doc_id,
             [list_min([(p.h1 + j * p.h2) % 4294967291 FOR p IN pairs])
              FOR j IN range(0, 16)] AS sig
      FROM hp
    ),
    banded AS (
      SELECT doc_id, b,
             array_to_string(sig[b*4+1:b*4+4], '-') AS band_key
      FROM sigs, generate_series(0, 3) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM banded a JOIN banded c
        ON a.b = c.b AND a.band_key = c.band_key AND a.doc_id < c.doc_id
    ),
    words AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM documents
    )
    SELECT id_a, id_b,
           ROUND(len(list_intersect(wa.ws, wb.ws)) * 1.0
                 / nullif(len(list_distinct(wa.ws || wb.ws)), 0), 6) AS jaccard
    FROM cand
    JOIN words wa ON wa.doc_id = id_a
    JOIN words wb ON wb.doc_id = id_b
    WHERE len(list_intersect(wa.ws, wb.ws)) * 1.0
          / nullif(len(list_distinct(wa.ws || wb.ws)), 0) >= 0.5
"""

_NEARDUP_ORACLE = _NEARDUP_BODY + "\n    ORDER BY id_a, id_b\n"

# incremental variant: same banding + verify, pairs restricted to
# those touching the "new batch" (doc_id % 10 = 9 — an arbitrary but
# deterministic 10% membership both engines compute identically)
_NEARDUP_INCR_ORACLE = (
    _NEARDUP_BODY
    + "\n      AND (id_a % 10 = 9 OR id_b % 10 = 9)"
    + "\n    ORDER BY id_a, id_b\n"
)


@_register("docs_near_dup_pairs", _NEARDUP_ORACLE)
def docs_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return near_dup_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        threshold=0.5,
        n_hashes=16,
        band_size=4,
        shingle_n=3,
        use_md5=True,
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Incremental near-dup — the daily-ingest shape: a new batch (10% of
# docs, membership doc_id % 10 = 9) is checked against the existing
# corpus via its PERSISTED MinHash signature index; only the batch is
# re-shingled/hashed. Oracle = the batch oracle restricted to pairs
# touching the batch (identical banding math), so the incremental path
# is pinned to produce exactly the batch semantics for those pairs.
# ---------------------------------------------------------------------------
@_register("docs_incremental_near_dup", _NEARDUP_INCR_ORACLE)
def docs_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.dedup import (
        minhash_signature_agg,
        near_dup_pairs_incremental,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_new = (F.col("doc_id") % 10) == 9
    # the signature index would be a stored table in production; built
    # here from the "old" corpus with the same hash params
    index_sigs = minhash_signature_agg(
        docs.filter(~is_new), "doc_id", "text", 16, 3, use_md5=True
    )
    return near_dup_pairs_incremental(
        docs.filter(is_new),
        index_sigs,
        docs,
        id_col="doc_id",
        text_col="text",
        threshold=0.5,
        n_hashes=16,
        band_size=4,
        shingle_n=3,
        use_md5=True,
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# MINHASH ESTIMATOR CALIBRATION (round-10): the near-dup stack's
# correctness gates pin that signatures/banding/verify agree across
# engines; this gate pins the ESTIMATOR'S QUALITY — for every LSH
# candidate pair, the signature-estimated Jaccard (matching components
# / 16) is compared against the exact distinct-3-shingle Jaccard, and
# the calibration curve (per estimated-match-count: pair count, exact
# min/mean-sum/max, summed |error|) goes under the hash gate. This is
# the audit a 100 TB dedup deployment runs before trusting a
# threshold: it shows exactly how many true-Jaccard millis each
# signature bucket spans. All integer (milli quantization via div), no
# float anywhere.
#
# 100 TB shape: signatures are ~128 B/doc; candidates come from the
# banded equi-join (never all-pairs); the exact verify joins the two
# DISTINCT-SHINGLE ARRAYS per candidate pair (the setjoin lesson:
# never re-explode token streams per pair), and shingle arrays are
# built ONLY for docs that appear in some candidate pair (semi-join
# pushdown) — at web scale that is the tiny near-dup-suspect slice,
# not the corpus.
# ---------------------------------------------------------------------------
@_register(
    "docs_minhash_estimate_error",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             [array_to_string(w[i:i+2], ' ')
              FOR i IN range(1, greatest(len(w) - 1, 1))] AS shingles
      FROM toks
    ),
    hp AS (
      SELECT doc_id,
             [{'h1': CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT),
               'h2': CAST(('0x' || substr(md5(s), 17, 15)) AS BIGINT)
                     % 72057594037927936}
              FOR s IN shingles] AS pairs
      FROM sh WHERE len(shingles) > 0
    ),
    sigs AS (
      SELECT doc_id,
             [list_min([(p.h1 + j * p.h2) % 4294967291 FOR p IN pairs])
              FOR j IN range(0, 16)] AS sig
      FROM hp
    ),
    banded AS (
      SELECT doc_id, b,
             array_to_string(sig[b*4+1:b*4+4], '-') AS band_key
      FROM sigs, generate_series(0, 3) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM banded a JOIN banded c
        ON a.b = c.b AND a.band_key = c.band_key AND a.doc_id < c.doc_id
    ),
    shd AS (
      SELECT doc_id, list_distinct(shingles) AS s FROM sh
    ),
    perpair AS (
      SELECT
        CAST(len(list_filter(range(0, 16),
                             j -> sa.sig[j+1] = sb.sig[j+1])) AS BIGINT)
          AS est_matches,
        CAST((1000 * len(list_intersect(da.s, db.s)))
             // greatest(len(list_distinct(da.s || db.s)), 1) AS BIGINT)
          AS exact_milli
      FROM cand
      JOIN sigs sa ON sa.doc_id = id_a
      JOIN sigs sb ON sb.doc_id = id_b
      JOIN shd da ON da.doc_id = id_a
      JOIN shd db ON db.doc_id = id_b
    )
    SELECT est_matches,
           CAST((1000 * est_matches) // 16 AS BIGINT) AS est_milli,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(exact_milli) AS BIGINT) AS sum_exact_milli,
           CAST(MIN(exact_milli) AS BIGINT) AS min_exact_milli,
           CAST(MAX(exact_milli) AS BIGINT) AS max_exact_milli,
           CAST(SUM(abs((1000 * est_matches) // 16 - exact_milli))
                AS BIGINT) AS sum_abs_err_milli
    FROM perpair GROUP BY est_matches ORDER BY est_matches
    """,
)
def docs_minhash_estimate_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from epl_cas_etl_2026_spark.functions.text import words
    from epl_cas_etl_2026_spark.operators.dedup import (
        minhash_signature_agg,
        shingles_of_words,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE signature pass shared by the banding and the estimator
    # columns (was two: lsh_candidate_pairs re-computed its own
    # internal signature frame — the md5-per-shingle hash scan is the
    # dominant stage of this query, and it ran twice). The banding
    # below is lsh_candidate_pairs(n_hashes=16, band_size=4) verbatim.
    # lazy localCheckpoint, not persist(): the cached-plan path
    # serializes concurrent consumer stages on cache-block locks and
    # blocks AQE on the cached subtree (r11 session-3 measurement on
    # the KMV query: 23-34 s persist vs 1.2 s checkpoint)
    sigs = minhash_signature_agg(
        docs, "doc_id", "text", 16, 3, use_md5=True
    ).localCheckpoint(eager=False)
    band_keys = F.array(
        *[
            F.concat_ws("-", *[F.col(f"h{b * 4 + j}") for j in range(4)])
            for b in range(4)
        ]
    )
    banded = sigs.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(band_keys).alias("band", "band_key"),
    )
    cands = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    cands = cands.localCheckpoint(eager=False)  # 3 consumers below
    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{j}").alias(f"a{j}") for j in range(16)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{j}").alias(f"b{j}") for j in range(16)],
    )
    est = F.expr(
        "CAST("
        + " + ".join(
            f"CASE WHEN a{j} = b{j} THEN 1 ELSE 0 END" for j in range(16)
        )
        + " AS BIGINT)"
    )
    # distinct-shingle arrays ONLY for docs in some candidate pair
    touched = (
        cands.select(F.col("id_a").alias("doc_id"))
        .unionByName(cands.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    shd = (
        docs.join(touched, "doc_id", "left_semi")
        .select("doc_id", words(F.col("text")).alias("__w"))
        .select(
            "doc_id",
            F.array_distinct(shingles_of_words(F.col("__w"), 3)).alias("s"),
        )
    )
    da = shd.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    db = shd.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    perpair = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .join(da, "id_a")
        .join(db, "id_b")
        .select(
            est.alias("est_matches"),
            F.expr(
                "CAST((1000 * size(array_intersect(sa, sb)))"
                " div greatest(size(array_union(sa, sb)), 1) AS BIGINT)"
            ).alias("exact_milli"),
        )
    )
    return (
        perpair.groupBy("est_matches")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("exact_milli").cast("long").alias("sum_exact_milli"),
            F.min("exact_milli").cast("long").alias("min_exact_milli"),
            F.max("exact_milli").cast("long").alias("max_exact_milli"),
            F.sum(
                F.abs(
                    F.expr("(1000 * est_matches) div 16")
                    - F.col("exact_milli")
                )
            )
            .cast("long")
            .alias("sum_abs_err_milli"),
        )
        .select(
            "est_matches",
            F.expr("CAST((1000 * est_matches) div 16 AS BIGINT)").alias(
                "est_milli"
            ),
            "n_pairs",
            "sum_exact_milli",
            "min_exact_milli",
            "max_exact_milli",
            "sum_abs_err_milli",
        )
        .orderBy("est_matches")
    )


# ---------------------------------------------------------------------------
# Embedding similarity: brute-force cosine top-k (TakeOrderedAndProject).
# ---------------------------------------------------------------------------
@_register(
    "embedding_topk_cosine",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_dot_product(embedding::DOUBLE[], qv)
                 / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                    * sqrt(list_dot_product(qv, qv))), 6) AS sim
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select(
        to_double(F.col("embedding")).alias("qv")
    )
    joined = emb.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qrow))
    return (
        joined.select(
            "vec_id",
            F.round(
                cosine(to_double(F.col("embedding")), F.col("qv")), 6
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Event-time windows (SURVEY.md §2.9 T4 extension): tumbling & sliding.
# ---------------------------------------------------------------------------
@_register(
    "events_tumbling_hourly",
    f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {det_avg_sql('value')} AS avg_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            det_avg(F.col("value")).alias("avg_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
        .orderBy("window_start", "event_type")
    )


@_register(
    "events_sliding_counts",
    """
    WITH expanded AS (
      SELECT time_bucket(INTERVAL '30 minutes', ts::TIMESTAMP)
               - o * (INTERVAL '30 minutes') AS ws,
             event_type
      FROM events, generate_series(0, 1) AS t(o)
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M') AS window_start,
           event_type, COUNT(*) AS n_events
    FROM expanded GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1-hour window sliding every 30 minutes: each event lands in two
    # windows; Spark's window() generates both natively.
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Sessionization: 30-minute-gap sessions per user (lag + running sum —
# the batch twin of a streaming session window).
# ---------------------------------------------------------------------------
@_register(
    "events_user_sessions",
    """
    WITH gaps AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts::TIMESTAMP)
                       - epoch_us(LAG(ts::TIMESTAMP) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800000000
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    )
    SELECT user_id, CAST(SUM(is_start) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM gaps GROUP BY user_id ORDER BY user_id
    """,
)
def events_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.unix_micros(F.col("ts"))).over(w)
    gaps = ev.withColumn(
        "is_start",
        F.when(
            prev.isNull() | ((F.unix_micros(F.col("ts")) - prev) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.sum("is_start").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Distributed moments: stddev + correlation per group computed from
# EXACT decimal moments (Σx, Σx², Σxy in integer cents), then the
# same closed-form double arithmetic on both engines — immune to the
# engine-specific variance algorithms (Welford vs sum-of-squares)
# that make naive STDDEV/CORR cross-engine unstable. Moments merge
# associatively, so this is also incremental-maintenance-ready.
# ---------------------------------------------------------------------------
@_register(
    "lineitem_moments_stats",
    """
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(FLOOR(CAST(l_quantity AS DOUBLE) * 100 + 0.5) AS HUGEINT)) AS sq,
             SUM(CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS HUGEINT)) AS sp,
             SUM(CAST(FLOOR(CAST(l_quantity AS DOUBLE) * 100 + 0.5) AS HUGEINT)
                 * CAST(FLOOR(CAST(l_quantity AS DOUBLE) * 100 + 0.5) AS HUGEINT)) AS sqq,
             SUM(CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS HUGEINT)
                 * CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS HUGEINT)) AS spp,
             SUM(CAST(FLOOR(CAST(l_quantity AS DOUBLE) * 100 + 0.5) AS HUGEINT)
                 * CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS HUGEINT)) AS sqp
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(SQRT((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n)
                 / (n - 1)) / 100, 4) AS stddev_qty,
           ROUND(SQRT((CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / n)
                 / (n - 1)) / 100, 2) AS stddev_price,
           ROUND((CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE) / n)
                 / SQRT((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n)
                        * (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / n)),
                 6) AS corr_qty_price
    FROM m ORDER BY l_returnflag
    """,
)
def lineitem_moments_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_scan (r12): six decimal(38) product aggregates over 600k
    # rows on one scan split — interleaved A/B 1.84 → 1.45 s med;
    # no-op at scale.
    li = spread_scan(load_table(spark, sf_dir, "lineitem"))
    qc = F.floor(F.col("l_quantity") * 100 + 0.5).cast("decimal(38,0)")
    pc = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("decimal(38,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qc).alias("sq"),
        F.sum(pc).alias("sp"),
        F.sum(qc * qc).alias("sqq"),
        F.sum(pc * pc).alias("spp"),
        F.sum(qc * pc).alias("sqp"),
    )
    n = F.col("n").cast("double")
    sq, sp = F.col("sq").cast("double"), F.col("sp").cast("double")
    sqq, spp, sqp = (
        F.col("sqq").cast("double"),
        F.col("spp").cast("double"),
        F.col("sqp").cast("double"),
    )
    var_q = (sqq - sq * sq / n) / (n - 1)
    var_p = (spp - sp * sp / n) / (n - 1)
    cov_num = sqp - sq * sp / n
    return m.select(
        "l_returnflag",
        F.col("n"),
        F.round(F.sqrt(var_q) / 100, 4).alias("stddev_qty"),
        F.round(F.sqrt(var_p) / 100, 2).alias("stddev_price"),
        F.round(
            cov_num
            / F.sqrt((sqq - sq * sq / n) * (spp - sp * sp / n)),
            6,
        ).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# F10 analogue — JSON navigation on the events props column.
# ---------------------------------------------------------------------------
@_register(
    "events_json_extract",
    f"""
    SELECT CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INTEGER) / 10) AS BIGINT) AS k_decile,
           COUNT(*) AS n,
           {det_avg_sql('value')} AS avg_value
    FROM events GROUP BY k_decile ORDER BY k_decile
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k_decile", F.floor(k / 10).cast("long"))
        .groupBy("k_decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            det_avg(F.col("value")).alias("avg_value"),
        )
        .orderBy("k_decile")
    )


# ---------------------------------------------------------------------------
# Language-ID (marker/n-gram heuristic): argmax of per-language marker
# hits, first-max-wins on ties (lexicographic language order).
# ---------------------------------------------------------------------------
LANG_MARKERS = {
    "core_ish": ("data", "value", "row", "key"),
    "ops_ish": ("batch", "window", "merge", "agg"),
    "sql_ish": ("query", "join", "filter", "scan"),
}


def _markers_sql(lang: str) -> str:
    toks = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split(text, ' '), x -> list_contains([{toks}], x)))"
    )


@_register(
    "docs_language_id",
    f"""
    WITH scored AS (
      SELECT doc_id,
             {_markers_sql('core_ish')} AS s_core,
             {_markers_sql('ops_ish')} AS s_ops,
             {_markers_sql('sql_ish')} AS s_sql
      FROM documents
    )
    SELECT CASE WHEN s_sql > GREATEST(s_core, s_ops) THEN 'sql_ish'
                WHEN s_ops > s_core THEN 'ops_ish'
                ELSE 'core_ish' END AS predicted_lang,
           COUNT(*) AS n_docs
    FROM scored GROUP BY predicted_lang ORDER BY predicted_lang
    """,
)
def docs_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explode → marker filter → conditional agg: tokens that match no
    # marker (the overwhelming majority) are dropped BEFORE the
    # shuffle, and every stage is whole-stage-codegen'd — unlike a
    # higher-order-function argmax over each row's token array, which
    # is interpreted per element. Zero-hit docs are restored by a
    # left join on the slim doc_id frame (argmax of all-zero = first
    # language, matching the oracle's CASE ordering).
    docs = load_table(spark, sf_dir, "documents")
    all_markers = sorted({m for ms in LANG_MARKERS.values() for m in ms})
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok").isin(all_markers))

    def _hits(lang: str) -> F.Column:
        return F.sum(
            F.when(F.col("tok").isin(*LANG_MARKERS[lang]), 1).otherwise(0)
        )

    scored = toks.groupBy("doc_id").agg(
        _hits("core_ish").alias("s_core"),
        _hits("ops_ish").alias("s_ops"),
        _hits("sql_ish").alias("s_sql"),
    )
    full = (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            *[
                F.coalesce(F.col(c), F.lit(0)).alias(c)
                for c in ("s_core", "s_ops", "s_sql")
            ]
        )
    )
    predicted = (
        F.when(
            F.col("s_sql") > F.greatest("s_core", "s_ops"), F.lit("sql_ish")
        )
        .when(F.col("s_ops") > F.col("s_core"), F.lit("ops_ish"))
        .otherwise(F.lit("core_ish"))
    )
    return (
        full.withColumn("predicted_lang", predicted)
        .groupBy("predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("predicted_lang")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: BANDED random-hyperplane LSH (the
# embedding analogue of MinHash banding) → exact cosine verify on the
# candidate pairs only. b bands × r sign bits each: a random pair
# collides in a band with prob 2^-r, so the candidate stage is
# ~n²·b/2^r — pick r ≈ log2(n) (and raise b for recall) and it stays
# ~O(n·b) instead of the fixed-bucket ~n²/const. The hyperplane
# matrix is a seeded literal shared verbatim with the DuckDB twin, so
# both engines band identically. Operator: similarity.band_lsh_pairs.
# ---------------------------------------------------------------------------
_LSH_BANDS = 16
_LSH_ROWS = 12  # sign bits per band ≈ log2(n) at the bench scale (n=2k)
_EMB_DIM = 64


def _lsh_planes() -> list[list[float]]:
    from epl_cas_etl_2026_spark.operators.similarity import hyperplanes

    return [
        [round(x, 4) for x in p]
        for p in hyperplanes(_EMB_DIM, _LSH_BANDS * _LSH_ROWS, seed=7)
    ]


def _planes_sql() -> str:
    rows = ", ".join(
        "[" + ", ".join(repr(x) for x in p) + "]" for p in _lsh_planes()
    )
    return "[" + rows + "]"


@_register(
    "embedding_near_dup_cosine",
    f"""
    WITH pl AS (SELECT {_planes_sql()} AS planes),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    bits AS (
      SELECT vec_id, v,
             [CASE WHEN list_dot_product(v, p) >= 0 THEN '1' ELSE '0' END
              FOR p IN planes] AS bits
      FROM v, pl
    ),
    banded AS (
      SELECT vec_id, b AS band,
             array_to_string(bits[b*{_LSH_ROWS}+1:b*{_LSH_ROWS}+{_LSH_ROWS}], '') AS key
      FROM bits, generate_series(0, {_LSH_BANDS - 1}) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
      FROM banded a JOIN banded c
        ON a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id
    ),
    nb AS (
      SELECT vec_id, [x / sqrt(list_dot_product(v, v)) FOR x IN v] AS nv
      FROM v
    )
    SELECT id_a, id_b, ROUND(list_dot_product(a.nv, c.nv), 6) AS sim
    FROM cand
    JOIN nb a ON a.vec_id = id_a
    JOIN nb c ON c.vec_id = id_b
    WHERE list_dot_product(a.nv, c.nv) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.similarity import band_lsh_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return band_lsh_pairs(
        emb,
        planes=_lsh_planes(),
        n_bands=_LSH_BANDS,
        rows_per_band=_LSH_ROWS,
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.4,
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# LSH ESTIMATOR CALIBRATION (round-11; the embedding twin of
# docs_minhash_estimate_error, per the r10 verdict item 4): for every
# band_lsh_pairs candidate, the sign-bit-estimated cosine (Goemans-
# Williamson: m agreeing bits out of P planes estimates
# cos(π·(1-m/P))) is compared against the exact cosine in integer
# millis, grouped into the calibration curve a 100 TB deployment
# audits before trusting a similarity threshold. The est-cosine-per-
# match-count mapping is a 193-entry INTEGER LITERAL table computed
# once in Python and injected verbatim into BOTH engines (the _DCG_W
# precedent) — no engine evaluates cos(); the only floats are the
# exact dots, quantized by the proven ROUND(sim,6) → FLOOR(x·1000+0.5)
# half-up rule. Candidates come from the banded equi-join (never
# all-pairs); est_matches is integer bit arithmetic over the band keys
# the banding stage already produced.
# ---------------------------------------------------------------------------
_LSH_P = _LSH_BANDS * _LSH_ROWS
_LSH_EST_MILLI = [
    int(math.floor(1000.0 * math.cos(math.pi * (1.0 - m / _LSH_P)) + 0.5))
    for m in range(_LSH_P + 1)
]


@_register(
    "embedding_lsh_estimate_error",
    f"""
    WITH pl AS (SELECT {_planes_sql()} AS planes),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    bits AS (
      SELECT vec_id, v,
             [CASE WHEN list_dot_product(v, p) >= 0 THEN '1' ELSE '0' END
              FOR p IN planes] AS bits
      FROM v, pl
    ),
    banded AS (
      SELECT vec_id, b AS band,
             array_to_string(bits[b*{_LSH_ROWS}+1:b*{_LSH_ROWS}+{_LSH_ROWS}], '') AS key
      FROM bits, generate_series(0, {_LSH_BANDS - 1}) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
      FROM banded a JOIN banded c
        ON a.band = c.band AND a.key = c.key AND a.vec_id < c.vec_id
    ),
    nb AS (
      SELECT vec_id, bits,
             [x / sqrt(list_dot_product(v, v)) FOR x IN v] AS nv
      FROM bits
    ),
    perpair AS (
      SELECT
        CAST(len(list_filter(range(0, {_LSH_P}),
                             j -> a.bits[j+1] = c.bits[j+1])) AS BIGINT)
          AS est_matches,
        CAST(FLOOR(ROUND(list_dot_product(a.nv, c.nv), 6) * 1000 + 0.5)
             AS BIGINT) AS exact_milli
      FROM cand
      JOIN nb a ON a.vec_id = id_a
      JOIN nb c ON c.vec_id = id_b
    ),
    curved AS (
      SELECT est_matches, exact_milli,
             ([{', '.join(str(x) for x in _LSH_EST_MILLI)}]
             )[est_matches + 1] AS est_cos_milli
      FROM perpair
    )
    SELECT est_matches,
           CAST(est_cos_milli AS BIGINT) AS est_cos_milli,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(exact_milli) AS BIGINT) AS sum_exact_milli,
           CAST(MIN(exact_milli) AS BIGINT) AS min_exact_milli,
           CAST(MAX(exact_milli) AS BIGINT) AS max_exact_milli,
           CAST(SUM(ABS(est_cos_milli - exact_milli)) AS BIGINT)
             AS sum_abs_err_milli
    FROM curved GROUP BY est_matches, est_cos_milli ORDER BY est_matches
    """,
)
def embedding_lsh_estimate_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.similarity import (
        band_lsh_calibration_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    perpair = band_lsh_calibration_pairs(
        emb,
        planes=_lsh_planes(),
        n_bands=_LSH_BANDS,
        rows_per_band=_LSH_ROWS,
        id_col="vec_id",
        vec_col="embedding",
    )
    lut = F.array(*[F.lit(int(x)) for x in _LSH_EST_MILLI])
    curved = perpair.select(
        "est_matches",
        F.element_at(lut, (F.col("est_matches") + 1).cast("int"))
        .cast("long")
        .alias("est_cos_milli"),
        F.expr(
            "CAST(FLOOR(ROUND(sim, 6) * 1000 + 0.5) AS BIGINT)"
        ).alias("exact_milli"),
    )
    return (
        curved.groupBy("est_matches", "est_cos_milli")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("exact_milli").cast("long").alias("sum_exact_milli"),
            F.min("exact_milli").cast("long").alias("min_exact_milli"),
            F.max("exact_milli").cast("long").alias("max_exact_milli"),
            F.sum(F.abs(F.col("est_cos_milli") - F.col("exact_milli")))
            .cast("long")
            .alias("sum_abs_err_milli"),
        )
        .select(
            "est_matches",
            "est_cos_milli",
            "n_pairs",
            "sum_exact_milli",
            "min_exact_milli",
            "max_exact_milli",
            "sum_abs_err_milli",
        )
        .orderBy("est_matches")
    )


# ---------------------------------------------------------------------------
# Auto-sized banded LSH — gates the OPERATIONAL entry point
# (band_lsh_pairs_auto + lsh_params_for), not just the fixed-(b, r)
# banding above. The (b, r) sizing rule is closed-form, so the DuckDB
# twin recomputes it from COUNT(*) alone: r = max(4, ceil(log2 n)),
# b = min(32, ceil(ln(1-recall)/ln(1-p^r))) with p = 1-acos(s)/pi —
# a cross-engine check of the scale law itself. The emitted pair set
# depends on the random hyperplanes (not SQL-reproducible), so the
# row instead pins precision: every emitted pair's exact cosine
# cleared the threshold (recall stays a property-test concern — it is
# probabilistic by design).
# ---------------------------------------------------------------------------
@_register(
    "embedding_lsh_auto_params",
    """
    WITH c AS (SELECT COUNT(*) AS n FROM embeddings),
    s AS (
      SELECT n,
             GREATEST(4, CAST(CEIL(LOG2(GREATEST(n, 2))) AS BIGINT)) AS r
      FROM c
    ),
    p AS (SELECT n, r, POWER(1.0 - ACOS(0.8) / PI(), r) AS pb FROM s)
    SELECT CAST(n AS BIGINT) AS n_vectors,
           CAST(LEAST(32, GREATEST(1,
                CAST(CEIL(LN(1.0 - 0.9) / LN(1.0 - pb)) AS BIGINT)))
             AS BIGINT) AS n_bands,
           CAST(r AS BIGINT) AS rows_per_band,
           TRUE AS precision_ok
    FROM p
    """,
)
def embedding_lsh_auto_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.similarity import (
        band_lsh_pairs_auto,
        lsh_params_for,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    b, r = lsh_params_for(n, target_sim=0.8, target_recall=0.9)
    pairs = band_lsh_pairs_auto(
        emb,
        dim=64,
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.4,
        target_sim=0.8,
        target_recall=0.9,
    )
    return pairs.agg(
        F.lit(n).cast("long").alias("n_vectors"),
        F.lit(b).cast("long").alias("n_bands"),
        F.lit(r).cast("long").alias("rows_per_band"),
        F.coalesce(F.min("sim") >= 0.4 - 1e-6, F.lit(True)).alias(
            "precision_ok"
        ),
    )


# ---------------------------------------------------------------------------
# Sign-bit coarse quantizer for the ANN evals below: 6 sign bits of
# the leading dims as the IVF bucket key (the pairwise case uses
# band_lsh_pairs above).
# ---------------------------------------------------------------------------
_N_SIGNBITS = 6

_SIGNBITS_SQL = "(" + " + ".join(
    f"CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END"
    for i in range(_N_SIGNBITS)
) + ")"


def _signbits_col(vec, n_bits: int = _N_SIGNBITS) -> F.Column:
    key = F.lit(0)
    for i in range(n_bits):
        key = key + F.when(vec[i] >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return key


# ---------------------------------------------------------------------------
# ANN quality evaluation — recall@k curve of the multi-probe sign-bit
# index against exact brute force, over a 16-query probe set (vec_ids
# 0..15). The serving-eval operator every ANN deployment needs: ship
# an index change only if recall@{1,5,10} holds. Both rankings use
# the same round-to-6dp cosine and vec_id tie-break, so the WHOLE
# curve — not an invariant subset — is the gated, SQL-twinned output.
#
# recall@k = |ANN top-k ∩ exact top-k| / k, averaged over queries
# (ppm, half-up integer division — exact integers to the end).
#
# 100 TB shape: the exact arm is the brute-force eval baseline and
# scans corpus × |probe set| on purpose (that IS the ground-truth
# cost; probe sets are sampled, corpus-pass-bounded). Per-query top-k
# is TWO-PHASE: per-physical-partition top-10 first (window over
# (qid, spark_partition_id) — result provably partition-layout-
# independent, since any global top-10 row is in its partition's
# top-10), then a global window over ≤ 10·P survivors per query —
# never one reducer holding a whole query's corpus scores.
# ---------------------------------------------------------------------------
_RECALL_KS = (1, 5, 10)


@_register(
    "embedding_ann_recall_curve",
    f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, {_SIGNBITS_SQL} AS bucket
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM b
          WHERE vec_id < 16),
    sims AS (
      SELECT qid, vec_id,
             ROUND(list_dot_product(v, qv)
                   / (sqrt(list_dot_product(v, v))
                      * sqrt(list_dot_product(qv, qv))), 6) AS sim,
             bit_count(xor(bucket, qb)) <= 1 AS probed
      FROM b, q WHERE vec_id <> qid
    ),
    ex AS (SELECT qid, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, vec_id) AS er
           FROM sims),
    an AS (SELECT qid, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY sim DESC, vec_id) AS ar
           FROM sims WHERE probed),
    hits AS (
      SELECT qid, er, ar FROM ex JOIN an USING (qid, vec_id)
      WHERE er <= 10 AND ar <= 10
    ),
    nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM q)
    SELECT k, n_queries,
           CASE WHEN n_queries = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((COALESCE(SUM(CASE WHEN er <= k AND ar <= k
                                              THEN 1 ELSE 0 END), 0)
                           * 1000000 + (n_queries * k) // 2)
                          // (n_queries * k) AS BIGINT)
           END AS recall_ppm
    FROM (VALUES {", ".join(f"(CAST({k} AS BIGINT))" for k in _RECALL_KS)})
         ks(k)
    CROSS JOIN nq
    LEFT JOIN hits ON TRUE
    GROUP BY k, n_queries ORDER BY k
    """,
)
def embedding_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    bucketed = emb.withColumn("bucket", _signbits_col(F.col("v")))
    q = bucketed.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qb"),
    )
    sims = (
        bucketed.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("sim"),
            (
                F.bit_count(
                    F.col("bucket").bitwiseXOR(F.col("qb")).cast("long")
                )
                <= 1
            ).alias("probed"),
        )
        .localCheckpoint(eager=False)  # exact + ANN ranking consumers
    )

    def _topk(df: DataFrame, rank_name: str) -> DataFrame:
        # phase 1: per-physical-partition prune (layout-independent:
        # a global top-10 row is always in its own partition's top-10)
        pid = df.withColumn("__pid", F.spark_partition_id())
        w1 = Window.partitionBy("qid", "__pid").orderBy(
            F.desc("sim"), F.asc("vec_id")
        )
        pruned = (
            pid.withColumn("__rn", F.row_number().over(w1))
            .filter(F.col("__rn") <= 10)
            .drop("__pid", "__rn")
        )
        # phase 2: global rank over <= 10 * n_partitions survivors
        w2 = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
        return (
            pruned.withColumn(rank_name, F.row_number().over(w2))
            .filter(F.col(rank_name) <= 10)
            .select("qid", "vec_id", rank_name)
        )

    ex = _topk(sims, "er")
    an = _topk(sims.filter(F.col("probed")), "ar")
    hits = ex.join(an, ["qid", "vec_id"])
    nq = q.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    ks = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(k).cast("long") for k in _RECALL_KS])
        ).alias("k")
    )
    return (
        ks.crossJoin(F.broadcast(nq))
        .join(F.broadcast(hits), F.lit(True), "left")
        .groupBy("k", "n_queries")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("er") <= F.col("k"))
                        & (F.col("ar") <= F.col("k")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("h")
        )
        .select(
            "k",
            "n_queries",
            F.when(F.col("n_queries") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "(h * CAST(1000000 AS BIGINT)"
                    " + (n_queries * k) div 2) div (n_queries * k)"
                )
            )
            .alias("recall_ppm"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Dimension-truncation recall sweep — the embedding-compression
# decision operator (Matryoshka-style): how much of full-dim exact
# top-10 survives if search uses only the first d dims? One row per
# budget d ∈ {8,16,32,64}; the d=64 row is a built-in self-check
# (recall ≡ 1). Same probe set, rounding, tie-break and two-phase
# per-query top-k as embedding_ann_recall_curve; the d axis rides the
# SAME pair scan (exploded, sliced in-plan) — one corpus×probes pass
# for the whole sweep, not one per budget.
# ---------------------------------------------------------------------------
_TRUNC_DS = (8, 16, 32, 64)


@_register(
    "embedding_dim_truncation_recall",
    f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM b WHERE vec_id < 16),
    sims AS (
      SELECT d, qid, vec_id,
             ROUND(list_dot_product(v[1:d], qv[1:d])
                   / NULLIF(sqrt(list_dot_product(v[1:d], v[1:d]))
                            * sqrt(list_dot_product(qv[1:d], qv[1:d])), 0),
                   6) AS sim
      FROM b, q,
           (VALUES {", ".join(f"({d})" for d in _TRUNC_DS)}) ds(d)
      WHERE vec_id <> qid
    ),
    rk AS (SELECT d, qid, vec_id,
                  ROW_NUMBER() OVER (PARTITION BY d, qid
                                     ORDER BY sim DESC NULLS LAST, vec_id)
                    AS r
           FROM sims),
    ex AS (SELECT qid, vec_id FROM rk WHERE d = 64 AND r <= 10),
    hits AS (
      SELECT rk.d, rk.qid FROM rk JOIN ex USING (qid, vec_id)
      WHERE rk.r <= 10
    ),
    nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM q)
    SELECT CAST(ds.d AS BIGINT) AS d, n_queries,
           CASE WHEN n_queries = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((COALESCE(COUNT(hits.qid), 0) * 1000000
                           + (n_queries * 10) // 2)
                          // (n_queries * 10) AS BIGINT)
           END AS recall_ppm
    FROM (VALUES {", ".join(f"({d})" for d in _TRUNC_DS)}) ds(d)
    CROSS JOIN nq
    LEFT JOIN hits ON hits.d = ds.d
    GROUP BY ds.d, n_queries ORDER BY d
    """,
)
def embedding_dim_truncation_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )
    q = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    ds = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(d).cast("int") for d in _TRUNC_DS])
        ).alias("d")
    )
    # One pass over the pair scan for the WHOLE d-sweep (was: the pair
    # scan ×4 via a crossJoin with the budget axis, each row slicing
    # and re-multiplying its own d-prefix): the three elementwise
    # product arrays (v·q, v·v, q·q — the only O(dim) multiply work)
    # are computed ONCE per pair inside a Generate barrier (explode of
    # a 1-element array, which CollapseProject cannot inline back into
    # the consumers), and each budget's dot/norms are then prefix
    # folds over slices of those arrays. aggregate(slice(zip_with(a,b),
    # 1, d)) is the same sequence of multiplies and left-fold adds as
    # aggregate(zip_with(slice(a), slice(b))) — sims are bit-identical
    # to the previous form, so the oracle hash is unchanged.
    prods = F.struct(
        F.zip_with("v", "qv", lambda a, b: a * b).alias("pq"),
        F.transform("v", lambda a: a * a).alias("vv"),
        F.transform("qv", lambda a: a * a).alias("qq"),
    )
    pairz = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", F.explode(F.array(prods)).alias("z"))
    )

    def _pref(arr, d):
        return F.aggregate(
            F.slice(arr, 1, d), F.lit(0.0), lambda acc, x: acc + x
        )

    sims = pairz.select(
        "qid",
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("int").alias("d"),
                        F.round(
                            _pref(F.col("z.pq"), d)
                            / F.nullif(
                                F.sqrt(_pref(F.col("z.vv"), d))
                                * F.sqrt(_pref(F.col("z.qq"), d)),
                                F.lit(0.0),
                            ),
                            6,
                        ).alias("sim"),
                    )
                    for d in _TRUNC_DS
                ]
            )
        ).alias("s"),
    ).select(F.col("s.d").alias("d"), "qid", "vec_id", F.col("s.sim").alias("sim"))

    def _trunc_topk(df: DataFrame) -> DataFrame:
        pid = df.withColumn("__pid", F.spark_partition_id())
        w1 = Window.partitionBy("d", "qid", "__pid").orderBy(
            F.desc_nulls_last("sim"), F.asc("vec_id")
        )
        pruned = (
            pid.withColumn("__rn", F.row_number().over(w1))
            .filter(F.col("__rn") <= 10)
            .drop("__pid", "__rn")
        )
        w2 = Window.partitionBy("d", "qid").orderBy(
            F.desc_nulls_last("sim"), F.asc("vec_id")
        )
        return (
            pruned.withColumn("r", F.row_number().over(w2))
            .filter(F.col("r") <= 10)
            .select("d", "qid", "vec_id")
        )

    # NO materialization (r12 A/B, verdict item 1): dropping the r11
    # lazy localCheckpoint measured 2.52/2.62 s (min/med) interleaved
    # vs 2.75/4.44 s with it and 2.62/2.80 s with persist — the two
    # consumers (ex + hits) duplicate the window subtree in the static
    # plan, but runtime exchange reuse + AQE staying free to plan the
    # final join beat both materialization variants here.
    rk = _trunc_topk(sims)
    ex = rk.filter(F.col("d") == 64).select("qid", "vec_id")
    hits = rk.join(ex, ["qid", "vec_id"]).select("d", "qid")
    nq = q.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    return (
        ds.select(F.col("d").cast("long").alias("d"))
        .crossJoin(F.broadcast(nq))
        .join(
            F.broadcast(hits.withColumnRenamed("d", "hd")),
            F.col("hd") == F.col("d"),
            "left",
        )
        .groupBy("d", "n_queries")
        .agg(F.count("qid").alias("h"))
        .select(
            "d",
            "n_queries",
            F.when(F.col("n_queries") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "(h * CAST(1000000 AS BIGINT)"
                    " + (n_queries * 10) div 2) div (n_queries * 10)"
                )
            )
            .alias("recall_ppm"),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# IVF-PQ END-TO-END — k-means coarse quantizer and product
# quantization composed into the production ANN serving path
# (operators/similarity.ivfpq_topk; Jégou et al. 2011):
# learned coarse quantizer → inverted lists → PQ-encoded RESIDUALS per
# list → probed-list ADC scan via per-list lookup tables → exact
# re-rank. Training is iterative, so the gate checks the invariant
# set: coverage, probe discipline (every served row came from a probed
# list), the ADC distances re-derived through an INDEPENDENT path
# (raw codebook entries + query residual arrays via zip_with, vs the
# serving path's broadcast LUT join), and the top-k fill. Recall vs
# brute force is property-tested (tests/test_analytics_props.py).
# ---------------------------------------------------------------------------
@_register(
    "embedding_ivfpq_topk",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_assigned,
           CAST(8 AS BIGINT) AS n_lists,
           CAST(2 AS BIGINT) AS nprobe,
           CAST(0 AS BIGINT) AS probe_violations,
           CAST(0 AS BIGINT) AS adc_lut_violations,
           true AS returned_ok
    FROM embeddings
    """,
)
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.similarity import ivfpq_topk

    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    dim, m, k_codes, n_clusters, nprobe, topk = 64, 8, 16, 8, 2, 10
    dsub = dim // m
    out, assigned, centroids, codebooks, probed, codes = ivfpq_topk(
        emb,
        dim=dim,
        m=m,
        k_codes=k_codes,
        n_clusters=n_clusters,
        nprobe=nprobe,
        query_id=0,
        shortlist=50,
        topk=topk,
        return_debug=True,
    )
    out = out.localCheckpoint(eager=False)  # 3 consumers below
    # coverage over the inverted lists
    cov = assigned.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.count_distinct("vec_id").cast("long").alias("n_assigned"),
    )
    # probe discipline: served rows only from probed lists
    probe_v = out.agg(
        F.coalesce(
            F.sum(F.when(~F.col("cluster").isin(probed), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("probe_violations"),
        F.count(F.lit(1)).cast("long").alias("n_returned"),
    )
    # independent ADC re-derivation: raw codebook entries + query
    # residual subvectors, zip_with/aggregate per (id, sub) row — no
    # LUT anywhere in this path
    qv = np.asarray(
        emb.filter(F.col("vec_id") == 0)
        .select(to_double(F.col("embedding")).alias("v"))
        .collect()[0]["v"],
        dtype=np.float64,
    )
    C = np.asarray(centroids, dtype=np.float64)
    cbdf = spark.createDataFrame(
        [
            (s, j, [float(x) for x in codebooks[s][j]])
            for s in range(m)
            for j in range(k_codes)
        ],
        "sub_id int, code int, centroid array<double>",
    )
    qres = spark.createDataFrame(
        [
            (
                c,
                s,
                [float(x) for x in (qv - C[c])[s * dsub : (s + 1) * dsub]],
            )
            for c in probed
            for s in range(m)
        ],
        "cluster int, sub_id int, qsub array<double>",
    )
    sub_d = F.aggregate(
        F.zip_with(
            F.col("qsub"), F.col("centroid"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    adc2 = (
        out.select("vec_id", "cluster", "adc_dist")
        .join(codes.select("vec_id", "sub_id", "code"), "vec_id")
        .join(F.broadcast(cbdf), ["sub_id", "code"])
        .join(F.broadcast(qres), ["cluster", "sub_id"])
        .select("vec_id", "adc_dist", sub_d.alias("d"))
        .groupBy("vec_id", "adc_dist")
        .agg(F.sum("d").alias("adc_re"))
    )
    lut_v = adc2.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.abs(F.col("adc_re") - F.col("adc_dist")) > 1e-6, 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("adc_lut_violations")
    )
    n_members = assigned.filter(
        F.col("cluster").isin(probed) & (F.col("vec_id") != 0)
    ).agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    return (
        cov.crossJoin(probe_v)
        .crossJoin(lut_v)
        .crossJoin(n_members)
        .select(
            "n_points",
            "n_assigned",
            F.lit(n_clusters).cast("long").alias("n_lists"),
            F.lit(nprobe).cast("long").alias("nprobe"),
            "probe_violations",
            "adc_lut_violations",
            (
                F.col("n_returned")
                == F.least(F.lit(topk).cast("long"), F.col("n_members"))
            ).alias("returned_ok"),
        )
    )


# ---------------------------------------------------------------------------
# BATCH PQ-ADC SERVING (round-7; operators/similarity.pq_adc_batch_topk):
# the production form of the ADC scan — 16 query vectors scored in ONE
# plan, per-query LUTs computed in-plan (query subvectors x broadcast
# codebook frame) instead of as 16 driver-side numpy folds. Gate
# invariants: output cardinality (every query filled to min(topk, n-1)
# — stated arithmetically by the oracle from COUNT(*)), the ADC sums
# re-derived through an INDEPENDENT path (driver-side numpy LUT
# literals, the single-query serving approach, joined back per
# (q_id, sub_id, code)), per-query exact-distance rank monotonicity,
# and self-exclusion. Per-query equivalence to the one-query baseline
# tests/baselines.pq_adc_topk is pinned by
# tests/test_analytics_props.py::test_pq_batch_matches_single.
# ---------------------------------------------------------------------------
@_register(
    "embedding_pq_batch_topk",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(LEAST(16, COUNT(*)) AS BIGINT) AS n_queries,
           CAST(LEAST(16, COUNT(*)) * LEAST(10, COUNT(*) - 1) AS BIGINT)
             AS n_rows,
           CAST(0 AS BIGINT) AS adc_lut_violations,
           CAST(0 AS BIGINT) AS order_violations,
           CAST(0 AS BIGINT) AS self_violations
    FROM embeddings
    """,
)
def embedding_pq_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.similarity import (
        pq_adc_batch_topk,
        pq_encode,
        pq_fit,
    )

    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    dim, m, k_codes, shortlist, topk, n_q = 64, 8, 16, 50, 10, 16
    dsub = dim // m
    codebooks = pq_fit(emb, dim=dim, m=m, k=k_codes, iters=2)
    qrows = (
        emb.filter(F.col("vec_id") < n_q)
        .select("vec_id", to_double(F.col("embedding")).alias("v"))
        .orderBy("vec_id")
        .collect()
    )
    qids = [r["vec_id"] for r in qrows]
    out = pq_adc_batch_topk(
        emb, codebooks, qids, dim=dim, m=m, shortlist=shortlist, topk=topk
    ).localCheckpoint(eager=False)  # consumed by 4 invariant subtrees
    counts = out.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("q_id").cast("long").alias("n_queries"),
        F.coalesce(
            F.sum(F.when(F.col("q_id") == F.col("vec_id"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("self_violations"),
    )
    # independent ADC re-derivation: driver-side numpy LUTs (the
    # one-query tests/baselines.pq_adc_topk path), joined back per
    # (q, sub, code)
    C = np.asarray(codebooks, dtype=np.float64)  # m x k x dsub
    lut2_rows = []
    for r in qrows:
        qv = np.asarray(r["v"], dtype=np.float64)
        for s in range(m):
            qs = qv[s * dsub : (s + 1) * dsub]
            for j in range(k_codes):
                lut2_rows.append(
                    (r["vec_id"], s, j, float(((qs - C[s][j]) ** 2).sum()))
                )
    lut2 = spark.createDataFrame(
        lut2_rows, "q_id long, sub_id int, code int, t2 double"
    )
    codes = pq_encode(emb, codebooks, dim=dim, m=m)
    adc2 = (
        out.select("q_id", "vec_id", "adc_dist")
        .join(codes.select("vec_id", "sub_id", "code"), "vec_id")
        .join(F.broadcast(lut2), ["q_id", "sub_id", "code"])
        .groupBy("q_id", "vec_id", "adc_dist")
        .agg(F.sum("t2").alias("adc_re"))
    )
    lut_v = adc2.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.abs(F.col("adc_re") - F.col("adc_dist")) > 1e-6, 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("adc_lut_violations")
    )
    # rank monotonicity per query: exact_dist must be non-decreasing
    w = Window.partitionBy("q_id").orderBy("rank")
    order_v = (
        out.withColumn("__prev", F.lag("exact_dist").over(w))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("exact_dist") < F.col("__prev") - 1e-12, 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("order_violations")
        )
    )
    n_pts = emb.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    return (
        n_pts.crossJoin(counts)
        .crossJoin(lut_v)
        .crossJoin(order_v)
        .select(
            "n_points",
            "n_queries",
            "n_rows",
            "adc_lut_violations",
            "order_violations",
            "self_violations",
        )
    )


# ---------------------------------------------------------------------------
# F11 — priority-ordered JSON field extraction (etl_sync.py:160-177:
# first matching title wins) re-expressed as a coalesce chain over the
# events props document.
# ---------------------------------------------------------------------------
@_register(
    "events_priority_json",
    """
    SELECT COALESCE(CAST(json_extract_string(props, '$.primary_score') AS INTEGER),
                    CAST(json_extract_string(props, '$.k') AS INTEGER)) AS score,
           COUNT(*) AS n
    FROM events
    GROUP BY score ORDER BY score
    """,
)
def events_priority_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    score = F.coalesce(
        F.get_json_object("props", "$.primary_score").cast("int"),
        F.get_json_object("props", "$.k").cast("int"),
    )
    return (
        ev.withColumn("score", score)
        .groupBy("score")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("score")
    )


# ---------------------------------------------------------------------------
# Approximate distinct counting — the 100 TB-scale substitute for exact
# COUNT(DISTINCT) (A3): HyperLogLog++ sketches merge associatively, so
# the count needs no global shuffle of the key column. No oracle entry:
# sketch estimates are engine-specific by nature (driver records the
# weaker rows-only check); the exact twin `orders_multi_distinct`
# pins correctness.
# ---------------------------------------------------------------------------
@_register(
    "orders_approx_distinct",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           TRUE AS approx_within_5pct
    FROM orders
    """,
)
def orders_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL estimate itself is engine-specific, so the gated columns
    are the exact count (oracle-recomputed) plus a boolean asserting
    the rsd=0.01 sketch landed within 5% of exact — a sketch gone bad
    turns the row red instead of hiding behind a rows-only check."""
    orders = load_table(spark, sf_dir, "orders")
    # Two SEPARATE aggregations, then a 1×1 cross join: combining
    # approx_count_distinct(rsd=0.01) with count(DISTINCT) in one agg
    # makes Spark plan a per-distinct-key partial aggregation that
    # carries the ~13 KB HLL sketch PER KEY (100k keys × 13 KB through
    # the shuffle — observed 4× slowdown). Split, the sketch exists
    # once per partition and the exact distinct shuffles bare keys.
    sketch = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.approx_count_distinct("o_custkey", rsd=0.01).alias(
            "approx_customers"
        ),
    )
    exact = orders.agg(F.countDistinct("o_custkey").alias("exact_customers"))
    return sketch.crossJoin(exact).select(
        "n_orders",
        "exact_customers",
        (
            F.abs(F.col("approx_customers") - F.col("exact_customers"))
            <= 0.05 * F.col("exact_customers")
        ).alias("approx_within_5pct"),
    )


# ---------------------------------------------------------------------------
# Native session windows (F.session_window — gap-merged, data-driven
# window bounds). The lag-gap island twin above (events_user_sessions)
# is the hand-rolled form; this is the engine-native operator, usable
# unchanged under Structured Streaming with a watermark. Oracle
# reproduces the merge with the lag/cumsum island algorithm (a session
# breaks when the gap is >= 30 min — session_window bounds are
# half-open [ts, ts+gap)).
# ---------------------------------------------------------------------------
@_register(
    "events_session_windows_native",
    """
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    islands AS (
      SELECT user_id,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS sev FROM islands
      GROUP BY user_id, session_id
    )
    SELECT user_id,
           COUNT(*) AS n_sessions,
           CAST(SUM(sev) AS BIGINT) AS n_events,
           CAST(MAX(sev) AS BIGINT) AS max_session_events
    FROM per_session GROUP BY user_id ORDER BY user_id
    """,
)
def events_session_windows_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_session = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("sev"))
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("sev").alias("n_events"),
            F.max("sev").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# As-of join (an operator Spark lacks natively; operators/windows.py
# builds it as union → one sort per key → last-non-null carry-forward,
# no range explosion). Use case: attribution — every purchase event
# linked to the user's latest strictly-prior click. The oracle is
# DuckDB's NATIVE ASOF JOIN — a fully independent implementation.
# ---------------------------------------------------------------------------
@_register(
    "purchase_attribution_asof",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts AS click_ts, MAX(event_id) AS click_event_id
          FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, c.click_event_id,
           CAST((epoch_us(p.ts) - epoch_us(c.click_ts) + 500) // 1000
                AS BIGINT) AS millis_since_click
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts > c.click_ts
    ORDER BY p.event_id
    """,
)
def purchase_attribution_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.windows import as_of_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    # dedup ties on (user, ts) for a deterministic pick (max event_id)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_event_id"))
    )
    joined = as_of_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_payload=["click_event_id", "click_ts"],
        strict=True,
    )
    # exact integer half-up millis — ROUND(double, 3) on a µs diff is
    # engine-flippable exactly at .xxx5 boundaries (hit at sf1: Spark
    # rounds the shortest decimal repr, DuckDB the binary value)
    return joined.select(
        "event_id",
        "user_id",
        "click_event_id",
        F.expr(
            "(unix_micros(ts) - unix_micros(click_ts) + 500)"
            " div CAST(1000 AS BIGINT)"
        ).alias("millis_since_click"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# BOUNDED-staleness attribution — the production attribution window:
# a purchase is credited to the user's latest prior click ONLY if the
# click is at most 24 h old; staler matches are dropped to NULL (no
# credit), exactly like a marketing attribution window or a feature-
# freshness SLA in a feature store. Same single union+sort as-of
# exchange; the bound is a post-join predicate on the exact integer
# µs difference, NOT a range join — the match is still "latest prior",
# then tested, which is NOT expressible as a plain range join (a
# range join would credit an older in-window click when the latest
# one is out-of-window... there is none; but it would return MULTIPLE
# in-window clicks — the as-of pick must happen first).
# ---------------------------------------------------------------------------
_ATTR_WINDOW_MS = 24 * 3600 * 1000


@_register(
    "purchase_attribution_bounded_asof",
    f"""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts AS click_ts, MAX(event_id) AS click_event_id
          FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
    j AS (
      SELECT p.event_id, p.user_id, c.click_event_id,
             CAST((epoch_us(p.ts) - epoch_us(c.click_ts) + 500) // 1000
                  AS BIGINT) AS ms
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts > c.click_ts
    )
    SELECT event_id, user_id,
           CASE WHEN ms <= {_ATTR_WINDOW_MS} THEN click_event_id END
             AS click_event_id,
           CASE WHEN ms <= {_ATTR_WINDOW_MS} THEN ms END
             AS millis_since_click
    FROM j ORDER BY event_id
    """,
)
def purchase_attribution_bounded_asof(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.windows import as_of_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_event_id"))
    )
    joined = as_of_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_payload=["click_event_id", "click_ts"],
        strict=True,
    ).withColumn(
        "ms",
        F.expr(
            "(unix_micros(ts) - unix_micros(click_ts) + 500)"
            " div CAST(1000 AS BIGINT)"
        ),
    )
    in_window = F.col("ms") <= _ATTR_WINDOW_MS
    return joined.select(
        "event_id",
        "user_id",
        F.when(in_window, F.col("click_event_id")).alias("click_event_id"),
        F.when(in_window, F.col("ms")).alias("millis_since_click"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Window FRAME spec — 7-row moving sum per user (ROWS BETWEEN 6
# PRECEDING AND CURRENT ROW). The rolling stat is kept in exact
# integer cents (FLOOR(value·100+0.5)) so sliding-window
# implementations (running-sum subtraction vs recompute) can't drift
# apart across engines.
# ---------------------------------------------------------------------------
@_register(
    "events_user_moving_sum",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS mov7_sum_cents
    FROM events
    ORDER BY user_id, event_id
    """,
)
def events_user_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.sum(cents).over(w).alias("mov7_sum_cents"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Deterministic hash sampling / train-val-test splitting — the scalable
# substitute for random sampling in a training-data pipeline: the split
# is a pure function of the id (md5 mod 100), so it is reproducible
# across engines, runs, and re-partitioning, and needs no shuffle or
# stored split table.
# ---------------------------------------------------------------------------
def _hash_pct_sql(col: str) -> str:
    return f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15)) AS BIGINT) % 100"


def _hash_pct_col(c) -> F.Column:
    return F.conv(
        F.substring(F.md5(c.cast("string")), 1, 15), 16, 10
    ).cast("long") % 100


@_register(
    "docs_train_val_test_split",
    f"""
    SELECT CASE WHEN {_hash_pct_sql('doc_id')} < 80 THEN 'train'
                WHEN {_hash_pct_sql('doc_id')} < 90 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents GROUP BY split ORDER BY split
    """,
)
def docs_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pct = _hash_pct_col(F.col("doc_id"))
    split = (
        F.when(pct < 80, F.lit("train"))
        .when(pct < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("split")
    )


@_register(
    "docs_stratified_sample",
    f"""
    WITH rates(lang, rate) AS (VALUES ('en', 10), ('es', 50), ('de', 50),
                                      ('fr', 50), ('zh', 50))
    SELECT d.lang, COUNT(*) AS n_sampled
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE {_hash_pct_sql('d.doc_id')} < r.rate
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-stratum sampling rates (downsample the dominant language) —
    # the mixture-weighting move of LLM data pipelines. Broadcast the
    # rate table; the filter is embarrassingly parallel.
    docs = load_table(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [("en", 10), ("es", 50), ("de", 50), ("fr", 50), ("zh", 50)],
        "lang string, rate int",
    )
    pct = _hash_pct_col(F.col("doc_id"))
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(pct < F.col("rate"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Capstone composite: the full clean-corpus pipeline in ONE lazy plan —
# exact dedup (keep lowest doc_id per text) → quality gate → language
# mix → deterministic split. This is the shape a 100 TB pretraining
# corpus build takes: every stage is a set operation, the only
# shuffles are the dedup groupBy and the final count.
# ---------------------------------------------------------------------------
@_register(
    "docs_clean_corpus_pipeline",
    f"""
    WITH keepers AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    deduped AS (
      SELECT d.* FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
    ),
    gated AS (
      SELECT * FROM deduped
      WHERE len(string_split(text, ' ')) >= 5
        AND length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0
            / nullif(length(text), 0) >= 0.8
    )
    SELECT CASE WHEN {_hash_pct_sql('doc_id')} < 80 THEN 'train'
                WHEN {_hash_pct_sql('doc_id')} < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs
    FROM gated GROUP BY split, lang ORDER BY split, lang
    """,
)
def docs_clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.dedup import keep_first_exact

    docs = load_table(spark, sf_dir, "documents")
    deduped = keep_first_exact(docs, "doc_id")
    gated = deduped.filter(quality_class(F.col("text")) == "keep")
    pct = _hash_pct_col(F.col("doc_id"))
    split = (
        F.when(pct < 80, F.lit("train"))
        .when(pct < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        gated.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# Per-user z-score outliers — anomaly flagging over event values.
# Population moments per user via ONE window shuffle (no join-back
# pass); the outlier test |v-mean| > 2*sigma is evaluated as the
# integer inequality (q*n - S)^2 > 4*(n*Sxx - S^2) on milli-quantized
# values, so both engines compare EXACT integers — no sqrt, no
# float-variance drift (same discipline as lineitem_moments_stats).
# Bounds: terms peak at ~(q_max*n)^2 — with milli-quantized values
# <=1e6 the 38-digit decimal holds to ~1e13 rows per key; beyond
# that, drop quantization to centi (x100) or split the key.
# ---------------------------------------------------------------------------
@_register(
    "events_user_zscore_outliers",
    """
    WITH q AS (
      SELECT user_id,
             CAST(FLOOR(CAST(value AS DOUBLE) * 1000 + 0.5) AS HUGEINT) AS qv
      FROM events
    ),
    m AS (
      SELECT user_id, qv,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             SUM(qv) OVER (PARTITION BY user_id) AS s,
             SUM(qv * qv) OVER (PARTITION BY user_id) AS sxx
      FROM q
    )
    SELECT user_id, MAX(n) AS n_events,
           CAST(SUM(CASE WHEN (qv * n - s) * (qv * n - s)
                              > 4 * (n * sxx - s * s)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM m GROUP BY user_id
    HAVING n_outliers > 0
    ORDER BY user_id
    """,
)
def events_user_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    qv = F.floor(F.col("value") * 1000 + 0.5).cast("decimal(38,0)")
    w = Window.partitionBy("user_id")
    m = ev.select("user_id", qv.alias("qv")).select(
        "user_id",
        "qv",
        F.count(F.lit(1)).over(w).cast("decimal(38,0)").alias("n"),
        F.sum("qv").over(w).alias("s"),
        F.sum(F.col("qv") * F.col("qv")).over(w).alias("sxx"),
    )
    dev = F.col("qv") * F.col("n") - F.col("s")
    var4 = (
        F.lit(4).cast("decimal(38,0)")
        * (F.col("n") * F.col("sxx") - F.col("s") * F.col("s"))
    )
    return (
        m.groupBy("user_id")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.sum(F.when(dev * dev > var4, 1).otherwise(0)).alias(
                "n_outliers"
            ),
        )
        .filter(F.col("n_outliers") > 0)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Span-level dedup (word 8-gram): the scalable approximation of
# suffix-array span dedup for training corpora — a span is "duplicated"
# iff its 8-gram occurs in more than one distinct document. Reported as
# per-source span counts + integer-exact per-mille duplicated ratio.
# Shuffle profile at 100 TB: explode stays in the scan stage; ONE
# shuffle on gram for the distinct-doc count; the gram⋈gram join reuses
# that same hash partitioning (no second exchange on the big side under
# AQE); the final per-source rollup is map-side-combined and tiny.
# ---------------------------------------------------------------------------
@_register(
    "docs_span_dedup_stats",
    """
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             unnest([array_to_string(w[i:i+7], ' ')
                     FOR i IN range(1, greatest(len(w) - 6, 1))]) AS gram
      FROM toks
    ),
    gd AS (
      SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY gram
    )
    SELECT source,
           COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_spans,
           CAST((2000 * SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) + COUNT(*))
                // (2 * COUNT(*)) AS BIGINT) AS dup_permille
    FROM grams JOIN gd USING (gram)
    GROUP BY source ORDER BY source
    """,
)
def docs_span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.dedup import shingles_of_words

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("w")
    )
    # ONE gram-keyed exchange (was two full gram-string shuffles + a
    # double explode: groupBy(gram) for the doc counts AND a join of
    # the whole gram stream back onto them). The raw gram stream is
    # hash-partitioned by gram once; the (gram, source) aggregation,
    # the per-gram doc-count window, and nothing else touch the heavy
    # 8-word strings again — the final per-source rollup shuffles a
    # handful of rows. nd is recovered as sum over sources of
    # per-(gram, source) distinct docs, identical because every doc_id
    # carries exactly one source. Interleaved A/B at sf0.1:
    # 1.81 -> 1.01 s (same host window).
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(shingles_of_words(F.col("w"), n=8)).alias("gram"),
    ).repartition("gram")
    gstats = grams.groupBy("gram", "source").agg(
        F.count(F.lit(1)).alias("c"),
        F.count_distinct("doc_id").alias("ndd"),
    )
    gs = gstats.withColumn(
        "nd", F.sum("ndd").over(Window.partitionBy("gram"))
    )
    return (
        gs.groupBy("source")
        .agg(
            F.sum("c").alias("n_spans"),
            F.sum(F.when(F.col("nd") > 1, F.col("c")).otherwise(0)).alias(
                "dup_spans"
            ),
            # integer half-up per-mille: no float division, no .5-boundary
            # drift between engines
            F.expr(
                "CAST((2000 * SUM(CASE WHEN nd > 1 THEN c ELSE 0 END)"
                " + SUM(c)) DIV (2 * SUM(c)) AS BIGINT)"
            ).alias("dup_permille"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Character-entropy quality signal: pooled per-language Shannon entropy
# of the character distribution (low entropy ⇒ repetitive/boilerplate
# corpora; a standard cheap perplexity proxy). Two shuffles, both on
# tiny keys: (lang, char) counts — ≤ |alphabet| rows per lang after the
# map-side combine — then the ≤40-term entropy sum per lang.
# ---------------------------------------------------------------------------
@_register(
    "docs_char_entropy",
    """
    WITH ch AS (
      SELECT lang, unnest(string_split(text, '')) AS c FROM documents
    ),
    cc AS (SELECT lang, c, COUNT(*) AS cnt FROM ch GROUP BY lang, c),
    tot AS (SELECT lang, SUM(cnt) AS n FROM cc GROUP BY lang)
    SELECT cc.lang,
           CAST(MAX(n) AS BIGINT) AS n_chars,
           COUNT(*) AS alphabet_size,
           ROUND(-SUM((cnt * 1.0 / n) * log2(cnt * 1.0 / n)), 6)
             AS char_entropy_bits
    FROM cc JOIN tot ON cc.lang = tot.lang
    GROUP BY cc.lang ORDER BY cc.lang
    """,
)
def docs_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "lang", F.explode(F.split(F.col("text"), "")).alias("c")
    )
    cc = chars.groupBy("lang", "c").agg(F.count(F.lit(1)).alias("cnt"))
    tot = cc.groupBy("lang").agg(F.sum("cnt").alias("n"))
    p = F.col("cnt") / F.col("n")
    return (
        cc.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_chars"),
            F.count(F.lit(1)).alias("alphabet_size"),
            F.round(-F.sum(p * F.log2(p)), 6).alias("char_entropy_bits"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Unigram-LM surprisal scoring — the perplexity-style quality filter of
# a corpus build: fit the corpus unigram distribution, score every doc
# by mean -log2 p(word), aggregate per source. Gibberish (rare-word
# soup) scores high, boilerplate scores low. Two real shuffles at any
# scale: groupBy(word) for the LM (map-side combined) and groupBy(doc)
# for the per-doc mean; the vocab joins back as a broadcast. Per-doc
# means are quantized to integer millibits (FLOOR(x*1000+0.5) — the
# cross-engine float rule) so every output column is integer-exact.
# ---------------------------------------------------------------------------
@_register(
    "docs_unigram_surprisal",
    """
    WITH toks AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    vocab AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
    tot AS (SELECT SUM(cnt) AS total FROM vocab),
    perdoc AS (
      SELECT doc_id, source,
             CAST(FLOOR((-SUM(log2(cnt * 1.0 / total)) / COUNT(*)) * 1000
                        + 0.5) AS BIGINT) AS q
      FROM toks JOIN vocab USING (word), tot
      GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(q) AS BIGINT) AS sum_millibits,
           CAST(MIN(q) AS BIGINT) AS min_millibits,
           CAST(MAX(q) AS BIGINT) AS max_millibits
    FROM perdoc GROUP BY source ORDER BY source
    """,
)
def docs_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    vocab = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    # corpus total as a proper partial-agg scalar (a SUM() OVER ()
    # window here would single-partition the vocab — fine for a toy
    # alphabet, wrong at a 10M-word real vocabulary)
    total = vocab.agg(F.sum("cnt").alias("total"))
    surp = -F.log2(F.col("cnt").cast("double") / F.col("total"))
    perdoc = (
        toks.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "source")
        .agg(
            F.floor((F.sum(surp) / F.count(F.lit(1))) * 1000 + 0.5)
            .cast("long")
            .alias("q")
        )
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("q").cast("long").alias("sum_millibits"),
            F.min("q").cast("long").alias("min_millibits"),
            F.max("q").cast("long").alias("max_millibits"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary induction (tokenizer-training step 0): global word
# frequency table, top-20 with stable rank. At 100 TB this is one
# map-side-combined groupBy on word + TakeOrderedAndProject — the exact
# shape BPE/unigram trainers run first over a corpus.
# ---------------------------------------------------------------------------
@_register(
    "docs_vocab_topk",
    """
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    c AS (
      SELECT word, COUNT(*) AS n FROM w WHERE word <> '' GROUP BY word
    )
    SELECT word, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, word) AS BIGINT)
             AS vocab_rank
    FROM c ORDER BY n DESC, word LIMIT 20
    """,
)
def docs_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )
    # rank assigned AFTER the top-k cut: the single-partition window
    # only ever sees 20 rows (TakeOrderedAndProject upstream), never
    # the full vocabulary.
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    return counts.withColumn(
        "vocab_rank", F.row_number().over(w).cast("long")
    ).orderBy("vocab_rank")


# ---------------------------------------------------------------------------
# Embedding duplicate CLUSTERS: connected components over the
# banded-hyperplane-LSH near-dup pairs (the embedding counterpart of
# docs_dedup_keep_best's simhash clusters) — the dedup step that picks
# one representative per group of near-identical embeddings before
# training. Distributed min-label propagation; the oracle reproduces
# the identical banding + exact-cosine pairs, then closes them with a
# recursive CTE.
# ---------------------------------------------------------------------------
def _add_embedding_dup_clusters() -> None:
    inner = ORACLES["embedding_near_dup_cosine"]
    oracle = f"""
    WITH RECURSIVE p AS ({inner}),
    sym AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
    nodes AS (SELECT DISTINCT s AS n FROM sym),
    reach(a, b) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.a, e.d FROM reach r JOIN sym e ON r.b = e.s
    ),
    comp AS (SELECT a AS vec_id, MIN(b) AS component FROM reach GROUP BY a)
    SELECT component, COUNT(*) AS n_members
    FROM comp GROUP BY component ORDER BY component
    """

    @_register("embedding_dup_clusters", oracle)
    def embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
        from epl_cas_etl_2026_spark.operators.dedup import connected_components
        from epl_cas_etl_2026_spark.operators.similarity import band_lsh_pairs

        emb = load_table(spark, sf_dir, "embeddings")
        pairs = band_lsh_pairs(
            emb,
            planes=_lsh_planes(),
            n_bands=_LSH_BANDS,
            rows_per_band=_LSH_ROWS,
            id_col="vec_id",
            vec_col="embedding",
            threshold=0.4,
        )
        comps = connected_components(pairs, "id_a", "id_b")
        return (
            comps.groupBy(F.col("label").alias("component"))
            .agg(F.count(F.lit(1)).alias("n_members"))
            .orderBy("component")
        )


_add_embedding_dup_clusters()


# ---------------------------------------------------------------------------
# Deterministic corpus sharding (the training-shuffle primitive):
# shard = md5(doc_id) mod N — a pure per-row expression, so shard
# assignment is reproducible across engines/runs and needs NO global
# sort; the only shuffle is the per-shard stat rollup (at 100 TB the
# write itself would be partitionBy(shard), embarrassingly parallel).
# The hex→int step uses instr/substr arithmetic both engines evaluate
# identically (no engine-specific hex-parse builtin required).
# ---------------------------------------------------------------------------
_SHARD_N = 8
# first 4 hex chars of md5 → 16-bit int, identical SQL in both engines
_HEX16 = (
    "((instr('0123456789abcdef', substr({m}, 1, 1)) - 1) * 4096"
    " + (instr('0123456789abcdef', substr({m}, 2, 1)) - 1) * 256"
    " + (instr('0123456789abcdef', substr({m}, 3, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr({m}, 4, 1)) - 1))"
)


@_register(
    "docs_shard_assignment",
    f"""
    WITH s AS (
      SELECT doc_id, n_chars,
             CAST({_HEX16.format(m="md5(CAST(doc_id AS VARCHAR))")} % {_SHARD_N}
                  AS BIGINT) AS shard
      FROM documents
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM s GROUP BY shard ORDER BY shard
    """,
)
def docs_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shard = F.expr(
        f"CAST({_HEX16.format(m='md5(CAST(doc_id AS STRING))')} % {_SHARD_N}"
        " AS BIGINT)"
    )
    return (
        docs.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Relative-standing windows (W-family breadth): percent_rank and
# cume_dist per market segment — the distributional twins of ntile
# deciles. Per-partition windows only (segment-keyed), never global.
# Doubles are exact here: both expressions are ratios of small
# integers (rank arithmetic), so 6-dp rounding is engine-stable.
# ---------------------------------------------------------------------------
@_register(
    "customer_balance_standing",
    """
    WITH w AS (
      SELECT c_mktsegment, c_custkey,
             PERCENT_RANK() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey) AS pr,
             CUME_DIST() OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal, c_custkey) AS cd
      FROM customer
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(AVG(pr), 6) AS mean_percent_rank,
           ROUND(MAX(cd), 6) AS max_cume_dist,
           CAST(SUM(CASE WHEN cd <= 0.25 THEN 1 ELSE 0 END) AS BIGINT)
             AS bottom_quartile_n
    FROM w GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def customer_balance_standing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    standing = cust.select(
        "c_mktsegment",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return (
        standing.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("pr"), 6).alias("mean_percent_rank"),
            F.round(F.max("cd"), 6).alias("max_cume_dist"),
            F.sum(F.when(F.col("cd") <= 0.25, 1).otherwise(0))
            .cast("long")
            .alias("bottom_quartile_n"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# ANALYZE-style column profiling (data-catalog stats): one scan
# computes per-column null count / distinct count / min / max, then the
# single aggregate row is stacked into (column, stat) rows — the
# engine-side equivalent of ANALYZE TABLE ... COMPUTE STATISTICS FOR
# COLUMNS, and the first step of any corpus intake audit. Values are
# stringified so heterogeneous columns share one schema.
# ---------------------------------------------------------------------------
@_register(
    "docs_column_profile",
    """
    WITH a AS (
      SELECT
        COUNT(*) AS n_rows,
        CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS lang_nulls,
        COUNT(DISTINCT lang) AS lang_distinct,
        CAST(MIN(lang) AS VARCHAR) AS lang_min,
        CAST(MAX(lang) AS VARCHAR) AS lang_max,
        CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS source_nulls,
        COUNT(DISTINCT source) AS source_distinct,
        CAST(MIN(source) AS VARCHAR) AS source_min,
        CAST(MAX(source) AS VARCHAR) AS source_max,
        CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_chars_nulls,
        COUNT(DISTINCT n_chars) AS n_chars_distinct,
        CAST(MIN(n_chars) AS VARCHAR) AS n_chars_min,
        CAST(MAX(n_chars) AS VARCHAR) AS n_chars_max
      FROM documents
    )
    SELECT 'lang' AS col, n_rows, lang_nulls AS n_nulls,
           lang_distinct AS n_distinct, lang_min AS min_value,
           lang_max AS max_value FROM a
    UNION ALL
    SELECT 'n_chars', n_rows, n_chars_nulls, n_chars_distinct,
           n_chars_min, n_chars_max FROM a
    UNION ALL
    SELECT 'source', n_rows, source_nulls, source_distinct,
           source_min, source_max FROM a
    ORDER BY col
    """,
)
def docs_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    profiled = ["lang", "source", "n_chars"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in profiled:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}_nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}_distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}_min"),
            F.max(F.col(c)).cast("string").alias(f"{c}_max"),
        ]
    one = docs.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}_nulls, {c}_distinct, {c}_min, {c}_max" for c in profiled
    )
    return one.select(
        F.expr(
            f"stack({len(profiled)}, {stack_args})"
            " as (col, n_nulls, n_distinct, min_value, max_value)"
        ),
        "n_rows",
    ).select(
        "col", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value"
    ).orderBy("col")


# ---------------------------------------------------------------------------
# Rank-DISTRIBUTION window functions — ntile/percent_rank/cume_dist in
# one keyed window pass (reference analogue: the ranking endpoints'
# competition_rank, app.py:505-530, generalized to the three
# distribution forms Spark/ANSI define). Ordering is made total by the
# (cents, custkey) tiebreak: ntile SPLITS peer groups by physical row
# order, so an ambiguous sort would be nondeterministic across engines
# AND across runs. percent_rank/cume_dist are emitted as
# FLOOR(x*1e6+0.5) parts-per-million — both engines compute the same
# (rank-1)/(n-1) / rank/n IEEE doubles, the scaled floor just keeps
# the hash compare integer-exact.
#
# 100 TB note: the window partitions by c_mktsegment (5 giant groups);
# per-group exact sorts at that scale go through the two-phase
# global-rank decomposition (operators/ranking.py,
# orders_global_rank_two_phase) — same outputs, no per-group
# single-reducer sort. This query pins the SEMANTICS on the window
# form; the scale path is already gated separately.
# ---------------------------------------------------------------------------
@_register(
    "customer_balance_distribution_ranks",
    """
    WITH c AS (
      SELECT c_custkey, c_mktsegment,
             CAST(FLOOR(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT)
               AS bal_cents
      FROM customer
    )
    SELECT c_custkey, c_mktsegment, bal_cents,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           CAST(FLOOR(PERCENT_RANK() OVER w * 1000000 + 0.5) AS BIGINT)
             AS pr_ppm,
           CAST(FLOOR(CUME_DIST() OVER w * 1000000 + 0.5) AS BIGINT)
             AS cd_ppm
    FROM c
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY bal_cents, c_custkey)
    ORDER BY c_mktsegment, bal_cents, c_custkey
    """,
)
def customer_balance_distribution_ranks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") * 100 + 0.5)
        .cast("long")
        .alias("bal_cents"),
    )
    w = Window.partitionBy("c_mktsegment").orderBy("bal_cents", "c_custkey")
    ppm = lambda col: F.floor(col * 1000000 + 0.5).cast("long")  # noqa: E731
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "bal_cents",
        F.ntile(4).over(w).alias("quartile"),
        ppm(F.percent_rank().over(w)).alias("pr_ppm"),
        ppm(F.cume_dist().over(w)).alias("cd_ppm"),
    ).orderBy("c_mktsegment", "bal_cents", "c_custkey")


# ---------------------------------------------------------------------------
# RANGE frame (value-based window) — per customer, the rolling count
# and spend over the trailing 30 DAYS ending at each order, computed
# with RANGE BETWEEN 30 PRECEDING AND CURRENT ROW over an integer
# day ordinal. Distinct operator from the ROWS frame
# (events_user_moving_sum): the frame edge is a VALUE offset, so
# same-day peer rows all enter every peer's frame (tie handling is
# defined by the standard, not by physical order) and gaps in the
# date axis shrink the frame — semantics ROWS cannot express. The
# day ordinal (days since 1970-01-01) sidesteps engine-specific
# INTERVAL frame syntax; both engines range over the same integers.
# 100 TB: keyed window per customer — partition-parallel, no global
# sort; cents arithmetic keeps the hash integer-exact.
# ---------------------------------------------------------------------------
@_register(
    "orders_trailing_30d_range_frame",
    """
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
               AS day_ord,
             CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT)
               AS price_cents
      FROM orders
    )
    SELECT o_orderkey, o_custkey,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_orders_30d,
           CAST(SUM(price_cents) OVER w AS BIGINT) AS spend_30d_cents
    FROM o
    WINDOW w AS (PARTITION BY o_custkey ORDER BY day_ord
                 RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
    ORDER BY o_orderkey
    """,
)
def orders_trailing_30d_range_frame(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day_ord"),
        F.floor(F.col("o_totalprice").cast("double") * 100 + 0.5)
        .cast("long")
        .alias("price_cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_ord")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
        F.sum("price_cents").over(w).alias("spend_30d_cents"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test split — the cluster-aware upgrade of
# docs_train_val_test_split: near-duplicate documents must NEVER
# straddle a split boundary (a train/val near-dup pair leaks training
# text into evaluation), so the split key is the near-dup CLUSTER
# representative (connected-component min label; singletons key on
# their own id), not the doc id. The output carries the
# straddling-pair count — 0 by construction — so the cross-engine gate
# PROVES the leakage property, not just the distribution counts.
# Oracle: recursive-CTE closure recomputes components independently.
# 100 TB: pairs/labels are slim id-frames; the straddle audit is two
# id-keyed joins; split assignment is a pure hash of the label — no
# shuffle beyond what the CC step already did.
# ---------------------------------------------------------------------------
@_register(
    "docs_leakage_safe_split",
    f"""
    WITH RECURSIVE sim AS ({_SIMHASH_SQL}),
    banded AS (
      SELECT doc_id, k AS band, (h >> (k * 15)) & 32767 AS key
      FROM sim, generate_series(0, 3) AS t(k)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM banded a JOIN banded c
        ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM cand
      JOIN sim sa ON sa.doc_id = id_a
      JOIN sim sb ON sb.doc_id = id_b
      WHERE bit_count(xor(sa.h, sb.h)) <= 3
    ),
    sym AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS n FROM sym),
    reach(a, b) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT r.a, e.d FROM reach r JOIN sym e ON r.b = e.s
    ),
    comp AS (SELECT a AS node, MIN(b) AS label FROM reach GROUP BY a),
    assign AS (
      SELECT d.doc_id,
             comp.node IS NOT NULL AS is_dup,
             CASE WHEN {_hash_pct_sql('COALESCE(comp.label, d.doc_id)')} < 80
                    THEN 'train'
                  WHEN {_hash_pct_sql('COALESCE(comp.label, d.doc_id)')} < 90
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
    ),
    straddle AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS straddling_pairs
      FROM pairs
      JOIN assign x ON pairs.id_a = x.doc_id
      JOIN assign y ON pairs.id_b = y.doc_id
      WHERE x.split <> y.split
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           straddling_pairs
    FROM assign, straddle
    GROUP BY split, straddling_pairs
    ORDER BY split
    """,
)
def docs_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.dedup import (
        connected_components,
        simhash_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_near_dup_pairs(docs, max_hamming=3).select("id_a", "id_b")
    pairs = pairs.localCheckpoint(eager=False)  # pin: reused twice below
    comps = connected_components(pairs, "id_a", "id_b")
    rep = F.coalesce(F.col("label"), F.col("doc_id"))
    assign = (
        docs.select("doc_id")
        .join(comps, docs["doc_id"] == comps["node"], "left")
        .select(
            "doc_id",
            F.col("node").isNotNull().alias("is_dup"),
            F.when(_hash_pct_col(rep) < 80, F.lit("train"))
            .when(_hash_pct_col(rep) < 90, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        # pin: three consumers (per-split rollup + both straddle-join
        # sides) — without this the docs⋈labels join and double md5
        # re-execute per consumer
        .localCheckpoint(eager=False)
    )
    straddle = (
        pairs.join(
            assign.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("sa")
            ),
            "id_a",
        )
        .join(
            assign.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("sb")
            ),
            "id_b",
        )
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).alias("straddling_pairs"))
    )
    return (
        assign.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("is_dup").cast("long")).alias("n_dup_docs"),
        )
        .crossJoin(straddle)
        .select("split", "n_docs", "n_dup_docs", "straddling_pairs")
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# PMI collocations — corpus association mining (the classic
# collocation-extraction step; complements docs_vocab_topk's raw
# frequencies and docs_unigram_surprisal's LM scoring with a
# SECOND-ORDER statistic). Bigrams come from adjacent-token zips
# inside the scan stage; PMI = log2(p(xy) / (p(x)p(y))) evaluated
# with the IDENTICAL double-division shape on both engines, then
# millibit-quantized. Support floor c12 >= 5 kills hapax noise.
# 100 TB: one map-side-combined groupBy per n-gram order, equi-joins
# on word for the marginals, scalars broadcast, top-20 via
# TakeOrderedAndProject.
# ---------------------------------------------------------------------------
@_register(
    "docs_pmi_collocations",
    """
    WITH toks AS (
      SELECT string_split(text, ' ') AS w FROM documents
    ),
    uni AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(w) AS word FROM toks)
      WHERE word <> '' GROUP BY word
    ),
    bg AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM (SELECT u.p[1] AS w1, u.p[2] AS w2
            FROM (SELECT unnest(list_zip(w[1:len(w) - 1], w[2:len(w)])) AS p
                  FROM toks) u)
      WHERE w1 <> '' AND w2 <> ''
      GROUP BY w1, w2
    ),
    tot AS (
      SELECT (SELECT SUM(c) FROM uni) AS n_uni,
             (SELECT SUM(c12) FROM bg) AS n_bg
    )
    SELECT w1, w2, c12,
           CAST(FLOOR(log2((CAST(c12 AS DOUBLE) / n_bg)
                           / ((CAST(u1.c AS DOUBLE) / n_uni)
                              * (CAST(u2.c AS DOUBLE) / n_uni)))
                      * 1000 + 0.5) AS BIGINT) AS pmi_millibits
    FROM bg
    JOIN uni u1 ON bg.w1 = u1.word
    JOIN uni u2 ON bg.w2 = u2.word
    CROSS JOIN tot
    WHERE c12 >= 5
    ORDER BY pmi_millibits DESC, w1, w2 LIMIT 20
    """,
)
def docs_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.col("text"), " ").alias("w"))
    uni = (
        toks.select(F.explode("w").alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(w, 1, greatest(size(w) - 1, 0))").alias("w1"),
                    F.expr("slice(w, 2, greatest(size(w) - 1, 0))").alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    # totals over the UNfiltered tables (the support floor prunes
    # candidates, it must not change the probability denominators)
    tot = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        bg.agg(F.sum("c12").alias("n_bg"))
    )
    bg = bg.filter(F.col("c12") >= 5)
    # the identical double-division shape as the oracle: ulp-parity
    ratio = (F.col("c12").cast("double") / F.col("n_bg")) / (
        (F.col("u1c").cast("double") / F.col("n_uni"))
        * (F.col("u2c").cast("double") / F.col("n_uni"))
    )
    return (
        bg.join(uni.select(F.col("word").alias("w1"), F.col("c").alias("u1c")), "w1")
        .join(uni.select(F.col("word").alias("w2"), F.col("c").alias("u2c")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.floor(F.log2(ratio) * 1000 + 0.5)
            .cast("long")
            .alias("pmi_millibits"),
        )
        .orderBy(F.desc("pmi_millibits"), "w1", "w2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Closed-form distributed OLS — univariate linear regression of order
# line value (whole dollars) on quantity, per return flag, via the
# normal equations: ONE scan producing exact integer moments
# (n, Sx, Sy, Sxx, Sxy, Syy; map-side combined), then slope /
# intercept / r² from the moments in IEEE doubles with the identical
# expression shape on both engines. This is the 100 TB regression
# recipe — no gradient iterations, no driver-side math beyond the
# 6-number fold; Spark's regr_slope/regr_intercept aggregates are
# deliberately avoided because their streaming-float merge order is
# partition-dependent (non-reproducible across engines AND runs).
# Overflow safety WITHOUT decimal aggregation (measured 3× slower than
# long sums): only Σy² can wrap int64 (near 8e8 rows/group at dollar
# scale), so y² alone is SPLIT-SUMMED as (div 2^20, mod 2^20) long
# pairs — the hot aggregation stays in codegen-friendly longs to
# ~1e12 rows/group — and the exact value is reassembled in decimal on
# the 3 output rows. DuckDB's SUM promotes to HUGEINT natively, and
# equal exact integers cast to identical doubles, so the formula (pure
# doubles, identical shape) hash-matches.
# ---------------------------------------------------------------------------
@_register(
    "lineitem_ols_price_on_qty",
    """
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(q) AS sx, SUM(y) AS sy, SUM(q * q) AS sxx,
             SUM(q * y) AS sxy, SUM(y * y) AS syy
      FROM (SELECT l_returnflag,
                   CAST(FLOOR(CAST(l_quantity AS DOUBLE) + 0.5) AS BIGINT)
                     AS q,
                   CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) + 0.5)
                        AS BIGINT) AS y
            FROM lineitem)
      GROUP BY l_returnflag
    ), d AS (
      SELECT l_returnflag, CAST(n AS BIGINT) AS n,
             CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sx,
             CAST(sy AS DOUBLE) AS sy, CAST(sxx AS DOUBLE) AS sxx,
             CAST(sxy AS DOUBLE) AS sxy, CAST(syy AS DOUBLE) AS syy
      FROM m
    )
    SELECT l_returnflag, n,
           CAST(FLOOR((nd * sxy - sx * sy) / (nd * sxx - sx * sx)
                      * 1000000 + 0.5) AS BIGINT) AS slope_micro,
           CAST(FLOOR((sy - (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
                            * sx) / nd * 1000 + 0.5) AS BIGINT)
             AS intercept_milli,
           CAST(FLOOR((nd * sxy - sx * sy) * (nd * sxy - sx * sy)
                      / ((nd * sxx - sx * sx) * (nd * syy - sy * sy))
                      * 1000000 + 0.5) AS BIGINT) AS r2_ppm
    FROM d ORDER BY l_returnflag
    """,
)
def lineitem_ols_price_on_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_quantity").cast("double") + 0.5)
        .cast("long")
        .alias("q"),
        F.floor(F.col("l_extendedprice").cast("double") + 0.5)
        .cast("long")
        .alias("y"),
    )
    y2 = F.col("y") * F.col("y")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("q") * F.col("q")).alias("sxx"),
        F.sum(F.col("q") * F.col("y")).alias("sxy"),
        F.sum(F.expr("(y * y) div 1048576")).alias("syy_hi"),
        F.sum(y2 % 1048576).alias("syy_lo"),
    )
    # per-row hi ≤ y²/2^20 ≈ 1e4, lo < 2^20 → both long sums safe past
    # 1e12 rows/group; reassemble hi·2^20 + lo exactly in decimal on
    # the k output rows, then one cast to double
    syy_exact = (
        F.col("syy_hi").cast("decimal(38,0)") * 1048576
        + F.col("syy_lo").cast("decimal(38,0)")
    )
    d = m.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.col("n").cast("double").alias("nd"),
        *[
            F.col(c).cast("double").alias(c)
            for c in ("sx", "sy", "sxx", "sxy")
        ],
        syy_exact.cast("double").alias("syy"),
    )
    nd = F.col("nd")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = nd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / var_x
    return d.select(
        "l_returnflag",
        "n",
        F.floor(slope * 1000000 + 0.5).cast("long").alias("slope_micro"),
        F.floor((F.col("sy") - slope * F.col("sx")) / nd * 1000 + 0.5)
        .cast("long")
        .alias("intercept_milli"),
        F.floor(cov_n * cov_n / (var_x * var_y) * 1000000 + 0.5)
        .cast("long")
        .alias("r2_ppm"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Quality-weighted importance resampling — the soft-filtering step of
# modern pretraining pipelines (keep all high-quality text, a fixed
# fraction of mid-quality, none of the junk) made DETERMINISTIC: a doc
# survives iff hash_pct(doc_id) < acceptance(quality class). Pure
# function of the id → reproducible across engines, runs, and
# repartitioning, and composable with the split/shard queries (same
# md5 family, different field). One scan, per-source counts map-side
# combined.
# ---------------------------------------------------------------------------
@_register(
    "docs_quality_resample_stats",
    f"""
    WITH q AS (
      SELECT doc_id, source,
             CASE WHEN len(string_split(text, ' ')) < 5 THEN 'drop'
                  WHEN length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                       * 1.0 / nullif(length(text), 0) < 0.8 THEN 'review'
                  ELSE 'keep' END AS calidad
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN calidad = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep_class,
           CAST(SUM(CASE WHEN calidad = 'review' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_review_class,
           CAST(SUM(CASE WHEN {_hash_pct_sql('doc_id')} <
                           CASE calidad WHEN 'keep' THEN 100
                                        WHEN 'review' THEN 30
                                        ELSE 0 END
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM q GROUP BY source ORDER BY source
    """,
)
def docs_quality_resample_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    calidad = quality_class(F.col("text"))
    accept = (
        F.when(calidad == "keep", F.lit(100))
        .when(calidad == "review", F.lit(30))
        .otherwise(F.lit(0))
    )
    sampled = (_hash_pct_col(F.col("doc_id")) < accept).cast("long")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((calidad == "keep").cast("long")).alias("n_keep_class"),
            F.sum((calidad == "review").cast("long")).alias("n_review_class"),
            F.sum(sampled).alias("n_sampled"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Robust outlier detection via MAD (median absolute deviation) — the
# robust-statistics twin of the z-score query: median and MAD shrug
# off the heavy tail that drags mean/stddev. Two grouped exact-median
# passes (cents → med; |cents − med| → MAD) with the tiny per-group
# stats broadcast back between them; the outlier predicate
# |x − med| > 3·MAD. Everything stays DYADIC-exact cross-engine:
# cents are ints, an interpolated median of ints is a half-integer,
# the MAD of half-integers a quarter-integer — so med·2 and MAD·4 are
# emitted as exact BIGINTs and the 3·MAD comparison never rounds.
# 100 TB: exact grouped medians sort within groups; the documented
# scale path swaps in approx_percentile with identical plumbing.
# ---------------------------------------------------------------------------
@_register(
    "events_robust_outliers_mad",
    """
    WITH e AS (
      SELECT event_type,
             CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT)
               AS cents
      FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(cents, 0.5) AS med
      FROM e GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, ABS(e.cents - med.med) AS dev, med.med
      FROM e JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT dev.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(FLOOR(ANY_VALUE(dev.med) * 2 + 0.5) AS BIGINT) AS med_x2,
           CAST(FLOOR(ANY_VALUE(mad.mad) * 4 + 0.5) AS BIGINT) AS mad_x4,
           CAST(SUM(CASE WHEN dev.dev > 3 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    ORDER BY dev.event_type
    """,
)
def events_robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value").cast("double") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("cents") - F.col("med")).alias("dev")
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("dev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.floor(F.any_value("med") * 2 + 0.5).cast("long").alias("med_x2"),
            F.floor(F.any_value("mad") * 4 + 0.5).cast("long").alias("mad_x4"),
            F.sum(
                F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


def _user_trailing_cents(
    spark: SparkSession, sf_dir: str, k: int
) -> DataFrame:
    """(event_id, user_id, l): per event, its user's ``value`` in
    integer cents over the k preceding events and itself, in
    (ts, event_id) order."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value").cast("double") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-k, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.collect_list("cents").over(w).alias("l"),
    )


# ---------------------------------------------------------------------------
# EWMA over a 16-event trailing window, per user — exponentially
# weighted moving average with decay 1/2, the time-series smoother
# whose recursive definition (s_t = αx_t + (1−α)s_{t−1}) looks
# un-SQL-able but unrolls into a weighted window sum. The trick that
# makes it CROSS-ENGINE EXACT: α = 1/2 makes every weight a power of
# two, so each product cents·2^(i−k) is a dyadic rational well inside
# a double's 53-bit mantissa and every addition is EXACT — the sum is
# order-independent, immune to the float-merge nondeterminism that
# rules out regr_*/avg-style streaming aggregates. Weights are
# applied positionally (transform with index over the frame's
# collect_list) — newest element weight 1, each older element halved;
# normalized by Σ = 2 − 2^(1−k).
# 100 TB: keyed window, 16-element arrays, no global sort.
# ---------------------------------------------------------------------------
@_register(
    "events_user_ewma_dyadic",
    """
    WITH arr AS (
      SELECT event_id, user_id,
             list(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
      FROM events
    )
    SELECT event_id, user_id,
           CAST(FLOOR(list_sum(list_transform(range(1, len(l) + 1),
                                              i -> l[i] * power(2, i - len(l))))
                      / (2 - power(2, 1 - len(l))) * 1000 + 0.5) AS BIGINT)
             AS ewma_milli
    FROM arr ORDER BY user_id, event_id
    """,
)
def events_user_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    num = F.expr(
        "aggregate(transform(l, (x, i) -> x * pow(2D, i + 1 - size(l))),"
        " 0D, (a, v) -> a + v)"
    )
    denom = F.expr("2D - pow(2D, 1 - size(l))")
    return (
        _user_trailing_cents(spark, sf_dir, 15)
        .select(
            "event_id",
            "user_id",
            F.floor(num / denom * 1000 + 0.5).cast("long").alias("ewma_milli"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Holt linear-trend (double exponential) smoothing over a 16-event
# trailing window, per user — the level+trend forecaster whose TWO
# coupled recurrences (l_t = αx_t + (1−α)(l_{t−1}+b_{t−1});
# b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}) make it strictly harder than
# the EWMA above: the state is a 2-vector and the recurrence a 2×2
# linear map, so no single weighted-window formula parameterized by
# length alone exists. What DOES exist: for a FIXED window length ℓ
# and fixed α=β=1/2, the one-step forecast l_ℓ+b_ℓ is a linear
# combination of x_1..x_ℓ whose coefficients are EXACT DYADIC
# rationals (denominator ≤ 2^30, numerator < 2^23 — verified at
# module import), so every product and partial sum of cent-scale
# integers is exactly representable in a double and the whole fold is
# order-independent and bit-identical cross-engine. The 16×16
# lower-triangular coefficient matrix is computed ONCE from the
# recurrence with Fraction arithmetic (_holt_weights) and embedded as
# the SAME literal array in both the Spark plan and the SQL oracle —
# the engines share data, not a float code path.
# 100 TB: keyed window, 16-element arrays, one shuffle on user_id,
# no global sort; the coefficient table is 256 literal doubles.
# ---------------------------------------------------------------------------
def _holt_weights(max_len: int = 16) -> list:
    """Forecast coefficients w[ℓ−1][i] of x_{i+1} in (l_ℓ + b_ℓ) for
    Holt α=β=1/2, init l_1=x_1, b_1=0. Exact dyadic by construction;
    asserts every value round-trips through a double exactly."""
    from fractions import Fraction as Fr

    out = []
    for ln in range(1, max_len + 1):
        lv = [Fr(0)] * ln
        bv = [Fr(0)] * ln
        lv[0] = Fr(1)
        for t in range(1, ln):
            nl = [(a + b) / 2 for a, b in zip(lv, bv)]
            nl[t] += Fr(1, 2)
            nb = [(n - a) / 2 + b / 2 for n, a, b in zip(nl, lv, bv)]
            lv, bv = nl, nb
        f = [a + b for a, b in zip(lv, bv)]
        assert all(
            c.denominator <= (1 << 30)
            and (c.denominator & (c.denominator - 1)) == 0
            and abs(c.numerator) < (1 << 23)
            and Fr(float(c)) == c
            for c in f
        )
        out.append([float(c) for c in f])
    return out


_HOLT_W = _holt_weights()
_HOLT_W_SQL = "[" + ", ".join(
    "[" + ", ".join(repr(c) for c in row) + "]" for row in _HOLT_W
) + "]"


@_register(
    "events_user_holt_dyadic",
    f"""
    WITH arr AS (
      SELECT event_id, user_id,
             list(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
      FROM events
    )
    SELECT event_id, user_id,
           CAST(FLOOR(list_sum(list_transform(range(1, len(l) + 1),
                                i -> l[i] * ({_HOLT_W_SQL})[len(l)][i]))
                      * 10 + 0.5) AS BIGINT) AS holt_milli
    FROM arr ORDER BY user_id, event_id
    """,
)
def events_user_holt_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    wlit = F.array(*[
        F.array(*[F.lit(c) for c in row]) for row in _HOLT_W
    ])
    # positional dot product of the trailing window against the
    # length-matched coefficient row; every term dyadic-exact
    forecast = F.expr(
        "aggregate(transform(l, (x, i) -> x * element_at(wrow, i + 1)),"
        " 0D, (a, v) -> a + v)"
    )
    return (
        _user_trailing_cents(spark, sf_dir, 15)
        .withColumn("wrow", F.element_at(wlit, F.size("l")))
        .select(
            "event_id",
            "user_id",
            F.floor(forecast * 10 + 0.5).cast("long").alias("holt_milli"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# SimHash banding-parameter sweep — the dedup-index twin of the ANN
# recall curve: how do candidate volume, precision and recall move as
# the 60-bit hash is split into fewer, wider bands? Ground truth =
# ALL hamming≤3 pairs, which the 4×15 config catches EXACTLY (with 4
# bands, ≤3 flipped bits leave some band untouched — pigeonhole), so
# the (4,15) row is a built-in recall ≡ 1.0 self-check and the sweep
# needs no brute-force pass. 1×60 = exact-hash-only (high precision,
# low recall), 2×30 guarantees hamming≤1 only. This is the table an
# index operator reads before picking banding for a new corpus.
#
# 100 TB: each config is one band-key shuffle (the near-dup plan),
# never all-pairs; the three configs share the per-doc hash scan.
# ---------------------------------------------------------------------------
_SWEEP_CONFIGS = ((1, 60), (2, 30), (4, 15))
_SWEEP_HAM = 3


def _sweep_cfg_sql(nb: int, bb: int) -> str:
    mask = (1 << bb) - 1
    return f"""
      SELECT {nb} AS n_bands, {bb} AS band_bits,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(SUM(CASE WHEN hamming <= {_SWEEP_HAM} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit
      FROM (
        SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
               bit_count(xor(sa.h, sb.h)) AS hamming
        FROM (SELECT doc_id, k AS band, (h >> (k * {bb})) & {mask} AS key
              FROM sim, generate_series(0, {nb - 1}) AS t(k)) a
        JOIN (SELECT doc_id, k AS band, (h >> (k * {bb})) & {mask} AS key
              FROM sim, generate_series(0, {nb - 1}) AS t(k)) c
          ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
        JOIN sim sa ON sa.doc_id = a.doc_id
        JOIN sim sb ON sb.doc_id = c.doc_id
      )
    """


@_register(
    "docs_simhash_band_sweep",
    f"""
    WITH sim AS ({_SIMHASH_SQL}),
    cfg AS (
      {" UNION ALL ".join(_sweep_cfg_sql(nb, bb)
                          for nb, bb in _SWEEP_CONFIGS)}
    ),
    truth AS (
      SELECT n_hit AS n_truth FROM cfg WHERE n_bands = 4
    )
    SELECT n_bands, band_bits, n_candidates, n_truth, n_hit,
           CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((n_hit * 1000000 + n_candidates // 2)
                          // n_candidates AS BIGINT) END AS precision_ppm,
           CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((n_hit * 1000000 + n_truth // 2)
                          // n_truth AS BIGINT) END AS recall_ppm
    FROM cfg CROSS JOIN truth ORDER BY n_bands
    """,
)
def docs_simhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.dedup import (
        simhash60_udf,
        simhash_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # hash the corpus ONCE — the Arrow simhash UDF is the expensive
    # stage; the three banding configs share it (was 3 hash passes)
    hashed = spread_scan(docs).select(
        "doc_id", simhash60_udf()(F.col("text")).alias("h")
    ).localCheckpoint(eager=False)  # not persist(): see the KMV note
    stats = []
    for nb, bb in _SWEEP_CONFIGS:
        cand = simhash_near_dup_pairs(
            None, max_hamming=64, n_bands=nb, band_bits=bb,
            prehashed=hashed,
        )
        stats.append(
            cand.agg(
                F.count(F.lit(1)).cast("long").alias("n_candidates"),
                F.sum(
                    (F.col("hamming") <= _SWEEP_HAM).cast("long")
                )
                .cast("long")
                .alias("n_hit"),
            ).select(
                F.lit(nb).cast("long").alias("n_bands"),
                F.lit(bb).cast("long").alias("band_bits"),
                "n_candidates",
                "n_hit",
            )
        )
    cfg = stats[0]
    for s in stats[1:]:
        cfg = cfg.unionByName(s)
    truth = (
        cfg.filter(F.col("n_bands") == 4)
        .select(F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_truth"))
    )
    return (
        cfg.crossJoin(F.broadcast(truth))
        .select(
            "n_bands",
            "band_bits",
            F.coalesce(F.col("n_candidates"), F.lit(0)).alias(
                "n_candidates"
            ),
            "n_truth",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        )
        .select(
            "n_bands",
            "band_bits",
            "n_candidates",
            "n_truth",
            "n_hit",
            F.when(F.col("n_candidates") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "(n_hit * CAST(1000000 AS BIGINT)"
                    " + n_candidates div 2) div n_candidates"
                )
            )
            .alias("precision_ppm"),
            F.when(F.col("n_truth") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "(n_hit * CAST(1000000 AS BIGINT)"
                    " + n_truth div 2) div n_truth"
                )
            )
            .alias("recall_ppm"),
        )
        .orderBy("n_bands")
    )


# ---------------------------------------------------------------------------
# Rolling MEDIAN over a 15-event trailing window, per user — the
# robust twin of the moving average (one fat-finger spike moves a
# mean for 15 events, a median for none). No native frame-median
# exists in either engine; both sides sort the frame's collect_list
# and index the middle — lower median (element ⌈k/2⌉ of the sorted
# window, exact integer cents) so the result is a VALUE FROM THE
# DATA, not an interpolated float (cross-engine exact by
# construction). 100 TB: keyed window, 15-element arrays, one
# shuffle on user_id.
# ---------------------------------------------------------------------------
@_register(
    "events_user_rolling_median",
    """
    WITH arr AS (
      SELECT event_id, user_id,
             list(CAST(FLOOR(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 14 PRECEDING AND CURRENT ROW) AS l
      FROM events
    )
    SELECT event_id, user_id,
           list_sort(l)[(len(l) + 1) // 2] AS median_cents
    FROM arr ORDER BY user_id, event_id
    """,
)
def events_user_rolling_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return (
        _user_trailing_cents(spark, sf_dir, 14)
        .select(
            "event_id",
            "user_id",
            F.expr(
                "element_at(array_sort(l),"
                " CAST((size(l) + 1) div 2 AS INT))"
            ).alias("median_cents"),
        )
        .orderBy("user_id", "event_id")
    )


def _vertex_degrees(e: DataFrame) -> DataFrame:
    """(v, d): the degree of every vertex of the edge list (a, b)."""
    return (
        e.select(F.col("a").alias("v"))
        .unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _degree_ordered_triangles(e: DataFrame, deg: DataFrame) -> DataFrame:
    """One row per triangle of the edge list (a, b), whose vertex
    degrees are ``deg``. Degree-ordered orientation (Suri &
    Vassilvitskii's MR-friendly scheme): point every edge from its
    (degree, id)-smaller endpoint to the larger, enumerate wedges only
    between OUT-neighbors, and close with an oriented edge. Out-degree
    is bounded by O(√m), so the wedge fan-out is hub-proof — Σ outdeg²
    instead of Σ deg². The count is identical to an id-ordered
    enumeration (each triangle has exactly one minimum vertex under
    the total (degree, id) order)."""
    ed = (
        e.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint(eager=False)
    x, y = o.alias("x"), o.alias("y")
    lt = (F.col("x.dv") < F.col("y.dv")) | (
        (F.col("x.dv") == F.col("y.dv")) & (F.col("x.v") < F.col("y.v"))
    )
    return (
        x.join(y, (F.col("x.u") == F.col("y.u")) & lt)
        .join(
            o.alias("z"),
            (F.col("z.u") == F.col("x.v")) & (F.col("z.v") == F.col("y.v")),
        )
    )


# ---------------------------------------------------------------------------
# Triangle count + global clustering coefficient over the near-dup
# graph — the canonical distributed-graph aggregate (wedge-closure
# rate tells you whether near-dup pairs form coherent duplicate
# CLIQUES or noisy hub stars — a dedup-quality diagnostic). Edges are
# the simhash pair list (already id_a < id_b). The oracle counts
# triangles as the id-ordered 2-path ⋈ closing-edge equi-join (a<b<c
# counts each triangle exactly once); the Spark side enumerates them
# degree-ordered (_degree_ordered_triangles), whose fan-out stays
# bounded on hub vertices. Wedges come from the degree table as
# Σ d·(d−1)/2. Coefficient = 3·triangles/wedges in ppm.
# ---------------------------------------------------------------------------
@_register(
    "docs_near_dup_triangles",
    f"""
    WITH sim AS ({_SIMHASH_SQL}),
    banded AS (
      SELECT doc_id, k AS band, (h >> (k * 15)) & 32767 AS key
      FROM sim, generate_series(0, 3) AS t(k)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM banded a JOIN banded c
        ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
    ),
    e AS (
      SELECT id_a AS a, id_b AS b FROM cand
      JOIN sim sa ON sa.doc_id = id_a
      JOIN sim sb ON sb.doc_id = id_b
      WHERE bit_count(xor(sa.h, sb.h)) <= 3
    ),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
      GROUP BY v
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3
        ON e3.a = e1.a AND e3.b = e2.b
    ),
    wed AS (
      SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges,
             CAST(COUNT(*) AS BIGINT) AS n_vertices,
             CAST(MAX(d) AS BIGINT) AS max_degree
      FROM deg
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           n_vertices, max_degree, n_triangles, n_wedges,
           CAST(FLOOR(3.0 * n_triangles / n_wedges * 1000000 + 0.5)
                AS BIGINT) AS clustering_ppm
    FROM tri, wed
    """,
)
def docs_near_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    e = (
        simhash_near_dup_pairs(docs, max_hamming=3)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .localCheckpoint(eager=False)  # pin: consumed by 4 subtrees
    )
    deg = _vertex_degrees(e)
    wed = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("long")
        .alias("n_wedges"),
        F.count(F.lit(1)).alias("n_vertices"),
        F.max("d").alias("max_degree"),
    )
    tri = _degree_ordered_triangles(e, deg).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    edges_n = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        edges_n.crossJoin(wed)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_vertices",
            "max_degree",
            "n_triangles",
            "n_wedges",
            F.floor(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges") * 1000000
                + 0.5
            )
            .cast("long")
            .alias("clustering_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# DOULION approximate triangle count (Tsourakakis et al., KDD 2009 —
# public method): sparsify the near-dup graph by keeping each edge
# with probability p = 1/10, count triangles on the SAMPLED graph
# with the same degree-ordered orientation as the exact query above,
# and scale by 1/p³. This is the single-box answer for the one
# artifact the exact query cannot deliver at sf1 (74.9 G wedges,
# SCALE_sf1.json): sampling cuts wedge work by p² and triangle work
# by p³, so the sf1 run fits one machine with a stated-variance
# estimate (Var[T̂] ≤ T/p³ + 2·(paths-through-shared-edge)/p; the
# estimator is unbiased: each triangle survives with exactly p³).
#
# The sampling coin is DETERMINISTIC — keep (a,b) iff the md5-derived
# 32-bit uniform of "a|b|seed" lands in the 1-in-10 residue class —
# because a reproducible sparsifier is what makes the whole ESTIMATE
# (not just invariants) cross-engine gateable: DuckDB replays the
# identical coin, the identical sampled graph, the identical count.
# md5 (the repo's established cross-engine RNG, cf. events_dp_histogram
# and the weighted samplers) and NOT a linear multiply-mod hash: the
# three edges of one triangle are three linear forms over its vertex
# ids, and a linear coin's survivals are CORRELATED on structured id
# sets (measured +64% triangle bias on a planted-clique grid), while a
# PRF-grade coin gives the independent p**3 survival DOULION's
# unbiasedness proof needs (test_doulion_accuracy_on_planted_cliques
# pins exactly this). A production run that wants fresh randomness
# swaps the seed string per run; the estimator algebra is unchanged.
# Estimator-accuracy bounds live in tests/test_analytics_props.py on a
# SEEDED planted-clique graph (testdata-regeneration safety), not in
# the gated row.
# ---------------------------------------------------------------------------
_DLN_SEED = "dln-seed-1"
_DLN_DEN = 10  # keep 1-in-10 edges: p = 1/10, 1/p^3 = 1000


@_register(
    "docs_near_dup_triangles_doulion",
    f"""
    WITH sim AS ({_SIMHASH_SQL}),
    banded AS (
      SELECT doc_id, k AS band, (h >> (k * 15)) & 32767 AS key
      FROM sim, generate_series(0, 3) AS t(k)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM banded a JOIN banded c
        ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
    ),
    e0 AS (
      SELECT id_a AS a, id_b AS b FROM cand
      JOIN sim sa ON sa.doc_id = id_a
      JOIN sim sb ON sb.doc_id = id_b
      WHERE bit_count(xor(sa.h, sb.h)) <= 3
    ),
    e AS (
      SELECT a, b FROM e0
      WHERE CAST(('0x' || substr(md5(a || '|' || b || '|{_DLN_SEED}'),
                                 1, 8)) AS BIGINT) % {_DLN_DEN} = 0
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tri_sampled
      FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3
        ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges_full,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges_sampled,
           CAST({_DLN_DEN} AS BIGINT) AS inv_p,
           n_tri_sampled,
           CAST(n_tri_sampled * {_DLN_DEN ** 3} AS BIGINT) AS est_triangles
    FROM tri
    """,
)
def docs_near_dup_triangles_doulion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    e0 = (
        simhash_near_dup_pairs(docs, max_hamming=3)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .localCheckpoint(eager=False)  # pin: full-count + sample branches
    )
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("a"), F.col("b"), F.lit(_DLN_SEED)
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _DLN_DEN
        == 0
    )
    e = e0.filter(coin).localCheckpoint(eager=False)
    # the same hub-proof enumeration as docs_near_dup_triangles, on
    # the SAMPLED graph
    tri = _degree_ordered_triangles(e, _vertex_degrees(e)).agg(
        F.count(F.lit(1)).cast("long").alias("n_tri_sampled")
    )
    return (
        e0.agg(F.count(F.lit(1)).cast("long").alias("n_edges_full"))
        .crossJoin(e.agg(F.count(F.lit(1)).cast("long").alias("n_edges_sampled")))
        .crossJoin(tri)
        .select(
            "n_edges_full",
            "n_edges_sampled",
            F.lit(_DLN_DEN).cast("long").alias("inv_p"),
            "n_tri_sampled",
            (F.col("n_tri_sampled") * F.lit(_DLN_DEN**3))
            .cast("long")
            .alias("est_triangles"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination — the eval-set n-gram overlap scrub every
# pretraining pipeline runs before training (the GPT-3 appendix-C
# "13-gram decontamination" shape; word-3-grams here because the
# synthetic fixed-vocab corpus needs the shorter gram for signal —
# production would use 8-13). The "benchmark" is a deterministic
# held-out slice (doc_id % 97 == 0 — the driver-regeneration-proof
# analogue of a test-set table); a corpus doc is contaminated iff it
# shares ANY gram with it.
#
# Scale shape (100 TB): benchmark suites are tiny (MMLU+friends ≈ a
# few hundred MB of grams), so the gram set BROADCASTS and corpus
# grams never shuffle — explode stays inside the scan stage, the
# semi-join is map-side, and the only exchange carries the matched
# doc_ids (slim longs, already mostly-unique) into a distinct +
# per-source rollup. No full-data shuffle anywhere.
# ---------------------------------------------------------------------------
@_register(
    "docs_benchmark_decontaminate",
    """
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT DISTINCT unnest([array_to_string(w[i:i+2], ' ')
                              FOR i IN range(1, greatest(len(w) - 1, 1))]) AS gram
      FROM toks WHERE doc_id % 97 = 0
    ),
    cg AS (
      SELECT doc_id, source, unnest([array_to_string(w[i:i+2], ' ')
                                     FOR i IN range(1, greatest(len(w) - 1, 1))]) AS gram
      FROM toks WHERE doc_id % 97 <> 0
    ),
    cont AS (SELECT DISTINCT cg.doc_id FROM cg JOIN bg USING (gram))
    SELECT t.source,
           COUNT(*) AS n_docs,
           COUNT(c.doc_id) AS n_contaminated,
           COUNT(*) - COUNT(c.doc_id) AS n_clean
    FROM toks t LEFT JOIN cont c ON t.doc_id = c.doc_id
    WHERE t.doc_id % 97 <> 0
    GROUP BY t.source ORDER BY t.source
    """,
)
def docs_benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.dedup import shingles_of_words

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("w")
    )

    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(shingles_of_words(F.col("w"), n=3)).alias("gram"),
        )

    bench_grams = (
        grams(toks.filter(F.col("doc_id") % 97 == 0)).select("gram").distinct()
    )
    corpus = toks.filter(F.col("doc_id") % 97 != 0)
    contaminated = (
        grams(corpus)
        .join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        corpus.join(
            contaminated.withColumn("hit", F.lit(1)), "doc_id", "left"
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("hit").alias("n_contaminated"),
            (F.count(F.lit(1)) - F.count("hit")).alias("n_clean"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006,
# "Weighted random sampling with a reservoir"): assign each row the
# key u^(1/w) — equivalently ln(u)/w, monotone-identical — and keep
# the k largest keys; the result is a true weighted
# without-replacement sample in ONE distributed pass. u is the
# md5-derived 32-bit uniform shifted to (0,1) by +0.5/2^32 — both the
# shift and the power-of-two division are float-EXACT, so u is
# bit-identical across engines and runs (reproducible sampling, the
# property a training pipeline actually needs; only ln() is libm, and
# adjacent key gaps are ~1e-4 vs 1-ulp error ~1e-16, so the k-th
# boundary cannot flip).
#
# Scale shape (100 TB): orderBy+limit compiles to
# TakeOrderedAndProject — per-partition top-k heaps and a P×k driver
# merge; NO global sort, NO shuffle of the fact. This replaces the
# rejection/replacement samplers that need a total-weight pre-pass.
# ---------------------------------------------------------------------------
_ES_K = 100


@_register(
    "orders_weighted_sample_noreplace",
    f"""
    WITH keyed AS (
      SELECT o_orderkey, o_totalprice,
             ln((CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                      AS BIGINT) + 0.5) / 4294967296.0)
               / CAST(o_totalprice AS DOUBLE) AS es_key
      FROM orders
    ),
    top AS (
      SELECT * FROM keyed ORDER BY es_key DESC, o_orderkey LIMIT {_ES_K}
    )
    SELECT o_orderkey, o_totalprice FROM top ORDER BY o_orderkey
    """,
)
def orders_weighted_sample_noreplace(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    h32 = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h32 + F.lit(0.5)) / F.lit(float(2**32))
    es_key = F.log(u) / F.col("o_totalprice").cast("double")
    return (
        orders.select("o_orderkey", "o_totalprice", es_key.alias("es_key"))
        .orderBy(F.desc("es_key"), F.asc("o_orderkey"))
        .limit(_ES_K)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# STRATIFIED weighted sampling without replacement — the groupwise form
# of the E-S sampler above and the actual data-mixing primitive of a
# corpus build ("k docs per language, longer docs more likely"): per
# language, keep the _ES_STRAT_K largest ln(u)/n_chars keys.
#
# Scale shape (100 TB): the naive per-group window shuffles the WHOLE
# corpus by lang (en alone is 40% — a guaranteed straggler). Instead
# the key is computed in codegen, then per-PARTITION per-group top-k
# partials (Arrow mapInPandas, k·L state — top-k is a semilattice like
# the KMV minima) shrink the shuffle to ≤ partitions·langs·k rows; the
# final window runs on that dim-sized frame. No full-data exchange.
# ---------------------------------------------------------------------------
_ES_STRAT_K = 20


def _es_partition_topk(iterator):
    """Per-partition per-lang top-k rows by (es_key DESC, doc_id ASC);
    float arithmetic happens in Spark codegen BEFORE this — here we
    only compare already-computed doubles, identically to the final
    window."""
    import numpy as np
    import pandas as pd

    state: dict = {}
    for pdf in iterator:
        # dropna=False: the DuckDB twin's PARTITION BY lang keeps a
        # NULL-lang stratum; pandas' default would silently drop it
        for lang, grp in pdf.groupby("lang", dropna=False):
            prev = state.get(lang)
            cur = grp[["doc_id", "es_key"]]
            merged = (
                pd.concat([prev, cur]) if prev is not None else cur
            )
            order = np.lexsort(
                (merged["doc_id"].values, -merged["es_key"].values)
            )[:_ES_STRAT_K]
            state[lang] = merged.iloc[order]
    for lang, grp in state.items():
        out = grp.copy()
        out.insert(0, "lang", lang)
        yield out


@_register(
    "docs_stratified_weighted_sample",
    f"""
    WITH keyed AS (
      SELECT lang, doc_id,
             ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) + 0.5) / 4294967296.0)
               / CAST(n_chars AS DOUBLE) AS es_key
      FROM documents
    ),
    ranked AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY es_key DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT lang, doc_id FROM ranked WHERE rn <= {_ES_STRAT_K}
    ORDER BY lang, doc_id
    """,
)
def docs_stratified_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    u = (h32 + F.lit(0.5)) / F.lit(float(2**32))
    keyed = docs.select(
        "lang",
        "doc_id",
        (F.log(u) / F.col("n_chars").cast("double")).alias("es_key"),
    )
    partials = keyed.mapInPandas(
        _es_partition_topk, "lang string, doc_id long, es_key double"
    )
    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.desc("es_key"), F.asc("doc_id")
        )
    )
    return (
        partials.withColumn("rn", rn)
        .filter(F.col("rn") <= _ES_STRAT_K)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (Achlioptas 2003 ±1 variant)
# — dimensionality reduction for embedding pipelines: project d=64 →
# k=16 with a FIXED ±1 sign matrix derived from md5 at module load
# (data-independent, reproducible forever), scaled by 1/√k = 1/4
# (a power of two — the scale divide is float-EXACT).
#
# Cross-engine determinism: the signs are Python-computed constants
# inlined as literals into BOTH plans, and each component is a
# SEQUENTIAL left fold in index order (Spark `aggregate` over
# zip_with; DuckDB `list_reduce`) — (0.0+x₁)+x₂+… equals x₁+x₂+…
# bit-for-bit, so both engines produce identical doubles and the
# micro-quantization can be hash-gated. JL distance preservation is
# property-tested (tests/test_analytics_props.py), not gated.
#
# Scale shape (100 TB): the fold runs inside the scan stage per row
# (zero shuffles before the output sort). The HOF fold is the
# oracle-pairing choice; a throughput deployment would swap in the
# Arrow-batched numpy matmul (operators/similarity.py pattern) whose
# pairwise-summation floats no SQL engine can reproduce exactly.
# ---------------------------------------------------------------------------
_JL_D, _JL_K = 64, 16


def _jl_signs() -> list[list[int]]:
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) % 2
            == 0
            else -1
            for i in range(_JL_D)
        ]
        for j in range(_JL_K)
    ]


_JL_S = _jl_signs()


def _jl_oracle() -> str:
    comps = ", ".join(
        "list_reduce([CAST(embedding[i] AS DOUBLE) * CAST(("
        + "[" + ",".join(str(x) for x in _JL_S[j]) + "]"
        + f")[i] AS DOUBLE) FOR i IN range(1, {_JL_D + 1})], "
        "(a, b) -> a + b) / 4.0"
        for j in range(_JL_K)
    )
    return f"""
    WITH proj AS (
      SELECT vec_id, [{comps}] AS p
      FROM embeddings WHERE vec_id % 7 = 0
    )
    SELECT vec_id, i - 1 AS dim_id,
           CAST(FLOOR(p[i] * 1000000 + 0.5) AS BIGINT) AS proj_micro
    FROM proj, range(1, {_JL_K + 1}) AS r(i)
    ORDER BY vec_id, dim_id
    """


@_register("embedding_jl_projection", _jl_oracle())
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 7 == 0
    )
    v = to_double(F.col("embedding"))
    comps = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    v,
                    F.array(*[F.lit(float(x)) for x in _JL_S[j]]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.lit(4.0)
            for j in range(_JL_K)
        ]
    )
    return (
        emb.select("vec_id", F.posexplode(comps).alias("dim_id", "p"))
        .select(
            "vec_id",
            "dim_id",
            F.floor(F.col("p") * 1000000 + F.lit(0.5))
            .cast("long")
            .alias("proj_micro"),
        )
        .orderBy("vec_id", "dim_id")
    )


# ---------------------------------------------------------------------------
# Bloom-filter novelty check (Bloom 1970) — the "is this incoming doc
# probably already in the corpus?" membership gate of an incremental
# ingest, built from pure relational algebra so BOTH engines compute
# the identical filter: 4 md5-derived bit positions in an m=65536-bit
# space; the filter is the DISTINCT set-bit table (≤ m rows — always
# broadcastable, the relational form of "the bloom fits in L2"); a
# batch doc is flagged iff ALL its positions are set (anti-join on
# missing bits). The gated row certifies the no-false-negative
# property itself (every exact duplicate is flagged) plus the exact
# false-positive count; complements the runtime bloom-join test
# (test_plan_audit.py::test_runtime_bloom_filter_injection), which
# exercises Catalyst's own injected bloom at the scan.
#
# Scale shape (100 TB): building the set-bit table is one map-side-
# combined distinct over ≤ m values; probing is explode(4) + a
# broadcast anti-join — the batch never shuffles. OR-of-bits is
# order-independent, so the filter is deterministic under any
# partitioning.
# ---------------------------------------------------------------------------
_BLOOM_M = 65536
_BLOOM_HASHES = 4


def _bloom_pos_sql(h: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{h}:' || md5(text)), 1, 8)) AS BIGINT)"
        f" % {_BLOOM_M}"
    )


def _bloom_pos_col(h: int) -> F.Column:
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{h}:"), F.md5(F.col("text")))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _BLOOM_M
    )


@_register(
    "docs_bloom_novelty_check",
    f"""
    WITH hist AS (SELECT text FROM documents
                  WHERE doc_id % 3 <> 0 AND text IS NOT NULL),
    batch AS (SELECT doc_id, text FROM documents
              WHERE doc_id % 3 = 0 AND text IS NOT NULL),
    bits AS (
      SELECT DISTINCT unnest([{", ".join(_bloom_pos_sql(h) for h in range(1, _BLOOM_HASHES + 1))}]) AS pos
      FROM hist
    ),
    probe AS (
      SELECT doc_id, unnest([{", ".join(_bloom_pos_sql(h) for h in range(1, _BLOOM_HASHES + 1))}]) AS pos
      FROM batch
    ),
    missing AS (
      SELECT DISTINCT doc_id FROM probe
      WHERE pos NOT IN (SELECT pos FROM bits)
    ),
    flagged AS (
      SELECT doc_id FROM batch WHERE doc_id NOT IN (SELECT doc_id FROM missing)
    ),
    exact_dup AS (
      SELECT doc_id FROM batch WHERE text IN (SELECT DISTINCT text FROM hist)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM batch) AS n_batch,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM exact_dup) AS n_exact_dup,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged) AS n_flagged,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM flagged)
             - (SELECT CAST(COUNT(*) AS BIGINT) FROM exact_dup)
             AS n_false_positives,
           (SELECT COUNT(*) FROM exact_dup e
            WHERE e.doc_id NOT IN (SELECT doc_id FROM flagged)) = 0
             AS no_false_negatives,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_set_bits
    """,
)
def docs_bloom_novelty_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL text is excluded on BOTH engines up front: its hash
    # positions are NULL, and DuckDB's `pos NOT IN (...)` three-valued
    # logic would flag such a doc while Spark's null-safe anti-join
    # leaves it unflagged — an unprobeable doc has no place in a
    # membership check either way
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    hist = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    pos_arr = F.array(
        *[_bloom_pos_col(h) for h in range(1, _BLOOM_HASHES + 1)]
    )
    bits = hist.select(F.explode(pos_arr).alias("pos")).distinct()
    probe = batch.select("doc_id", F.explode(pos_arr).alias("pos"))
    missing = (
        probe.join(F.broadcast(bits), "pos", "left_anti")
        .select("doc_id")
        .distinct()
    )
    flagged = batch.select("doc_id").join(missing, "doc_id", "left_anti")
    exact_dup = batch.join(
        hist.select("text").distinct(), "text", "left_semi"
    ).select("doc_id")
    exact_dup = exact_dup.localCheckpoint(eager=False)  # 2 consumers
    flagged = flagged.localCheckpoint(eager=False)  # 2 consumers
    n_batch = batch.agg(F.count(F.lit(1)).cast("long").alias("n_batch"))
    n_exact = exact_dup.agg(
        F.count(F.lit(1)).cast("long").alias("n_exact_dup")
    )
    n_flagged = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_flagged")
    )
    n_fn = (
        exact_dup.join(flagged, "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_missed"))
    )
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_set_bits"))
    return (
        n_batch.crossJoin(n_exact)
        .crossJoin(n_flagged)
        .crossJoin(n_fn)
        .crossJoin(n_bits)
        .select(
            "n_batch",
            "n_exact_dup",
            "n_flagged",
            (F.col("n_flagged") - F.col("n_exact_dup")).alias(
                "n_false_positives"
            ),
            (F.col("n_missed") == 0).alias("no_false_negatives"),
            "n_set_bits",
        )
    )


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala 2007)
# — the privacy-governance gate a dataset passes before leaving the
# warehouse: every quasi-identifier combination must be shared by ≥ k
# rows (re-identification resistance), and each such group must carry
# ≥ l distinct sensitive values (attribute-disclosure resistance).
# Quasi-identifiers here: (nation, market segment); sensitive
# attribute: the account-balance sign class.
#
# Scale shape (100 TB): ONE map-side-combined groupBy over the
# quasi-identifier pair (count + count distinct sensitive), then a
# group-grained rollup — the audit costs exactly one shuffle of
# |QI-combinations| rows regardless of table size.
# ---------------------------------------------------------------------------
_KANON_K = 5
_KANON_L = 2


@_register(
    "customers_k_anonymity_audit",
    f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             COUNT(*) AS n,
             COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
                                 WHEN c_acctbal < 5000 THEN 'mid'
                                 ELSE 'high' END) AS l_div
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST({_KANON_K} AS BIGINT) AS k_threshold,
           CAST(MIN(n) AS BIGINT) AS min_group_size,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below_k,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_below_k,
           CAST(SUM(CASE WHEN l_div < {_KANON_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below_l,
           SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) = 0
             AND SUM(CASE WHEN l_div < {_KANON_L} THEN 1 ELSE 0 END) = 0
             AS anonymity_ok
    FROM g
    """,
)
def customers_k_anonymity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    sensitive = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(sensitive).alias("l_div"),
    )
    below_k = F.sum(F.when(F.col("n") < _KANON_K, 1).otherwise(0))
    below_l = F.sum(F.when(F.col("l_div") < _KANON_L, 1).otherwise(0))
    return g.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.lit(_KANON_K).cast("long").alias("k_threshold"),
        F.min("n").cast("long").alias("min_group_size"),
        below_k.cast("long").alias("n_groups_below_k"),
        F.sum(F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_rows_below_k"),
        below_l.cast("long").alias("n_groups_below_l"),
        ((below_k == 0) & (below_l == 0)).alias("anonymity_ok"),
    )


# ---------------------------------------------------------------------------
# Q30 FIXED-POINT NATURAL LOG — the engine-parity primitive for every
# log-scored operator (DSIR importance weights, JM-LM perplexities):
# both engines evaluate the IDENTICAL chain of BIGINT operations, so
# a per-doc score can never wobble by 1 ulp across partitions or
# engines and flip a FLOOR(x·1000+0.5) boundary. Defined here, above
# its first import-time use (the JM-LM oracle f-strings below).
# ---------------------------------------------------------------------------
_LNFP_ONE = 1 << 30  # Q30 fixed point
_LNFP_LN2 = 744261118  # round(ln(2) * 2^30) — engine-independent literal


def _lnfp_steps(p, x_sql, div, shl):
    """(name, sql) steps computing ln_fp(x) = round-down fixed-point
    natural log of a positive BIGINT, using ONLY integer ops both
    engines implement identically: x = m·2^e (e via length(bin(x)));
    ln m = 2·atanh((m−1)/(m+1)) truncated at u^11 (u ≤ 1/3 ⇒ series
    tail < 4e-8). ``div``/``shl`` inject each engine's integer-div and
    shift-left syntax; every operand is non-negative so truncating and
    floor division agree."""
    ONE = str(_LNFP_ONE)
    return [
        (f"{p}x", x_sql),
        (f"{p}e", f"CAST(length(bin({p}x)) - 1 AS BIGINT)"),
        (
            f"{p}z",
            f"CASE WHEN {p}e > 30 THEN {div(f'{p}x', shl(f'({p}e - 30)'))}"
            f" WHEN {p}e < 30 THEN {p}x * {shl(f'(30 - {p}e)')}"
            f" ELSE {p}x END",
        ),
        (f"{p}u", div(f"(({p}z - {ONE}) * {ONE})", f"({p}z + {ONE})")),
        (f"{p}u2", div(f"({p}u * {p}u)", ONE)),
        (f"{p}u3", div(f"({p}u2 * {p}u)", ONE)),
        (f"{p}u5", div(f"({p}u3 * {p}u2)", ONE)),
        (f"{p}u7", div(f"({p}u5 * {p}u2)", ONE)),
        (f"{p}u9", div(f"({p}u7 * {p}u2)", ONE)),
        (f"{p}u11", div(f"({p}u9 * {p}u2)", ONE)),
        (
            f"{p}ln",
            f"CAST({p}e * {_LNFP_LN2} + 2 * ({p}u"
            f" + {div(f'{p}u3', '3')} + {div(f'{p}u5', '5')}"
            f" + {div(f'{p}u7', '7')} + {div(f'{p}u9', '9')}"
            f" + {div(f'{p}u11', '11')}) AS BIGINT)",
        ),
    ]


def _lnfp_spark_div(a, b):
    return f"({a} div {b})"


def _lnfp_spark_shl(k):
    return f"shiftleft(CAST(1 AS BIGINT), CAST({k} AS INT))"


def _lnfp_duck_div(a, b):
    return f"({a} // {b})"


def _lnfp_duck_shl(k):
    return f"(CAST(1 AS BIGINT) << {k})"


def _lnfp_duck_select(chains):
    """SELECT-list fragment evaluating several ln_fp chains via
    DuckDB's lateral column aliases; chains = [(prefix, x_sql), ...]."""
    cols = []
    for p, x_sql in chains:
        for name, sql in _lnfp_steps(p, x_sql, _lnfp_duck_div, _lnfp_duck_shl):
            cols.append(f"{sql} AS {name}")
    return ",\n             ".join(cols)


# ---------------------------------------------------------------------------
# Shared JM-LM Q30 scoring (round-10; closes the round-9 verdict's
# "order-dependent float reduction" item): the Jelinek-Mercer mixture
#   p(w2|w1) = 3/4·c12/ch + 1/4·c/n_uni
# is quantized ONCE PER DISTINCT BIGRAM TYPE to a Q30 fraction
#   pfp = (3·((c12<<30) div ch) + ((c<<30) div n_uni)) div 4   (≥ 1),
# and the per-transition information content becomes the INTEGER
#   term_q = 30·LN2_FP − ln_fp(pfp)      [Q30 nats, ≥ 0]
# (ln(pfp/2^30) = ln_fp(pfp) − 30·LN2_FP). Per-doc scores are exact
# BIGINT sums of term_q over transitions — partition-order-independent
# by construction — and millibit quantization is pure integer:
#   q = (2000·S + n·LN2_FP) div (2·n·LN2_FP)   [= round(S·1000/(n·ln2·2^30))]
# The (c12<<30) products use DECIMAL(38,0) (Spark) / HUGEINT (DuckDB)
# so the fractions stay exact for web-corpus counts past 2^33, where a
# raw BIGINT product would overflow; both engines' integral division
# agrees on non-negative operands (pinned by test_analytics_props).
# Computing terms on the DISTINCT pair table also keeps the ln chain
# off the fact-grained transition stream (the DSIR bucket-term shape).
# ---------------------------------------------------------------------------
def _jm_q30_spark_terms(joined):
    """Append term_q to a frame carrying c12, ch, c, n_uni (one row per
    distinct bigram type)."""
    df = (
        joined.withColumn(
            "f1",
            F.expr(
                "CAST((CAST(c12 AS DECIMAL(38,0)) * 1073741824)"
                " div ch AS BIGINT)"
            ),
        )
        .withColumn(
            "f2",
            F.expr(
                "CAST((CAST(c AS DECIMAL(38,0)) * 1073741824)"
                " div n_uni AS BIGINT)"
            ),
        )
        .withColumn(
            "pfp",
            F.expr("greatest((3 * f1 + f2) div 4, CAST(1 AS BIGINT))"),
        )
    )
    for name, sql in _lnfp_steps(
        "jm_", "pfp", _lnfp_spark_div, _lnfp_spark_shl
    ):
        df = df.withColumn(name, F.expr(sql))
    return df.withColumn(
        "term_q",
        F.expr(f"CAST({30 * _LNFP_LN2} - jm_ln AS BIGINT)"),
    )


def _jm_q30_spark_q():
    """Aggregate expression: per-doc millibits from summed term_q."""
    return F.expr(
        f"CAST((2000 * CAST(sum(term_q) AS DECIMAL(38,0))"
        f" + count(1) * {_LNFP_LN2})"
        f" div (2 * count(1) * {_LNFP_LN2}) AS BIGINT)"
    )


def _doc_words(spark: SparkSession, sf_dir: str, key: str) -> DataFrame:
    """``documents`` as (doc_id, key, ws): the non-empty words of each
    document split on single spaces."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        key,
        F.filter(F.split(F.col("text"), " "), lambda w: w != "").alias(
            "ws"
        ),
    )


def _doc_bigrams(docs: DataFrame, key: str) -> DataFrame:
    """One (doc_id, key, w1, w2) row per adjacent word pair of each
    document of ``_doc_words``."""
    return (
        docs.select(
            "doc_id",
            key,
            F.explode(
                F.arrays_zip(
                    F.expr("slice(ws, 1, greatest(size(ws) - 1, 0))"),
                    F.expr("slice(ws, 2, greatest(size(ws) - 1, 0))"),
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            key,
            F.col("p.0").alias("w1"),
            F.col("p.1").alias("w2"),
        )
        .filter(F.col("w1").isNotNull() & F.col("w2").isNotNull())
    )


def _jm_bigram_perdoc(
    spark: SparkSession, sf_dir: str, key: str
) -> DataFrame:
    """(doc_id, key, q): each document's Jelinek-Mercer bigram
    cross-entropy in millibits, fit on the whole corpus. Docs with
    fewer than 2 words have no transitions and no row."""
    docs = _doc_words(spark, sf_dir, key)
    docs = docs.localCheckpoint(eager=False)  # unigram + bigram consumers
    uni = (
        docs.select(F.explode("ws").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg = _doc_bigrams(docs, key)
    bg = bg.localCheckpoint(eager=False)  # LM fit + scoring consumers
    pair = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    pair = pair.localCheckpoint(eager=False)  # head counts + scoring
    head = pair.groupBy("w1").agg(F.sum("c12").alias("ch"))
    tot = uni.agg(F.sum("c").alias("n_uni"))
    # Q30 integer terms per DISTINCT bigram type (vocab-bounded): the
    # ln chain never touches the transition-grained stream, and the
    # per-doc reduction is an exact BIGINT sum — no float anywhere
    terms = _jm_q30_spark_terms(
        pair.join(head, "w1")
        .join(uni.withColumnRenamed("word", "w2"), "w2")
        .crossJoin(F.broadcast(tot))
    ).select("w1", "w2", "term_q")
    return (
        bg.join(terms, ["w1", "w2"])
        .groupBy("doc_id", key)
        .agg(_jm_q30_spark_q().alias("q"))
    )


# Oracle-side fragments: `terms` expects CTEs pair(w1,w2,c12),
# head(w1,ch), uni(word,c), tot(n_uni) to be in scope.
_JM_Q30_DUCK_TERMS = f"""
      SELECT w1, w2, CAST({30 * _LNFP_LN2} - jm_ln AS BIGINT) AS term_q
      FROM (
        SELECT w1, w2,
             CAST((CAST(c12 AS HUGEINT) * 1073741824) // ch AS BIGINT) AS f1,
             CAST((CAST(u2.c AS HUGEINT) * 1073741824) // n_uni AS BIGINT) AS f2,
             greatest((3 * f1 + f2) // 4, CAST(1 AS BIGINT)) AS pfp,
             {_lnfp_duck_select([("jm_", "pfp")])}
        FROM pair JOIN head USING (w1) JOIN uni u2 ON pair.w2 = u2.word
        CROSS JOIN tot)
"""
_JM_Q30_DUCK_Q = (
    f"CAST((2000 * CAST(SUM(term_q) AS HUGEINT)"
    f" + COUNT(*) * {_LNFP_LN2})"
    f" // (2 * COUNT(*) * {_LNFP_LN2}) AS BIGINT)"
)


# ---------------------------------------------------------------------------
# Interpolated bigram-LM perplexity scoring — the second-order upgrade
# of docs_unigram_surprisal (Jelinek-Mercer interpolation, the classic
# smoothing for n-gram quality filters): fit corpus bigram + unigram
# tables, score every document's transitions by
#   p(w2|w1) = LAMBDA * c(w1 w2)/c(w1 ·) + (1-LAMBDA) * c(w2)/N,
# per-doc cross-entropy in millibits, aggregated per source. The
# conditional denominator is the BIGRAM-HEAD count (sum of c12 over
# w2), so the conditional component is a proper distribution.
#
# 100 TB shape: two map-side-combined groupBys fit the LM (word and
# word-pair); scoring joins the per-doc transitions to those tables by
# KEY EQUI-JOIN (the bigram table of a web corpus does NOT broadcast);
# only the scalar total crosses as a broadcast. Docs with <2 tokens
# have no transitions and are excluded (n_docs_scored says so).
# Scoring is the shared Q30 integer path above (LAMBDA = 3/4 is the
# dyadic literal inside _jm_q30_spark_terms) — per-doc scores are
# exact BIGINT sums, so quantization boundaries cannot flip with
# partitioning, scale, or engine.
# ---------------------------------------------------------------------------


@_register(
    "docs_bigram_lm_perplexity",
    f"""
    WITH docs2 AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), bg AS (
      SELECT doc_id, source, u.p[1] AS w1, u.p[2] AS w2
      FROM (SELECT doc_id, source,
                   unnest(list_zip(ws[1:len(ws) - 1], ws[2:len(ws)])) AS p
            FROM docs2) u
      WHERE u.p[1] IS NOT NULL AND u.p[2] IS NOT NULL
    ), uni AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(ws) AS word FROM docs2) GROUP BY word
    ), tot AS (
      SELECT SUM(c) AS n_uni FROM uni
    ), pair AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2
    ), head AS (
      SELECT w1, SUM(c12) AS ch FROM pair GROUP BY w1
    ), terms AS ({_JM_Q30_DUCK_TERMS}
    ), perdoc AS (
      SELECT doc_id, source, {_JM_Q30_DUCK_Q} AS q
      FROM bg JOIN terms USING (w1, w2)
      GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_scored,
           CAST(SUM(q) AS BIGINT) AS sum_millibits,
           CAST(MIN(q) AS BIGINT) AS min_millibits,
           CAST(MAX(q) AS BIGINT) AS max_millibits
    FROM perdoc GROUP BY source ORDER BY source
    """,
)
def docs_bigram_lm_perplexity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return (
        _jm_bigram_perdoc(spark, sf_dir, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_scored"),
            F.sum("q").cast("long").alias("sum_millibits"),
            F.min("q").cast("long").alias("min_millibits"),
            F.max("q").cast("long").alias("max_millibits"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM — the smoothing that actually
# wins LM evaluations (and the scorer KenLM-style quality filters
# use), next to the Jelinek-Mercer baseline above. The KN idea: the
# backoff weight of a word is NOT its frequency but its CONTINUATION
# diversity — how many distinct contexts it follows —
#
#   p_KN(w2|w1) = max(c12 − D, 0)/c(w1·)
#               + (D · N1+(w1·)/c(w1·)) · N1+(·w2)/N1+(··)
#
# with discount D = 3/4 (dyadic-exact literal), N1+(w1·) = distinct
# successors of w1, N1+(·w2) = distinct predecessors of w2, N1+(··) =
# total bigram types. All four statistics fall out of the SAME pair
# table the JM query builds — no extra corpus pass. Scoring covers
# observed transitions (as in JM); per-doc millibit quantization
# before cross-doc aggregation, identical expression trees both
# engines (the repo's cross-engine float rule; log2 precedent: the
# JM query above, green since r5).
#
# 100 TB shape: two map-side-combined groupBys fit every statistic;
# scoring is key equi-joins against the pair/head/continuation
# tables (a web-corpus bigram table does NOT broadcast); only the
# scalar type count crosses as a broadcast.
# ---------------------------------------------------------------------------
_KN_D = 0.75


@_register(
    "docs_kneser_ney_bigram",
    f"""
    WITH docs2 AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), bg AS (
      SELECT doc_id, source, u.p[1] AS w1, u.p[2] AS w2
      FROM (SELECT doc_id, source,
                   unnest(list_zip(ws[1:len(ws) - 1], ws[2:len(ws)])) AS p
            FROM docs2) u
      WHERE u.p[1] IS NOT NULL AND u.p[2] IS NOT NULL
    ), pair AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2
    ), head AS (
      SELECT w1, SUM(c12) AS ch, CAST(COUNT(*) AS BIGINT) AS n1f
      FROM pair GROUP BY w1
    ), cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM pair GROUP BY w2
    ), types AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS t FROM pair
    ), perdoc AS (
      SELECT doc_id, source,
             CAST(FLOOR((-SUM(log2(
                 (GREATEST(CAST(c12 AS DOUBLE) - {_KN_D}, 0)
                  / CAST(ch AS DOUBLE))
                 + ({_KN_D} * CAST(n1f AS DOUBLE) / CAST(ch AS DOUBLE))
                   * (CAST(n1b AS DOUBLE) / CAST(t AS DOUBLE))))
               / COUNT(*)) * 1000 + 0.5) AS BIGINT) AS q
      FROM bg
      JOIN pair USING (w1, w2)
      JOIN head USING (w1)
      JOIN cont ON bg.w2 = cont.w2
      CROSS JOIN types
      GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_scored,
           CAST(SUM(q) AS BIGINT) AS sum_millibits,
           CAST(MIN(q) AS BIGINT) AS min_millibits,
           CAST(MAX(q) AS BIGINT) AS max_millibits
    FROM perdoc GROUP BY source ORDER BY source
    """,
)
def docs_kneser_ney_bigram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    bg = _doc_bigrams(_doc_words(spark, sf_dir, "source"), "source")
    bg = bg.localCheckpoint(eager=False)  # LM fit + scoring consumers
    pair = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    pair = pair.localCheckpoint(eager=False)  # head/cont/types + scoring
    head = pair.groupBy("w1").agg(
        F.sum("c12").alias("ch"), F.count(F.lit(1)).alias("n1f")
    )
    cont = pair.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    types = pair.agg(F.count(F.lit(1)).alias("t"))
    p = (
        F.greatest(F.col("c12").cast("double") - _KN_D, F.lit(0.0))
        / F.col("ch").cast("double")
    ) + (
        F.lit(_KN_D) * F.col("n1f").cast("double")
        / F.col("ch").cast("double")
    ) * (
        F.col("n1b").cast("double") / F.col("t").cast("double")
    )
    perdoc = (
        bg.join(pair, ["w1", "w2"])
        .join(head, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .groupBy("doc_id", "source")
        .agg(
            F.floor((-F.sum(F.log2(p)) / F.count(F.lit(1))) * 1000 + 0.5)
            .cast("long")
            .alias("q")
        )
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_scored"),
            F.sum("q").cast("long").alias("sum_millibits"),
            F.min("q").cast("long").alias("min_millibits"),
            F.max("q").cast("long").alias("max_millibits"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Market-basket association rules (Agrawal-Srikant support/confidence/
# lift, 2-itemsets) — co-purchase mining over order baskets. The pair
# join is a self-equi-join on the basket id AFTER distinct(basket,
# item): per-basket item counts are bounded (~7 lines/order on TPC-H
# data), so candidate pairs grow LINEARLY in baskets, never
# quadratically in items. Counts are exact integers; confidence is an
# exact half-up ppm division; lift (which multiplies three counts and
# would overflow int64 at ~1e9 baskets) uses the fixed double shape +
# floor quantization. Deterministic top-20 by (lift, antecedent,
# consequent).
# ---------------------------------------------------------------------------
_BASKET_MIN_PAIR_SUPPORT = 3


@_register(
    "orders_market_basket_rules",
    f"""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem
    ), n AS (
      SELECT CAST(COUNT(DISTINCT oid) AS BIGINT) AS n_orders FROM items
    ), isup AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY item
    ), pairs AS (
      SELECT a.item AS ia, b.item AS ib, CAST(COUNT(*) AS BIGINT) AS c12
      FROM items a JOIN items b ON a.oid = b.oid AND a.item < b.item
      GROUP BY a.item, b.item
      HAVING COUNT(*) >= {_BASKET_MIN_PAIR_SUPPORT}
    ), rules AS (
      SELECT ia AS antecedent, ib AS consequent, c12,
             sa.c AS ca, sb.c AS cb
      FROM pairs JOIN isup sa ON pairs.ia = sa.item
                 JOIN isup sb ON pairs.ib = sb.item
      UNION ALL
      SELECT ib, ia, c12, sb.c, sa.c
      FROM pairs JOIN isup sa ON pairs.ia = sa.item
                 JOIN isup sb ON pairs.ib = sb.item
    )
    SELECT antecedent, consequent, c12 AS pair_support,
           CAST((c12 * 1000000 + ca // 2) // ca AS BIGINT)
             AS confidence_ppm,
           CAST(FLOOR(CAST(c12 AS DOUBLE) * n_orders
                      / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))
                      * 1000000 + 0.5) AS BIGINT) AS lift_ppm
    FROM rules CROSS JOIN n
    ORDER BY lift_ppm DESC, antecedent, consequent LIMIT 20
    """,
)
def orders_market_basket_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # ONE basket-building exchange: collect_set per order dedups the
    # (order, item) stream in the same aggregation (the old shape paid
    # a distinct exchange, TWO more exchanges re-keying the distinct
    # frame by oid for its self-join, and a distinct-oid exchange for
    # n_orders), and the in-row pair transform emits exactly the
    # k(k-1)/2 ordered pairs per basket instead of the join's k^2
    # rows. sort_array makes the set order deterministic, so ia < ib
    # holds by construction — identical pair multiset to the
    # self-join + filter.
    sets = (
        li.groupBy(F.col("l_orderkey").alias("oid"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("arr"))
        .localCheckpoint(eager=False)  # n_orders + isup + pairs
    )
    n = sets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    isup = (
        sets.select(F.explode("arr").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    isup = isup.localCheckpoint(eager=False)  # both rule directions
    pairs = (
        sets.select(
            F.explode(
                F.expr(
                    "flatten(transform(arr, (x, i) ->"
                    " transform(slice(arr, i + 2, size(arr)),"
                    " y -> struct(x AS ia, y AS ib))))"
                )
            ).alias("p")
        )
        .select("p.ia", "p.ib")
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= _BASKET_MIN_PAIR_SUPPORT)
    )
    joined = (
        pairs.join(
            isup.select(F.col("item").alias("ia"), F.col("c").alias("ca")),
            "ia",
        )
        .join(
            isup.select(F.col("item").alias("ib"), F.col("c").alias("cb")),
            "ib",
        )
    )
    fwd = joined.select(
        F.col("ia").alias("antecedent"),
        F.col("ib").alias("consequent"),
        "c12",
        "ca",
        "cb",
    )
    rev = joined.select(
        F.col("ib").alias("antecedent"),
        F.col("ia").alias("consequent"),
        "c12",
        F.col("cb").alias("ca"),
        F.col("ca").alias("cb"),
    )
    lift = (
        F.col("c12").cast("double")
        * F.col("n_orders")
        / (F.col("ca").cast("double") * F.col("cb").cast("double"))
    )
    return (
        fwd.unionAll(rev)
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("c12").alias("pair_support"),
            F.expr(
                "(c12 * CAST(1000000 AS BIGINT) + ca div 2) div ca"
            ).alias("confidence_ppm"),
            F.floor(lift * 1000000 + 0.5).cast("long").alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "antecedent", "consequent")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over user event streams — the
# path-analysis primitive (what follows what, with what probability):
# per-user event sequences ordered by (ts, event_id), LEAD gives the
# successor (terminal events transition to 'END'), one groupBy yields
# the exact transition counts, and row-normalized probabilities are
# half-up ppm divisions of exact integers. The window partitions by
# user (fact-grained keyed window, the events_user_* shape) — never a
# global sort.
# ---------------------------------------------------------------------------
@_register(
    "events_markov_transitions",
    """
    WITH seq AS (
      SELECT event_type AS cur,
             COALESCE(LEAD(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id), 'END') AS nxt
      FROM events
    ), t AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq GROUP BY cur, nxt
    ), m AS (
      SELECT cur, SUM(c) AS tot FROM t GROUP BY cur
    )
    SELECT t.cur, t.nxt, t.c AS n_transitions,
           CAST((t.c * 1000000 + m.tot // 2) // m.tot AS BIGINT) AS p_ppm
    FROM t JOIN m USING (cur)
    ORDER BY t.cur, t.nxt
    """,
)
def events_markov_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.coalesce(F.lead("event_type").over(w), F.lit("END")).alias(
            "nxt"
        ),
    )
    t = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("c"))
    t = t.localCheckpoint(eager=False)  # marginals + final
    m = t.groupBy("cur").agg(F.sum("c").alias("tot"))
    return (
        t.join(F.broadcast(m), "cur")
        .select(
            "cur",
            "nxt",
            F.col("c").alias("n_transitions"),
            F.expr(
                "(c * CAST(1000000 AS BIGINT) + tot div 2) div tot"
            ).alias("p_ppm"),
        )
        .orderBy("cur", "nxt")
    )


# ---------------------------------------------------------------------------
# Schema-evolution read (mergeSchema) — the daily lake problem: a
# landing zone where early files lack a column later files carry.
# Two parquet parts are written with DIFFERENT but compatible schemas
# (the even-key half without o_orderpriority, the odd-key half with
# it), read back as ONE table via mergeSchema=true, and the merged
# frame's shape is gated: the late column must be NULL exactly on the
# early-file rows, totals must survive the roundtrip. The oracle
# derives the same answer from the orders table directly (the
# roundtrip is the thing under test, not the data).
#
# Scratch path: ``spark.epl.scratch.dir`` (shared-FS URI on a real
# cluster) with a driver-local tempdir fallback that is correct on
# local[*] only.
# ---------------------------------------------------------------------------
@_register(
    "orders_schema_evolution_stats",
    """
    WITH o AS (
      SELECT CAST(o_orderkey AS BIGINT) AS k,
             CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                  AS BIGINT) AS cents,
             o_orderpriority AS prio
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing_prio,
           CAST(COUNT(DISTINCT CASE WHEN k % 2 = 1 THEN prio END)
                AS BIGINT) AS n_prio_values
    FROM o
    """,
)
def orders_schema_evolution_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.floor(F.col("o_totalprice").cast("double") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
        F.col("o_orderpriority").alias("prio"),
    )
    scratch = spark.conf.get("spark.epl.scratch.dir", None)
    if scratch:
        tmp = scratch.rstrip("/") + "/schema_evo"
    else:
        tmp = tempfile.mkdtemp(prefix="schema_evo_")
    try:
        zone = _os.path.join(tmp, "zone")
        # early files: no prio column yet
        orders.filter(F.col("k") % 2 == 0).select("k", "cents").write.mode(
            "overwrite"
        ).parquet(_os.path.join(zone, "gen=early"))
        # late files: schema grew a column
        orders.filter(F.col("k") % 2 == 1).select(
            "k", "cents", "prio"
        ).write.mode("overwrite").parquet(_os.path.join(zone, "gen=late"))
        merged = spark.read.option("mergeSchema", "true").parquet(
            _os.path.join(zone, "gen=early"), _os.path.join(zone, "gen=late")
        )
        result = merged.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_cents"),
            F.sum(F.col("prio").isNull().cast("long"))
            .cast("long")
            .alias("n_missing_prio"),
            F.count_distinct("prio").cast("long").alias("n_prio_values"),
        )
        rows = result.collect()
        schema = result.schema
    finally:
        if not scratch:
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Error-tolerant CSV ingestion — the landing-zone reality check: a
# feed where some lines are corrupt (truncated fields, non-numeric
# garbage) must load WITHOUT dropping the batch. The file is written
# with deterministic corruption (every 13th order's amount column is
# replaced by 'CORRUPT<k>', every 29th line loses its last field),
# read back in PERMISSIVE mode with a _corrupt_record column, and the
# gated output certifies the triage: good rows keep exact totals,
# corrupt rows are COUNTED and quarantined, nothing vanishes. The
# oracle derives the same triage arithmetic from the orders table and
# the corruption rule (the roundtrip is the thing under test).
#
# 100 TB: CSV parsing is scan-stage work; PERMISSIVE mode costs one
# extra string column on failed rows only. Scratch path per the
# spark.epl.scratch.dir convention.
# ---------------------------------------------------------------------------
@_register(
    "orders_csv_malformed_stats",
    """
    WITH o AS (
      SELECT CAST(o_orderkey AS BIGINT) AS k,
             CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                  AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN k % 13 = 0 OR k % 29 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN k % 13 <> 0 AND k % 29 <> 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN k % 13 <> 0 AND k % 29 <> 0
                         THEN cents ELSE 0 END) AS BIGINT)
             AS good_cents
    FROM o
    """,
)
def orders_csv_malformed_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os as _os
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.floor(F.col("o_totalprice").cast("double") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    # render the feed: k,cents,tag — with deterministic corruption
    lines = orders.select(
        F.when(
            F.col("k") % 13 == 0,
            F.concat_ws(
                ",",
                F.col("k").cast("string"),
                F.concat(F.lit("CORRUPT"), F.col("k") % 7),
                F.lit("t"),
            ),
        )
        .when(
            F.col("k") % 29 == 0,
            # truncated line: last field missing
            F.concat_ws(",", F.col("k").cast("string")),
        )
        .otherwise(
            F.concat_ws(
                ",",
                F.col("k").cast("string"),
                F.col("cents").cast("string"),
                F.lit("t"),
            )
        )
        .alias("value")
    )
    scratch = spark.conf.get("spark.epl.scratch.dir", None)
    if scratch:
        tmp = scratch.rstrip("/") + "/csv_malformed"
    else:
        tmp = tempfile.mkdtemp(prefix="csv_malformed_")
    try:
        feed = _os.path.join(tmp, "feed")
        lines.write.mode("overwrite").text(feed)
        back = (
            spark.read.schema(
                "k long, cents long, tag string, _corrupt_record string"
            )
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .csv(feed)
        )
        # PERMISSIVE quirk: querying ONLY the corrupt column is
        # disallowed/unreliable — materialize the full frame first
        back = back.cache()
        result = back.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("_corrupt_record").isNotNull().cast("long"))
            .cast("long")
            .alias("n_corrupt"),
            F.sum(F.col("_corrupt_record").isNull().cast("long"))
            .cast("long")
            .alias("n_good"),
            F.sum(
                F.when(
                    F.col("_corrupt_record").isNull(), F.col("cents")
                ).otherwise(0)
            )
            .cast("long")
            .alias("good_cents"),
        )
        rows = result.collect()
        schema = result.schema
        back.unpersist()
    finally:
        if not scratch:
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Small-file compaction audit — THE lake-ops maintenance job: a
# landing zone fragmented into tiny files (64 here, round-robin)
# murders scan throughput (one task + one footer per file); OPTIMIZE
# rewrites it into right-sized files. Deterministic by construction:
# round-robin repartition(64) fills every partition when n ≥ 64, and
# the compacted count is the exact ceil(n / ROWS_PER_FILE) — so file
# counts are ARITHMETIC both engines state, not filesystem accidents.
# The gated row certifies the whole maintenance cycle: fragment →
# compact → nothing lost (row count and exact cent totals survive
# both rewrites).
# ---------------------------------------------------------------------------
_COMPACT_ROWS_PER_FILE = 8192


@_register(
    "orders_compaction_stats",
    f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(LEAST(64, COUNT(*)) AS BIGINT) AS n_files_small,
           CAST((COUNT(*) + {_COMPACT_ROWS_PER_FILE - 1})
                // {_COMPACT_ROWS_PER_FILE} AS BIGINT) AS n_files_compacted
    FROM orders
    """,
)
def orders_compaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob
    import math as _math
    import os as _os
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("k"),
        F.floor(F.col("o_totalprice").cast("double") * 100 + 0.5)
        .cast("long")
        .alias("cents"),
    )
    scratch = spark.conf.get("spark.epl.scratch.dir", None)
    if scratch:
        tmp = scratch.rstrip("/") + "/compaction"
    else:
        tmp = tempfile.mkdtemp(prefix="compaction_")
    try:
        small = _os.path.join(tmp, "small")
        orders.repartition(64).write.mode("overwrite").parquet(small)
        n_small = len(_glob.glob(_os.path.join(small, "*.parquet")))
        frag = spark.read.parquet(small)
        n_rows = frag.count()
        n_target = _math.ceil(n_rows / _COMPACT_ROWS_PER_FILE)
        compacted = _os.path.join(tmp, "compacted")
        if n_target:
            frag.repartition(n_target).write.mode("overwrite").parquet(
                compacted
            )
        n_comp = (
            len(_glob.glob(_os.path.join(compacted, "*.parquet")))
            if n_target
            else 0
        )
        back = spark.read.parquet(compacted) if n_target else frag
        result = back.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum("cents"), F.lit(0))
            .cast("long")
            .alias("sum_cents"),
            F.lit(n_small).cast("long").alias("n_files_small"),
            F.lit(n_comp).cast("long").alias("n_files_compacted"),
        )
        rows = result.collect()
        schema = result.schema
    finally:
        if not scratch:
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# TIME-BOUNDED strict funnel (signup → click → purchase): each step
# must happen within 1 h of the previous step's FIRST completion
# (click ≤ 1 h after signup, purchase ≤ 1 h after that click). The
# bound changes semantics materially: a user who clicks 2 h after
# signup is a step-1-only user here but would convert in an unbounded
# funnel. Per-user MIN-chain shape (groupBy + equi-join per step, no
# windows); the window predicate is exact integer µs.
# ---------------------------------------------------------------------------
_FUNNEL_BOUND_US = 3_600_000_000  # 1 hour


@_register(
    "events_bounded_funnel_conversion",
    f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
        AND epoch_us(e.ts::TIMESTAMP) - epoch_us(s1.t1::TIMESTAMP)
              <= {_FUNNEL_BOUND_US}
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND epoch_us(e.ts::TIMESTAMP) - epoch_us(s2.t2::TIMESTAMP)
              <= {_FUNNEL_BOUND_US}
      GROUP BY e.user_id
    )
    SELECT * FROM (
      SELECT 'step1_signup' AS step, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM s1
      UNION ALL SELECT 'step2_click_1h', CAST(COUNT(*) AS BIGINT) FROM s2
      UNION ALL SELECT 'step3_purchase_1h', CAST(COUNT(*) AS BIGINT)
      FROM s3
    ) ORDER BY step
    """,
)
def events_bounded_funnel_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev = ev.localCheckpoint(eager=False)  # three step consumers
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )

    def _next_step(prev: DataFrame, prev_t: str, etype: str, out_t: str):
        return (
            ev.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(
                (F.col("ts") > F.col(prev_t))
                & (
                    F.unix_micros("ts") - F.unix_micros(prev_t)
                    <= _FUNNEL_BOUND_US
                )
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_t))
        )

    s2 = _next_step(s1, "t1", "click", "t2")
    s3 = _next_step(s2, "t2", "purchase", "t3")

    def _cnt(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("step"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        ).select(F.lit(label).alias("step"), "n_users")

    return (
        _cnt(s1, "step1_signup")
        .unionByName(_cnt(s2, "step2_click_1h"))
        .unionByName(_cnt(s3, "step3_purchase_1h"))
        .orderBy("step")
    )


# ---------------------------------------------------------------------------
# Inter-event arrival-rate estimation — the point-process view of the
# event stream: per type, the MLE of an exponential inter-arrival
# rate is n_gaps / Σ gaps, computed here entirely in exact integer µs
# (gaps via a keyed lag window per (type, user) — a user's behavior
# is the process; cross-user gaps are meaningless). Output keeps the
# integer sufficient statistics AND the half-up events-per-hour rate,
# so downstream recomputation needs no floats.
# ---------------------------------------------------------------------------
@_register(
    "events_interarrival_rate",
    """
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts::TIMESTAMP)
               - lag(epoch_us(ts::TIMESTAMP)) OVER (
                   PARTITION BY event_type, user_id
                   ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
           CAST((COUNT(gap_us) * 3600000000 + SUM(gap_us) // 2)
                // SUM(gap_us) AS BIGINT) AS rate_per_hour_milli
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def events_interarrival_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "user_id",
        "ts",
        "event_id",
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    gaps = ev.select(
        "event_type",
        (F.col("us") - F.lag("us").over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").cast("long").alias("n_gaps"),
            F.sum("gap_us").cast("long").alias("sum_gap_us"),
        )
        .select(
            "event_type",
            "n_gaps",
            "sum_gap_us",
            F.expr(
                "(n_gaps * CAST(3600000000 AS BIGINT)"
                " + sum_gap_us div 2) div sum_gap_us"
            ).alias("rate_per_hour_milli"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# PERSISTED-INDEX ANN SERVING (round-8; closes the round-7 verdict's
# "build-once/serve-many" gap): production ANN does NOT refit the
# index per query batch — one job writes the PQ codebook and the
# encoded corpus once, and every serving job reads ONLY those
# artifacts. Two gated queries:
#
#   * embedding_pq_index_build — pq_fit + pq_encode, both artifacts
#     published together as ONE directory under a root keyed by a
#     fingerprint of the embeddings parquet (a regeneration gets a NEW
#     root instead of silently serving a stale index). The gated row
#     certifies the artifact: row counts of both tables, plus a
#     read-back-vs-fresh-encode mismatch count (the persisted codes
#     must BE the index, not garbage that happens to have the right
#     cardinality).
#   * embedding_pq_index_serve — batch top-k via
#     operators/similarity.pq_adc_batch_serve reading the two
#     persisted frames; NO pq_fit/pq_encode in the serve path. The
#     gated row counts row-level mismatches against the existing
#     in-query path (fresh pq_fit + pq_adc_batch_topk on the same
#     data) — serve-from-artifact must equal fit-in-query exactly.
#
# 100 TB: the codes table is ~m bytes/vector (the only corpus-wide
# serve-time scan); the codebook is m×k rows broadcast. Build cost is
# paid once per corpus version: the index under a root is written
# once and never rewritten. The root follows the spark.epl.scratch.dir
# convention with a stable host-tempdir fallback (stable ACROSS driver
# processes — the point is that a later session serves what an
# earlier one built).
# ---------------------------------------------------------------------------
_PQ_IDX = {"dim": 64, "m": 8, "k": 16, "iters": 2}


def _pq_index_root(spark: SparkSession, sf_dir: str) -> str:
    """Content-keyed root of the persisted PQ index. The fingerprint
    covers the embeddings parquet's path + size + mtime_ns AND the
    index config values, so BOTH a data regeneration (even to the same
    byte size) and an index-parameter change land at a NEW root — a
    stale or parameter-mismatched index can never be silently served."""
    import glob as _glob
    import hashlib as _hashlib
    import json as _json
    import os as _os
    import tempfile as _tempfile

    h = _hashlib.sha256()
    for p in sorted(_glob.glob(_os.path.join(sf_dir, "embeddings.parquet"))):
        st = _os.stat(p)
        h.update(p.encode())
        h.update(str(st.st_size).encode())
        h.update(str(st.st_mtime_ns).encode())
    h.update(_json.dumps(_PQ_IDX, sort_keys=True).encode())
    scratch = spark.conf.get("spark.epl.scratch.dir", None)
    base = (
        scratch.rstrip("/")
        if scratch
        else _os.path.join(_tempfile.gettempdir(), "epl_pq_index")
    )
    return _os.path.join(
        base,
        f"pq_{_os.path.basename(sf_dir.rstrip('/'))}_{h.hexdigest()[:12]}",
    )


def _pq_index_build(spark: SparkSession, sf_dir: str) -> str:
    """Fit + encode + publish the index; returns its directory,
    ``<root>/index``. Both artifacts are written under a private
    ``<root>/.tmp_<nonce>/`` and made visible by ONE ``os.rename``, so
    a reader sees both or neither. A rename onto the non-empty
    ``index`` of a build that published first fails: this build drops
    its copy and returns the published one, which holds the same
    rows (pq_fit's init and tie rules make the index a pure function
    of the fingerprint-keyed root). A failed build publishes nothing
    and removes its temporary directory.

    Once ``index`` is published, the build removes what older builds
    of the same sf left: the legacy ``codebook/`` and ``codes/`` next
    to ``index`` and every other ``pq_<sf>_*`` root beside this one.
    Precondition: no other session serves an older index of the same
    sf at the same time."""
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    from epl_cas_etl_2026_spark.operators.similarity import pq_encode, pq_fit

    emb = load_table(spark, sf_dir, "embeddings")
    cfg = _PQ_IDX
    codebooks = pq_fit(
        emb, dim=cfg["dim"], m=cfg["m"], k=cfg["k"], iters=cfg["iters"]
    )
    root = _pq_index_root(spark, sf_dir)
    index = _os.path.join(root, "index")
    tmp = _os.path.join(root, f".tmp_{_uuid.uuid4().hex}")
    try:
        spark.createDataFrame(
            [
                (s, j, [float(x) for x in codebooks[s][j]])
                for s in range(cfg["m"])
                for j in range(cfg["k"])
            ],
            "sub_id int, code int, centroid array<double>",
        ).write.parquet(_os.path.join(tmp, "codebook"))
        pq_encode(emb, codebooks, dim=cfg["dim"], m=cfg["m"]).select(
            "vec_id", "sub_id", "code"
        ).write.parquet(_os.path.join(tmp, "codes"))
        try:
            _os.rename(tmp, index)
        except OSError:
            if not _os.path.isdir(index):
                raise
    finally:
        _shutil.rmtree(tmp, ignore_errors=True)
    for legacy in ("codebook", "codes"):
        _shutil.rmtree(_os.path.join(root, legacy), ignore_errors=True)
    base, name = _os.path.split(root)
    sf_prefix = name.rsplit("_", 1)[0]
    for other in _os.listdir(base):
        if other != name and other.rsplit("_", 1)[0] == sf_prefix:
            _shutil.rmtree(_os.path.join(base, other), ignore_errors=True)
    return index


def _pq_index_ensure(spark: SparkSession, sf_dir: str) -> str:
    """Serve-side entry: the published index when present (the
    build-once/serve-many path); built on first touch. The root is
    fingerprint-keyed, so 'present' implies 'built from THIS data'."""
    import os as _os

    index = _os.path.join(_pq_index_root(spark, sf_dir), "index")
    return index if _os.path.isdir(index) else _pq_index_build(spark, sf_dir)


def _pq_index_frames(spark: SparkSession, index: str):
    """(codebook, codes) frames of a published index directory."""
    import os as _os

    return tuple(
        spark.read.parquet(_os.path.join(index, name))
        for name in ("codebook", "codes")
    )


@_register(
    "embedding_pq_index_build",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(128 AS BIGINT) AS n_codebook_rows,
           CAST(COUNT(*) * 8 AS BIGINT) AS n_code_rows,
           CAST(0 AS BIGINT) AS reencode_mismatches,
           true AS committed_ok
    FROM embeddings
    """,
)
def embedding_pq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from epl_cas_etl_2026_spark.operators.similarity import pq_encode

    cfg = _PQ_IDX
    index = _pq_index_build(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cbdf, codes_back = _pq_index_frames(spark, index)
    # artifact certification: the READ-BACK codes must equal a fresh
    # encode under the READ-BACK codebook (collected driver-side —
    # m×k rows) — catches a torn/stale/reordered artifact, not just
    # wrong cardinality
    cb_rows = cbdf.collect()
    cb2 = [
        [None] * cfg["k"] for _ in range(cfg["m"])
    ]
    for r in cb_rows:
        cb2[r["sub_id"]][r["code"]] = list(r["centroid"])
    fresh = pq_encode(emb, cb2, dim=cfg["dim"], m=cfg["m"]).select(
        "vec_id", "sub_id", F.col("code").alias("code_fresh")
    )
    mism = (
        codes_back.join(fresh, ["vec_id", "sub_id"], "full_outer")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("code").isNull()
                        | F.col("code_fresh").isNull()
                        | (F.col("code") != F.col("code_fresh")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("reencode_mismatches")
        )
    )
    counts = codes_back.agg(
        F.count(F.lit(1)).cast("long").alias("n_code_rows")
    )
    cb_n = cbdf.agg(F.count(F.lit(1)).cast("long").alias("n_codebook_rows"))
    n_pts = emb.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    committed = _os.path.isdir(index)
    return (
        n_pts.crossJoin(cb_n)
        .crossJoin(counts)
        .crossJoin(mism)
        .select(
            "n_points",
            "n_codebook_rows",
            "n_code_rows",
            "reencode_mismatches",
            F.lit(committed).alias("committed_ok"),
        )
    )


@_register(
    "embedding_pq_index_serve",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(LEAST(16, COUNT(*)) AS BIGINT) AS n_queries,
           CAST(LEAST(16, COUNT(*)) * LEAST(10, COUNT(*) - 1) AS BIGINT)
             AS n_rows,
           CAST(0 AS BIGINT) AS inquery_mismatches,
           CAST(0 AS BIGINT) AS self_violations,
           true AS served_from_index
    FROM embeddings
    """,
)
def embedding_pq_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from epl_cas_etl_2026_spark.operators.similarity import (
        pq_adc_batch_serve,
        pq_adc_batch_topk,
        pq_fit,
    )

    cfg = _PQ_IDX
    shortlist, topk, n_q = 50, 10, 16
    emb = load_table(spark, sf_dir, "embeddings")
    index = _pq_index_ensure(spark, sf_dir)
    cbdf, codes = _pq_index_frames(spark, index)
    qids = [
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") < n_q)
        .select("vec_id")
        .orderBy("vec_id")
        .collect()
    ]
    served = pq_adc_batch_serve(
        emb, cbdf, codes, qids,
        dim=cfg["dim"], m=cfg["m"], shortlist=shortlist, topk=topk,
    ).localCheckpoint(eager=False)
    # the existing in-query path on the same data: fresh fit (pq_fit
    # is deterministic) + inline encode — row-level equality required
    codebooks = pq_fit(
        emb, dim=cfg["dim"], m=cfg["m"], k=cfg["k"], iters=cfg["iters"]
    )
    inquery = pq_adc_batch_topk(
        emb, codebooks, qids,
        dim=cfg["dim"], m=cfg["m"], shortlist=shortlist, topk=topk,
    ).select(
        "q_id",
        F.col("vec_id").alias("vec_id_iq"),
        F.col("exact_dist").alias("exact_iq"),
        "rank",
    )
    mism = (
        served.join(inquery, ["q_id", "rank"], "full_outer")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("vec_id").isNull()
                        | F.col("vec_id_iq").isNull()
                        | (F.col("vec_id") != F.col("vec_id_iq"))
                        | (
                            F.abs(F.col("exact_dist") - F.col("exact_iq"))
                            > F.lit(1e-9)
                        ),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("inquery_mismatches")
        )
    )
    counts = served.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("q_id").cast("long").alias("n_queries"),
        F.coalesce(
            F.sum(F.when(F.col("q_id") == F.col("vec_id"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("self_violations"),
    )
    n_pts = emb.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    return (
        n_pts.crossJoin(counts)
        .crossJoin(mism)
        .select(
            "n_points",
            "n_queries",
            "n_rows",
            "inquery_mismatches",
            "self_violations",
            F.lit(_os.path.isdir(index)).alias("served_from_index"),
        )
    )


# ---------------------------------------------------------------------------
# EXACT SUBSTRING-LEVEL DEDUP (round-8; Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" ExactSubstr / the
# RefinedWeb pipeline's exact-span removal): a character position is
# removed iff it lies inside some 50-char substring that occurs AGAIN
# anywhere in the corpus (other doc OR another position of the same
# doc). Equivalent formulation used here (and by the suffix-array
# implementations): mark every position s whose 50-gram has corpus
# frequency >= 2; the union of [s, s+50) intervals, merged per doc,
# is exactly the set of removed characters; docs are REWRITTEN by
# deleting the merged spans (a real rewrite via one JVM higher-order
# fold, not just counting).
#
# Plan shape / 100 TB: the gram explode stays in the scan stage (the
# per-row gram array is built once, then exploded — linear, never
# text x positions quadratic). Duplicate detection is TWO-PHASE
# LOSSLESS: frequencies are first counted on xxhash64(gram) (8-byte
# shuffle keys), only hash-duplicated candidates re-group on the gram
# STRING to confirm true frequency >= 2 — hash collisions can only ADD
# candidates, never drop a real duplicate, so the string shuffle
# carries candidates only. Span merge is the classic islands pattern
# (running-max window per doc); the rewrite folds the merged span
# array over the original text driver-free. The span checksum is
# exact-integer mod 1e9+7 — it pins the full (doc, start, end) span
# set, which together with the input text DETERMINES the rewritten
# corpus, so hashing spans is as strong as hashing the rewritten text;
# chars_kept is additionally measured from the ACTUAL rewritten
# strings (the oracle derives it arithmetically — any rewrite bug
# breaks the hash match).
# ---------------------------------------------------------------------------
@_register(
    "docs_exact_substring_dedup",
    """
    WITH pos AS (
      SELECT doc_id, source, len, s, substring(text, s, 50) AS gram
      FROM (SELECT doc_id, source, text, length(text) AS len,
                   unnest(range(1, greatest(length(text) - 49, 0) + 1)) AS s
            FROM documents)
    ),
    dup AS (SELECT gram FROM pos GROUP BY gram HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, source, len, s FROM pos JOIN dup USING (gram)),
    ord AS (
      SELECT doc_id, source, len, s,
             MAX(s + 50) OVER (PARTITION BY doc_id ORDER BY s
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS prev_end
      FROM hits
    ),
    isl AS (
      SELECT doc_id, source, len, s,
             SUM(CASE WHEN prev_end IS NULL OR s > prev_end
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s) AS island
      FROM ord
    ),
    spans AS (
      SELECT doc_id, source, len, island,
             CAST(MIN(s) AS BIGINT) AS sp_s,
             CAST(MAX(s) + 50 AS BIGINT) AS sp_e
      FROM isl GROUP BY doc_id, source, len, island
    ),
    per_source AS (
      SELECT source,
             COUNT(DISTINCT doc_id) AS n_docs_affected,
             COUNT(*) AS n_spans,
             CAST(SUM(sp_e - sp_s) AS BIGINT) AS chars_removed,
             CAST(SUM((doc_id * 1000003 + sp_s * 1009 + sp_e)
                      % 1000000007) % 1000000007 AS BIGINT)
               AS span_checksum
      FROM spans GROUP BY source
    ),
    totals AS (
      SELECT source, CAST(SUM(length(text)) AS BIGINT) AS total_chars
      FROM documents GROUP BY source
    )
    SELECT p.source, n_docs_affected, n_spans, chars_removed,
           span_checksum,
           CAST(total_chars - chars_removed AS BIGINT) AS chars_kept
    FROM per_source p JOIN totals USING (source)
    ORDER BY p.source
    """,
)
def docs_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    L = 50
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", F.length("text").alias("len")
    )
    # gram array built once per row (linear), exploded into slim rows;
    # sequence(1, 0) would count DOWN in Spark — guard short docs
    starts = F.when(
        F.col("len") >= L, F.sequence(F.lit(1), F.col("len") - (L - 1))
    ).otherwise(F.array().cast("array<int>"))
    # two-phase lossless duplicate detection on a SLIM gram stream:
    # the corpus-wide exchange carries (doc_id, s, h) — 20 bytes/row —
    # not the 50-char gram string (the r8 form shuffled every gram
    # string once, ~4× the bytes; guide §8: shuffle the lightweight
    # proxy, attach the payload once). The explicit repartition(h)
    # still makes the frequency count and the candidate probe consume
    # the SAME exchange; gram STRINGS are re-derived for hash-
    # duplicated candidates only, by joining the (small) candidate
    # frame back to the documents table on doc_id — one text-sized
    # shuffle of candidates' docs instead of a gram-sized shuffle of
    # the whole corpus. Hash collisions can only ADD candidates, never
    # drop a real duplicate, so the string-confirm set is unchanged.
    # r12 (verdict item 3): the gram explode+hash is the query's single
    # heaviest stage (phase-profiled at 2.1 s of the 4.5 s wall), and it
    # runs at SCAN parallelism — one split on a small local file, so
    # ~1.24M substr+xxhash64 ops serialized on one task. Spread ONLY
    # when the scan is under-parallel (the band_lsh_pairs /
    # minhash_signature_agg idiom): at scale the scan has plenty of
    # splits and no exchange happens. Interleaved A/B: hash stage
    # 2.11 → 0.42 s med; full query 4.70/4.86 → 3.17/3.60 s (min/med).
    docs_spread = spread_scan(docs)
    slim = docs_spread.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("s"),
                    F.xxhash64(
                        F.col("text").substr(i, F.lit(L))
                    ).alias("h"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.s", "g.h")
    shp = slim.repartition(F.col("h"))
    dup_h = (
        shp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    cand = shp.join(dup_h, "h")
    # candidates only: re-attach doc metadata + re-slice the gram text;
    # pinned so the string-confirm and hits joins below share one pass
    cand_g = (
        cand.join(docs, "doc_id")
        .select(
            "doc_id",
            "source",
            "len",
            "s",
            F.col("text").substr(F.col("s"), F.lit(L)).alias("gram"),
        )
        .localCheckpoint(eager=False)
    )
    dup_gram = (
        cand_g.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gram")
    )
    hits = cand_g.join(dup_gram, "gram").select("doc_id", "source", "len", "s")
    # islands: running max of span ends per doc
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = hits.withColumn(
        "prev_end", F.max(F.col("s") + L).over(w_prev)
    ).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_end").isNull() | (F.col("s") > F.col("prev_end")),
                1,
            ).otherwise(0)
        ).over(w_run),
    )
    spans = isl.groupBy("doc_id", "source", "len", "island").agg(
        F.min("s").cast("long").alias("sp_s"),
        (F.max("s") + L).cast("long").alias("sp_e"),
    # two consumers (per-source stats + the rewrite join) — pin the
    # tiny merged-span frame so the gram explode/dedup/window pipeline
    # runs once, not twice
    ).localCheckpoint(eager=False)
    per_source = spans.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs_affected"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("sp_e") - F.col("sp_s")).cast("long").alias(
            "chars_removed"
        ),
        (
            F.sum(
                (
                    F.col("doc_id") * F.lit(1000003)
                    + F.col("sp_s") * F.lit(1009)
                    + F.col("sp_e")
                )
                % F.lit(1000000007)
            )
            % F.lit(1000000007)
        )
        .cast("long")
        .alias("span_checksum"),
    )
    # the REAL rewrite: fold the sorted merged-span array over the
    # original text — kept text is the inter-span segments + tail
    span_arr = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("sp_s", "sp_e"))).alias("spans")
    )
    st0 = F.struct(
        F.lit(1).cast("long").alias("pos"), F.lit("").alias("acc")
    )
    rewritten = (
        docs.join(span_arr, "doc_id", "left")
        .withColumn(
            "rewritten",
            F.when(F.col("spans").isNull(), F.col("text")).otherwise(
                F.aggregate(
                    "spans",
                    st0,
                    lambda st, sp: F.struct(
                        sp["sp_e"].alias("pos"),
                        F.concat(
                            st["acc"],
                            F.col("text").substr(
                                st["pos"].cast("int"),
                                (sp["sp_s"] - st["pos"]).cast("int"),
                            ),
                        ).alias("acc"),
                    ),
                    lambda st: F.concat(
                        st["acc"],
                        F.col("text").substr(
                            st["pos"].cast("int"),
                            (F.col("len") - st["pos"] + 1).cast("int"),
                        ),
                    ),
                )
            ),
        )
        .groupBy("source")
        .agg(F.sum(F.length("rewritten")).cast("long").alias("chars_kept"))
    )
    return (
        per_source.join(rewritten, "source")
        .select(
            "source",
            "n_docs_affected",
            "n_spans",
            "chars_removed",
            "span_checksum",
            "chars_kept",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DISTRIBUTED BPE TOKENIZER TRAINING (round-8): classic character-level BPE (Sennrich et al. 2016) over the
# DISTINCT-WORD frame, N full merge rounds, emitting the learned merge
# table plus the corpus token count after every round (the compression
# curve a tokenizer team actually reads).
#
# Scale design — why this is the canonical 100 TB tokenizer-training
# plan: the corpus is touched ONCE (word count); every training round
# then runs on the distinct-word frame, which is vocabulary-bounded
# (Heaps' law: ~millions of types regardless of corpus bytes), with
# pair counting as one map-side-combined groupBy per round and ONLY
# the argmax pair (plus one token-count scalar) reaching the driver —
# O(rounds) driver state, exactly the logreg-Newton iteration
# discipline. The segmentation fold (greedy_pair_merge) is one JVM
# higher-order fold per round.
#
# Determinism: pair argmax ties break (count DESC, lhs, rhs) — byte
# collation in both engines; token counts are exact integers. The
# oracle replays all N rounds as generated CTE chains, each merging
# with one list_reduce fold.
# ---------------------------------------------------------------------------
_BPE_TRAIN_ROUNDS = 8


def _bpe_cte_prefix(rounds: int) -> str:
    parts = [
        """
    WITH w0 AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS word
            FROM documents)
      GROUP BY word
    ),
    s0 AS (
      SELECT word, freq, regexp_extract_all(word, '(?s).') AS seg
      FROM w0
    ),
    m0 AS (SELECT CAST(SUM(freq * len(seg)) AS BIGINT) AS tokens_after
           FROM s0)"""
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f""",
    p{k} AS (
      SELECT pr[1] AS w1, pr[2] AS w2, CAST(SUM(freq) AS BIGINT) AS c
      FROM (SELECT freq,
                   unnest(list_zip(seg[1:len(seg) - 1], seg[2:len(seg)]))
                     AS pr
            FROM s{p})
      GROUP BY 1, 2
    ),
    t{k} AS (SELECT w1, w2, c FROM p{k} ORDER BY c DESC, w1, w2 LIMIT 1),
    s{k} AS (
      SELECT word, freq,
             CASE WHEN len(seg) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE list_reduce(list_transform(seg, x -> [x]),
                    (acc, x) -> CASE WHEN len(acc) > 0
                                      AND acc[len(acc)] = t{k}.w1
                                      AND x[1] = t{k}.w2
                                THEN acc[1:len(acc) - 1]
                                     || [t{k}.w1 || t{k}.w2]
                                ELSE acc || x END)
             END AS seg
      FROM s{p} CROSS JOIN t{k}
    ),
    m{k} AS (SELECT CAST(SUM(freq * len(seg)) AS BIGINT) AS tokens_after
             FROM s{k})"""
        )
    return "".join(parts)


def _bpe_train_oracle(rounds: int) -> str:
    rows = [
        """
    SELECT CAST(0 AS BIGINT) AS merge_rank, '' AS lhs, '' AS rhs,
           CAST(0 AS BIGINT) AS pair_freq, m0.tokens_after
    FROM m0"""
    ]
    for k in range(1, rounds + 1):
        rows.append(
            f"""
    SELECT CAST({k} AS BIGINT), t{k}.w1, t{k}.w2, t{k}.c,
           m{k}.tokens_after
    FROM t{k}, m{k}"""
        )
    return (
        _bpe_cte_prefix(rounds)
        + "\n    UNION ALL".join(rows)
        + "\n    ORDER BY merge_rank"
    )


def _bpe_train_segs(spark: SparkSession, sf_dir: str):
    """Run the full training loop; returns (merge-table rows, final
    per-word segmentation frame with columns word/freq/seg). Shared
    by the trainer gate (emits the merge table) and the encode gate
    (joins the final segmentation back onto the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(
                F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    # localCheckpoint (eager), NOT persist: a cached plan pins its
    # 200-partition shuffle output (AQE may not re-partition cached
    # plans under the default canChangeCachedPlanOutputPartitioning),
    # turning every one of the ~2·rounds tiny vocab jobs into a
    # 200-task reduce stage — measured 40.6 s → 7 s at sf0.01 from
    # this one change. Checkpointing materializes the frame AND keeps
    # every later round AQE-eligible, so the per-round shuffles
    # coalesce to a handful of tasks.
    segs = vocab.select(
        "word",
        "freq",
        F.expr("regexp_extract_all(word, '(?s).', 0)").alias("seg"),
    ).localCheckpoint()

    def pair_stats(frame: DataFrame):
        """ONE job per merge round (was three: top-pair, token-count,
        eager checkpoint): the adjacent-pair groupBy yields both the
        argmax pair — min_by over struct(-c, w1, w2) is exactly
        ORDER BY c DESC, w1, w2 LIMIT 1 — and Σc, which converts to
        the post-merge token count arithmetically: token_count =
        Σ freq·size(seg) = Σ freq·(pairs_per_word+1) = Σc + Σfreq,
        and Σfreq is merge-invariant (computed once below)."""
        pairs = frame.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.expr(
                        "slice(seg, 1, greatest(size(seg) - 1, 0))"
                    ).alias("a"),
                    F.expr(
                        "slice(seg, 2, greatest(size(seg) - 1, 0))"
                    ).alias("b"),
                )
            ).alias("p"),
        ).select(
            F.col("p.a").alias("w1"), F.col("p.b").alias("w2"), "freq"
        )
        row = (
            pairs.groupBy("w1", "w2")
            .agg(F.sum("freq").cast("long").alias("c"))
            .agg(
                F.sum("c").alias("pair_tok"),
                F.min_by(
                    F.struct("w1", "w2", "c"),
                    F.struct((-F.col("c")).alias("nc"), "w1", "w2"),
                ).alias("top"),
            )
            .collect()[0]
        )
        return row["pair_tok"], row["top"]

    base = segs.agg(
        F.sum(F.col("freq") * F.size("seg")).cast("long").alias("t0"),
        F.sum("freq").cast("long").alias("vt"),
    ).collect()[0]
    vocab_freq_total = base["vt"] or 0
    out = [(0, "", "", 0, base["t0"])]
    cur = segs
    _pair_tok, best = pair_stats(cur)
    for k in range(1, _BPE_TRAIN_ROUNDS + 1):
        if best is None:
            break
        merged = best["w1"] + best["w2"]
        cur = cur.select(
            "word",
            "freq",
            greedy_pair_merge(
                F.col("seg"),
                F.lit(best["w1"]),
                F.lit(best["w2"]),
                F.lit(merged),
            ).alias("seg"),
            # lazy checkpoint: the round's single stats job below both
            # materializes these partitions and reads them
        ).localCheckpoint(eager=False)
        pair_tok, nxt = pair_stats(cur)
        out.append(
            (
                k,
                best["w1"],
                best["w2"],
                best["c"],
                (pair_tok or 0) + vocab_freq_total,
            )
        )
        best = nxt
    return out, cur


@_register("docs_bpe_train_merges", _bpe_train_oracle(_BPE_TRAIN_ROUNDS))
def docs_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _segs = _bpe_train_segs(spark, sf_dir)
    return spark.createDataFrame(
        out,
        "merge_rank long, lhs string, rhs string, pair_freq long, "
        "tokens_after long",
    ).orderBy("merge_rank")


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# round-8): score every document by how much more likely its hashed
# unigram features are under a TARGET domain (here: the 'en' slice)
# than under the RAW corpus, then keep the top-K. This is the
# canonical pretraining-data selection operator the benchmark-
# decontamination / quality-resample family was still missing: those
# filter docs independently; DSIR ranks them against a target
# DISTRIBUTION. The published method resamples with Gumbel noise; the
# gate pins the deterministic core (exact importance weights +
# deterministic top-K) — seeded resampling over these weights is the
# docs_quality_resample_stats shape.
#
# Determinism (round-9 hardening): per-BUCKET log-ratio terms use a
# FIXED-POINT integer ln — ln_fp(n) = e·LN2_FP + 2·atanh-series in
# Q30 arithmetic, where e = bitlength(n)−1 via length(bin(n)) — so
# BOTH engines evaluate the identical chain of BIGINT ops and the
# r8 float surface (JVM Math.log vs DuckDB libm agreeing bit-for-bit
# at a FLOOR(1e6·x+0.5) boundary) is gone entirely. |ln_fp/2^30 −
# ln(n)| < 1.2e-7, and every intermediate stays under 2^62 for
# n ≤ 2^53. Per-doc weights are exact integer sums of bucket terms
# over gram OCCURRENCES, so ranking and hashing are tie-free by
# construction (ties broken by doc_id). The four-separate-ln
# formulation (ln(t+1) − ln(T+B) − ln(r+1) + ln(R+B)) is mirrored in
# both engines; all fixed-point divisions have non-negative operands
# so truncating vs floor division cannot diverge.
#
# 100 TB: one corpus pass builds the gram→bucket stream; bucket count
# tables are B-bounded (256 rows) and broadcast; per-doc weights are
# one map-side-combined groupBy(doc_id); selection is
# TakeOrderedAndProject (no global sort materialization).
# ---------------------------------------------------------------------------
_DSIR_BUCKETS = 256
_DSIR_K = 64


@_register(
    "docs_dsir_topk_select",
    f"""
    WITH grams AS (
      SELECT doc_id, lang, source,
             CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT)
               % {_DSIR_BUCKETS} AS bucket
      FROM (SELECT doc_id, lang, source,
                   unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS word
            FROM documents)
    ),
    raw_b AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS r_b
      FROM grams GROUP BY bucket
    ),
    tgt_b AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS t_b
      FROM grams WHERE lang = 'en' GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS r_tot,
             CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS t_tot
      FROM grams
    ),
    base AS (
      SELECT raw_b.bucket,
             CAST(COALESCE(t_b, 0) + 1 AS BIGINT) AS tb1,
             CAST(r_b + 1 AS BIGINT) AS rb1,
             CAST(t_tot + {_DSIR_BUCKETS} AS BIGINT) AS ttb,
             CAST(r_tot + {_DSIR_BUCKETS} AS BIGINT) AS rtb
      FROM raw_b LEFT JOIN tgt_b ON raw_b.bucket = tgt_b.bucket
      CROSS JOIN tot
    ),
    lncalc AS (
      SELECT bucket,
             {_lnfp_duck_select([("ta_", "tb1"), ("tt_", "ttb"),
                                 ("ra_", "rb1"), ("rt_", "rtb")])}
      FROM base
    ),
    terms AS (
      SELECT bucket,
             CAST(ta_ln - tt_ln - ra_ln + rt_ln AS BIGINT) AS term_q
      FROM lncalc
    ),
    doc_w AS (
      SELECT g.doc_id,
             MIN(g.lang) AS lang,
             MIN(g.source) AS source,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(term_q) AS BIGINT) AS weight_q
      FROM grams g JOIN terms ON g.bucket = terms.bucket
      GROUP BY g.doc_id
    )
    SELECT doc_id, lang, source, n_grams, weight_q
    FROM doc_w
    ORDER BY weight_q DESC, doc_id
    LIMIT {_DSIR_K}
    """,
)
def docs_dsir_topk_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_scan (r12): the md5-per-word explode otherwise runs on the
    # single scan split — interleaved A/B 1.77/2.18 → 1.47/2.05
    # (min/med); no-op at scale.
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("word"),
    )
    grams = words.select(
        "doc_id",
        "lang",
        "source",
        (
            F.conv(F.substring(F.md5(F.col("word")), 1, 8), 16, 10).cast(
                "long"
            )
            % _DSIR_BUCKETS
        ).alias("bucket"),
    )
    # TWO explode + md5 passes (was FOUR: separate raw-bucket count,
    # en-bucket count, and corpus-totals scans each re-ran the word
    # explode and the md5-per-word hash; they fuse into ONE
    # conditional aggregation whose map-side combine still shuffles
    # only ~n_buckets rows per task, and the corpus totals follow
    # arithmetically from the bucket marginals — every gram carries
    # exactly one bucket). Interleaved A/B at sf0.1: wall-flat vs the
    # four-pass original locally (2.28 vs 2.33 s, same host window) —
    # the win is the halved scan/explode/hash work, which IS the
    # dominant cost once the scan is storage-bound at scale. A
    # single-pass per-(doc, bucket) variant was MEASURED AND
    # REVERTED: it replaces these collapsed shuffles with a full
    # gram-stream exchange (distinct (doc, bucket) ≈ gram count) and
    # measured no better (2.34 s, same window) while shuffling ~40×
    # the bytes — re-running md5 is cheaper than moving the stream.
    bstats = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("r_b"),
        F.count(F.when(F.col("lang") == "en", 1))
        .cast("long")
        .alias("t_b"),
    )
    tot = bstats.agg(
        F.sum("r_b").cast("long").alias("r_tot"),
        F.sum("t_b").cast("long").alias("t_tot"),
    )
    base = bstats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (F.col("t_b") + 1).cast("long").alias("tb1"),
        (F.col("r_b") + 1).cast("long").alias("rb1"),
        (F.col("t_tot") + _DSIR_BUCKETS).cast("long").alias("ttb"),
        (F.col("r_tot") + _DSIR_BUCKETS).cast("long").alias("rtb"),
    )
    for prefix, src in (
        ("ta_", "tb1"), ("tt_", "ttb"), ("ra_", "rb1"), ("rt_", "rtb")
    ):
        for name, sql in _lnfp_steps(
            prefix, src, _lnfp_spark_div, _lnfp_spark_shl
        ):
            base = base.withColumn(name, F.expr(sql))
    terms = base.select(
        "bucket",
        (
            F.col("ta_ln") - F.col("tt_ln") - F.col("ra_ln")
            + F.col("rt_ln")
        ).cast("long").alias("term_q"),
    )
    doc_w = (
        grams.join(F.broadcast(terms), "bucket")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.min("source").alias("source"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("term_q").cast("long").alias("weight_q"),
        )
    )
    return doc_w.select(
        "doc_id", "lang", "source", "n_grams", "weight_q"
    ).orderBy(F.desc("weight_q"), "doc_id").limit(_DSIR_K)


# ---------------------------------------------------------------------------
# GOPHER REPETITION FILTERS (round-9; Rae et al. 2021 "Scaling
# Language Models: ... Gopher", Table A1 — the published
# repetition-removal rules every large pretraining pipeline applies
# before training; public method). The corpus text is a single-line
# word stream, so the two n-gram rules apply (the line/paragraph
# variants are degenerate here): a document is flagged when
#
#   * top-2-gram coverage  — characters attributable to the MOST
#     FREQUENT word 2-gram, count * (len(w1)+len(w2)+1), as a
#     fraction of total word characters+joins — exceeds 0.20, or
#   * duplicate-5-gram coverage — characters of word positions lying
#     inside ANY 5-gram that occurs >= 2 times in the document
#     (position-union semantics, each character counted once) —
#     exceeds 0.15.
#
# Both coverages are exact integer millis ((1000*x) div chars), so
# the gate is float-free. Distributed shape: one explode to
# (doc, pos, word); 2-/5-grams via lead() over the doc-partitioned
# position window; gram counts via doc+gram-keyed groupBys; coverage
# union via sequence-explode + distinct — every shuffle is doc- or
# (doc,gram)-keyed, nothing all-pairs, nothing driver-side. The
# DuckDB oracle replays the identical definitions with list slicing
# + range joins.
# ---------------------------------------------------------------------------
@_register(
    "docs_gopher_repetition_stats",
    """
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    base AS (
      SELECT doc_id, lang, w, len(w) AS nw,
             CAST(COALESCE(list_aggregate(
                    list_transform(w, x -> len(x)), 'sum'), 0) AS BIGINT)
               AS total_chars
      FROM toks
    ),
    g2 AS (
      SELECT doc_id, u.gram AS gram, u.glen AS glen FROM (
        SELECT doc_id,
               unnest([{'gram': w[i] || ' ' || w[i + 1],
                        'glen': len(w[i]) + len(w[i + 1]) + 1}
                       FOR i IN range(1, greatest(nw, 1))]) AS u
        FROM base)
    ),
    g2top AS (
      SELECT doc_id, cnt, glen FROM (
        SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(MIN(glen) AS BIGINT) AS glen,
               ROW_NUMBER() OVER (
                 PARTITION BY doc_id ORDER BY COUNT(*) DESC, gram ASC
               ) AS rn
        FROM g2 GROUP BY doc_id, gram
      ) WHERE rn = 1
    ),
    g5 AS (
      SELECT doc_id, u.p AS p, u.gram AS gram FROM (
        SELECT doc_id,
               unnest([{'p': i,
                        'gram': array_to_string(w[i : i + 4], ' ')}
                       FOR i IN range(1, greatest(nw - 3, 1))]) AS u
        FROM base)
    ),
    g5dup AS (
      SELECT doc_id, gram FROM g5
      GROUP BY doc_id, gram HAVING COUNT(*) >= 2
    ),
    cover AS (
      SELECT DISTINCT g5.doc_id, g5.p + o.range AS i
      FROM g5
      JOIN g5dup ON g5.doc_id = g5dup.doc_id AND g5.gram = g5dup.gram,
           range(5) o
    ),
    cov5 AS (
      SELECT b.doc_id,
             CAST(COALESCE(SUM(len(b.w[c.i])), 0) AS BIGINT)
               AS cov_chars
      FROM base b LEFT JOIN cover c ON b.doc_id = c.doc_id
      GROUP BY b.doc_id
    ),
    per_doc AS (
      SELECT b.lang,
             CASE WHEN t.doc_id IS NULL OR b.total_chars = 0 THEN 0
                  ELSE (1000 * t.cnt * t.glen) // b.total_chars
             END AS cov2_millis,
             CASE WHEN b.total_chars = 0 THEN 0
                  ELSE (1000 * c5.cov_chars) // b.total_chars
             END AS cov5_millis
      FROM base b
      LEFT JOIN g2top t ON b.doc_id = t.doc_id
      JOIN cov5 c5 ON b.doc_id = c5.doc_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE cov2_millis > 200) AS BIGINT)
             AS flagged_top2gram,
           CAST(COUNT(*) FILTER (WHERE cov5_millis > 150) AS BIGINT)
             AS flagged_dup5gram,
           CAST(COUNT(*) FILTER (
                  WHERE cov2_millis > 200 OR cov5_millis > 150) AS BIGINT)
             AS n_removed,
           CAST(SUM(cov2_millis) AS BIGINT) AS sum_cov2_millis,
           CAST(SUM(cov5_millis) AS BIGINT) AS sum_cov5_millis
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def docs_gopher_repetition_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.col("text"), " "), lambda x: x != "")
        ).alias("pos", "word"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = tok.select(
        "doc_id",
        "pos",
        "word",
        *[F.lead("word", k).over(w).alias(f"w{k}") for k in range(1, 5)],
    )
    totals = tok.groupBy("doc_id").agg(
        F.sum(F.length("word")).cast("long").alias("total_chars")
    )
    g2 = leads.filter(F.col("w1").isNotNull()).select(
        "doc_id",
        F.concat_ws(" ", "word", "w1").alias("gram"),
        (F.length("word") + F.length("w1") + 1).alias("glen"),
    )
    g2top = (
        g2.groupBy("doc_id", "gram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.min("glen").cast("long").alias("glen"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("cnt"), F.asc("gram")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "cnt", "glen")
    )
    g5 = leads.filter(F.col("w4").isNotNull()).select(
        "doc_id",
        F.col("pos").alias("p"),
        F.concat_ws(" ", "word", "w1", "w2", "w3", "w4").alias("gram"),
    )
    g5dup = (
        g5.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("doc_id", "gram")
    )
    cover = (
        g5.join(g5dup, ["doc_id", "gram"])
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("p"), F.col("p") + 4)).alias("i"),
        )
        .distinct()
    )
    cov5 = (
        cover.join(
            tok.select("doc_id", F.col("pos").alias("i"), "word"),
            ["doc_id", "i"],
        )
        .groupBy("doc_id")
        .agg(F.sum(F.length("word")).cast("long").alias("cov_chars"))
    )
    per_doc = (
        docs.select("doc_id", "lang")
        .join(totals, "doc_id", "left")
        .join(g2top, "doc_id", "left")
        .join(cov5, "doc_id", "left")
        .select(
            "lang",
            F.expr(
                "CASE WHEN cnt IS NULL OR total_chars IS NULL"
                " OR total_chars = 0 THEN CAST(0 AS BIGINT)"
                " ELSE (1000 * cnt * glen) div total_chars END"
            ).alias("cov2_millis"),
            F.expr(
                "CASE WHEN total_chars IS NULL OR total_chars = 0"
                " THEN CAST(0 AS BIGINT)"
                " ELSE (1000 * COALESCE(cov_chars, 0)) div total_chars END"
            ).alias("cov5_millis"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("cov2_millis") > 200, 1).otherwise(0))
            .cast("long")
            .alias("flagged_top2gram"),
            F.sum(F.when(F.col("cov5_millis") > 150, 1).otherwise(0))
            .cast("long")
            .alias("flagged_dup5gram"),
            F.sum(
                F.when(
                    (F.col("cov2_millis") > 200)
                    | (F.col("cov5_millis") > 150),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_removed"),
            F.sum("cov2_millis").cast("long").alias("sum_cov2_millis"),
            F.sum("cov5_millis").cast("long").alias("sum_cov5_millis"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# CCNET PERPLEXITY BUCKETS (round-9; Wenzek et al. 2020 "CCNet:
# Extracting High Quality Monolingual Datasets from Web Crawl Data" —
# public method): per language, rank documents by LM perplexity and
# split into head / middle / tail terciles; pretraining pipelines keep
# head+middle or reweight by bucket. The LM is the repo's
# Jelinek-Mercer bigram (docs_bigram_lm_perplexity's scoring,
# identical formula and millibit quantization); bucket assignment is
# EXACT: per-lang row_number over (q, doc_id) — computed with
# operators/ranking.two_phase_grouped_row_number, NOT a per-lang
# window (few langs ⇒ a plain Window.partitionBy(lang) hands whole-
# corpus sorts to single reducers at 100 TB) — then
# bucket = (3·(rn−1)) div n, so terciles are integer-deterministic
# with doc_id tie-breaks. The oracle replays the LM and the ranking
# with window functions (DuckDB's engine can afford the plain window).
# ---------------------------------------------------------------------------
@_register(
    "docs_ccnet_perplexity_buckets",
    f"""
    WITH docs2 AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), bg AS (
      SELECT doc_id, lang, u.p[1] AS w1, u.p[2] AS w2
      FROM (SELECT doc_id, lang,
                   unnest(list_zip(ws[1:len(ws) - 1], ws[2:len(ws)])) AS p
            FROM docs2) u
      WHERE u.p[1] IS NOT NULL AND u.p[2] IS NOT NULL
    ), uni AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(ws) AS word FROM docs2) GROUP BY word
    ), tot AS (
      SELECT SUM(c) AS n_uni FROM uni
    ), pair AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM bg GROUP BY w1, w2
    ), head AS (
      SELECT w1, SUM(c12) AS ch FROM pair GROUP BY w1
    ), terms AS ({_JM_Q30_DUCK_TERMS}
    ), perdoc AS (
      SELECT doc_id, lang, {_JM_Q30_DUCK_Q} AS q
      FROM bg JOIN terms USING (w1, w2)
      GROUP BY doc_id, lang
    ), ranked AS (
      SELECT lang, q,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM perdoc
    )
    SELECT lang,
           CASE (3 * (rn - 1)) // n WHEN 0 THEN 'head'
                WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(q) AS BIGINT) AS sum_millibits,
           CAST(MIN(q) AS BIGINT) AS min_millibits,
           CAST(MAX(q) AS BIGINT) AS max_millibits
    FROM ranked GROUP BY lang, bucket ORDER BY lang, bucket
    """,
)
def docs_ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from epl_cas_etl_2026_spark.operators.ranking import (
        two_phase_grouped_row_number,
    )

    perdoc = _jm_bigram_perdoc(spark, sf_dir, "lang")
    # two consumers (ranker + per-lang counts): pin the scored frame so
    # the LM fit+score pipeline runs once, not twice
    perdoc = perdoc.localCheckpoint(eager=False)
    ranked = two_phase_grouped_row_number(
        perdoc, "lang", [F.col("q"), F.col("doc_id")], rn_col="rn"
    )
    n_per_lang = perdoc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        ranked.join(F.broadcast(n_per_lang), "lang")
        .withColumn(
            "bucket",
            F.expr(
                "CASE (3 * (rn - 1)) div n WHEN 0 THEN 'head'"
                " WHEN 1 THEN 'middle' ELSE 'tail' END"
            ),
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("q").cast("long").alias("sum_millibits"),
            F.min("q").cast("long").alias("min_millibits"),
            F.max("q").cast("long").alias("max_millibits"),
        )
        .orderBy("lang", "bucket")
    )
