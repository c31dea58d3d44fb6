"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
MOSS algorithm): hash every k-gram of the token stream, slide a
w-hash window, keep each window's minimum hash — a guaranteed-density
fingerprint set that detects partial overlap/plagiarism between
documents (reference analogue: the fingerprint/dedup family of
etl_sync.py:215-217's natural-key identity, generalized to content
spans; complements docs_span_dedup_stats' exact gram counts with a
sampled sketch).

Scale shape (100 TB): the ENTIRE winnowing pipeline — tokenize,
k-gram, hash, window-min, distinct — is a per-row array expression
(no posexplode, no per-doc window shuffle), so fingerprint selection
happens inside the scan stage with zero exchanges; only the selected
fingerprints (~2/(w+1) of grams, here w=k=4 → ~40 B/doc) ever leave
the row. The per-source rollup is one map-side-combined groupBy; the
overlap self-join shuffles only slim (doc_id, hash16) pairs, with a
document-frequency cap on join keys so a boilerplate hash can never
create a quadratic bucket.

Cross-engine determinism: hashes are the first 16 bits of md5 of the
gram text, decoded with the instr/substr arithmetic both engines
evaluate identically (extensions._HEX16); selection keys are
hash*2^20 + position so the window minimum is an integer min with a
leftmost tie-break — bit-identical in Spark and DuckDB. Position
fits 2^20; guarded by a test at the operator level (documents are
token-bounded upstream; a 1M-token doc would need a wider scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.plans.extensions import _HEX16
from epl_cas_etl_2026_spark.plans.registry import register as _register
from epl_cas_etl_2026_spark.sources.parquet import load_table, spread_scan


K = 4  # tokens per gram
W = 4  # hashes per winnowing window
POS_SCALE = 1_048_576  # 2^20: key = hash16 * POS_SCALE + gram position
DF_CAP = 50  # overlap join skips hashes present in more than DF_CAP docs

# Spark-side per-row pipeline, written as ONE expression with
# ANSI-safe element access: the greatest(n, 1) dummy iteration used to
# index past the array end, which Spark's default ANSI mode turns into
# INVALID_ARRAY_INDEX for sub-K-token documents; try_element_at yields
# NULL there instead, and the dummy gram is discarded by the outer
# slice regardless (pinned by the short-doc test).
#
# let-style bindings: `transform(array(<e>), v -> body)[0]` binds <e>
# to the lambda variable v so it is evaluated ONCE per row. Without
# this, CollapseProject inlines a withColumn'd token/key array into
# the lambda bodies that reference it, and interpreted HOF eval then
# recomputes the whole split/md5 pipeline PER window start PER gram —
# a measured ~100× blowup at sf0.1 (50M split evals for 5k docs).
# sequence(1, greatest(n, 1)) + an outer slice(…, 1, greatest(n, 0))
# is the repo idiom for "empty when n <= 0" (Spark's sequence(1, 0)
# would count DOWN); grams hash once via the two-arg transform lambda
# (md5 per gram, not per nibble).
_FP_EXPR = f"""
transform(array(filter(split(text, ' '), w -> w <> '')), ws ->
  transform(array(
      transform(
        slice(
          transform(sequence(1, greatest(size(ws) - {K - 1}, 1)),
                    i -> md5(concat_ws(' ', try_element_at(ws, i),
                                       try_element_at(ws, i + 1),
                                       try_element_at(ws, i + 2),
                                       try_element_at(ws, i + 3)))),
          1, greatest(size(ws) - {K - 1}, 0)),
        (m, i) -> CAST({_HEX16.format(m='m')} AS BIGINT)
                  * {POS_SCALE} + i + 1)
    ), ks ->
    array_distinct(
      slice(
        transform(sequence(1, greatest(size(ws) - {K + W - 2}, 1)),
                  s -> array_min(slice(ks, s, {W}))),
        1, greatest(size(ws) - {K + W - 2}, 0)))
  )[0]
)[0]
"""

# DuckDB twin (1-based lists; md5 re-derived per nibble is fine in the
# oracle — correctness side only).
_ORACLE_FPS = f"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ), keyed AS (
      SELECT doc_id, source,
             list_transform(
               range(1, greatest(len(ws) - {K - 1}, 0) + 1),
               i -> CAST({_HEX16.format(
                   m="md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]"
                     " || ' ' || ws[i+3])")}
                    AS BIGINT) * {POS_SCALE} + i) AS ks,
             len(ws) AS n_toks
      FROM toks
    ), fps AS (
      SELECT doc_id, source,
             list_distinct(
               list_transform(
                 range(1, greatest(n_toks - {K + W - 2}, 0) + 1),
                 s -> list_aggregate(ks[s:s + {W - 1}], 'min'))) AS fp
      FROM keyed
    )
"""


def _with_fingerprints(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, source, fp: array<bigint>) where fp holds
    the winnowing-selected keys (hash16 * 2^20 + position). Pure
    JVM-side expression: on this corpus (≈54 tokens/doc) it beat an
    Arrow pandas_udf of the same selection, 2.1 s vs 3.5 s at sf0.1
    (Arrow shipping and Python worker costs dominate at small per-doc
    work). That twin is the test baseline in tests/baselines.py."""
    return docs.select(
        "doc_id", "source", F.expr(_FP_EXPR).alias("fp")
    )


# ---------------------------------------------------------------------------
# Per-source fingerprint profile: how many fingerprints winnowing
# selects and how diverse their hashes are. Two map-side-combined
# aggregates (per-row sizes; exploded distinct hashes) joined on the
# tiny source key.
# ---------------------------------------------------------------------------
@_register(
    "docs_winnow_fingerprints",
    _ORACLE_FPS
    + f"""
    , per_row AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(fp)) AS BIGINT) AS n_fps
      FROM fps GROUP BY source
    ), hashes AS (
      SELECT source,
             CAST(COUNT(DISTINCT u.k // {POS_SCALE}) AS BIGINT)
               AS n_distinct_hashes
      FROM fps, unnest(fp) AS u(k)
      GROUP BY source
    )
    SELECT p.source, p.n_docs, p.n_fps, h.n_distinct_hashes
    FROM per_row p JOIN hashes h USING (source)
    ORDER BY p.source
    """,
)
def docs_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialized: fp feeds both aggregate branches; without it the
    # fingerprint expression (the dominant cost) evaluates per branch.
    # Lazy localCheckpoint, not persist(): the cached-plan path
    # serializes concurrent consumer stages on cache-block locks
    # (r11 session-3 KMV measurement).
    # spread_scan (r12): the fingerprint expression is the dominant
    # cost and would otherwise run on the single scan split locally —
    # interleaved A/B 1.31 → 1.08 s med; no-op at scale.
    fps = _with_fingerprints(
        spread_scan(load_table(spark, sf_dir, "documents"))
    ).localCheckpoint(eager=False)
    per_row = fps.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("fp")).cast("long").alias("n_fps"),
    )
    hashes = (
        fps.select("source", F.explode("fp").alias("k"))
        .select("source", F.expr(f"k div {POS_SCALE}").alias("h"))
        .groupBy("source")
        .agg(F.countDistinct("h").cast("long").alias("n_distinct_hashes"))
    )
    return per_row.join(hashes, "source").orderBy("source")


# ---------------------------------------------------------------------------
# Cross-document overlap: pairs sharing the most fingerprint hashes
# (position-independent — the content match survives reordering).
# Hashes in more than DF_CAP documents are dropped before the
# self-join so no single boilerplate hash can form a quadratic
# bucket; the survivor join shuffles only (doc_id, h) pairs.
# ---------------------------------------------------------------------------
@_register(
    "docs_winnow_overlap_pairs",
    _ORACLE_FPS
    + f"""
    , doc_hashes AS (
      SELECT DISTINCT doc_id, u.k // {POS_SCALE} AS h
      FROM fps, unnest(fp) AS u(k)
    ), rare AS (
      SELECT h FROM doc_hashes GROUP BY h
      HAVING COUNT(*) <= {DF_CAP}
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS shared_fps
      FROM doc_hashes a
      JOIN rare USING (h)
      JOIN doc_hashes b USING (h)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, shared_fps
    FROM pairs
    ORDER BY shared_fps DESC, doc_a, doc_b
    LIMIT 10
    """,
)
def docs_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread_scan (r12): interleaved A/B 1.84 → 1.33 s med; no-op at scale
    fps = _with_fingerprints(spread_scan(load_table(spark, sf_dir, "documents")))
    # Per-doc hash dedup happens IN-ROW (array_distinct over the
    # hash16 projection of fp), so the exploded (doc_id, h) stream is
    # distinct by construction — no corpus-wide DISTINCT exchange.
    doc_hashes = fps.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(f"transform(fp, k -> k div {POS_SCALE})")
            )
        ).alias("h"),
    )
    # ONE h-keyed exchange: the per-hash document frequency (window)
    # and the per-hash sorted doc set (groupBy) both run on the same
    # hashpartitioning(h); the DF cap drops boilerplate hashes BEFORE
    # any doc list materializes, bounding collect_set at DF_CAP. The
    # ordered pairs are an in-row transform over the sorted set
    # (sorted ⇒ doc_a < doc_b by construction — identical pair
    # multiset to the old rare-join + self-join, which shuffled the
    # (doc_id, h) frame three more times).
    from pyspark.sql import Window

    dh = doc_hashes.repartition("h")
    capped = dh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("df") <= DF_CAP)
    per_h = capped.groupBy("h").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ds")
    )
    pairs = per_h.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds)), "
                "y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .orderBy(F.desc("shared_fps"), "doc_a", "doc_b")
        .limit(10)
    )
