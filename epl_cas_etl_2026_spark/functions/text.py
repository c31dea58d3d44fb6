"""Text-analysis expression library (training-data pipeline ops —
BASELINE.json north star; not present in the reference, which has no
free-text analytics).

All pure Column expressions (JVM-side, codegen'd): at 100 TB these run
inside the parquet scan stage with zero Python involvement.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish tokenizer regex: letter runs, digit runs, single punctuation.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def words(text: Column) -> Column:
    """Whitespace tokens."""
    return F.split(text, " ")


def token_count(text: Column) -> Column:
    return F.size(words(text)).cast("long")


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish regex tokens (letters / digits / punct runs)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0))).cast(
        "long"
    )


def alpha_ratio(text: Column) -> Column:
    """Fraction of characters that are letters or spaces — a cheap
    quality signal (garbled/binary text scores low)."""
    clean = F.regexp_replace(text, "[^A-Za-z ]", "")
    return F.length(clean).cast("double") / F.nullif(
        F.length(text).cast("double"), F.lit(0.0)
    )


def quality_class(text: Column) -> Column:
    """Composite keep/review/drop quality verdict: fewer than 5 tokens
    drops, an alpha ratio under 0.8 goes to review, the rest is kept."""
    n = token_count(text)
    ar = alpha_ratio(text)
    return (
        F.when(n < 5, F.lit("drop"))
        .when(ar < 0.8, F.lit("review"))
        .otherwise(F.lit("keep"))
    )


def greedy_pair_merge(
    arr: Column, w1: Column, w2: Column, merged: Column
) -> Column:
    """BPE-style greedy left-to-right merge of adjacent pair
    (w1, w2) → merged, as a fold over the token array: accumulator is
    the rewritten prefix; a merge consumes its right token so
    overlapping occurrences ('a a a' with pair (a,a)) merge only once
    — exactly the BPE training rule. Mirrors the DuckDB list_reduce
    fold in plans/extensions.docs_bpe_train_merges' oracle."""
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == w1) & (x == w2),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )

