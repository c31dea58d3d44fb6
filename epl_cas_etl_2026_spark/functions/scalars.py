"""Scalar expression library (SURVEY.md §2.8 F1-F9, §2.10).

The reference applies these row-wise in Python (app.py:32-55,
etl_sync.py:122-139). Here every helper RETURNS A COLUMN EXPRESSION —
never a ``@udf`` — so Catalyst folds them into whole-stage codegen and
they cost the same as hand-written SQL at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

# Score-bucket thresholds AND labels — the reference's get_color_class
# verbatim (app.py:32-42): >=90 'excellent', >=80 'good', >=70
# 'regular', else 'critical', NULL -> 'gray'. (The reference's
# DISTRIBUTION dict keys are the Spanish 'excelente/bueno/regular/
# critico' — app.py:401-405 — that split is preserved: bucket_counts
# below keeps the Spanish keys, color_class the English classes.)
DEFAULT_BUCKETS: tuple[tuple[float, str], ...] = (
    (90.0, "excellent"),
    (80.0, "good"),
    (70.0, "regular"),
)


def color_class(score: Column, buckets=DEFAULT_BUCKETS) -> Column:
    """F1 — bucketing CASE (reference get_color_class, app.py:32-42).

    NULL guard first: a NULL score is its own class ('gray'), not
    'critical'.
    """
    expr = F.when(score.isNull(), F.lit("gray"))
    for threshold, label in buckets:
        expr = expr.when(score >= F.lit(threshold), F.lit(label))
    return expr.otherwise(F.lit("critical"))


# Territory classification (reference get_territorio, app.py:44-55):
# case-insensitive substring containment against fixed keyword lists.
# These are the reference's EXACT lists (app.py:46-47): 8 local, 3 mixto.
# Note "plog nuevo leon" is the full phrase — other "PLOG ..." groups
# (e.g. PLOG LAGUNA) classify 'foranea', exactly as the reference does.
LOCAL_KEYWORDS = (
    "tepeyac",
    "ogas",
    "efm",
    "epl so",
    "plog nuevo leon",
    "grupo centrito",
    "grupo sabinas hidalgo",
    "grupo cade",
)
MIXTO_KEYWORDS = ("tec", "expo", "grupo saltillo")


def territorio(nombre: Column,
               local_keywords=LOCAL_KEYWORDS,
               mixto_keywords=MIXTO_KEYWORDS) -> Column:
    """F2 — string classification by containment (app.py:44-55).

    First matching class wins: local, then mixto, else 'foranea'.
    """
    low = F.lower(nombre)
    local_pred = None
    for kw in local_keywords:
        p = low.contains(kw)
        local_pred = p if local_pred is None else (local_pred | p)
    mixto_pred = None
    for kw in mixto_keywords:
        p = low.contains(kw)
        mixto_pred = p if mixto_pred is None else (mixto_pred | p)
    return (
        F.when(local_pred, F.lit("local"))
        .when(mixto_pred, F.lit("mixto"))
        .otherwise(F.lit("foranea"))
    )


def normalize_title(title: Column) -> Column:
    """F3 — title normalization (reference extract_area_code,
    etl_sync.py:122-139): uppercase, strip 'CALIFICACION(ÓN)?',
    'PORCENTAJE', '%', collapse whitespace, trim.
    """
    t = F.upper(title)
    t = F.regexp_replace(t, "CALIFICACI[OÓ]N", "")
    t = F.regexp_replace(t, "PORCENTAJE", "")
    t = F.regexp_replace(t, "%", "")
    t = F.regexp_replace(t, "\\s+", " ")
    return F.trim(t)


def pct_of(part: Column, total: Column, scale: int = 1) -> Column:
    """F7/A14 — percent-of-total with divide-by-zero guard
    (app.js:436-459; app.py:292: round(x/y*100, 1))."""
    return F.round(part * 100.0 / F.nullif(total, F.lit(0)), scale)


def det_avg(c: Column, scale: int = 2, over: WindowSpec | None = None) -> Column:
    """Order-deterministic rounded average; a window function over
    ``over`` when given.

    ``round(avg(double), 2)`` is not reproducible across engines: Spark's
    partial-aggregate summation order differs from DuckDB's, and a 1-ulp
    difference in the sum flips the rounding at exact ``.xx5`` boundaries
    (observed on events.value). Casting to an exact decimal before
    summing makes the aggregate independent of order; the final HALF_UP
    round is then well-defined. Testdata money/value columns carry <= 2
    decimal digits, so decimal(18,6) is lossless.
    """
    avg = F.avg(c.cast("decimal(18,6)"))
    if over is not None:
        avg = avg.over(over)
    return F.round(avg, scale).cast("double")


def det_avg_sql(expr: str, scale: int = 2) -> str:
    """DuckDB twin of :func:`det_avg`.

    DuckDB coerces decimal division to double, so we do the half-up
    rounding in exact integer space: S = sum in units of 1e-6,
    avg*10^scale = S / (n * 10^(6-scale)), rounded half-away-from-zero.
    """
    s = f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) * 1000000 AS HUGEINT)"
    n = f"COUNT({expr})"
    d = f"({n} * {10 ** (6 - scale)})"
    up = f"((2 * ABS({s}) + {d}) // (2 * {d}))"
    return f"(CAST(CASE WHEN {s} < 0 THEN -{up} ELSE {up} END AS DOUBLE) / {10 ** scale})"


def bucket_counts(score: Column) -> list[Column]:
    """A6 — conditional-aggregation histogram columns
    (app.py:387-399): one SUM(CASE ...) per performance bucket.
    Usage: ``df.agg(*bucket_counts(F.col('calificacion')))``.
    """
    return [
        F.sum(F.when(score >= 90, 1).otherwise(0)).alias("excelente"),
        F.sum(F.when((score >= 80) & (score < 90), 1).otherwise(0)).alias("bueno"),
        F.sum(F.when((score >= 70) & (score < 80), 1).otherwise(0)).alias("regular"),
        F.sum(F.when(score < 70, 1).otherwise(0)).alias("critico"),
    ]
