"""Zenput submission transforms (SURVEY.md §2.1 S9, §2.8 F10-F11,
§2.10).

The reference walks each submission dict row-at-a-time in Python
(etl_sync.py:206-224 field extraction, 141-158 answers→areas explode,
160-177 priority score extraction, 179-194 KPIs). Here the whole feed
is one DataFrame of nested structs and every extraction is a set-wise
Column expression — the score reads the answers array in place, the
area details take one explode, and no row goes through Python. At
100 TB of landed JSON this is the difference between a day and
minutes.

AREA/KPI code resolution (reference AREA_MAP etl_sync.py:34-63,
fuzzy 2-pass matching etl_sync.py:128-139) is a broadcast join against
a catalog DataFrame with a match-priority rank instead of a Python
dict probe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.functions.scalars import normalize_title


def parse_submissions(raw_json_df: DataFrame, json_col: str = "value") -> DataFrame:
    """S9 — raw JSON strings → typed nested rows (etl_sync.py:206-224).

    Input: one JSON document per row (e.g. from ``spark.read.text`` on
    a landing dir, or a REST extract). Output: typed columns + the
    nested ``answers`` array kept for downstream explodes.

    A line that does not parse, or parses without an ``id`` (the
    natural key), is dropped: ``from_json`` gives it a NULL id, and
    loading it would write an all-NULL master row whose surrogate
    ``xxhash64(NULL)`` every such row shares. A ``date_submitted`` that
    does not parse loads as NULL, like an undated submission: under
    ANSI mode a cast would fail the sync, and every later one, since
    the line stays in the landing dir.
    """
    from epl_cas_etl_2026_spark.schemas import ZENPUT_SUBMISSION_SCHEMA

    parsed = raw_json_df.select(
        F.from_json(F.col(json_col), ZENPUT_SUBMISSION_SCHEMA).alias("s")
    ).filter(F.col("s.id").isNotNull())
    return parsed.select(
        F.col("s.id").cast("string").alias("zenput_submission_id"),
        F.col("s.smetadata.location.id").alias("zenput_location_id"),
        F.col("s.smetadata.created_by.display_name").alias("supervisor"),
        F.try_to_timestamp(F.col("s.smetadata.date_submitted")).alias(
            "fecha_supervision"
        ),
        F.col("s.smetadata.lat").alias("lat_entrega"),
        F.col("s.smetadata.lon").alias("lon_entrega"),
        F.col("s.answers").alias("answers"),
    )


def formula_answers(submissions: DataFrame) -> DataFrame:
    """P11 — explode answers[], keep field_type == 'formula' entries
    whose title mentions PORCENTAJE (etl_sync.py:144-149)."""
    exploded = submissions.select(
        "zenput_submission_id",
        F.posexplode("answers").alias("answer_pos", "answer"),
    )
    return exploded.filter(
        (F.col("answer.field_type") == "formula")
        & F.upper(F.col("answer.title")).contains("PORCENTAJE")
    ).select(
        "zenput_submission_id",
        "answer_pos",
        F.col("answer.title").alias("title"),
        F.col("answer.value").cast("double").alias("value"),
    )


#: the overall-score answer titles (etl_sync.py:167-176)
SCORE_TITLES = ("PORCENTAJE %", "CALIFICACION PORCENTAJE %")


def extract_calificacion_general() -> Column:
    """F11 — score extraction (etl_sync.py:160-177) as a Column over a
    submission's own ``answers`` array: the reference iterates the
    answers IN ORDER and, per answer, checks the title against both
    accepted names ('PORCENTAJE %' then 'CALIFICACION PORCENTAJE %')
    — so the FIRST formula answer matching EITHER title wins; answer
    position outranks the title list. A null value on that first match
    is returned as-is (the reference does not skip None here, unlike
    extract_areas).

    No explode, window or join: each row scores from its own array, so
    of two copies of one submission each carries its own score, and
    the copy the dedup keeps keeps its score.
    """
    hits = F.filter(
        "answers",
        lambda a: (a["field_type"] == "formula")
        & F.upper(F.trim(a["title"])).isin(*SCORE_TITLES),
    )
    return F.get(hits, 0)["value"].cast("double").alias("calificacion_general")


def extract_detail_items(
    submissions: DataFrame, catalog: DataFrame
) -> DataFrame:
    """F10 + J9 + UDTF-shape — answers[] → per-area detail rows
    (etl_sync.py:141-158): explode, normalize the title, resolve the
    catalog code (exact match first, then bidirectional containment —
    the reference's fuzzy 2-pass, etl_sync.py:128-139), first-wins
    dedup per (submission, code).

    ``catalog`` needs columns (id, codigo, nombre, numero); the match
    key is the normalized ``nombre``.
    """
    ans = formula_answers(submissions).withColumn(
        "norm_title", normalize_title(F.col("title"))
    )
    # overall-score rows are not area rows; the reference also skips
    # answers with a null value (etl_sync.py:150-152 `value is None:
    # continue`) BEFORE the first-wins dedup, so a null-valued first
    # answer must not suppress a later valid one for the same code.
    # One hash partitioning by submission serves both first-wins
    # windows below (each is clustered by the submission plus one more
    # key), so the plan shuffles once, and each submission's detail
    # rows end in one partition: a write that keeps the partitioning
    # puts them in one file, from one task.
    ans = ans.filter(
        (F.col("norm_title") != "") & F.col("value").isNotNull()
    ).repartition("zenput_submission_id")

    cat = catalog.select(
        F.col("id").alias("item_id"),
        F.col("codigo"),
        normalize_title(F.col("nombre")).alias("norm_nombre"),
        F.col("numero"),
    )
    # fuzzy 2-pass as a single ranked broadcast join:
    #   priority 1 = exact normalized match
    #   priority 2 = answer title contains catalog name or vice versa
    joined = ans.join(
        F.broadcast(cat),
        (F.col("norm_title") == F.col("norm_nombre"))
        | F.col("norm_title").contains(F.col("norm_nombre"))
        | F.col("norm_nombre").contains(F.col("norm_title")),
        "inner",
    ).withColumn(
        "match_prio",
        F.when(F.col("norm_title") == F.col("norm_nombre"), 1).otherwise(2),
    )
    # best catalog item per answer: exact beats fuzzy, then catalog order
    w_ans = Window.partitionBy("zenput_submission_id", "answer_pos").orderBy(
        "match_prio", "numero"
    )
    best_per_answer = joined.withColumn(
        "__r1", F.row_number().over(w_ans)
    ).filter(F.col("__r1") == 1)
    # first-wins per (submission, code): the reference keeps the FIRST
    # answer that resolved to a code (etl_sync.py:155-156)
    w_code = Window.partitionBy("zenput_submission_id", "item_id").orderBy(
        "answer_pos"
    )
    return (
        best_per_answer.withColumn("__r2", F.row_number().over(w_code))
        .filter(F.col("__r2") == 1)
        .select(
            "zenput_submission_id",
            "item_id",
            F.col("codigo"),
            F.col("value").alias("porcentaje"),
        )
    )
