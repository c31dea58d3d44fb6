"""Equivalence pins for the round-11 session-3 plan rewrites: each
restructured query must produce the SAME rows as the join-based shape
it replaced (the oracle gate pins Spark-vs-DuckDB; these pin
new-shape-vs-old-shape inside Spark, so a future edit that drifts the
rewrite fails here with a readable diff instead of a hash mismatch).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.operators.windows import two_phase_cumsum
from epl_cas_etl_2026_spark.plans import QUERIES
from epl_cas_etl_2026_spark.plans.winnow import (
    DF_CAP,
    POS_SCALE,
    _with_fingerprints,
)
from epl_cas_etl_2026_spark.sources.parquet import load_table


def _old_winnow_pairs(spark, sf_dir):
    """The pre-r11 join-based overlap pipeline (distinct → df-cap
    join → self-join), WITHOUT the top-10 cut — the reference the
    in-row pair transform must reproduce pair-for-pair."""
    fps = _with_fingerprints(load_table(spark, sf_dir, "documents"))
    doc_hashes = (
        fps.select("doc_id", F.explode("fp").alias("k"))
        .select("doc_id", F.expr(f"k div {POS_SCALE}").alias("h"))
        .distinct()
    )
    rare = (
        doc_hashes.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= DF_CAP)
        .select("h")
    )
    pruned = doc_hashes.join(rare, "h")
    other = doc_hashes.select(F.col("h"), F.col("doc_id").alias("doc_b"))
    return (
        pruned.withColumnRenamed("doc_id", "doc_a")
        .join(other, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
    )


def _new_winnow_pairs(spark, sf_dir):
    """The r11 in-row shape, full pair set (same as the registered
    query minus the orderBy/limit presentation cut)."""
    from pyspark.sql import Window

    fps = _with_fingerprints(load_table(spark, sf_dir, "documents"))
    doc_hashes = fps.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(f"transform(fp, k -> k div {POS_SCALE})")
            )
        ).alias("h"),
    )
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
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("long").alias("shared_fps")
    )


def test_winnow_inrow_pairs_match_join_form(spark, sf_smoke):
    old = {
        (r["doc_a"], r["doc_b"]): r["shared_fps"]
        for r in _old_winnow_pairs(spark, sf_smoke).collect()
    }
    new = {
        (r["doc_a"], r["doc_b"]): r["shared_fps"]
        for r in _new_winnow_pairs(spark, sf_smoke).collect()
    }
    assert old == new
    assert old, "smoke corpus produced no overlap pairs — test is vacuous"


def test_desc_cumsum_identity_on_distinct_keys(spark):
    """lineitem_key_skew_gini replaced its descending two-phase cumsum
    with cumd = n_keys - cum_m + m (valid because ff has exactly one
    row per distinct c). Pin the identity against the real operator on
    a frame with gaps and uneven multiplicities."""
    ff = spark.createDataFrame(
        [(1, 5), (2, 3), (4, 7), (9, 1), (10, 4)], "c long, m long"
    )
    asc_ = two_phase_cumsum(ff, "c", "m", "cum_m")
    desc_ = two_phase_cumsum(
        ff.withColumn("negc", -F.col("c")), "negc", "m", "cumd"
    ).select("c", "cumd")
    n_keys = ff.agg(F.sum("m")).collect()[0][0]
    derived = {
        r["c"]: n_keys - r["cum_m"] + r["m"] for r in asc_.collect()
    }
    actual = {r["c"]: r["cumd"] for r in desc_.collect()}
    assert derived == actual


def test_kmv_single_scan_output_unchanged(spark, sf_smoke):
    """events_kmv_theta_intersection now derives sketch + exact +
    intersect from ONE shared distinct (event_type, user_id) frame;
    its full output must match a from-scratch recomputation of the
    exact columns plus the invariant est >= 0."""
    rows = {
        r["entity"]: r
        for r in QUERIES["events_kmv_theta_intersection"](
            spark, sf_smoke
        ).collect()
    }
    ev = load_table(spark, sf_smoke, "events").filter(
        F.expr("CAST(value AS DOUBLE) > 60")
    )
    exact = {
        r["event_type"]: r["x"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    a = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    xd = a.join(b, "user_id").count()
    for et, x in exact.items():
        assert rows[et]["exact_distinct"] == x
    assert rows["click&purchase"]["exact_distinct"] == xd


def test_winnow_overlap_plan_is_join_free(spark, sf_smoke):
    """Physical-plan pin: the rewritten overlap query must keep the
    join-free single-(h)-exchange shape (one more Exchange for the
    final pair count, plus whatever AQE adds around the top-10)."""
    df = QUERIES["docs_winnow_overlap_pairs"](spark, sf_smoke)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" not in plan
