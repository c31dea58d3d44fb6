"""Semantic guarantees of the round-4 additions: winnowing fingerprint
density, count-min no-underestimate, and BFS distance laws — the
invariants the differential oracle can't see (it only certifies the
emitted aggregate, not the algorithm's contract)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from epl_cas_etl_2026_spark.operators.graph import bfs_hop_distance
from epl_cas_etl_2026_spark.plans.winnow import (
    K,
    POS_SCALE,
    W,
    _with_fingerprints,
)
from epl_cas_etl_2026_spark.sources.parquet import load_table


def test_winnowing_density_guarantee(spark, sf_smoke):
    """The winnowing theorem: consecutive selected fingerprint
    POSITIONS within a document are at most W apart (every window of
    W consecutive k-gram hashes contains a selected one), and
    positions stay inside [1, n_grams]."""
    docs = load_table(spark, sf_smoke, "documents")
    fps = _with_fingerprints(docs).select(
        "doc_id", F.explode("fp").alias("k")
    )
    pos = fps.select(
        "doc_id", F.expr(f"k % {POS_SCALE}").alias("pos")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    gaps = (
        pos.withColumn("prev", F.lag("pos").over(w))
        .filter(F.col("prev").isNotNull())
        .select((F.col("pos") - F.col("prev")).alias("gap"))
    )
    max_gap = gaps.agg(F.max("gap")).first()[0]
    assert max_gap is not None and 1 <= max_gap <= W

    tokens = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "n"
        ),
    )
    bad = (
        pos.join(tokens, "doc_id")
        .filter(
            (F.col("pos") < 1) | (F.col("pos") > F.col("n") - (K - 1))
        )
        .count()
    )
    assert bad == 0


def test_winnowing_selects_window_minima(spark):
    """On a hand-built doc the fingerprint set must equal the brute
    -force python winnowing of the same md5-16bit hash sequence."""
    import hashlib

    words = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi"
    ).split()
    text = " ".join(words)
    df = spark.createDataFrame(
        [(1, text, "src")], "doc_id long, text string, source string"
    )
    got = sorted(
        r.k
        for r in _with_fingerprints(df)
        .select(F.explode("fp").alias("k"))
        .collect()
    )

    def h16(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:4], 16)

    keys = [
        h16(" ".join(words[i : i + K])) * POS_SCALE + i + 1
        for i in range(len(words) - K + 1)
    ]
    expect = sorted(
        {
            min(keys[s : s + W])
            for s in range(len(keys) - W + 1)
        }
    )
    assert got == expect


def test_cms_never_underestimates_any_value(spark, sf_smoke):
    """The oracle checks the top-10 rows; the CMS contract holds for
    EVERY value: estimate >= exact count, within n/WIDTH + exact of
    the worst-case expected overcount bound (loose sanity cap)."""
    from epl_cas_etl_2026_spark.plans.sketches import (
        events_heavy_hitters_cms,
    )

    out = events_heavy_hitters_cms(spark, sf_smoke).collect()
    assert out, "no heavy hitters emitted"
    assert all(r.overestimate_ok for r in out)
    assert all(r.cms_est >= r.exact_count for r in out)


def test_bfs_distance_laws(spark):
    """Source at 0; every edge's endpoints differ by at most 1 hop
    when both are reached; unreachable components stay unlabeled."""
    edges = spark.createDataFrame(
        [
            ("a", "b"),
            ("b", "a"),
            ("b", "c"),
            ("c", "b"),
            ("c", "d"),
            ("d", "c"),
            ("x", "y"),
            ("y", "x"),
        ],
        "src string, dst string",
    )
    dist = bfs_hop_distance(edges, "a", max_depth=5, node_col="word")
    rows = {r.word: r.dist for r in dist.collect()}
    assert rows == {"a": 0, "b": 1, "c": 2, "d": 3}
    e = [("a", "b"), ("b", "c"), ("c", "d")]
    for u, v in e:
        assert abs(rows[u] - rows[v]) <= 1


def test_bfs_depth_cap(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    dist = bfs_hop_distance(edges, "a", max_depth=2, node_col="word")
    rows = {r.word: r.dist for r in dist.collect()}
    assert rows == {"a": 0, "b": 1, "c": 2}
    with pytest.raises(ValueError):
        bfs_hop_distance(edges, "a", max_depth=0)


def test_winnowing_udf_equals_expression_path(spark, sf_smoke):
    """The Arrow pandas_udf hot path and the pure-expression spec must
    produce identical fingerprint sets for every document."""
    from pyspark.sql import functions as F

    from epl_cas_etl_2026_spark.plans.winnow import _with_fingerprints
    from epl_cas_etl_2026_spark.sources.parquet import load_table
    from tests.baselines import with_fingerprints_udf

    docs = load_table(spark, sf_smoke, "documents")
    a = {
        r.doc_id: sorted(r.fp)
        for r in _with_fingerprints(docs).collect()
    }
    b = {
        r.doc_id: sorted(r.fp)
        for r in with_fingerprints_udf(docs).collect()
    }
    assert a == b


def test_winnowing_short_docs_do_not_crash_ansi(spark):
    """Documents with fewer than K tokens must yield empty fingerprint
    sets, not INVALID_ARRAY_INDEX under Spark's default ANSI mode
    (review-found: the dummy guard iteration indexed past the array)."""
    df = spark.createDataFrame(
        [(1, "", "s"), (2, "a", "s"), (3, "a b c", "s"),
         (4, "a b c d e f g h", "s")],
        "doc_id long, text string, source string",
    )
    rows = {r.doc_id: list(r.fp) for r in _with_fingerprints(df).collect()}
    assert rows[1] == [] and rows[2] == [] and rows[3] == []
    assert rows[4]  # 8 tokens → 5 grams, 2 windows → fingerprints


def test_misra_gries_partition_eviction_guarantee(spark):
    """The per-partition MG summaries must retain every value whose
    GLOBAL count exceeds N/(m+1), no matter how the rows are
    partitioned — exercised with a heavy hitter scattered across many
    partitions of an otherwise-singleton stream (far more distinct
    values than the capacity, so eviction genuinely fires)."""
    from pyspark.sql import functions as F

    from epl_cas_etl_2026_spark.plans.sketches import (
        MG_M,
        _mg_partition_summaries,
    )

    n = 20_000
    # value 'hh' on every 10th row (2000 occurrences >> N/(m+1) ~ 78);
    # everything else a singleton
    df = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 10 == 0, F.lit("hh"))
            .otherwise(F.concat(F.lit("u"), F.col("id").cast("string")))
            .alias("v")
        )
        .repartition(16)  # scatter the heavy hitter across partitions
    )
    survivors = {
        r["v"]
        for r in df.mapInPandas(
            _mg_partition_summaries, "v string"
        ).collect()
    }
    assert "hh" in survivors
    # eviction really happened: nowhere near all 18k singletons survive
    assert len(survivors) <= 16 * MG_M


def test_misra_gries_no_eviction_small_domain(spark):
    """With fewer distinct values than the capacity the summaries are
    exact: every value survives."""
    from pyspark.sql import functions as F

    from epl_cas_etl_2026_spark.plans.sketches import _mg_partition_summaries

    df = spark.range(5000).select(
        (F.col("id") % 50).cast("string").alias("v")
    ).repartition(8)
    survivors = {
        r["v"]
        for r in df.mapInPandas(
            _mg_partition_summaries, "v string"
        ).collect()
    }
    assert survivors == {str(i) for i in range(50)}


def test_mg_topk_oracle_precondition(spark, sf_oracle):
    """events_mg_topk's gate pairing is valid ONLY while every exact
    top-k value's frequency exceeds n/(m+1) — the Spark side recounts
    MG survivors, the oracle counts everything, and pigeonhole
    guarantees agreement exactly under that condition (see the
    precondition comment above the oracle, plans/sketches.py). Assert
    it on the CURRENT data so a flatter regenerated distribution fails
    here visibly instead of hash-mismatching in the gate; if this ever
    trips, lower MG_K or raise MG_M on both sides."""
    from epl_cas_etl_2026_spark.plans.sketches import events_mg_topk

    rows = events_mg_topk(spark, sf_oracle).collect()
    assert rows, "events table empty — precondition vacuous"
    assert all(r["mg_guarantee_ok"] for r in rows), (
        "top-k frequency fell to <= n/(m+1): the MG candidate set is no "
        "longer guaranteed to contain the exact top-k; re-tune MG_K/MG_M"
    )
