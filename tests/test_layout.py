"""Physical-layout tests: partition pruning and runtime filters are
visible in the plan, distributed ranking and cumsum avoid a
single-partition window, and the salted skew join matches the plain
join."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from epl_cas_etl_2026_spark.sources.parquet import load_table, spread_scan


def explain_has(df, needle: str) -> bool:
    """True if the formatted physical plan mentions ``needle``."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return needle in buf.getvalue()


def test_two_phase_rank_no_single_partition_window(spark, sf_smoke):
    from epl_cas_etl_2026_spark.operators.ranking import (
        competition_rank,
        two_phase_competition_rank,
    )

    orders = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    two = two_phase_competition_rank(orders, "o_totalprice")
    plan = two._jdf.queryExecution().executedPlan().toString()
    # every Window in the plan must be partitioned (no global sort onto
    # one task); repartitionByRange + local rank + offsets instead
    assert "SinglePartition" not in plan

    # value equivalence against the single-window reference (the
    # smoke table is far below its MAX_GLOBAL_WINDOW_ROWS guard)
    single = competition_rank(orders, "o_totalprice").select(
        "o_orderkey", "posicion"
    )
    a = {r["o_orderkey"]: r["posicion"] for r in two.collect()}
    b = {r["o_orderkey"]: r["posicion"] for r in single.collect()}
    assert a == b


def test_competition_rank_guard_rejects_fact_frames(spark, sf_smoke, monkeypatch):
    import pytest
    from epl_cas_etl_2026_spark.operators import ranking

    orders = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    monkeypatch.setattr(ranking, "MAX_GLOBAL_WINDOW_ROWS", 100)
    guarded = ranking.competition_rank(orders, "o_totalprice")
    with pytest.raises(Exception, match="two_phase_competition_rank"):
        guarded.collect()


def test_two_phase_cumsum_no_single_partition(spark, sf_smoke):
    from epl_cas_etl_2026_spark.operators.windows import two_phase_cumsum

    orders = load_table(spark, sf_smoke, "orders").select(
        "o_orderkey", F.lit(1).alias("one")
    )
    cs = two_phase_cumsum(orders, "o_orderkey", "one")
    plan = cs._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    rows = {r["o_orderkey"]: r["cumsum"] for r in cs.collect()}
    ordered = sorted(rows)
    # cumsum of all-ones over the global order == 1..n
    assert [rows[k] for k in ordered] == list(range(1, len(ordered) + 1))


def test_spread_scan_returns_parallel_frame_unchanged(spark):
    df = spark.range(0, 64, numPartitions=32)
    assert spread_scan(df) is df


def test_spread_scan_spreads_single_split_frame(spark):
    df = spark.range(0, 64, numPartitions=1)
    out = spread_scan(df)
    target = min(32, spark.sparkContext.defaultParallelism)
    assert out.rdd.getNumPartitions() == target
    # reordered, never changed (the order-insensitivity precondition)
    assert sorted(r.id for r in out.collect()) == list(range(64))


def test_spread_scan_keyed_plans_hash_partitioning(spark):
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("one core: the gate never fires")
    df = spark.range(0, 64, numPartitions=1)
    out = spread_scan(df, F.col("id"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(id#" in plan


def test_ivf_index_partitioned_probe_prunes(spark, sf_smoke, tmp_path):
    from epl_cas_etl_2026_spark.operators.similarity import kmeans_fit

    emb = load_table(spark, sf_smoke, "embeddings")
    assigned = kmeans_fit(emb, k=4, iters=1).select("vec_id", "cluster")
    index = emb.join(assigned, "vec_id")
    path = str(tmp_path / "ivf_index")
    index.write.partitionBy("cluster").parquet(path)

    # probing one coarse cluster must be a partition-pruned scan —
    # the IVF promise: the query touches 1/k of the data at the scan
    probe = spark.read.parquet(path).filter(F.col("cluster") == 2)
    assert explain_has(probe, "PartitionFilters: [isnotnull(cluster")
    full = spark.read.parquet(path)
    expected = full.filter(F.col("cluster") == 2).count()
    assert probe.count() == expected and expected > 0


def test_runtime_bloom_filter_injects_on_fact_fact_join(spark, sf_smoke):
    """Row-level runtime filtering for fact⋈fact joins: a selective
    filter on one fact side injects a bloom filter (`might_contain`)
    into the OTHER side's scan, pruning shuffle input before the join.
    Injection is size-gated by Catalyst (application side must scan
    >10 GB by default) — exactly right at 100 TB, never firing on
    these small local scans — so the test lowers the gate to prove
    the session leaves the feature enabled and the plan rewrites."""
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-join regime the feature targets
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold",
            "0",
        )
        orders = load_table(spark, sf_smoke, "orders").filter(
            "o_orderdate >= '2000-07-01' AND o_orderdate < '2000-08-01'"
        )
        li = load_table(spark, sf_smoke, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert explain_has(j, "might_contain")
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold"
        )


def test_salted_skew_join_matches_plain_join(spark, sf_smoke):
    """Skew-salted join == plain join (same rows), with the join keys
    carrying the salt so a hot key spreads over n_salts reducers."""
    from epl_cas_etl_2026_spark.sources.layout import salted_skew_join

    orders = load_table(spark, sf_smoke, "orders")
    cust = load_table(spark, sf_smoke, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = (
        orders.join(cust, "o_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    salted = (
        salted_skew_join(orders, cust, "o_custkey", n_salts=8)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_dynamic_partition_pruning_on_dim_filter(spark, sf_smoke, tmp_path):
    """DPP: a filter on the DIM side of a join keyed by the fact's
    partition column must inject a dynamicpruning subquery into the
    fact scan, so only the matching year-partitions are read — the
    star-schema scale feature static pruning can't give (the year is
    not known until the dim filter runs)."""
    orders = load_table(spark, sf_smoke, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year_dpp")
    orders.write.partitionBy("order_year").parquet(path)
    fact = spark.read.parquet(path)

    dim = spark.createDataFrame(
        [(y, "target" if y == 1998 else "other") for y in range(1995, 2002)],
        "dim_year int, label string",
    )
    joined = fact.join(
        dim.filter(F.col("label") == "target"),
        fact.order_year == dim.dim_year,
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    expected = (
        load_table(spark, sf_smoke, "orders")
        .filter(F.year("o_orderdate") == 1998)
        .count()
    )
    assert joined.count() == expected and expected > 0
