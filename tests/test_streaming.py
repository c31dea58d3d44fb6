"""Structured Streaming tests for plans/streaming_gate.py: a gate
query equals its batch twin, and the fixture-feed helpers lay out
files the way the gates' file sources consume them."""

from __future__ import annotations


def test_stream_tumbling_gate_matches_batch(spark, sf_oracle):
    """The driver-gated streaming query (AvailableNow file stream →
    windowed agg → memory sink) must equal the BATCH tumbling query on
    the same data — streaming-vs-batch equivalence, locally."""
    from epl_cas_etl_2026_spark.plans import QUERIES

    streamed = QUERIES["events_stream_tumbling_gate"](spark, sf_oracle)
    batch = QUERIES["events_tumbling_hourly"](spark, sf_oracle)
    s = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b and len(s) > 0


# -- round-10: Spark-side fixture-feed helpers ----------------------------


def test_feed_batches_one_file_per_value_in_order(spark, tmp_path):
    """_feed_batches: one parquet FILE per distinct batch value, mtimes
    strictly ascending in VALUE order (numeric, not lexical — value 10
    must come after 2), batch column dropped from the data, round-trip
    content intact."""
    import os

    from epl_cas_etl_2026_spark.plans.streaming_gate import _feed_batches

    rows = [(i, f"v{i}", i % 12) for i in range(300)]  # 12 values > 9
    df = spark.createDataFrame(rows, "k long, s string, fb long")
    src = str(tmp_path / "src")
    n = _feed_batches(df, "fb", src, str(tmp_path / "stage"))
    assert n == 12
    files = sorted(os.listdir(src))
    assert files == [f"batch_{i:03d}.parquet" for i in range(12)]
    mtimes = [os.path.getmtime(os.path.join(src, f)) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 12
    # batch i holds exactly the rows with fb == i, without the fb col
    for i in (0, 2, 10, 11):
        part = spark.read.parquet(os.path.join(src, files[i]))
        assert part.columns == ["k", "s"]
        got = sorted(r["k"] for r in part.collect())
        assert got == [k for k in range(300) if k % 12 == i]
    # whole feed round-trips
    total = spark.read.parquet(src + "/*.parquet").count()
    assert total == 300


def test_feed_batches_empty_frame_writes_no_files(spark, tmp_path):
    import os

    from epl_cas_etl_2026_spark.plans.streaming_gate import _feed_batches

    df = spark.createDataFrame([], "k long, fb long")
    src = str(tmp_path / "src")
    assert _feed_batches(df, "fb", src, str(tmp_path / "stage")) == 0
    assert os.path.isdir(src) and os.listdir(src) == []


def test_feed_file_single_file_pinned_mtime(spark, tmp_path):
    import os

    from epl_cas_etl_2026_spark.plans.streaming_gate import _feed_file

    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    path = str(tmp_path / "one.parquet")
    _feed_file(df, path, 1_234_567_890)
    assert os.path.isfile(path)
    assert os.path.getmtime(path) == 1_234_567_890
    assert spark.read.parquet(path).count() == 100
