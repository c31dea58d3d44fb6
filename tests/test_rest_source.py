"""S2 — the paginated Zenput extract as a Spark data source
(``spark.read.format("zenput_rest")``). HTTP is faked with the
``file://`` transport, which pages a local JSONL file."""

from __future__ import annotations

import json

from epl_cas_etl_2026_spark.etl.zenput import parse_submissions
from epl_cas_etl_2026_spark.sources.rest_datasource import register


def _write_feed(path, n, start_day=1):
    with open(path, "w") as f:
        for i in range(n):
            day = start_day + i % 20
            f.write(
                json.dumps(
                    {
                        "id": i,
                        "smetadata": {
                            "location": {"id": f"LOC-{i % 5}"},
                            "created_by": {"display_name": "Ana"},
                            "date_submitted": f"2026-02-{day:02d}T10:00:00Z",
                            "lat": 1.0,
                            "lon": 2.0,
                        },
                        "answers": [
                            {
                                "field_type": "formula",
                                "title": "PORCENTAJE %",
                                "value": str(i % 100),
                            }
                        ],
                    }
                )
                + "\n"
            )


def test_datasource_reads_all_pages(spark, tmp_path):
    feed = tmp_path / "feed.jsonl"
    _write_feed(str(feed), 250)
    register(spark)
    df = (
        spark.read.format("zenput_rest")
        .option("endpoint", f"file://{feed}")
        .option("page_size", "100")
        .load()
    )
    # 250 records over 100/page → 3 pages; every line comes back intact
    assert df.count() == 250
    # over-provisioned page slots pack into parallel partitions
    assert df.rdd.getNumPartitions() > 1


def test_datasource_watermark_pushdown(spark, tmp_path):
    feed = tmp_path / "feed.jsonl"
    _write_feed(str(feed), 100)
    register(spark)
    df = (
        spark.read.format("zenput_rest")
        .option("endpoint", f"file://{feed}")
        .option("page_size", "30")
        .option("date_after", "2026-02-10T23:59:59Z")
        .load()
    )
    # watermark is applied source-side (like the API's
    # date_submitted_after param), BEFORE pagination
    expected = sum(1 for i in range(100) if 1 + i % 20 > 10)
    assert df.count() == expected


def test_datasource_feeds_parse_submissions(spark, tmp_path):
    feed = tmp_path / "feed.jsonl"
    _write_feed(str(feed), 42)
    register(spark)
    raw = (
        spark.read.format("zenput_rest")
        .option("endpoint", f"file://{feed}")
        .load()
    )
    parsed = parse_submissions(raw)
    assert parsed.count() == 42
    row = parsed.filter(parsed.zenput_submission_id == "7").collect()[0]
    assert row["zenput_location_id"] == "LOC-2"
