"""Paginated REST extract as a first-class Spark data source
(SURVEY.md §2.1 S2/S3 — the DataSourceV2-style option named there;
reference etl_sync.py:90-120).

Built on the PySpark 4 Python Data Source API: register once, then

    spark.dataSource.register(ZenputRestDataSource)
    df = (spark.read.format("zenput_rest")
          .option("endpoint", "https://api.example.com/submissions/")
          .option("form_id", "123")
          .option("date_after", "2026-02-01T00:00:00Z")   # watermark
          .option("token", "...")
          .load())                                        # value: string

Parallelism model: offset pagination has no server-side total, so the
reader over-provisions ``max_pages`` page slots and packs them into
``max_pages / pages_per_partition`` input partitions; every partition
walks its own page range and stops early at the first short/empty page
(a page past the end is simply empty — harmless). That turns the
reference's strictly sequential pager into N concurrent pagers while
preserving the short-page termination contract. The watermark filter
(``date_after``) is pushed INTO the request parameters — server-side
pruning, like a pushed predicate.

Transport is pluggable by URL scheme: ``http(s)://`` uses ``requests``
(gated behind import-try: this container has no network) and
``file://`` pages through a local JSONL file with identical
pagination + watermark semantics — the offline twin used by tests.

Rows come back as raw JSON strings (schema ``value string``), the same
shape ``spark.read.text`` gives over the sync job's landing files, so
``etl/zenput.parse_submissions`` consumes either.
"""

from __future__ import annotations

import json
import math

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

PAGE_SIZE = 100  # reference etl_sync.py:97


class PageRange(InputPartition):
    """A contiguous range of page indexes owned by one task."""

    def __init__(self, start_page: int, n_pages: int):
        self.start_page = start_page
        self.n_pages = n_pages


class ZenputRestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "zenput_rest"

    def schema(self) -> str:
        return "value string"

    def reader(self, schema) -> "ZenputRestReader":
        return ZenputRestReader(self.options)


class ZenputRestReader(DataSourceReader):
    def __init__(self, options):
        self.endpoint = options.get("endpoint")
        if not self.endpoint:
            raise ValueError("zenput_rest: 'endpoint' option is required")
        self.form_id = options.get("form_id", "")
        self.token = options.get("token", "")
        self.date_after = options.get("date_after")
        self.page_size = int(options.get("page_size", str(PAGE_SIZE)))
        self.max_pages = int(options.get("max_pages", "64"))
        self.pages_per_partition = int(options.get("pages_per_partition", "8"))
        self.timeout = int(options.get("timeout", "30"))

    def partitions(self):
        n_parts = max(1, math.ceil(self.max_pages / self.pages_per_partition))
        return [
            PageRange(i * self.pages_per_partition, self.pages_per_partition)
            for i in range(n_parts)
        ]

    def read(self, partition: PageRange):
        for page_idx in range(
            partition.start_page, partition.start_page + partition.n_pages
        ):
            recs = self._fetch_page(page_idx)
            if not recs:
                return
            for rec in recs:
                yield (rec if isinstance(rec, str) else json.dumps(rec),)
            if len(recs) < self.page_size:
                return

    # -- transport ---------------------------------------------------------
    def _fetch_page(self, page_idx: int) -> list:
        offset = page_idx * self.page_size
        if self.endpoint.startswith("file://"):
            return self._fetch_page_file(offset)
        return self._fetch_page_http(offset)

    def _fetch_page_file(self, offset: int) -> list[str]:
        """Offline twin: page through a local JSONL file with the same
        offset/limit + watermark semantics as the HTTP API (the server
        applies date_submitted_after BEFORE pagination, so we do too)."""
        path = self.endpoint[len("file://"):]
        out: list[str] = []
        matched = 0
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                if self.date_after is not None:
                    try:
                        sub = json.loads(line)
                        ds = (sub.get("smetadata") or {}).get(
                            "date_submitted", ""
                        )
                    except json.JSONDecodeError:
                        ds = ""
                    if not ds or ds <= self.date_after:
                        continue
                if matched >= offset + self.page_size:
                    break
                if matched >= offset:
                    out.append(line)
                matched += 1
        return out

    def _fetch_page_http(self, offset: int) -> list:
        try:
            import requests
        except ImportError as e:  # pragma: no cover - no network here
            raise RuntimeError(
                "requests not available; use a file:// endpoint"
            ) from e
        params: dict = {
            "form_id": self.form_id,
            "limit": self.page_size,
            "offset": offset,
        }
        if self.date_after:
            params["date_submitted_after"] = self.date_after
        resp = requests.get(
            self.endpoint,
            params=params,
            headers={"Authorization": f"Bearer {self.token}"},
            timeout=self.timeout,
        )
        resp.raise_for_status()
        return resp.json().get("data", [])


def register(spark) -> None:
    """Idempotently register the source with a session."""
    spark.dataSource.register(ZenputRestDataSource)
