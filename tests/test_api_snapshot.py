"""The in-memory snapshot ``api._table`` serves a small table from.

The snapshot belongs to the table frame: it is made when a second
request reads the frame, and it has a size bound, so a caller that opens
its frames per request keeps nothing. The frame that filled it is
answered from memory, a frame opened later over the same path reads the
file as it is then, and the blocks go once the frame and every result
built on it are garbage."""

from __future__ import annotations

import gc
import os
import time
import weakref

import pyarrow as pa
import pyarrow.parquet as pq

from epl_cas_etl_2026_spark import api
from tests.test_api import domain_files, one_split_tables  # noqa: F401 (fixture)


def _write_sucursales(path: str, estados: list) -> None:
    """One parquet file holding a branch per entry of ``estados``."""
    pq.write_table(
        pa.table({
            "id": pa.array(range(1, len(estados) + 1), pa.int32()),
            "estado": estados,
            "activo": [True] * len(estados),
        }),
        path,
    )


def _estados(spark, table_dir: str):
    """A frame over ``table_dir`` and api.estados over it."""
    frame = spark.read.parquet(table_dir)
    return frame, api.estados({"sucursales": frame})


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_same_frame_is_served_from_its_snapshot(spark, tmp_path):
    """The first request over a frame reads its file; from the second
    request on the frame is served from memory: the plan holds no
    parquet scan, and a third request answers the same rows with the
    file deleted."""
    table_dir = tmp_path / "sucursales"
    table_dir.mkdir()
    path = str(table_dir / "part-0.parquet")
    _write_sucursales(path, ["NL", "NL", "JAL"])
    frame, first = _estados(spark, str(table_dir))
    assert "FileScan parquet" in _plan(first)
    rows = first.collect()
    assert rows == [("JAL", 1), ("NL", 2)]
    second = api.estados({"sucursales": frame})
    assert "FileScan parquet" not in _plan(second), _plan(second)
    assert second.collect() == rows
    os.remove(path)
    assert api.estados({"sucursales": frame}).collect() == rows


def test_scan_over_the_size_bound_is_not_snapshot(spark, tmp_path, monkeypatch):
    """A frame whose scan is larger than ``SNAPSHOT_MAX_BYTES`` keeps
    reading its file, however many requests read it."""
    monkeypatch.setattr(api, "SNAPSHOT_MAX_BYTES", 0)
    table_dir = tmp_path / "sucursales"
    table_dir.mkdir()
    _write_sucursales(str(table_dir / "part-0.parquet"), ["NL", "NL", "JAL"])
    frame, _ = _estados(spark, str(table_dir))
    before = _persisted(spark)
    for _ in range(3):
        df = api.estados({"sucursales": frame})
        assert "FileScan parquet" in _plan(df)
        assert df.collect() == [("JAL", 1), ("NL", 2)]
    assert _persisted(spark) <= before


def test_new_frame_reads_a_rewritten_file(spark, tmp_path):
    """A frame opened after its file was rewritten out of band gets its
    own snapshot and returns the new rows, while the first frame and its
    snapshot are still alive (``cache()`` would match the second frame
    to the first one's blocks by path and serve the old rows)."""
    table_dir = tmp_path / "sucursales"
    table_dir.mkdir()
    path = str(table_dir / "part-0.parquet")
    _write_sucursales(path, ["NL", "NL", "JAL"])
    old_frame, _ = _estados(spark, str(table_dir))
    for _ in range(2):
        assert api.estados({"sucursales": old_frame}).collect() == [("JAL", 1), ("NL", 2)]
    _write_sucursales(path, ["CMX", "COA", "COA", "COA"])
    new_frame, _ = _estados(spark, str(table_dir))
    for _ in range(2):
        assert api.estados({"sucursales": new_frame}).collect() == [("CMX", 1), ("COA", 3)]
    assert old_frame is not new_frame


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def test_frames_opened_per_request_keep_nothing(spark, sf_smoke):
    """A caller that opens its table frames for every request, as the
    ``api_*`` queries of ``plans/domain_api`` do, never snapshots: calls
    repeated over fresh frames persist no RDD and add no storage
    memory."""
    from epl_cas_etl_2026_spark.plans import domain_api

    queries = [domain_api.api_kpis_card, domain_api.api_estados_counts]
    for query in queries:
        query(spark, sf_smoke).collect()
    before, stored = _persisted(spark), _storage_bytes(spark)
    for _ in range(3):
        for query in queries:
            query(spark, sf_smoke).collect()
    # earlier tests' blocks may be released meanwhile, none may be added
    assert _persisted(spark) <= before
    assert _storage_bytes(spark) <= stored


def _serve_every_table(spark, frames, root):
    """Serve two rounds of requests over fresh one-split frames of every
    table, and return weak references to the frames and the RDD ids the
    snapshots persisted; the frames and the result frames are dropped."""
    before = _persisted(spark)
    tables = one_split_tables(spark, frames, root)
    for _ in range(2):
        for df in [
            api.heatmap_matrix(tables, "operativas"),
            api.kpis(tables, "seguridad", periodo_id=2),
            api.ranking_grupos(tables, "operativas", periodo_id=2),
            api.branch_areas(tables, 1, "operativas"),
            api.branch_areas(tables, 1, "seguridad"),
            api.supervision_areas_by_id(tables, 101, "seguridad"),
        ]:
            df.collect()
    served = _persisted(spark) - before
    # one snapshot per table read, and every table was read
    assert len(served) == len(tables), (sorted(served), sorted(tables))
    return [weakref.ref(df) for df in tables.values()], served


def test_snapshot_blocks_are_released_with_their_frames(spark, domain_files):  # noqa: F811
    """Once the table frames and the results built on them are
    unreachable, the frames are gone from Python at once, and the JVM's
    collector plus Spark's ContextCleaner release every snapshot. The
    JVM half is collector timing, so it gets a wide deadline; part of a
    scan's object graph is only freed after JVM finalization, which a
    ``System.gc()`` alone does not wait for."""
    frames, _, root = domain_files
    refs, served = _serve_every_table(spark, frames, root)
    gc.collect()
    assert not [r for r in refs if r() is not None]
    system = spark.sparkContext._jvm.java.lang.System
    deadline = time.monotonic() + 120.0
    while served & _persisted(spark) and time.monotonic() < deadline:
        gc.collect()
        system.gc()
        system.runFinalization()
        system.gc()
        time.sleep(0.2)
    assert not served & _persisted(spark)


def test_every_endpoint_is_a_request():
    """Every public function that reads ``tables`` is marked a request,
    so the tables it reads count as read once, not once per read."""
    import inspect

    unmarked = [
        name
        for name, fn in vars(api).items()
        if inspect.isfunction(fn)
        and not name.startswith("_")
        and fn.__module__ == api.__name__
        and "tables" in inspect.signature(fn).parameters
        and not hasattr(fn, "__wrapped__")
    ]
    assert not unmarked, unmarked
