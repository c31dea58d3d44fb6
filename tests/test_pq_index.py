"""Persisted-index ANN build/serve: the build-once / serve-many
contract.

PQ codebooks and codes are built once and published as one directory,
``<root>/index``, under a root keyed by a fingerprint of the
embeddings table. These tests pin:

* serve from the persisted artifacts == the in-query path with the
  SAME codebooks (pq_adc_batch_serve is a data-source change, not a
  semantics change);
* publication is atomic: a build that fails before its rename
  publishes nothing and leaves no temporary directory, and the next
  ensure call rebuilds;
* two builds racing on one root both return certified rows and
  exactly one ``index`` directory is published;
* a second ensure call reuses the published index without fitting;
* a build removes the older roots of its sf and the legacy artifacts
  in its own root, so the scratch directory holds one index per sf.
"""

from __future__ import annotations

import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from epl_cas_etl_2026_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r["q_id"], r["rank"], r["vec_id"], round(r["exact_dist"], 9))
        for r in df.collect()
    )


def _assert_build_row_certified(b):
    assert b["committed_ok"] is True
    assert b["reencode_mismatches"] == 0
    assert b["n_codebook_rows"] == 128
    assert b["n_code_rows"] == b["n_points"] * 8


@pytest.fixture()
def ext(tmp_path, monkeypatch):
    """The plans module with its index root under ``tmp_path/root``."""
    import epl_cas_etl_2026_spark.plans.extensions as ext

    monkeypatch.setattr(ext, "_pq_index_root", lambda _s, _f: str(tmp_path / "root"))
    return ext


def test_serve_from_artifacts_equals_inquery(spark, tmp_path):
    from epl_cas_etl_2026_spark.operators.similarity import (
        pq_adc_batch_serve,
        pq_adc_batch_topk,
        pq_encode,
        pq_fit,
    )

    emb = load_table(spark, SF, "embeddings")
    dim, m, k = 64, 8, 16
    codebooks = pq_fit(emb, dim=dim, m=m, k=k, iters=2)
    spark.createDataFrame(
        [
            (s, j, [float(x) for x in codebooks[s][j]])
            for s in range(m)
            for j in range(k)
        ],
        "sub_id int, code int, centroid array<double>",
    ).write.parquet(str(tmp_path / "cb"))
    pq_encode(emb, codebooks, dim=dim, m=m).select(
        "vec_id", "sub_id", "code"
    ).write.parquet(str(tmp_path / "codes"))
    qids = [r["vec_id"] for r in emb.filter("vec_id < 8").collect()]
    served = pq_adc_batch_serve(
        emb,
        spark.read.parquet(str(tmp_path / "cb")),
        spark.read.parquet(str(tmp_path / "codes")),
        qids,
        dim=dim, m=m, shortlist=30, topk=5,
    )
    inquery = pq_adc_batch_topk(
        emb, codebooks, qids, dim=dim, m=m, shortlist=30, topk=5
    )
    assert _rows(served) == _rows(inquery)


def test_failed_build_publishes_nothing_then_ensure_rebuilds(
    spark, tmp_path, monkeypatch, ext
):
    def failing_rename(src, dst):
        raise OSError("injected failure before the publish")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", failing_rename)
        with pytest.raises(OSError, match="injected"):
            ext._pq_index_build(spark, SF)
    root = tmp_path / "root"
    # the fully written temporary directory is gone and nothing is served
    assert os.listdir(root) == []
    index = ext._pq_index_ensure(spark, SF)
    assert index == str(root / "index")
    assert os.listdir(root) == ["index"]
    cb, codes = ext._pq_index_frames(spark, index)
    assert cb.count() == 128
    assert codes.count() == load_table(spark, SF, "embeddings").count() * 8


def test_racing_builds_publish_one_index(spark, tmp_path, monkeypatch, ext):
    """Both builds write their copy before either renames (a barrier
    in front of ``os.rename``), so exactly one rename wins and the
    other build serves the winner's directory."""
    both_written = threading.Barrier(2, timeout=600)
    rename = os.rename

    def rename_after_both_wrote(src, dst):
        both_written.wait()
        rename(src, dst)

    monkeypatch.setattr(os, "rename", rename_after_both_wrote)
    rows, errors = [], []

    def build():
        try:
            rows.append(ext.embedding_pq_index_build(spark, SF).collect()[0])
        except Exception as e:  # surfaced by the assert below
            errors.append(e)
            both_written.abort()

    threads = [threading.Thread(target=build) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=900)
        assert not t.is_alive()
    assert errors == []
    assert len(rows) == 2
    for b in rows:
        _assert_build_row_certified(b)
    assert os.listdir(tmp_path / "root") == ["index"]


def test_second_ensure_reuses_the_index_without_fitting(spark, monkeypatch, ext):
    import epl_cas_etl_2026_spark.operators.similarity as sim

    index = ext._pq_index_ensure(spark, SF)
    before = sorted(
        tuple(r) for r in ext._pq_index_frames(spark, index)[1].collect()
    )

    def no_fit(*_a, **_k):
        raise AssertionError("pq_fit called although the index is published")

    monkeypatch.setattr(sim, "pq_fit", no_fit)
    assert ext._pq_index_ensure(spark, SF) == index
    after = sorted(
        tuple(r) for r in ext._pq_index_frames(spark, index)[1].collect()
    )
    assert before == after


def test_a_build_leaves_one_root_per_sf(spark, tmp_path, monkeypatch):
    """Two builds with different index parameters leave one root of
    the sf, holding only ``index/``: the second build removes the
    first build's root and the legacy ``codebook/`` and ``codes/`` an
    older build left next to its own ``index/``. A root of another sf
    stays. Precondition of the removal: no other session serves an
    older index of the same sf at the same time."""
    import epl_cas_etl_2026_spark.plans.extensions as ext

    other_sf = tmp_path / "pq_sf0.1_0123456789ab"
    (other_sf / "index").mkdir(parents=True)
    spark.conf.set("spark.epl.scratch.dir", str(tmp_path))
    try:
        first = ext._pq_index_build(spark, SF)
        monkeypatch.setattr(ext, "_PQ_IDX", {**ext._PQ_IDX, "iters": 1})
        root = ext._pq_index_root(spark, SF)
        for legacy in ("codebook", "codes"):
            os.makedirs(os.path.join(root, legacy))
        second = ext._pq_index_build(spark, SF)
    finally:
        spark.conf.unset("spark.epl.scratch.dir")
    assert second == os.path.join(root, "index") != first
    assert sorted(os.listdir(tmp_path)) == sorted(
        [other_sf.name, os.path.basename(root)]
    )
    assert os.listdir(root) == ["index"]
    assert os.listdir(other_sf) == ["index"]


def test_gated_pair_green_shape(spark, ext):
    _assert_build_row_certified(ext.embedding_pq_index_build(spark, SF).collect()[0])
    s = ext.embedding_pq_index_serve(spark, SF).collect()[0]
    assert s["served_from_index"] is True
    assert s["inquery_mismatches"] == 0
    assert s["self_violations"] == 0
    assert s["n_rows"] == s["n_queries"] * 10


def test_serve_plan_is_arrow_free(spark, ext):
    """The whole point of the persisted index: serving touches no
    Python/Arrow stage (pq_fit and pq_encode are Arrow-batched; the
    serve plan must contain neither — LUT construction is a JVM array
    slice and the corpus side is a parquet scan of the codes table)."""
    from epl_cas_etl_2026_spark.operators.similarity import (
        pq_adc_batch_serve,
    )

    cb, codes = ext._pq_index_frames(spark, ext._pq_index_ensure(spark, SF))
    emb = load_table(spark, SF, "embeddings")
    served = pq_adc_batch_serve(
        emb, cb, codes, [0, 1],
        dim=64, m=8, shortlist=30, topk=5,
    )
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" not in plan
