"""Versioned-table commit primitive: snapshot isolation, time travel,
concurrent blind appends, vacuum (sources/versioned.py)."""

from __future__ import annotations

import os

import pytest

from epl_cas_etl_2026_spark.sources.versioned import VersionedTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, val string")


def test_commit_and_time_travel(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    assert t.latest_version() is None
    t.commit(_df(spark, [(1, "a"), (2, "b")]))
    t.commit(_df(spark, [(1, "a2")]))
    assert t.latest_version() == 1
    assert sorted(map(tuple, t.read(spark).collect())) == [(1, "a2")]
    # time travel: version 0 is intact after the new commit
    assert sorted(map(tuple, t.read(spark, version=0).collect())) == [
        (1, "a"),
        (2, "b"),
    ]
    with pytest.raises(ValueError):
        t.read(spark, version=9)


def test_failed_commit_leaves_pointer_untouched(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    # simulate a crash AFTER the snapshot write, BEFORE the swap: an
    # orphan v=1 directory must not be served, and vacuum removes it
    _df(spark, [(9, "x")]).write.parquet(os.path.join(t.root, "v=1"))
    assert t.latest_version() == 0
    assert sorted(map(tuple, t.read(spark).collect())) == [(1, "a")]
    # default grace window: a just-written orphan could be a LIVE
    # writer mid-commit, so vacuum must leave it alone...
    assert t.vacuum(keep_last=1) == []
    assert os.path.exists(os.path.join(t.root, "v=1"))
    # ...and with the grace waived (no writer can be in flight) the
    # orphan is reported and removed
    assert t.vacuum(keep_last=1, grace_seconds=0) == [1]
    assert not os.path.exists(os.path.join(t.root, "v=1"))


def test_vacuum_keeps_recent_versions(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    for i in range(4):
        t.commit(_df(spark, [(i, "x")]))
    assert t.vacuum(keep_last=2) == [0, 1]
    assert sorted(map(tuple, t.read(spark, version=2).collect())) == [(2, "x")]
    assert t.latest_version() == 3


# -- round-9: concurrent writers (put-if-absent commit markers) ----------


def test_blind_append_racing_writers_both_land(spark, tmp_path):
    import threading

    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(0, "base")]))
    barrier = threading.Barrier(2)
    results: dict[str, int] = {}

    def writer(tag):
        df = _df(spark, [(1, tag)])
        barrier.wait()
        results[tag] = t.commit(df)  # no expectation: blind append

    threads = [threading.Thread(target=writer, args=(w,)) for w in ("A", "B")]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    # both commits land, at distinct versions, nothing lost
    assert sorted(results.values()) == [1, 2]
    assert t.latest_version() == 2
    for tag, v in results.items():
        assert sorted(map(tuple, t.read(spark, version=v).collect())) == [
            (1, tag)
        ]


def test_legacy_pointer_layout_still_readable(spark, tmp_path):
    # a table written by the pre-round-9 layout: plain v=N dirs + a
    # _latest pointer file, no _commits markers
    root = tmp_path / "legacy"
    os.makedirs(root)
    _df(spark, [(1, "a")]).write.parquet(str(root / "v=0"))
    _df(spark, [(1, "b")]).write.parquet(str(root / "v=1"))
    with open(root / "_latest", "w") as f:
        f.write("1")
    t = VersionedTable(str(root))
    assert t.latest_version() == 1
    assert sorted(map(tuple, t.read(spark).collect())) == [(1, "b")]
    assert sorted(map(tuple, t.read(spark, version=0).collect())) == [(1, "a")]
    # new commits on top of a legacy table use the marker protocol
    v = t.commit(_df(spark, [(1, "c")]))
    assert v == 2
    assert sorted(map(tuple, t.read(spark).collect())) == [(1, "c")]


def test_vacuum_sweeps_crashed_marker_staging(spark, tmp_path):
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    # a hard-crashed writer left its marker staging file behind
    stale = os.path.join(t.root, "_commits", ".tmp_deadbeef_7")
    with open(stale, "w") as f:
        f.write("deadbeef")
    # a fresh staging file might belong to a live writer between its
    # data write and marker link — the grace window protects it
    t.vacuum(keep_last=1)
    assert os.path.exists(stale)
    t.vacuum(keep_last=1, grace_seconds=0)
    assert not os.path.exists(stale)
    assert t.latest_version() == 0


# -- round-10: writer-crash recovery + vacuum/writer race hardening -------


def test_writer_crash_after_write_before_marker(spark, tmp_path):
    """A writer that dies AFTER df.write and BEFORE the marker link
    leaves a fully-written nonce dir and (possibly) a marker staging
    file. Readers must never see either; vacuum reports the dir as an
    orphan once the grace window passes."""
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    # simulate the crash: nonce data dir written, marker never linked
    crashed = os.path.join(t.root, "v=1_deadbeefcafe")
    _df(spark, [(9, "ghost")]).write.parquet(crashed)
    staging = os.path.join(t.root, "_commits", ".tmp_deadbeefcafe_1")
    with open(staging, "w") as f:
        f.write("deadbeefcafe")
    # readers never see the crashed attempt
    assert t.latest_version() == 0
    assert sorted(map(tuple, t.read(spark).collect())) == [(1, "a")]
    with pytest.raises(ValueError):
        t.read(spark, version=1)
    # within the grace window the attempt is indistinguishable from a
    # live writer: vacuum must not touch it
    assert t.vacuum(keep_last=1) == []
    assert os.path.isdir(crashed) and os.path.exists(staging)
    # past the grace window (simulated by aging the mtimes) it is an
    # orphan: reported by version number and fully swept
    old = (os.path.getmtime(crashed) - 7200,) * 2
    os.utime(crashed, old)
    os.utime(staging, old)
    assert t.vacuum(keep_last=1) == [1]
    assert not os.path.isdir(crashed) and not os.path.exists(staging)
    # the table is exactly as before the crash, and new commits proceed
    assert t.commit(_df(spark, [(2, "b")])) == 1
    assert sorted(map(tuple, t.read(spark).collect())) == [(2, "b")]


def test_commit_detects_vacuumed_data_dir(spark, tmp_path, monkeypatch):
    """A graceless concurrent vacuum that removes an in-flight attempt
    dir between the data write and the marker link must NOT produce a
    marker pointing at nothing: commit unpublishes and raises."""
    import epl_cas_etl_2026_spark.sources.versioned as vmod
    from epl_cas_etl_2026_spark.sources.versioned import CommitConflictError

    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))

    real_link = os.link

    def link_then_vacuum(src, dst, **kw):
        real_link(src, dst, **kw)
        # simulate the racing graceless vacuum landing right after the
        # marker publish: the attempt dir vanishes under the writer
        for name in os.listdir(t.root):
            if name.startswith("v=1_"):
                import shutil

                shutil.rmtree(os.path.join(t.root, name))

    monkeypatch.setattr(vmod.os, "link", link_then_vacuum)
    with pytest.raises(CommitConflictError):
        t.commit(_df(spark, [(2, "b")]))
    monkeypatch.undo()
    # the marker was unpublished: readers still see version 0 and a
    # retry lands cleanly at version 1
    assert t.latest_version() == 0
    assert sorted(map(tuple, t.read(spark).collect())) == [(1, "a")]
    assert t.commit(_df(spark, [(2, "b")])) == 1
    assert sorted(map(tuple, t.read(spark).collect())) == [(2, "b")]


def test_vacuum_skips_unparseable_entries(spark, tmp_path):
    """Stray v=-prefixed non-protocol entries (hand-made dirs, legacy
    droppings) must neither abort the sweep nor be deleted."""
    t = VersionedTable(str(tmp_path / "t"))
    for i in range(3):
        t.commit(_df(spark, [(i, "x")]))
    stray = os.path.join(t.root, "v=SUCCESS-era")
    os.makedirs(stray)
    # the sweep completes past the stray entry and still retires v=0
    assert t.vacuum(keep_last=2) == [0]
    assert os.path.isdir(stray)
    assert t.latest_version() == 2


def _race_commits(spark, t, grace_seconds: float, n: int = 8):
    """Run ``n`` blind-append commits against a concurrent vacuum loop
    at the given grace; return (landed, rolled_back). Asserts the
    no-torn-table invariant at every observation point."""
    import threading

    stop = threading.Event()
    vacuum_errors: list = []

    def vacuum_loop():
        while not stop.is_set():
            try:
                t.vacuum(keep_last=1, grace_seconds=grace_seconds)
            except Exception as ex:  # noqa: BLE001 — any crash fails
                vacuum_errors.append(ex)
                return

    vt = threading.Thread(target=vacuum_loop)
    vt.start()
    landed = rolled_back = 0
    try:
        for i in range(1, n + 1):
            try:
                v = t.commit(_df(spark, [(i, f"w{i}")]))
            except Exception:
                # rolled-back commit: the table must still be readable
                assert t.read(spark).count() == 1
                rolled_back += 1
                continue
            landed += 1
            # the snapshot this commit returned is ALWAYS complete
            rows = sorted(map(tuple, t.read(spark, version=v).collect()))
            assert rows == [(i, f"w{i}")]
    finally:
        stop.set()
        vt.join()
    assert not vacuum_errors, vacuum_errors
    # final state consistent either way
    assert t.latest_version() is not None
    assert t.read(spark).count() == 1
    return landed, rolled_back


def test_vacuum_restores_dir_published_mid_sweep(spark, tmp_path, monkeypatch):
    """The r10-advice TOCTOU, closed deterministically: vacuum
    classifies an aged attempt dir as unpublished, then a writer links
    its marker BEFORE vacuum's rename-aside lands. The post-rename
    marker re-read must detect the publish and restore the dir — the
    marker may never end up pointing at nothing."""
    import shutil as _sh

    import epl_cas_etl_2026_spark.sources.versioned as vmod

    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    # an aged, fully-written, unpublished attempt at version 1
    nonce = "cafe0000beef"
    attempt = os.path.join(t.root, f"v=1_{nonce}")
    _df(spark, [(2, "b")]).write.parquet(attempt)
    os.utime(attempt, (os.path.getmtime(attempt) - 7200,) * 2)

    real_rename = os.rename

    def publish_then_rename(src, dst):
        # the racing writer wins the gap between vacuum's classification
        # and its rename-aside: the marker for v=1 goes live first
        if src == attempt and not os.path.exists(t._marker_path(1)):
            with open(t._marker_path(1), "w") as f:
                f.write(nonce)
        real_rename(src, dst)

    monkeypatch.setattr(vmod.os, "rename", publish_then_rename)
    removed = t.vacuum(keep_last=1, grace_seconds=0)
    monkeypatch.undo()
    # v=1 was published mid-sweep: vacuum must have restored it (v=0
    # was still latest at sweep start, so it stays too)
    assert removed == []
    assert os.path.isdir(attempt)
    assert t.latest_version() == 1
    assert sorted(map(tuple, t.read(spark).collect())) == [(2, "b")]
    # no .trash_ residue
    assert not [n for n in os.listdir(t.root) if n.startswith(".trash_")]
    _sh.rmtree(t.root)


def test_vacuum_repairs_crashed_trash_dir(spark, tmp_path):
    """A vacuum that crashed between its rename-aside and the marker
    re-verify leaves a .trash_ dir. The next sweep restores it when its
    marker is live, and ages it out like an orphan when it is not."""
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    t.commit(_df(spark, [(2, "b")]))
    # simulate the crash: v=1's PUBLISHED dir sits renamed aside
    live = t._version_dir(1)
    name = os.path.basename(live)
    os.rename(live, os.path.join(t.root, f".trash_{name}_deadbeef"))
    assert t.vacuum(keep_last=2, grace_seconds=0) == []
    assert os.path.isdir(live), "live snapshot must be restored"
    assert sorted(map(tuple, t.read(spark).collect())) == [(2, "b")]
    # an UNPUBLISHED trash dir (no marker) ages out under grace
    orphan_trash = os.path.join(t.root, ".trash_v=9_feedface_0badc0de")
    os.makedirs(orphan_trash)
    assert t.vacuum(keep_last=2, grace_seconds=3600) == []  # young: kept
    assert os.path.isdir(orphan_trash)
    os.utime(orphan_trash, (os.path.getmtime(orphan_trash) - 7200,) * 2)
    t.vacuum(keep_last=2, grace_seconds=3600)
    assert not os.path.isdir(orphan_trash)


def test_read_retries_when_vacuum_retires_resolved_version(
    spark, tmp_path, monkeypatch
):
    """r10 verdict item 5: a latest-version reader resolves N, then a
    concurrent vacuum(keep_last=1) retires N because N+1 just landed.
    read() must re-resolve and serve N+1 instead of failing on the
    missing directory. Pinned time-travel reads still raise."""
    import shutil as _sh

    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    v0_dir = t._version_dir(0)
    t.commit(_df(spark, [(2, "b")]))

    # deterministic interleaving: the reader's first latest_version()
    # answers 0 (stale resolve); then vacuum lands (v=0 dir gone);
    # subsequent calls answer the truth
    real_latest = VersionedTable.latest_version
    calls = {"n": 0}

    def stale_then_fresh(self):
        calls["n"] += 1
        if calls["n"] == 1:
            return 0
        return real_latest(self)

    monkeypatch.setattr(VersionedTable, "latest_version", stale_then_fresh)
    _sh.rmtree(v0_dir)  # the vacuum retiring N under the reader
    assert sorted(map(tuple, t.read(spark).collect())) == [(2, "b")]
    monkeypatch.undo()
    # a pinned historic read of the vacuumed version must NOT retarget
    with pytest.raises(Exception):
        t.read(spark, version=0).collect()


def test_commit_vacuum_race_graceless_never_tears(spark, tmp_path):
    """The harshest misuse: a GRACELESS vacuum spin-loop racing a
    writer. Writers may starve (every attempt dir can be swept between
    the data write and the marker link — this run typically rolls back
    most commits, which is WHY vacuum defaults to a grace window), but
    the table must never tear: every commit either lands complete or
    raises cleanly, and reads stay consistent throughout."""
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(0, "base")]))
    landed, rolled_back = _race_commits(spark, t, grace_seconds=0)
    assert landed + rolled_back == 8


def test_commit_vacuum_race_with_grace_makes_progress(spark, tmp_path):
    """Under the DEFAULT grace window the same race is safe AND live:
    in-flight attempt dirs are protected by age, so every commit
    lands."""
    t = VersionedTable(str(tmp_path / "t"))
    t.commit(_df(spark, [(0, "base")]))
    landed, rolled_back = _race_commits(spark, t, grace_seconds=3600)
    assert (landed, rolled_back) == (8, 0)
