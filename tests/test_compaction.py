"""Tiered compaction tests (reference internal/compaction/manager_test.go:
classify-by-tier, candidate selection, merge correctness). Plans come
from the live-set planner and merges run through Engine.compact, which
commits them: a merge nobody commits is invisible to every reader."""

import json
import os

from diskstate import (age_past_grace, data_files, expire_leases, live_files,
                       never_added)
from miniodb_spark.compaction import (
    MAX_FILES_PER_RUN,
    MB,
    file_tier,
    plan_table,
)

US = 1_000_000
DAY = 86_400 * US
T0 = 1_700_000_000 * US


def test_file_tier_classification():
    assert file_tier(1 * MB) == 0
    assert file_tier(16 * MB) == 1
    assert file_tier(63 * MB) == 1
    assert file_tier(200 * MB) == 2
    assert file_tier(512 * MB) == 3
    assert file_tier(2048 * MB) == 4  # beyond L3: untouched


def _plans(engine, table):
    return plan_table(engine._table_dir(table), engine.live_objects(table))


def _count_parquet(table_dir):
    n = 0
    for root, _, files in os.walk(table_dir):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_compaction_merges_small_files(engine):
    # 8 separate flushes → 8 small L0 files in one dt partition
    for i in range(8):
        engine.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
        engine.flush("t")
    table_dir = os.path.join(engine.root, "t")
    before = _count_parquet(table_dir)
    assert before == 8

    plans = _plans(engine, "t")
    assert len(plans) == 1 and plans[0].tier == 0 and len(plans[0].files) == 8

    stats = engine.compact("t")
    assert stats[0]["inputs"] == 8 and stats[0]["outputs"] == 1
    assert _count_parquet(table_dir) == 1

    # data survives losslessly (no schema collapse)
    rows = json.loads(engine.query("SELECT id, v FROM t"))
    assert sorted(r["v"] for r in rows) == list(range(8))


def test_compaction_respects_min_files(engine):
    for i in range(3):  # below the L0 threshold of 5
        engine.write("t2", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
        engine.flush("t2")
    assert _plans(engine, "t2") == []
    assert engine.compact("t2") == []


def test_compaction_partition_isolation(engine):
    # 5 files in day A, 1 in day B → only day A compacts
    for i in range(5):
        engine.write("t3", {"v": i}, record_id=f"a{i}", timestamp_us=T0)
        engine.flush("t3")
    engine.write("t3", {"v": 99}, record_id="b0", timestamp_us=T0 + DAY)
    engine.flush("t3")
    plans = _plans(engine, "t3")
    assert len(plans) == 1
    assert "dt=" in plans[0].partition_dir
    assert len(engine.compact("t3")) == 1
    rows = json.loads(engine.query("SELECT count(*) AS n FROM t3"))
    assert rows[0]["n"] == 6


def test_compaction_caps_files_per_run(engine, tmp_path):
    for i in range(25):
        engine.write("t4", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
        engine.flush("t4")
    plans = _plans(engine, "t4")
    assert len(plans[0].files) == MAX_FILES_PER_RUN


def test_compaction_with_zorder_clusters_rewrite(engine):
    """compact(zorder_by=...) is the OPTIMIZE-ZORDER analog: the
    rewritten partition is Morton-clustered, losslessly."""
    import random

    rng = random.Random(7)
    for i in range(6):
        for j in range(40):
            engine.write("zt", {"u": rng.randint(0, 1000),
                                "m": rng.randint(0, 1000)},
                         record_id=f"r{i}-{j}", timestamp_us=T0)
        engine.flush("zt")
    table_dir = os.path.join(engine.root, "zt")
    assert _count_parquet(table_dir) == 6

    stats = engine.compact("zt", zorder_by=["u", "m"])
    assert stats and stats[0]["inputs"] == 6
    # lossless
    rows = json.loads(engine.query("SELECT id, u, m FROM zt LIMIT 500"))
    assert len(rows) == 240
    # missing zorder columns are skipped, not fatal
    for i in range(5):
        engine.write("zt2", {"v": i}, record_id=f"s{i}", timestamp_us=T0)
        engine.flush("zt2")
    stats2 = engine.compact("zt2", zorder_by=["nonexistent_col"])
    assert stats2[0]["outputs"] >= 1
    rows2 = json.loads(engine.query("SELECT v FROM zt2"))
    assert len(rows2) == 5


def test_engine_compact_invalidates_cache_and_rest_route(engine):
    """Engine.compact is the maintenance entry point: it must refuse
    unknown tables, rewrite files, and invalidate cached results whose
    inputs it rewrote; the REST route exposes it."""
    import json as _json
    import urllib.request

    import pytest as _pytest

    from miniodb_spark.api import MiniODBService
    from miniodb_spark.rest import RestServer

    with _pytest.raises(ValueError, match="no such table"):
        engine.compact("ghost")

    for i in range(6):
        engine.write("ec", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
        engine.flush("ec")
    # populate the cache, then compact — the cached entry must not be
    # served from files that no longer exist
    first = engine.query("SELECT count(*) AS n FROM ec")
    stats = engine.compact("ec")
    assert stats and stats[0]["inputs"] == 6
    assert engine.query("SELECT count(*) AS n FROM ec") == first

    svc = MiniODBService(engine)
    srv = RestServer(svc, port=0).serve_background()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/v1/tables/ec/optimize",
            data=_json.dumps({"zorder_by": ["v"]}).encode(),
            headers={"Content-Type": "application/json"})
        out = _json.loads(urllib.request.urlopen(req).read())
        assert out["success"] is True  # nothing left to merge is still ok
    finally:
        srv.shutdown()


def test_compact_fault_sweep(spark, tmp_path, monkeypatch):
    """A fault at every mutating filesystem call of one 6-file
    compaction: afterwards a freshly booted Engine reads the 6 seeded
    rows exactly once, and its pruned lookups agree. The outputs are
    invisible until the commit; the collector deletes the inputs only
    after it. A fresh Engine's vacuum() then deletes every file a
    commit removed, and once the grace age has passed, also every
    output the fault left uncommitted: the disk holds exactly the live
    files."""
    from faultfs import FaultFS, InjectedFault
    from miniodb_spark import engine as engine_mod
    from miniodb_spark.fs import LocalFS

    monkeypatch.setattr(engine_mod, "get_fs",
                        lambda spark, root: FaultFS(LocalFS()))
    want = [f"r{i}" for i in range(6)]

    def prepare(root):
        eng = engine_mod.Engine(spark, root)
        for i in range(6):  # six one-file flushes into one day: L0 merges
            eng.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0 + i)
            eng.flush("t")
        return eng

    def ids(df):
        return sorted(r["id"] for r in df.select("id").collect())

    eng = prepare(str(tmp_path / "count"))
    eng.fs.arm()
    assert eng.compact("t")[0]["inputs"] == 6
    eng.fs.disarm()
    calls = list(eng.fs.calls)
    assert [m for m, p in calls if p.endswith(".parquet")] == (
        ["move"] + ["remove_file"] * 6)
    assert sum(m == "remove_dir" and ".compact_" in p for m, p in calls) == 1
    assert data_files(eng, "t") == live_files(eng, "t")
    for k in range(1, len(calls) + 1):
        root = str(tmp_path / f"k{k}")
        eng = prepare(root)
        eng.fs.arm(fail_at=k)
        try:
            eng.compact("t")
        except InjectedFault:
            pass
        eng.fs.disarm()
        expire_leases(root)
        fresh = engine_mod.Engine(spark, root)
        assert ids(fresh.read_table("t")) == want, (k, calls[k - 1])
        for rid in ("r0", "r5"):
            assert ids(fresh.point_lookup_df("t", rid)[0]) == [rid], (
                k, calls[k - 1])
        fresh.vacuum("t")
        if calls[k - 1][0] == "remove_dir" and ".compact_" in calls[k - 1][1]:
            # a failed temp-dir removal removes the moved-in outputs
            # too: nothing is left for the grace age
            assert data_files(fresh, "t") == live_files(fresh, "t"), k
        assert sorted(live_files(fresh, "t") + never_added(fresh, "t")) == (
            data_files(fresh, "t")), (k, calls[k - 1])
        age_past_grace(os.path.join(root, "t"))
        fresh.vacuum("t")
        assert data_files(fresh, "t") == live_files(fresh, "t"), (k, calls[k - 1])
        assert ids(fresh.read_table("t")) == want, (k, calls[k - 1])


def test_vacuum_fault_sweep(spark, tmp_path, monkeypatch):
    """A fault at every mutating filesystem call of one vacuum() on a
    retain_history store holding compaction inputs, a partition a
    delete() rewrote, one a delete() emptied (its directory goes) and
    an orphan past the grace age: afterwards a
    freshly booted Engine reads the head exactly, and a rerun of
    vacuum() leaves exactly the live files on disk."""
    import shutil

    from faultfs import FaultFS, InjectedFault
    from miniodb_spark import engine as engine_mod
    from miniodb_spark.fs import LocalFS

    monkeypatch.setattr(engine_mod, "get_fs",
                        lambda spark, root: FaultFS(LocalFS()))
    seed = str(tmp_path / "seed")
    eng = engine_mod.Engine(spark, seed, retain_history=True)
    for i in range(6):  # six one-file flushes into day A: L0 merges
        eng.write("t", {"v": i}, record_id=f"a{i}", timestamp_us=T0 + i)
        eng.flush("t")
    for i in range(3):  # day B: one file, superseded by the delete
        eng.write("t", {"v": i}, record_id=f"b{i}", timestamp_us=T0 + DAY)
    # day C: one row, so its delete leaves the directory no live file
    eng.write("t", {"v": 0}, record_id="c0", timestamp_us=T0 + 2 * DAY)
    eng.flush("t")
    assert eng.compact("t")[0]["inputs"] == 6
    assert eng.delete("t", "b1") == 1
    assert eng.delete("t", "c0") == 1
    want = sorted(r["id"] for r in eng.read_table("t").collect())
    assert len(want) == 8
    gdir = eng._gen_dir("t", 0)
    rel, dt = eng.catalog.live_files("t")[0][0]
    orphan = os.path.join(gdir, f"dt={dt}", "part-00000-orphan.parquet")
    shutil.copy(os.path.join(gdir, rel), orphan)
    age_past_grace(os.path.join(seed, "t"))
    # the inputs, the two superseded files and the orphan are on disk
    assert len(data_files(eng, "t")) == len(live_files(eng, "t")) + 9

    def prepare(root):
        shutil.copytree(seed, root)
        return engine_mod.Engine(spark, root, retain_history=True)

    eng = prepare(str(tmp_path / "count"))
    eng.fs.arm()
    assert eng.vacuum("t") == 9
    eng.fs.disarm()
    calls = list(eng.fs.calls)
    assert data_files(eng, "t") == live_files(eng, "t")
    assert [m for m, _p in calls].count("remove_dir") == 1
    for k in range(1, len(calls) + 1):
        root = str(tmp_path / f"k{k}")
        eng = prepare(root)
        eng.fs.arm(fail_at=k)
        try:
            eng.vacuum("t")
        except InjectedFault:
            pass
        eng.fs.disarm()
        expire_leases(root)
        fresh = engine_mod.Engine(spark, root, retain_history=True)
        got = sorted(r["id"] for r in fresh.read_table("t").collect())
        assert got == want, (k, calls[k - 1])
        fresh.vacuum("t")
        assert data_files(fresh, "t") == live_files(fresh, "t"), (k, calls[k - 1])
