"""Storage abstraction: the same mutation/compaction/retention code must
run through the Hadoop FileSystem path (any scheme Spark can write,
incl. s3a://). Simulated here with file:// URIs — same code path as
s3a://, different scheme handler."""

import json

import pytest
from pyspark.sql import functions as F

from diskstate import data_files, live_files
from miniodb_spark.engine import Engine
from miniodb_spark.fs import HadoopFS, LocalFS, get_fs, join

US = 1_000_000
T0 = 1_700_000_000 * US


def test_get_fs_dispatch(spark, tmp_path):
    assert isinstance(get_fs(spark, str(tmp_path)), LocalFS)
    assert isinstance(get_fs(spark, f"file://{tmp_path}"), HadoopFS)
    assert isinstance(get_fs(spark, "s3a://bucket/prefix"), HadoopFS)


def test_hadoop_fs_primitives(spark, tmp_path):
    fs = HadoopFS(spark)
    root = f"file://{tmp_path}/hfs"
    fs.makedirs(join(root, "a", "dt=2024-01-01"))
    assert fs.is_dir(join(root, "a"))
    # Hadoop normalizes file:// to file:/ in returned URIs; compare suffix
    dirs = fs.list_dirs(join(root, "a"), prefix="dt=")
    assert len(dirs) == 1 and dirs[0].endswith("/a/dt=2024-01-01")
    # write a file via spark, then list/move/remove through the fs
    spark.range(10).write.mode("overwrite").parquet(join(root, "a", "dt=2024-01-01"))
    files = fs.list_files(join(root, "a", "dt=2024-01-01"), suffix=".parquet")
    assert files and all(sz > 0 for _, sz in files)
    src = files[0][0]
    dst = join(root, "a", "dt=2024-01-01", "moved.parquet")
    fs.move(src, dst)
    assert not fs.exists(src) and fs.exists(dst)
    fs.remove_file(dst)
    assert not fs.exists(dst)
    fs.remove_dir(join(root, "a"))
    assert not fs.exists(join(root, "a"))


@pytest.fixture()
def uri_engine(spark, tmp_path):
    """Engine rooted at a file:// URI — all data-path ops go through
    HadoopFS exactly as they would for s3a://."""
    return Engine(spark, f"file://{tmp_path}/store")


def test_mutations_through_hadoop_fs(uri_engine):
    eng = uri_engine
    assert isinstance(eng.fs, HadoopFS)
    for i in range(6):
        eng.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0 + i)
    eng.flush()
    assert eng.delete("t", "r3") == 1
    rows = json.loads(eng.query("SELECT id FROM t ORDER BY id"))
    assert [r["id"] for r in rows] == ["r0", "r1", "r2", "r4", "r5"]
    # update through the same copy-on-write path
    eng.update("t", "r0", {"v": 100}, timestamp_us=T0)
    rows = json.loads(eng.query("SELECT v FROM t WHERE id = 'r0'"))
    assert rows == [{"v": 100}]


def test_compaction_through_hadoop_fs(uri_engine, spark):
    from miniodb_spark.compaction import plan_table

    eng = uri_engine
    # several flushes → several small files in one partition
    for batch in range(5):
        for i in range(3):
            eng.write("c", {"v": batch * 10 + i}, record_id=f"b{batch}r{i}",
                      timestamp_us=T0)
        eng.flush()
    tdir = eng._table_dir("c")
    plans = plan_table(tdir, eng.live_objects("c"))
    assert plans and plans[0].tier == 0 and len(plans[0].files) == 5
    before = json.loads(eng.query("SELECT count(*) AS n FROM c"))[0]["n"]
    stats = eng.compact("c")
    assert stats and stats[0]["inputs"] == 5 and stats[0]["outputs"] == 1
    eng.cache.invalidate_table("c")
    after = json.loads(eng.query("SELECT count(*) AS n FROM c"))[0]["n"]
    assert after == before == 15
    assert len(eng.fs.list_files(
        join(tdir, "gen=0", f"dt=2023-11-14"), suffix=".parquet")) == 1


def test_retention_through_hadoop_fs(uri_engine):
    eng = uri_engine
    eng.create_table("r")
    cfg = eng.get_table("r")
    cfg.retention_days = 30
    day_us = 86400 * US
    import time
    now_us = int(time.time() * US)
    eng.write("r", {"v": 1}, record_id="old", timestamp_us=now_us - 90 * day_us)
    eng.write("r", {"v": 2}, record_id="new", timestamp_us=now_us)
    eng.flush()
    removed = eng.enforce_retention()
    assert removed == 1
    rows = json.loads(eng.query("SELECT id FROM r"))
    assert [r["id"] for r in rows] == ["new"]


def test_rewrite_commit_is_rename_free(uri_engine, monkeypatch):
    """The mutation data path must never rename: on s3a:// a rename is a
    non-atomic copy+delete. Survivors land directly in a fresh gen dir
    and the commit is the catalog flip."""
    eng = uri_engine
    moves = []
    orig_move = eng.fs.move
    monkeypatch.setattr(eng.fs, "move",
                        lambda s, d: (moves.append((s, d)), orig_move(s, d)))
    for i in range(4):
        eng.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0 + i)
    eng.flush()
    assert eng.delete("t", "r1") == 1
    assert moves == []
    rows = json.loads(eng.query("SELECT id FROM t ORDER BY id"))
    assert [r["id"] for r in rows] == ["r0", "r2", "r3"]


def test_rewrite_crash_before_commit_is_invisible(uri_engine):
    """Crash window 1: survivors appended into the generation's own
    ``dt=`` directory but the commit never happened. Readers must see
    the table exactly as before (no commit added the orphan files)."""
    eng = uri_engine
    for i in range(3):
        eng.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0 + i)
    eng.flush()
    # simulate: a rewrite wrote survivors into gen=0 and died pre-commit
    (eng.read_persisted("t").filter(F.col("id") != "r1").drop("gen")
     .write.mode("append").partitionBy("dt").parquet(eng._gen_dir("t", 0)))
    assert len(data_files(eng, "t")) > len(live_files(eng, "t"))
    rows = json.loads(eng.query("SELECT id FROM t ORDER BY id"))
    assert [r["id"] for r in rows] == ["r0", "r1", "r2"]  # unchanged


def test_rewrite_crash_between_commit_and_gc(uri_engine, monkeypatch):
    """Crash window 2: the catalog flip committed but the collector did
    not run. The superseded files must be invisible to reads, and the
    next mutation's collection must delete them."""
    from miniodb_spark import mutations

    eng = uri_engine
    for i in range(4):
        eng.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0 + i)
    eng.flush()
    superseded = live_files(eng, "t")
    # crash the collection step
    monkeypatch.setattr(mutations, "gc_superseded", lambda *_: 0)
    assert eng.delete("t", "r2") == 1
    # commit recorded: the old file is no longer live...
    assert not set(superseded) & set(live_files(eng, "t"))
    old_part = join(eng._gen_dir("t", 0), "dt=2023-11-14")
    assert eng.fs.is_dir(old_part)  # old files still on disk...
    assert set(superseded) <= set(data_files(eng, "t"))
    rows = json.loads(eng.query("SELECT id FROM t ORDER BY id"))
    assert [r["id"] for r in rows] == ["r0", "r1", "r3"]  # ...but invisible
    # restart-equivalent: a fresh engine on the same root reads the same
    eng2 = Engine(eng.spark, eng.root)
    rows = json.loads(eng2.query("SELECT id FROM t ORDER BY id"))
    assert [r["id"] for r in rows] == ["r0", "r1", "r3"]
    # the next mutation's collection deletes them
    monkeypatch.undo()
    assert eng2.delete("t", "r0") == 1
    assert data_files(eng2, "t") == live_files(eng2, "t")
    assert not set(superseded) & set(data_files(eng2, "t"))
    rows = json.loads(eng2.query("SELECT id FROM t ORDER BY id"))
    assert [r["id"] for r in rows] == ["r1", "r3"]


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_vacuum_keeps_uncommitted_file_until_grace_age(spark, tmp_path,
                                                        scheme):
    """A data file no commit added — a crashed writer's output — is
    kept by vacuum() while it is younger than the grace age (its writer
    may still commit it) and deleted once it is older. The age comes
    from ``list_files_mtime`` on both filesystems."""
    import os
    import shutil
    import time

    from miniodb_spark.mutations import GC_GRACE_S

    eng = Engine(spark, f"{scheme}{tmp_path}/store")
    assert isinstance(eng.fs, HadoopFS if scheme else LocalFS)
    for i in range(3):
        eng.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
    eng.flush()
    (rel, dt), = eng.catalog.live_files("t")[0]
    gdir = os.path.join(str(tmp_path), "store", "t", "gen=0")
    planted = os.path.join(gdir, f"dt={dt}", "part-00000-planted.parquet")
    shutil.copy(os.path.join(gdir, rel), planted)
    listed = dict(eng.fs.list_files_mtime(join(eng._gen_dir("t", 0), f"dt={dt}")))
    assert len(listed) == 2
    assert all(abs(m / 1e6 - time.time()) < 600 for m in listed.values())

    assert eng.vacuum("t") == 0
    assert os.path.exists(planted)
    old = time.time() - GC_GRACE_S - 60
    os.utime(planted, (old, old))
    assert eng.vacuum("t") == 1
    assert not os.path.exists(planted)
    assert data_files(eng, "t") == live_files(eng, "t") == [f"gen=0/{rel}"]
    rows = json.loads(eng.query("SELECT id FROM t ORDER BY id"))
    assert [r["id"] for r in rows] == ["r0", "r1", "r2"]


def test_hadoopfs_bytes_and_copy(spark, tmp_path):
    """read_bytes/write_bytes/copy over the JVM Hadoop FileSystem — the
    exact code path the version-store KV and object backup use on
    s3a:// roots."""
    fs = HadoopFS(spark)
    root = f"file://{tmp_path}/hbytes"
    fs.makedirs(root)
    payload = b"nonce-\x00\xff-binary"
    fs.write_bytes(f"{root}/k1", payload)
    assert fs.read_bytes(f"{root}/k1") == payload
    # overwrite (object PUT semantics)
    fs.write_bytes(f"{root}/k1", b"v2")
    assert fs.read_bytes(f"{root}/k1") == b"v2"
    fs.copy(f"{root}/k1", f"{root}/sub/k1copy")
    assert fs.read_bytes(f"{root}/sub/k1copy") == b"v2"
    # a large-ish payload exercises the chunked read loop
    big = bytes(range(256)) * 1024  # 256 KiB
    fs.write_bytes(f"{root}/big", big)
    assert fs.read_bytes(f"{root}/big") == big


def test_object_backup_on_hadoopfs_root(spark, tmp_path):
    """Data backup + restore with the engine rooted at a file:// URI —
    object copies go through Hadoop FileUtil.copy, as on s3a://."""
    import json

    from miniodb_spark.api import MiniODBService

    eng = Engine(spark, f"file://{tmp_path}/ostore")
    svc = MiniODBService(eng)
    t0 = 1_700_000_000 * 1_000_000
    svc.write_data("t", {"id": "a", "timestamp": t0, "payload": {"v": 3}})
    eng.flush()
    bk = svc.backup_data(["t"])
    assert bk["tables"]["t"] >= 1
    svc.delete_table("t")
    svc.restore_data(bk["object_name"])
    rows = json.loads(svc.query_data("SELECT id, v FROM t")["result_json"])
    assert rows == [{"id": "a", "v": 3}]


def test_local_metadata_follows_its_store(spark, tmp_path, monkeypatch):
    """An object-store root's catalog lives in a driver-local directory
    keyed by the root URI. A store removed and recreated at the same URI
    gets a new id, so the old catalog is set aside, neither replayed
    (its files are gone) nor deleted; a directory written before stores
    had an id adopts the id of a store that holds tables."""
    import os
    import shutil

    monkeypatch.setenv("HOME", str(tmp_path / "home"))
    root = f"file://{tmp_path}/store"
    eng = Engine(spark, root)
    eng.write("t", {"v": 1}, record_id="a", timestamp_us=1_700_000_000_000_000)
    eng.flush("t")
    assert json.loads(eng.query("SELECT id, v FROM t")) == [{"id": "a", "v": 1}]
    meta = eng.meta_root
    shutil.rmtree(tmp_path / "store")

    fresh = Engine(spark, root)
    assert fresh.meta_root == meta and fresh.list_tables() == []
    fresh.create_table("t")
    assert json.loads(fresh.query("SELECT * FROM t")) == []
    (aside,) = [d for d in os.listdir(os.path.dirname(meta))
                if d.startswith(os.path.basename(meta) + ".")]
    assert os.path.isdir(os.path.join(os.path.dirname(meta), aside, "_system"))

    # a store with a table and a catalog with no id: adopted
    fresh.write("t", {"v": 2}, record_id="b", timestamp_us=1_700_000_000_000_000)
    fresh.flush("t")
    os.remove(os.path.join(meta, "store_id"))
    again = Engine(spark, root)
    assert json.loads(again.query("SELECT id, v FROM t")) == [{"id": "b", "v": 2}]
    with open(os.path.join(meta, "store_id"), encoding="utf-8") as fh:
        assert fh.read() == fresh.fs.read_bytes(join(root, "_meta", "store_id")).decode()

    # ...but one without an id, met by a store created just now with no
    # table, is as stale as one with another id: set aside
    shutil.rmtree(tmp_path / "store")
    os.remove(os.path.join(meta, "store_id"))
    last = Engine(spark, root)
    assert last.list_tables() == []
    assert len([d for d in os.listdir(os.path.dirname(meta))
                if d.startswith(os.path.basename(meta) + ".")]) == 2
