import json
import os
import time

from miniodb_spark.catalog import TableConfig
from miniodb_spark.engine import Engine

US = 1_000_000
DAY = 86_400 * US
T0 = 1_700_000_000 * US  # 2023-11-14 UTC


def test_retention_drops_old_partitions(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "store"))
    eng.create_table("logs", TableConfig(name="logs", retention_days=3))
    for i in range(6):  # days 0..5 back from T0
        eng.write("logs", {"v": i}, record_id=f"r{i}", timestamp_us=T0 - i * DAY)
    eng.flush()
    assert json.loads(eng.query("SELECT count(*) AS n FROM logs"))[0]["n"] == 6

    removed = eng.enforce_retention(now_us=T0)
    assert removed == 2  # days 4 and 5 back; the day-3 boundary partition stays
    left = json.loads(eng.query("SELECT count(*) AS n FROM logs"))[0]["n"]
    assert left == 4

    # tables without retention are untouched
    eng.write("keep", {"v": 1}, record_id="k", timestamp_us=T0 - 30 * DAY)
    eng.flush()
    assert eng.enforce_retention(now_us=T0) == 0


def test_retention_crash_between_rm_record_and_drop(spark, tmp_path):
    """Retention records its Delta-style rm entries, then the collector
    deletes the files. A crash on the collector's first removal leaves
    the dropped days on disk but no longer live: the latest snapshot
    reads exactly the surviving days, live queries agree, and a retry's
    collection finishes the drop."""
    from diskstate import data_files, live_files

    eng = Engine(spark, str(tmp_path / "store"))
    eng.create_table("logs", TableConfig(name="logs", retention_days=3))
    for i in range(6):
        eng.write("logs", {"v": i}, record_id=f"r{i}",
                  timestamp_us=T0 - i * DAY)
    eng.flush()

    # crash injection: the collector's first removal dies AFTER the rm
    # commit (the commit always comes first)
    real_remove = eng.fs.remove_dir
    calls = {"n": 0}

    def dying_remove(path):
        calls["n"] += 1
        raise OSError("injected crash before physical drop")

    eng.fs.remove_dir = dying_remove
    try:
        try:
            eng.enforce_retention(now_us=T0)
        except OSError:
            pass
        assert calls["n"] == 1  # died on the first doomed partition
    finally:
        eng.fs.remove_dir = real_remove

    # the rm entries are committed, the files still present: the LATEST
    # snapshot reads the 4 surviving days
    assert len(live_files(eng, "logs")) == 4
    assert len(data_files(eng, "logs")) == 6
    v = eng.catalog.current_version("logs")
    snap = eng.read_snapshot("logs", v)
    assert snap.count() == 4
    # live queries agree with the latest snapshot: the rm commit is the
    # drop, the files still on disk are leftovers no commit holds
    assert json.loads(
        eng.query("SELECT count(*) AS n FROM logs"))[0]["n"] == 4

    # retry: nothing left to commit, and its collection completes the drop
    assert eng.enforce_retention(now_us=T0) == 0
    assert data_files(eng, "logs") == live_files(eng, "logs")
    assert json.loads(
        eng.query("SELECT count(*) AS n FROM logs"))[0]["n"] == 4
    assert eng.read_snapshot(
        "logs", eng.catalog.current_version("logs")).count() == 4


def test_auto_flush_by_interval(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "store"))
    eng.create_table("af", TableConfig(name="af", buffer_size=10_000,
                                       flush_interval_s=0.5))
    eng.write("af", {"v": 1}, record_id="a", timestamp_us=T0)
    eng.start_auto_flush(poll_interval_s=0.2)
    try:
        deadline = time.time() + 20
        table_dir = os.path.join(eng.root, "af")
        while time.time() < deadline:
            if os.path.isdir(table_dir) and any(
                d.startswith("dt=") for d in os.listdir(table_dir)
            ):
                break
            time.sleep(0.2)
        assert eng._buffers["af"].count == 0, "buffer should have flushed"
    finally:
        eng.stop_auto_flush()
    assert json.loads(eng.query("SELECT v FROM af")) == [{"v": 1}]
