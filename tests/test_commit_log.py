"""The catalog's commit log is the table's file membership.

``Catalog.live_files`` reads each ``<table>.jsonl`` incrementally: only
complete lines appended since the last call, starting over when the
file was replaced. These tests drive the catalog alone (no Spark): a
writer in another process that is mid-append, a drop → recreate by
another catalog on the same root, removes and re-adds, and threads
reading while others commit."""

import json
import sys
import threading

from miniodb_spark.catalog import Catalog


def _files(live):
    return {(g, rel) for g, files in live.items() for rel, _dt in files}


def test_live_files_follow_adds_and_removes_per_version(tmp_path):
    cat = Catalog(str(tmp_path))
    cat.create_table("t")
    v1 = cat.touch("t", add_files={0: ["dt=2024-01-01/a.parquet",
                                       "dt=2024-01-02/b.parquet"]})
    v2 = cat.touch("t", add_files={0: ["dt=2024-01-01/c.parquet"]},
                   remove_files={0: ["dt=2024-01-01/a.parquet"]})
    # a restore may add a removed file back
    v3 = cat.touch("t", add_files={0: ["dt=2024-01-01/a.parquet"]})
    assert cat.live_files("t", v1) == {0: [
        ("dt=2024-01-01/a.parquet", "2024-01-01"),
        ("dt=2024-01-02/b.parquet", "2024-01-02")]}
    assert _files(cat.live_files("t", v2)) == {
        (0, "dt=2024-01-01/c.parquet"), (0, "dt=2024-01-02/b.parquet")}
    assert _files(cat.live_files("t", v3)) == _files(cat.live_files("t")) == {
        (0, "dt=2024-01-01/a.parquet"), (0, "dt=2024-01-01/c.parquet"),
        (0, "dt=2024-01-02/b.parquet")}
    assert cat.live_files("t", v1 - 1) == {}
    # a fresh catalog reads the same log from disk
    assert Catalog(str(tmp_path)).live_files("t", v2) == cat.live_files("t", v2)


def test_incomplete_tail_line_is_read_once_complete(tmp_path):
    cat = Catalog(str(tmp_path))
    cat.create_table("t")
    cat.touch("t", add_files={0: ["dt=d/a.parquet"]})
    token = cat.log_version("t")
    rec = {"v": 99, "ts_us": 0, "doc": {},
           "add": {"0": ["dt=d/b.parquet"]}}
    line = json.dumps(rec)
    with open(cat._hist_path("t"), "a", encoding="utf-8") as fh:
        fh.write(line[:10])  # another driver, mid-append
    assert _files(cat.live_files("t")) == {(0, "dt=d/a.parquet")}
    assert cat.log_version("t") == token
    with open(cat._hist_path("t"), "a", encoding="utf-8") as fh:
        fh.write(line[10:] + "\n")
    assert _files(cat.live_files("t")) == {
        (0, "dt=d/a.parquet"), (0, "dt=d/b.parquet")}
    assert cat.current_version("t") == 99
    assert cat.log_version("t") != token


def test_log_replaced_by_another_catalog_is_read_anew(tmp_path):
    a = Catalog(str(tmp_path))
    a.create_table("t")
    a.touch("t", add_files={0: ["dt=d/old.parquet"]})
    token = a.log_version("t")
    assert _files(a.live_files("t")) == {(0, "dt=d/old.parquet")}
    # another driver drops and recreates the table and commits more
    # than the old log held, so the new file is longer than a's offset
    b = Catalog(str(tmp_path))
    b.drop_table("t")
    b.create_table("t")
    for i in range(5):
        b.touch("t", add_files={0: [f"dt=d/new{i}.parquet"]})
    assert _files(a.live_files("t")) == {
        (0, f"dt=d/new{i}.parquet") for i in range(5)}
    assert a.log_version("t") != token
    assert [h["v"] for h in a.history("t")] == list(range(1, 7))


def test_concurrent_commits_and_reads_lose_nothing(tmp_path):
    """Two committing threads and six reading threads on one catalog
    (more threads than cores, tiny switch interval): every commit gets
    its own version, versions rise in log order, every added file is
    live at the end, and no reader ever sees a file before the version
    that added it."""
    cat = Catalog(str(tmp_path))
    cat.create_table("t")
    per_writer, errors, done = 60, [], threading.Event()

    def writer(w):
        try:
            for i in range(per_writer):
                cat.touch("t", add_files={w: [f"dt=d/{w}-{i}.parquet"]})
        except Exception as exc:  # pragma: no cover - reported below
            errors.append(exc)

    def reader():
        try:
            while not done.is_set():
                v = cat.current_version("t")
                seen = _files(cat.live_files("t", v))
                added = cat.added_files_index("t")
                assert all(added[f] <= v for f in seen), v
        except Exception as exc:  # pragma: no cover - reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        writers = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
        readers = [threading.Thread(target=reader) for _ in range(6)]
        for t in writers + readers:
            t.start()
        for t in writers:
            t.join(timeout=120)
        done.set()
        for t in readers:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in writers + readers)
    assert not errors, errors
    vs = [h["v"] for h in cat.history("t")]
    assert vs == sorted(vs) and len(set(vs)) == len(vs) == 1 + 2 * per_writer
    assert _files(cat.live_files("t")) == {
        (w, f"dt=d/{w}-{i}.parquet") for w in (0, 1) for i in range(per_writer)}
    assert _files(Catalog(str(tmp_path)).live_files("t")) == _files(
        cat.live_files("t"))
