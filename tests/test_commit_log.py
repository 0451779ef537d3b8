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


def test_add_entries_round_trip_per_version(tmp_path):
    """What a writer records of each file (size, rows, zone-map
    brackets) comes back from live_entries at every version and from a
    fresh catalog; live_files keeps its (relpath, dt) shape."""
    cat = Catalog(str(tmp_path))
    cat.create_table("t")
    a = {"size": 10, "rows": 2, "stats": {"id": ["a", "b"], "v": [None, None]}}
    b = {"size": 20, "rows": 3, "stats": {"id": ["c", "d"]}}
    v1 = cat.touch("t", add_files={0: {"dt=d/a.parquet": a}})
    v2 = cat.touch("t", add_files={0: {"dt=d/b.parquet": b}},
                   remove_files={0: ["dt=d/a.parquet"]})
    for c in (cat, Catalog(str(tmp_path))):
        assert c.live_entries("t", v1) == {
            0: {"dt=d/a.parquet": {"path": "dt=d/a.parquet", **a}}}
        assert c.live_entries("t", v2) == c.live_entries("t") == {
            0: {"dt=d/b.parquet": {"path": "dt=d/b.parquet", **b}}}
        assert c.live_files("t", v1) == {0: [("dt=d/a.parquet", "d")]}
        assert c.live_files("t") == {0: [("dt=d/b.parquet", "d")]}
    with open(cat._hist_path("t"), encoding="utf-8") as fh:
        recs = [json.loads(line) for line in fh]
    assert recs[-1]["add"] == {"0": [{"path": "dt=d/b.parquet", **b}]}
    assert recs[-1]["rm"] == {"0": ["dt=d/a.parquet"]}


def test_bare_path_log_reads_as_live_without_stats(tmp_path):
    """A log written before add entries carried stats (bare relpaths)
    still names the live files; each reads as an entry with no size and
    no brackets, next to entries that have them."""
    cat = Catalog(str(tmp_path))
    cat.create_table("t")
    with open(cat._hist_path("t"), "a", encoding="utf-8") as fh:
        for v, rec in ((2, {"add": {"0": ["dt=d/old.parquet",
                                          "dt=e/gone.parquet"]}}),
                       (3, {"rm": {"0": ["dt=e/gone.parquet"]}})):
            fh.write(json.dumps({"v": v, "ts_us": 0, "doc": {}, **rec}) + "\n")
    cat.touch("t", add_files={0: {"dt=d/new.parquet": {"size": 5}}})
    assert cat.live_files("t") == {0: [("dt=d/new.parquet", "d"),
                                       ("dt=d/old.parquet", "d")]}
    assert cat.live_entries("t") == {0: {
        "dt=d/new.parquet": {"path": "dt=d/new.parquet", "size": 5},
        "dt=d/old.parquet": {"path": "dt=d/old.parquet"}}}
    assert _files(cat.live_files("t", 2)) == {
        (0, "dt=d/old.parquet"), (0, "dt=e/gone.parquet")}


def test_file_indexes_accept_both_entry_forms(tmp_path):
    cat = Catalog(str(tmp_path))
    cat.create_table("t")
    v1 = cat.touch("t", add_files={0: ["dt=d/a.parquet"]})
    v2 = cat.touch("t", add_files={1: {"dt=d/b.parquet": {"size": 1}}},
                   remove_files={0: ["dt=d/a.parquet"]})
    with open(cat._hist_path("t"), "a", encoding="utf-8") as fh:
        fh.write(json.dumps({"v": v2 + 1, "ts_us": 0, "doc": {},
                             "rm": {"1": [{"path": "dt=d/b.parquet"}]}}) + "\n")
    assert cat.added_files_index("t") == {
        (0, "dt=d/a.parquet"): v1, (1, "dt=d/b.parquet"): v2}
    assert cat.removed_files_index("t") == {
        (0, "dt=d/a.parquet"): v2, (1, "dt=d/b.parquet"): v2 + 1}
    assert cat.live_files("t") == {}
