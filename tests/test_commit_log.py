"""The catalog's commit log is the table: its config, its generations
and its file membership.

``Catalog.live_files`` reads each ``<table>.jsonl`` incrementally: only
complete lines appended since the last call, starting over when the
file was replaced. These tests drive the catalog alone (no Spark): a
writer in another process that is mid-append, a drop → recreate by
another catalog on the same root, removes and re-adds, threads reading
while others commit, the line format (one line per commit, holding only
what it changed) and the replay of a log in the older full-doc format."""

import glob
import json
import os
import sys
import threading
from dataclasses import asdict

from miniodb_spark.catalog import Catalog, TableConfig


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


COLS = {f"c{i}": "long" for i in range(7)}


def _flush(cat, i, cols):
    """One flush as the engine commits it: pick the generation, then
    commit the file together with the schema it was written with."""
    gen = cat.register_flush_schema("t", cols)
    return cat.touch("t", add_files={gen: [f"dt=d/f{i}.parquet"]},
                     schema={gen: cols})


def _lines(cat):
    with open(cat._hist_path("t"), encoding="utf-8") as fh:
        return fh.read().splitlines()


def test_flushes_without_type_change_append_one_line_each(tmp_path):
    cat = Catalog(str(tmp_path))
    cat.create_table("t")
    n = 50
    for i in range(n):
        assert cat.register_flush_schema("t", COLS) == 0
        assert len(_lines(cat)) == 1 + i  # picking writes nothing
        _flush(cat, i, COLS)
    assert len(_lines(cat)) == 1 + n
    assert Catalog(str(tmp_path)).gen_schemas("t") == [COLS]


def test_data_lines_carry_only_what_changed(tmp_path):
    """Only the table's creation holds a doc; a data line holds ``gens``
    exactly when its commit opened, widened or tombstoned a
    generation, and the fold of the lines is the catalog's state."""
    cat = Catalog(str(tmp_path))
    cat.create_table("t")
    wide, drifted = {**COLS, "w": "double"}, {**COLS, "c0": "string"}
    _flush(cat, 0, COLS)  # opens generation 0
    _flush(cat, 1, COLS)
    _flush(cat, 2, wide)  # widens it
    _flush(cat, 3, drifted)  # opens generation 1
    _flush(cat, 4, drifted)
    cat.tombstone_generations("t", [0])
    recs = [json.loads(line) for line in _lines(cat)]
    assert set(recs[0]["doc"]) == {"config", "generations"}
    assert not any("doc" in r for r in recs[1:])
    assert [r.get("gens") for r in recs[1:]] == [
        {"0": COLS}, None, {"0": wide}, {"1": drifted}, None, {"0": {}}]
    assert all("add" in r for r in recs[1:-1]) and "add" not in recs[-1]
    for c in (cat, Catalog(str(tmp_path))):
        assert c.gen_schemas("t") == [{}, drifted]
        assert c.doc_at("t", 4)["generations"] == [wide]
        assert c.doc_at("t", 6)["generations"] == [wide, drifted]
        assert c.doc_at("t", 7)["generations"] == [{}, drifted]


def test_drift_lines_do_not_grow_with_generations(tmp_path):
    """Each commit that changes one column's type opens a generation
    and carries only that generation's schema: after 200 of them the
    last line is no longer than twice the first."""
    cat = Catalog(str(tmp_path))
    cat.create_table("t")
    for i in range(200):
        cols = {c: "string" if j == i % 7 else t
                for j, (c, t) in enumerate(COLS.items())}
        assert cat.register_flush_schema("t", cols) == i
        _flush(cat, i, cols)
    lines = _lines(cat)[1:]
    assert len(lines) == 200
    assert len(lines[-1]) <= 2 * len(lines[0])
    assert len(Catalog(str(tmp_path)).gen_schemas("t")) == 200


def test_no_table_json_is_written(tmp_path):
    cat = Catalog(str(tmp_path))
    tables = os.path.join(str(tmp_path), "_system", "tables")
    cat.create_table("t")
    assert glob.glob(os.path.join(tables, "*.json")) == []
    _flush(cat, 0, COLS)
    assert glob.glob(os.path.join(tables, "*.json")) == []
    assert cat.drop_table("t")
    assert glob.glob(os.path.join(tables, "*.json")) == []
    assert not os.path.exists(cat._hist_path("t"))
    assert Catalog(str(tmp_path)).list_tables() == []


def test_full_doc_log_replays(tmp_path):
    """A log in the older format — the full doc on every line (schema
    registrations, data commits, a rewrite, a tombstone, a restore) and
    the current doc in ``<table>.json`` beside it — reads as the same
    table at every version, and the next commit appends in the new
    form."""
    cfg = asdict(TableConfig(name="t", buffer_size=7, zonemap_columns=["v"]))
    g0, g1 = {"id": "string", "v": "long"}, {"id": "string", "v": "string"}
    a, b, c, d = (f"dt=2024-01-01/{x}.parquet" for x in "abcd")
    lines = [  # (generations, add, rm)
        ([], None, None),  # create
        ([g0], None, None),  # registration
        ([g0], {"0": [a, {"path": b, "size": 5}]}, None),
        ([g0, g1], None, None),  # a type change opens generation 1
        ([g0, g1], {"1": [c]}, None),
        ([g0, g1], {"1": [d]}, {"0": [a, b], "1": [c]}),  # collapse
        ([{}, g1], None, None),  # its tombstone
        ([g0, g1], {"0": [a, b], "1": [c]}, {"1": [d]}),  # restore
    ]
    tables = os.path.join(str(tmp_path), "_system", "tables")
    os.makedirs(os.path.join(tables, "_history"))
    with open(os.path.join(tables, "_history", "t.jsonl"), "w",
              encoding="utf-8") as fh:
        for v, (gens, add, rm) in enumerate(lines, 1):
            rec = {"v": v, "ts_us": v, "doc": {"config": cfg, "generations": gens}}
            rec.update({k: e for k, e in (("add", add), ("rm", rm)) if e})
            fh.write(json.dumps(rec) + "\n")
    with open(os.path.join(tables, "t.json"), "w", encoding="utf-8") as fh:
        json.dump({"config": cfg, "generations": [g0, g1]}, fh, indent=1)
    live = {1: {}, 2: {}, 3: {0: [a, b]}, 4: {0: [a, b]},
            5: {0: [a, b], 1: [c]}, 6: {1: [d]}, 7: {1: [d]},
            8: {0: [a, b], 1: [c]}}

    cat = Catalog(str(tmp_path))
    assert cat.list_tables() == ["t"]
    assert cat.get_table("t") == TableConfig(**cfg)
    assert cat.gen_schemas("t") == [g0, g1]
    assert cat.current_version("t") == len(lines)
    for v, (gens, _add, _rm) in enumerate(lines, 1):
        assert cat.doc_at("t", v) == {"config": cfg, "generations": gens}
        assert cat.live_files("t", v) == {
            g: [(rel, "2024-01-01") for rel in rels]
            for g, rels in live[v].items()}
    assert cat.live_entries("t", 3)[0][b] == {"path": b, "size": 5}

    # new commits append in the new form; t.json is not read (stale)
    assert cat.register_flush_schema("t", g1) == 1
    v9 = cat.touch("t", add_files={1: ["dt=2024-01-02/e.parquet"]},
                   schema={1: g1})
    g2 = {"id": "string", "v": "double"}
    assert cat.register_flush_schema("t", g2) == 2
    v10 = cat.touch("t", add_files={2: ["dt=2024-01-02/f.parquet"]},
                    schema={2: g2})
    with open(cat._hist_path("t"), encoding="utf-8") as fh:
        new = [json.loads(line) for line in fh.read().splitlines()[len(lines):]]
    assert [(r["v"], "doc" in r, r.get("gens")) for r in new] == [
        (9, False, None), (10, False, {"2": g2})]
    fresh = Catalog(str(tmp_path))
    assert fresh.gen_schemas("t") == [g0, g1, g2]
    assert fresh.get_table("t") == TableConfig(**cfg)
    assert fresh.doc_at("t", v9) == {"config": cfg, "generations": [g0, g1]}
    assert fresh.doc_at("t", v10) == {"config": cfg,
                                      "generations": [g0, g1, g2]}
    assert fresh.live_files("t") == {
        0: [(a, "2024-01-01"), (b, "2024-01-01")],
        1: [(c, "2024-01-01"), ("dt=2024-01-02/e.parquet", "2024-01-02")],
        2: [("dt=2024-01-02/f.parquet", "2024-01-02")]}
