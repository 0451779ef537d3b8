"""Time travel (snapshot reads over the catalog commit log).

Every commit appends one line holding what it changed to a per-table
JSONL commit log (catalog.py::Catalog._commit); the doc at a version
is the fold of the lines up to it. Writers only commit; with
retain_history=True only vacuum() runs the garbage collector, so
Engine.read_snapshot(table, v) can rebuild the exact persisted state
any version saw — deleted rows reappear, pre-update values return —
until vacuum() deletes the files the head no longer holds, after which
stale snapshots REFUSE (SnapshotUnavailableError) instead of
under-returning. Delta-Lake's time-travel/VACUUM contract, absent from
the reference (its backup/restore is full-copy, internal/backup/)."""

import json
import os

import pytest

from diskstate import data_files, live_files
from miniodb_spark.engine import Engine, SnapshotUnavailableError

US = 1_000_000
T0 = 1_700_000_000 * US
DAY = 86_400 * US


def rows_of(df):
    if df is None:
        return {}
    return {
        r["id"]: r.asDict() for r in df.collect()
    }


@pytest.fixture()
def retaining_engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "tt_store"), retain_history=True)


def test_snapshot_reads_recover_each_committed_state(retaining_engine):
    eng = retaining_engine
    eng.write("tt", {"v": 1}, record_id="a", timestamp_us=T0)
    eng.write("tt", {"v": 2}, record_id="b", timestamp_us=T0)
    eng.flush("tt")
    v1 = eng.catalog.current_version("tt")

    eng.write("tt", {"v": 3}, record_id="c", timestamp_us=T0)
    eng.flush("tt")
    v2 = eng.catalog.current_version("tt")

    eng.update("tt", "a", {"v": 10}, timestamp_us=T0)
    eng.flush("tt")
    v3 = eng.catalog.current_version("tt")

    assert eng.delete("tt", "b") >= 1
    eng.flush("tt")
    v4 = eng.catalog.current_version("tt")
    assert v1 < v2 < v3 < v4

    s1 = rows_of(eng.read_snapshot("tt", v1))
    assert set(s1) == {"a", "b"} and s1["a"]["v"] == 1

    s2 = rows_of(eng.read_snapshot("tt", v2))
    assert set(s2) == {"a", "b", "c"} and s2["a"]["v"] == 1

    s3 = rows_of(eng.read_snapshot("tt", v3))
    assert set(s3) == {"a", "b", "c"} and s3["a"]["v"] == 10

    s4 = rows_of(eng.read_snapshot("tt", v4))
    assert set(s4) == {"a", "c"} and s4["a"]["v"] == 10

    # head snapshot == read_persisted
    head = rows_of(eng.read_persisted("tt"))
    assert s4 == head


def test_history_is_monotonic_and_queryable(retaining_engine):
    eng = retaining_engine
    eng.write("h", {"x": 1}, record_id="r1", timestamp_us=T0)
    eng.flush("h")
    eng.write("h", {"x": 2}, record_id="r2", timestamp_us=T0)
    eng.flush("h")
    hist = eng.table_history("h")
    assert hist, "commit log must exist after a flush"
    vs = [h["v"] for h in hist]
    assert vs == sorted(vs) and len(set(vs)) == len(vs)
    doc = eng.catalog.doc_at("h", vs[-1])
    assert doc and "generations" in doc
    assert eng.catalog.doc_at("h", 10_000) is None
    with pytest.raises(ValueError):
        eng.read_snapshot("h", 10_000)


def test_vacuum_invalidates_old_snapshots_but_not_head(retaining_engine):
    eng = retaining_engine
    eng.write("vx", {"v": 1}, record_id="a", timestamp_us=T0)
    eng.write("vx", {"v": 2}, record_id="b", timestamp_us=T0)
    eng.flush("vx")
    v1 = eng.catalog.current_version("vx")
    assert eng.delete("vx", "a") >= 1
    eng.flush("vx")

    # nothing is collected before vacuum: the superseded file is still
    # on disk next to the live ones
    assert rows_of(eng.read_snapshot("vx", v1)).keys() == {"a", "b"}
    superseded = set(live_files(eng, "vx", v1)) - set(live_files(eng, "vx"))
    assert superseded and superseded <= set(data_files(eng, "vx"))

    reclaimed = eng.vacuum("vx")
    assert reclaimed == len(superseded)
    assert data_files(eng, "vx") == live_files(eng, "vx")

    # stale snapshot refuses rather than silently dropping rows
    with pytest.raises(SnapshotUnavailableError):
        eng.read_snapshot("vx", v1)
    # head is untouched
    assert rows_of(eng.read_persisted("vx")).keys() == {"b"}


def test_default_engine_gcs_inline_and_snapshots_refuse(engine):
    eng = engine
    eng.write("d", {"v": 1}, record_id="a", timestamp_us=T0)
    eng.write("d", {"v": 2}, record_id="b", timestamp_us=T0)
    eng.flush("d")
    v1 = eng.catalog.current_version("d")
    assert eng.delete("d", "a") >= 1
    eng.flush("d")
    # without retain_history the delete collected at its end...
    assert data_files(eng, "d") == live_files(eng, "d")
    # ...so the pre-delete snapshot is honestly unavailable
    with pytest.raises(SnapshotUnavailableError):
        eng.read_snapshot("d", v1)
    assert rows_of(eng.read_persisted("d")).keys() == {"b"}


def test_snapshot_excludes_buffer_and_later_generations(retaining_engine):
    eng = retaining_engine
    eng.write("g", {"v": 1}, record_id="a", timestamp_us=T0)
    eng.flush("g")
    v1 = eng.catalog.current_version("g")
    # unflushed buffer row + a later flushed generation
    eng.write("g", {"v": 2}, record_id="later", timestamp_us=T0)
    assert rows_of(eng.read_snapshot("g", v1)).keys() == {"a"}
    eng.flush("g")
    assert rows_of(eng.read_snapshot("g", v1)).keys() == {"a"}


def test_commit_log_lines_are_full_docs(retaining_engine, tmp_path):
    """Only the table's creation writes a full doc. A data line holds
    no doc; the flush that opens a generation registers it in its own
    line, and doc_at folds the lines into the doc at each version."""
    eng = retaining_engine
    eng.write("log", {"v": 1}, record_id="a", timestamp_us=T0)
    eng.flush("log")
    eng.write("log", {"v": 2}, record_id="b", timestamp_us=T0)
    eng.flush("log")
    path = eng.catalog._hist_path("log")
    with open(path, encoding="utf-8") as fh:
        recs = [json.loads(line) for line in fh if line.strip()]
    assert [r["v"] for r in recs] == [1, 2, 3]
    assert all({"v", "ts_us"} <= set(r) for r in recs)
    assert set(recs[0]["doc"]) == {"config", "generations"}
    assert recs[0]["doc"]["generations"] == [] and "add" not in recs[0]
    assert not any("doc" in r for r in recs[1:])
    gen0 = eng.catalog.gen_schemas("log")[0]
    assert recs[1]["gens"] == {"0": gen0} and "0" in recs[1]["add"]
    assert "gens" not in recs[2] and "0" in recs[2]["add"]
    assert eng.catalog.doc_at("log", 1) == recs[0]["doc"]
    assert eng.catalog.doc_at("log", 2) == eng.catalog.doc_at("log", 3) == {
        "config": recs[0]["doc"]["config"], "generations": [gen0]}
    # drop_table removes the log
    eng.delete_table("log")
    assert not os.path.exists(path)


def test_query_at_version_and_as_of(retaining_engine):
    import json as _json
    import time

    eng = retaining_engine
    eng.write("q", {"v": 1}, record_id="a", timestamp_us=T0)
    eng.flush("q")
    v1 = eng.catalog.current_version("q")
    t_between = int(time.time() * 1e6)
    time.sleep(0.002)
    eng.update("q", "a", {"v": 2}, timestamp_us=T0)
    eng.flush("q")

    head = _json.loads(eng.query("SELECT id, v FROM q"))
    assert head == [{"id": "a", "v": 2}]
    old = _json.loads(eng.query("SELECT id, v FROM q", at_version=v1))
    assert old == [{"id": "a", "v": 1}]
    # wall-clock resolution picks the version committed before t_between
    asof = _json.loads(
        eng.query("SELECT id, v FROM q", as_of_ts_us=t_between))
    assert asof == [{"id": "a", "v": 1}]
    with pytest.raises(ValueError):
        eng.query("SELECT id, v FROM q", as_of_ts_us=1)  # pre-creation
    with pytest.raises(ValueError):
        eng.query("SELECT id, v FROM q", at_version=v1, as_of_ts_us=t_between)


def test_time_travel_results_bypass_head_cache(retaining_engine):
    import json as _json

    eng = retaining_engine
    eng.write("c", {"v": 1}, record_id="a", timestamp_us=T0)
    eng.flush("c")
    v1 = eng.catalog.current_version("c")
    eng.update("c", "a", {"v": 2}, timestamp_us=T0)
    eng.flush("c")

    sql = "SELECT id, v FROM c"
    # prime the head cache, then snapshot-query the same SQL: the
    # pinned result must neither be served from nor stored into it
    assert _json.loads(eng.query(sql)) == [{"id": "a", "v": 2}]
    assert _json.loads(eng.query(sql, at_version=v1)) == [{"id": "a", "v": 1}]
    assert _json.loads(eng.query(sql)) == [{"id": "a", "v": 2}]


def test_multi_table_at_version_requires_dict(retaining_engine):
    import json as _json

    eng = retaining_engine
    eng.write("ta", {"v": 1}, record_id="a", timestamp_us=T0)
    eng.flush("ta")
    eng.write("tb", {"w": 9}, record_id="a", timestamp_us=T0)
    eng.flush("tb")
    va, vb = (eng.catalog.current_version("ta"),
              eng.catalog.current_version("tb"))
    sql = ("SELECT ta.id AS id, ta.v AS v, tb.w AS w "
           "FROM ta JOIN tb ON ta.id = tb.id")
    with pytest.raises(ValueError):
        eng.query(sql, at_version=va)  # bare int + two tables
    out = _json.loads(eng.query(sql, at_version={"ta": va, "tb": vb}))
    assert out == [{"id": "a", "v": 1, "w": 9}]


def test_snapshot_membership_immune_to_mtime_skew(retaining_engine):
    """ADVICE r11: on object-store roots, file mtimes are server-side
    PUT times — clock skew vs the driver's commit-log ts could silently
    include post-snapshot files or drop the snapshot's own batch under
    the old mtime-watermark rule. Commits now record Delta-style
    add-file entries, so membership is exact even when every data
    file's mtime is nonsense."""
    import os

    eng = retaining_engine
    eng.write("sk", {"v": 1}, record_id="a", timestamp_us=T0)
    eng.flush("sk")
    v1 = eng.catalog.current_version("sk")
    eng.write("sk", {"v": 2}, record_id="b", timestamp_us=T0)
    eng.flush("sk")
    v2 = eng.catalog.current_version("sk")

    # sabotage every data file's mtime: batch 1 far in the FUTURE
    # (old rule would still include it — but also anything else),
    # batch 2 far in the PAST (old rule would wrongly pull b into v1)
    gdir = eng._gen_dir("sk", 0)
    for root, _dirs, files in os.walk(gdir):
        for fn in files:
            if fn.endswith(".parquet"):
                os.utime(os.path.join(root, fn), (0, 0))  # epoch 1970

    assert set(rows_of(eng.read_snapshot("sk", v1))) == {"a"}
    assert set(rows_of(eng.read_snapshot("sk", v2))) == {"a", "b"}

    # the add-file index records each batch at its own marker version
    idx = eng.catalog.added_files_index("sk")
    assert sorted(set(idx.values())) == [v1, v2]


def test_compaction_runs_under_retain_history(retaining_engine):
    """retain_history's contract ('every version stays readable until
    an explicit vacuum') holds through compaction: compact() commits
    its swap, but its inputs stay on disk until vacuum(), so the
    pre-compaction snapshot reads its exact rows until then — and
    refuses after it."""
    eng = retaining_engine
    for i in range(6):
        eng.write("cmd", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
        eng.flush("cmd")
    v = eng.catalog.current_version("cmd")
    want = rows_of(eng.read_snapshot("cmd", v))
    assert eng.compact("cmd")[0]["inputs"] == 6
    assert len(data_files(eng, "cmd")) == 7
    assert rows_of(eng.read_snapshot("cmd", v)) == want
    assert eng.vacuum("cmd") == 6
    with pytest.raises(SnapshotUnavailableError):
        eng.read_snapshot("cmd", v)
    assert data_files(eng, "cmd") == live_files(eng, "cmd")


def test_compaction_is_a_recorded_swap(retaining_engine):
    """compact() commits Delta-style add+remove entries: a
    pre-compaction snapshot reads its inputs until vacuum() and then
    REFUSES with SnapshotUnavailableError (never a silent partial/None
    result), while the compaction commit version and everything after
    reads exactly — including a post-compaction flush whose snapshot
    must combine the compacted outputs with its own adds."""
    eng = retaining_engine
    for i in range(6):
        eng.write("cmf", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
        eng.flush("cmf")
    v_pre = eng.catalog.current_version("cmf")
    stats = eng.compact("cmf")
    assert stats, "fixture must trigger a compaction"
    v_compact = eng.catalog.current_version("cmf")
    assert v_compact > v_pre, "compaction must commit a version"
    assert eng.read_snapshot("cmf", v_pre).count() == 6
    eng.vacuum("cmf")
    with pytest.raises(SnapshotUnavailableError):
        eng.read_snapshot("cmf", v_pre)
    assert eng.read_snapshot("cmf", v_compact).count() == 6
    eng.write("cmf", {"v": 99}, record_id="r99", timestamp_us=T0 + DAY)
    eng.flush("cmf")
    v_post = eng.catalog.current_version("cmf")
    assert eng.read_snapshot("cmf", v_post).count() == 7
    assert eng.read_snapshot("cmf", v_compact).count() == 6
    assert eng.read_table("cmf").count() == 7


def test_collapse_and_retention_keep_snapshots_until_vacuum(spark, tmp_path):
    """Under retain_history, collapse_generations() and
    enforce_retention() commit but delete nothing: the snapshot before
    each reads its exact rows until vacuum(), refuses after it, and
    the disk then holds exactly the live files."""
    from miniodb_spark.catalog import TableConfig

    eng = Engine(spark, str(tmp_path / "cr_store"), retain_history=True)
    eng.create_table("cr", TableConfig(name="cr", retention_days=3))
    for i in range(4):  # two old days, two fresh ones
        eng.write("cr", {"v": i}, record_id=f"r{i}",
                  timestamp_us=T0 - (i % 2) * 10 * DAY)
    eng.flush("cr")
    eng.write("cr", {"v": "text"}, record_id="s", timestamp_us=T0)
    eng.flush("cr")  # a conflicting type opens generation 1
    v_pre_collapse = eng.catalog.current_version("cr")
    want_collapse = rows_of(eng.read_snapshot("cr", v_pre_collapse))
    assert eng.collapse_generations("cr") > 0
    v_pre_retention = eng.catalog.current_version("cr")
    want_retention = rows_of(eng.read_snapshot("cr", v_pre_retention))
    assert len(want_retention) == 5
    assert eng.enforce_retention("cr", now_us=T0) == 1
    assert rows_of(eng.read_table("cr")).keys() == {"r0", "r2", "s"}
    assert rows_of(eng.read_snapshot("cr", v_pre_collapse)) == want_collapse
    assert rows_of(eng.read_snapshot("cr", v_pre_retention)) == want_retention

    assert eng.vacuum("cr") > 0
    for v in (v_pre_collapse, v_pre_retention):
        with pytest.raises(SnapshotUnavailableError):
            eng.read_snapshot("cr", v)
    assert data_files(eng, "cr") == live_files(eng, "cr")
    assert len(os.listdir(os.path.join(eng.root, "cr"))) == 1  # one gen=
    assert rows_of(eng.read_table("cr")).keys() == {"r0", "r2", "s"}


def test_snapshot_model_random_ops_every_version_exact(retaining_engine):
    """Generative check of the whole add/remove-file snapshot protocol
    (round-13 rework): a random interleaving of writes, flushes,
    updates, deletes and one compaction, with the expected PERSISTED
    state captured at every commit point. Before vacuum() every
    captured version reproduces its exact row set; after it, a version
    reads exactly iff all its files are still live at the head, and
    refuses with SnapshotUnavailableError otherwise — which includes
    the versions just before the compaction. Covers: add-file
    membership across appends into one generation, mutation rewrites
    whose files stay until vacuum, update's single-commit
    delete+persist (durable at return — the cross-driver update-update
    fix), and the recorded compaction swap."""
    import random

    eng = retaining_engine
    rng = random.Random(1303)
    persisted: dict[str, int] = {}
    buffered: dict[str, int] = {}
    captures: dict[int, dict[str, int]] = {}
    ids = [f"r{i:02d}" for i in range(12)]

    def capture():
        v = eng.catalog.current_version("sm")
        if v in captures:
            assert captures[v] == dict(persisted), (
                f"state changed without a commit at v{v}")
        captures[v] = dict(persisted)

    v_compact = None
    for step in range(60):
        op = rng.random()
        rid = rng.choice(ids)
        if op < 0.45:
            # write is append-semantics (a duplicate id would be two
            # rows, like the reference's WriteData); model fresh ids
            # only and route re-inserts through update
            if rid not in persisted and rid not in buffered:
                val = rng.randrange(1000)
                eng.write("sm", {"v": val}, record_id=rid,
                          timestamp_us=T0)
                buffered[rid] = val
        elif op < 0.6:
            if rid in persisted or rid in buffered:
                val = rng.randrange(1000)
                eng.update("sm", rid, {"v": val}, timestamp_us=T0)
                # durable update: the new version is PERSISTED at
                # return (never parked in the buffer — the cross-driver
                # update-update duplicate fix), own-buffer copy removed
                persisted[rid] = val
                buffered.pop(rid, None)
                capture()
        elif op < 0.7:
            if rid in persisted or rid in buffered:
                eng.delete("sm", rid)
                persisted.pop(rid, None)
                buffered.pop(rid, None)
                capture()
        else:
            eng.flush("sm")
            persisted.update(buffered)
            buffered.clear()
            capture()
    # deterministic compaction trigger: enough single-row flushes into
    # the one dt partition to cross the tier threshold
    for i in range(8):
        val = 9000 + i
        eng.write("sm", {"v": val}, record_id=f"c{i:02d}",
                  timestamp_us=T0)
        buffered[f"c{i:02d}"] = val
        eng.flush("sm")
        persisted.update(buffered)
        buffered.clear()
        capture()
    stats = eng.compact("sm")
    assert stats, "compaction must trigger after 8 single-row flushes"
    v_compact = eng.catalog.current_version("sm")
    capture()
    # a couple of post-compaction commits to check the exact side
    for i in range(2):
        val = 9500 + i
        eng.write("sm", {"v": val}, record_id=f"p{i:02d}",
                  timestamp_us=T0)
        buffered[f"p{i:02d}"] = val
        eng.flush("sm")
        persisted.update(buffered)
        buffered.clear()
        capture()

    def snapshot(v):
        df = eng.read_snapshot("sm", v)
        return {} if df is None else {
            r["id"]: r["v"] for r in df.select("id", "v").collect()}

    # before vacuum nothing was deleted: every version is exact
    for v, want in sorted(captures.items()):
        assert snapshot(v) == want, v
    eng.vacuum("sm")
    assert data_files(eng, "sm") == live_files(eng, "sm")
    # THE invariant: every version is either exactly reproducible or
    # explicitly refused — never a silently wrong row set. A version
    # refuses iff it needs a file the vacuum deleted.
    head = set(live_files(eng, "sm"))
    checked_exact = checked_refused = 0
    for v, want in sorted(captures.items()):
        if set(live_files(eng, "sm", v)) <= head:
            assert snapshot(v) == want, v
            checked_exact += 1
        else:
            with pytest.raises(SnapshotUnavailableError):
                snapshot(v)
            checked_refused += 1
    assert checked_exact >= 2 and checked_refused >= 1, (
        checked_exact, checked_refused)
    pre = [v for v in captures if v < v_compact]
    with pytest.raises(SnapshotUnavailableError):
        snapshot(max(pre))
    # head unaffected throughout
    got_head = {r["id"]: r["v"] for r in
                eng.read_table("sm").select("id", "v").collect()}
    assert got_head == persisted


def test_snapshot_consistency_brackets_mutation_storm(spark, tmp_path):
    """Round-14 depth (r13 verdict #7): the SAME query over
    read_snapshot at two versions bracketing a concurrent two-engine
    mutation storm returns version-exact results — the pre-storm
    snapshot is byte-identical to the seeded state (no mutation
    leaks backward) and the post-storm snapshot equals a live read
    (the add/remove commit log pins exact file membership, including
    through update's insert+sweep double commit). Also pins that the
    SQL path's at_version= reaches the same snapshot."""
    import threading

    root = str(tmp_path / "snapstore")
    a = Engine(spark, root, retain_history=True)
    b = Engine(spark, root, retain_history=True)
    for i in range(10):
        a.write("s", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
    a.flush("s")
    v_before = a.catalog.current_version("s")
    seed = rows_of(a.read_snapshot("s", v_before))
    assert {k: r["v"] for k, r in seed.items()} == {
        f"r{i}": i for i in range(10)}

    errs: list[Exception] = []
    barrier = threading.Barrier(2)

    def storm(eng, updates, deletes, base):
        barrier.wait()
        try:
            for i in updates:
                eng.update("s", f"r{i}", {"v": base + i}, timestamp_us=T0)
            for i in deletes:
                eng.delete("s", f"r{i}")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [
        threading.Thread(target=storm, args=(a, (0, 1, 2, 3), (8,), 100)),
        threading.Thread(target=storm, args=(b, (3, 4, 5), (9,), 200)),
    ]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs, errs

    a.catalog.refresh_if_changed("s")
    v_after = a.catalog.current_version("s")
    assert v_after > v_before

    # pre-storm snapshot: EXACTLY the seed, unchanged by any of the
    # 7 updates / 2 deletes that committed after it
    again = rows_of(a.read_snapshot("s", v_before))
    assert again == seed, "pre-storm snapshot drifted"

    # post-storm snapshot == live read, and every invariant holds
    live = rows_of(a.read_table("s"))
    snap = rows_of(a.read_snapshot("s", v_after))
    assert snap == live, "latest snapshot != live state"
    got = {k: r["v"] for k, r in snap.items()}
    assert set(got) == {f"r{i}" for i in range(8)}
    for i in (0, 1, 2):
        assert got[f"r{i}"] == 100 + i
    assert got["r3"] in (103, 203)
    for i in (4, 5):
        assert got[f"r{i}"] == 200 + i
    for i in (6, 7):
        assert got[f"r{i}"] == i

    # the SQL path's time travel reaches the same pre-storm state
    rows = json.loads(a.query(
        "SELECT id, v FROM s ORDER BY id", at_version=v_before))
    assert {r["id"]: r["v"] for r in rows} == {
        f"r{i}": i for i in range(10)}

    # intermediate versions: EVERY version between the brackets
    # replays to a legal serial state (monotone: each id is seed,
    # one of the written values, or absent-after-delete)
    legal = {
        **{f"r{i}": {i, 100 + i} for i in (0, 1, 2)},
        "r3": {3, 103, 203},
        **{f"r{i}": {i, 200 + i} for i in (4, 5)},
        **{f"r{i}": {i} for i in (6, 7)},
        "r8": {8}, "r9": {9},
    }
    for v in range(v_before + 1, v_after + 1):
        sv = rows_of(a.read_snapshot("s", v))
        for k, r in sv.items():
            assert r["v"] in legal[k], (v, k, r["v"])
        assert len(sv) == len({k for k in sv}), f"dup ids at v{v}"


def test_snapshot_at_latest_survives_mutations_without_retention(engine):
    """Round-15 regression: with DEFAULT retain_history=False, the
    LATEST version's snapshot must stay readable through delete /
    update / compact / collapse — the rewrite paths now record
    Delta-style rm entries at commit, so the add-file index never
    counts a GC'd superseded file as alive. (Before the fix, a single
    delete() made read_snapshot(current_version) refuse: the GC's
    clear_excluded persisted a later version whose doc no longer
    excluded the swept partition.) Old pre-mutation versions still
    refuse — history is genuinely not retained."""
    eng = engine
    for i in range(8):
        eng.write("nr", {"v": i}, record_id=f"r{i}", timestamp_us=T0 + i)
    eng.flush("nr")
    v_seed = eng.catalog.current_version("nr")

    def snap_equals_live():
        v = eng.catalog.current_version("nr")
        snap = {r["id"]: r["v"] for r in
                eng.read_snapshot("nr", v).select("id", "v").collect()}
        live = {r["id"]: r["v"] for r in
                eng.read_table("nr").select("id", "v").collect()}
        assert snap == live, (snap, live)
        return snap

    eng.delete("nr", "r3")
    got = snap_equals_live()
    assert "r3" not in got and len(got) == 7
    eng.update("nr", "r1", {"v": 100}, timestamp_us=T0)
    got = snap_equals_live()
    assert got["r1"] == 100
    eng.compact("nr")
    snap_equals_live()
    eng.write("nr", {"v": 1.5}, record_id="r9", timestamp_us=T0)  # gen 2
    eng.flush("nr")
    eng.collapse_generations("nr")
    got = snap_equals_live()
    assert len(got) == 8
    # post-collapse mutation: the storm-failure shape, single-process
    eng.update("nr", "r5", {"v": 500}, timestamp_us=T0)
    got = snap_equals_live()
    assert got["r5"] == 500
    # the seed version predates the mutations and its files are gone:
    # refusal (never a silent partial read) is still the contract
    with pytest.raises(SnapshotUnavailableError):
        eng.read_snapshot("nr", v_seed).count()


def test_snapshot_at_latest_survives_retention_drop(spark, tmp_path):
    """Retention's dt-directory drop now records rm entries in one
    commit: snapshots at the post-retention version read exactly the
    surviving partitions instead of refusing."""
    from miniodb_spark.catalog import TableConfig

    eng = Engine(spark, str(tmp_path / "ret_store"))
    eng.create_table("rt", TableConfig(name="rt", retention_days=30))
    import datetime as dt

    now = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    old = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    fresh = dt.datetime(2024, 2, 20, tzinfo=dt.timezone.utc)
    for i, when in enumerate((old, old, fresh, fresh)):
        eng.write("rt", {"v": i}, record_id=f"r{i}",
                  timestamp_us=int(when.timestamp()) * US)
    eng.flush("rt")
    n = eng.enforce_retention("rt", now_us=int(now.timestamp()) * US)
    assert n == 1  # one old dt partition dropped
    v = eng.catalog.current_version("rt")
    snap_ids = {r["id"] for r in
                eng.read_snapshot("rt", v).select("id").collect()}
    assert snap_ids == {"r2", "r3"}
    assert eng.read_table("rt").count() == 2


def test_eager_open_maps_only_missing_path_to_retryable(
        retaining_engine, monkeypatch):
    """r16 ADVICE (engine.py eager-open TOCTOU handler): ONLY
    missing-path AnalysisExceptions map to the retryable
    SnapshotUnavailableError — a corrupt-footer / permission / schema
    AnalysisException is not transient, and relabeling it "a listed
    file vanished mid-read" would spin the storm reader's retry loop
    over a real fault forever."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.readwriter import DataFrameReader

    eng = retaining_engine
    eng.write("nar", {"v": 1}, record_id="a", timestamp_us=T0)
    eng.flush("nar")
    v1 = eng.catalog.current_version("nar")
    assert eng.read_snapshot("nar", v1).count() == 1

    real_parquet = DataFrameReader.parquet

    def raising(msg):
        def _fake(self, *paths):
            raise AnalysisException(msg)
        return _fake

    # missing-path flavors → retryable refusal
    for msg in (
        "[PATH_NOT_FOUND] Path does not exist: file:/x/p.parquet.",
        "java.io.FileNotFoundException: /x/p.parquet no longer exists",
    ):
        monkeypatch.setattr(DataFrameReader, "parquet", raising(msg))
        with pytest.raises(SnapshotUnavailableError):
            eng.read_snapshot("nar", v1)

    # any other analysis failure → surfaces as-is (NOT retryable)
    monkeypatch.setattr(
        DataFrameReader, "parquet",
        raising("[CANNOT_READ_FILE_FOOTER] Could not read footer"))
    with pytest.raises(AnalysisException):
        eng.read_snapshot("nar", v1)

    # restored reader still works
    monkeypatch.setattr(DataFrameReader, "parquet", real_parquet)
    assert eng.read_snapshot("nar", v1).count() == 1
