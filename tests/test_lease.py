"""Cross-driver mutation lease (kv.MutationLease).

Reference parity: the reference takes a distributed (table, id) lock
with a 30 s TTL before UpdateData/DeleteData
(/root/reference/internal/service/miniodb_service.go:720-722;
/root/reference/pkg/lock/redis_lock.go:55-64 — SetNX random token,
compare-token unlock, DefaultLockTTL = 30 s). These tests prove the
store-root lease gives the same guarantees: mutual exclusion across
engines, TTL recovery from a crashed holder, token-checked release,
re-entrancy, and — the integration half — that two engines on one
store root serialize concurrent update+delete with no lost update and
no orphaned generation.
"""

import json
import os
import threading
import time

from diskstate import data_files, live_files
from miniodb_spark.fs import LocalFS
from miniodb_spark.kv import FileKV, MutationLease

US = 1_000_000
DAY = 86_400 * US
T0 = 1_700_000_000 * US


def _kv(tmp_path):
    return FileKV(LocalFS(), str(tmp_path / "locks"))


def test_lease_mutual_exclusion_two_owners(tmp_path):
    """Two lease owners (≈ two drivers) interleaving a read-modify-write:
    under the lease every increment survives; the counter never loses an
    update."""
    kv = _kv(tmp_path)
    a = MutationLease(kv, owner="aaaa", ttl_s=30.0)
    b = MutationLease(kv, owner="bbbb", ttl_s=30.0)
    counter_path = str(tmp_path / "counter")
    with open(counter_path, "w") as f:
        f.write("0")

    def bump(lease, n):
        for _ in range(n):
            assert lease.acquire("k", timeout_s=10.0)
            try:
                v = int(open(counter_path).read())
                time.sleep(0.001)  # widen the race window
                with open(counter_path, "w") as f:
                    f.write(str(v + 1))
            finally:
                lease.release("k")

    ts = [threading.Thread(target=bump, args=(l, 25)) for l in (a, b)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert int(open(counter_path).read()) == 50


def test_lease_ttl_steal_and_safe_release(tmp_path):
    """A crashed holder's lease frees after ttl_s; the stale holder's
    later release must NOT delete the stolen lock (token check — the
    reference's Lua compare-and-delete)."""
    kv = _kv(tmp_path)
    dead = MutationLease(kv, owner="dead", ttl_s=0.05)
    live = MutationLease(kv, owner="live", ttl_s=30.0)
    assert dead.acquire("k", timeout_s=1.0)
    time.sleep(0.08)  # past the dead holder's TTL
    assert live.acquire("k", timeout_s=1.0), "expired lease not stolen"
    dead.release("k")  # stale release: must be a no-op on live's lock
    # live still holds it: a third owner cannot get in
    third = MutationLease(kv, owner="cccc", ttl_s=30.0)
    assert not third.acquire("k", timeout_s=0.15)
    live.release("k")
    assert third.acquire("k", timeout_s=1.0)
    third.release("k")


def test_lease_reentrant_same_thread_exclusive_across_threads(tmp_path):
    kv = _kv(tmp_path)
    a = MutationLease(kv, owner="aaaa", ttl_s=30.0)
    assert a.acquire("k")
    assert a.acquire("k")  # re-enter (update -> nested delete)
    a.release("k")
    # still held at depth 1: another OWNER must block
    b = MutationLease(kv, owner="bbbb", ttl_s=30.0)
    assert not b.acquire("k", timeout_s=0.1)
    # ...and another THREAD of the same owner must block too (the token
    # is per (owner, thread), like one Redis client per goroutine)
    got = []
    t = threading.Thread(target=lambda: got.append(a.acquire("k", timeout_s=0.1)))
    t.start(); t.join()
    assert got == [False]
    a.release("k")
    assert b.acquire("k", timeout_s=1.0)
    b.release("k")


def test_lease_extend_pushes_expiry(tmp_path):
    # ttl 1.0 leaves ~0.4 s of slack before the ttl/10 steal-guard even
    # under heavy CPU load (0.2 s ttl flaked when a loaded suite pushed
    # sleep(0.12) past the guard boundary)
    kv = _kv(tmp_path)
    a = MutationLease(kv, owner="aaaa", ttl_s=1.0)
    b = MutationLease(kv, owner="bbbb", ttl_s=1.0)
    assert a.acquire("k")
    time.sleep(0.5)
    assert a.extend("k")  # fresh 1.0 s from now
    time.sleep(0.7)  # past original expiry, inside extended one
    assert not b.acquire("k", timeout_s=0.01), "extend did not hold"
    a.release("k")
    # extend on a lock we no longer hold is a refused no-op
    assert b.acquire("k", timeout_s=1.0)
    assert not a.extend("k")
    b.release("k")


def test_two_engines_same_id_update_delete_serialize(spark, tmp_path):
    """VERDICT r9 task 2 acceptance: two engines on one store root run a
    concurrent update (A) and delete (B) of the SAME id. The (table, id)
    lease serializes them, so the final state is one of the two serial
    outcomes — update-then-delete (row gone) or delete-then-update (the
    update's row, durably persisted at return) — never a duplicate,
    never a lost sibling row, and never an orphaned or double-claimed
    generation."""
    from miniodb_spark.catalog import TableConfig
    from miniodb_spark.engine import Engine

    root = str(tmp_path / "store")
    a = Engine(spark, root)
    b = Engine(spark, root)
    a.create_table("t", TableConfig(name="t", buffer_size=10_000))
    for i in range(12):
        a.write("t", {"v": i}, record_id=f"r{i:02d}", timestamp_us=T0 + (i % 3) * DAY)
    a.flush("t")

    errs: list[Exception] = []
    gate_ = threading.Barrier(2)
    # the (table, id) lease serializes the two ops, so they never
    # overlap: completion order IS serialization order, and it picks
    # the unique legal final state (ADVICE r13: the old
    # `got.pop("r05", 555) == 555` passed vacuously if the update's
    # row was silently lost in the delete-then-update order)
    done_order: list[str] = []

    def upd():
        gate_.wait()
        try:
            a.update("t", "r05", {"v": 555}, timestamp_us=T0)
            done_order.append("update")
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    def dele():
        gate_.wait()
        try:
            b.delete("t", "r05")
            done_order.append("delete")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=upd), threading.Thread(target=dele)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs, errs
    assert sorted(done_order) == ["delete", "update"]

    a.flush("t")
    rows = json.loads(a.query("SELECT id, v FROM t ORDER BY id"))
    got = {r["id"]: r["v"] for r in rows}
    assert len(rows) == len(got), "duplicate ids after concurrent mutation"
    if done_order[-1] == "update":
        # delete-then-update: the update's durably-persisted row MUST
        # survive — absence here is exactly the lost-update regression
        assert got.pop("r05", None) == 555, f"update lost: {got.get('r05')}"
    else:
        # update-then-delete: the update is durable at return, so the
        # later delete sees and removes it — r05 must be gone
        assert "r05" not in got, "delete ran second but r05 survived"
        got.pop("r05", None)
    assert got == {f"r{i:02d}": i for i in range(12) if i != 5}, \
        "sibling rows corrupted by racing rewrites"
    _assert_no_orphan_generations(a, root, "t")


def test_two_engines_different_ids_rewrite_lease(spark, tmp_path):
    """Concurrent deletes of DIFFERENT ids from two engines: no shared
    (table, id) lease — only the table-level #rewrite lease stands
    between the two copy-on-write commits. Without it both would claim
    the same generation index and one commit would destroy the other
    (or resurrect the other's deleted rows from a stale snapshot)."""
    from miniodb_spark.catalog import TableConfig
    from miniodb_spark.engine import Engine

    root = str(tmp_path / "store")
    a = Engine(spark, root)
    b = Engine(spark, root)
    a.create_table("t", TableConfig(name="t", buffer_size=10_000))
    for i in range(12):
        a.write("t", {"v": i}, record_id=f"r{i:02d}", timestamp_us=T0 + (i % 3) * DAY)
    a.flush("t")

    errs: list[Exception] = []
    gate_ = threading.Barrier(2)

    def d(eng, rid):
        gate_.wait()
        try:
            n = eng.delete("t", rid)
            assert n == 1, f"delete {rid} removed {n}"
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=d, args=(a, "r03")),
          threading.Thread(target=d, args=(b, "r07"))]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs, errs

    rows = json.loads(a.query("SELECT id, v FROM t ORDER BY id"))
    got = {r["id"]: r["v"] for r in rows}
    assert len(rows) == len(got), "duplicate ids after racing rewrites"
    assert got == {f"r{i:02d}": i for i in range(12) if i not in (3, 7)}, \
        "lost update / resurrected row across drivers"
    _assert_no_orphan_generations(a, root, "t")


def _assert_no_orphan_generations(engine, root: str, table: str) -> None:
    """Every gen=N directory on disk is referenced by the (refreshed)
    catalog and the collector left no file the head does not hold."""
    engine.catalog.refresh_if_changed(table)
    n_gens = len(engine.catalog.gen_schemas(table))
    tdir = os.path.join(root, table)
    on_disk = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(tdir) if d.startswith("gen=")
    )
    assert all(g < n_gens for g in on_disk), \
        f"orphaned generation dirs {on_disk} vs catalog {n_gens}"
    assert data_files(engine, table) == live_files(engine, table), \
        "GC left files behind"


def test_lease_keepalive_holds_past_ttl(tmp_path):
    """The keepalive daemon must extend on the HOLDER's token from its
    own thread: the lease stays held well past several TTLs while the
    body runs, and stops being refreshed the moment the body exits."""
    kv = _kv(tmp_path)
    a = MutationLease(kv, owner="aaaa", ttl_s=0.15)
    b = MutationLease(kv, owner="bbbb", ttl_s=0.15)
    assert a.acquire("k")
    with a.keepalive("k"):
        time.sleep(0.5)  # > 3 TTLs
        assert not b.acquire("k", timeout_s=0.02), "keepalive lapsed"
    a.release("k")
    assert b.acquire("k", timeout_s=1.0)
    b.release("k")


def test_two_engines_merge_vs_delete(spark, tmp_path):
    """A bulk merge on engine A races a point delete on engine B for a
    key INSIDE the merge batch. The table rewrite lease serializes the
    two sweeps; whichever order wins, the result is one of the two
    serial histories — never a duplicate and never a resurrected row
    outside the batch."""
    from miniodb_spark.catalog import TableConfig
    from miniodb_spark.engine import Engine

    root = str(tmp_path / "store")
    a = Engine(spark, root)
    b = Engine(spark, root)
    a.create_table("t", TableConfig(name="t", buffer_size=10_000))
    for i in range(8):
        a.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0 + (i % 2) * DAY)
    a.flush("t")

    import datetime
    ts = datetime.datetime.fromtimestamp(T0 / US, datetime.timezone.utc)
    batch = a.spark.createDataFrame(
        [("r1", 101, ts), ("r3", 103, ts)],
        "id string, v long, timestamp timestamp")

    errs: list[Exception] = []
    gate_ = threading.Barrier(2)

    def merge():
        gate_.wait()
        try:
            a.merge_upsert("t", batch)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def dele():
        gate_.wait()
        try:
            b.delete("t", "r3")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts_ = [threading.Thread(target=merge), threading.Thread(target=dele)]
    [t.start() for t in ts_]
    [t.join() for t in ts_]
    assert not errs, errs

    rows = json.loads(a.query("SELECT id, v FROM t ORDER BY id"))
    got = {r["id"]: r["v"] for r in rows}
    assert len(rows) == len(got), "duplicate ids after merge/delete race"
    base = {f"r{i}": i for i in range(8) if i not in (1, 3)}
    # serial histories: delete-then-merge -> r3 re-inserted at 103;
    # merge-then-delete -> r3 gone. r1 is 101 either way.
    assert got in (base | {"r1": 101, "r3": 103}, base | {"r1": 101}), got
    _assert_no_orphan_generations(a, root, "t")


def test_lease_verify_ownership(tmp_path):
    """verify() is the pre-commit ownership check: true only while this
    (owner, thread) holds a live lease — false before acquire, after a
    TTL steal, and after release (the commit path aborts a rewrite
    whose lease was stolen instead of publishing over the thief)."""
    kv = _kv(tmp_path)
    a = MutationLease(kv, owner="aaaa", ttl_s=0.1)
    b = MutationLease(kv, owner="bbbb", ttl_s=30.0)
    assert not a.verify("k")
    assert a.acquire("k")
    assert a.verify("k")
    time.sleep(0.12)  # past a's TTL
    assert not a.verify("k"), "expired lease must fail verification"
    assert b.acquire("k", timeout_s=1.0)
    assert b.verify("k")
    assert not a.verify("k"), "stolen lease must fail verification"
    b.release("k")
    assert not b.verify("k")


def test_lease_extend_refuses_near_expiry(tmp_path):
    """The steal-guard: extend() must refuse to refresh a marker within
    ttl/10 of expiry (a thief acting on the expired stamp could be
    mid-steal; refreshing would clobber its marker → two holders)."""
    kv = _kv(tmp_path)
    a = MutationLease(kv, owner="aaaa", ttl_s=0.5)
    assert a.acquire("k")
    time.sleep(0.47)  # inside the 0.05 s guard window
    assert not a.extend("k"), "extend inside the guard must refuse"
    time.sleep(0.06)  # now expired
    b = MutationLease(kv, owner="bbbb", ttl_s=30.0)
    assert b.acquire("k", timeout_s=1.0)
    b.release("k")


def test_lease_release_skips_delete_near_expiry(tmp_path):
    """release() inside the guard window leaves the marker to age out
    rather than risking deletion of a thief's fresh marker; a waiter
    still gets the lease via the normal TTL steal."""
    kv = _kv(tmp_path)
    a = MutationLease(kv, owner="aaaa", ttl_s=0.5)
    assert a.acquire("k")
    marker = a._marker("k")
    time.sleep(0.47)
    a.release("k")  # inside guard: depth drops, marker stays
    assert kv.fs.exists(marker), "near-expiry release must not delete"
    b = MutationLease(kv, owner="bbbb", ttl_s=30.0)
    assert b.acquire("k", timeout_s=2.0), "waiter must steal after age-out"
    b.release("k")


def test_lease_release_retries_a_failed_marker_removal(tmp_path):
    """A release whose first marker removal faults retries it: no
    marker is left, and a second owner acquires at once instead of
    waiting out the TTL. Two faults in a row are counted
    (``release_errors``) and the marker ages out as a crashed holder's
    would."""
    from faultfs import FaultFS

    fs = FaultFS(LocalFS())
    kv = FileKV(fs, str(tmp_path / "locks"))
    a = MutationLease(kv, owner="aaaa", ttl_s=30.0)
    b = MutationLease(kv, owner="bbbb", ttl_s=30.0)
    assert a.acquire("k")
    fs.arm(fail_at=1)
    a.release("k")
    fs.disarm()
    assert [m for m, _p in fs.calls] == ["remove_file", "remove_file"]
    assert not os.path.exists(a._marker("k"))
    assert a.release_errors == 0
    t0 = time.monotonic()
    assert b.acquire("k", timeout_s=2.0)
    assert time.monotonic() - t0 < 1.0
    b.release("k")

    def always_fail(path):
        raise OSError("store unavailable")

    assert a.acquire("k")
    fs.inner.remove_file = always_fail
    a.release("k")
    assert a.release_errors == 1 and os.path.exists(a._marker("k"))
    # a marker already stolen and removed is the silent case
    del fs.inner.remove_file
    os.remove(a._marker("k"))
    a.release("k")
    assert a.release_errors == 1


def test_commit_rewrite_of_files_no_longer_live_raises(tmp_path):
    """commit_rewrite refreshes on-disk state and refuses, committing
    nothing, to remove a file that is no longer live: another driver's
    commit replaced it after this rewrite read it (the lost-write hazard
    when a lease is stolen mid-rewrite)."""
    import pytest
    from miniodb_spark.catalog import Catalog

    root = str(tmp_path / "store")
    c1 = Catalog(root)
    c2 = Catalog(root)
    c1.create_table("t")
    assert c1.register_flush_schema("t", {"id": "string"}) == 0
    c1.touch("t", add_files={0: ["dt=2023-11-14/a.parquet"]},
             schema={0: {"id": "string"}})
    c2.refresh_if_changed("t")
    # both drivers read a.parquet; driver 1 commits its rewrite first
    # (as if it stole the lease)
    c1.commit_rewrite("t", add_files={0: ["dt=2023-11-14/b.parquet"]},
                      remove_files={0: ["dt=2023-11-14/a.parquet"]})
    v = c2.current_version("t")
    with pytest.raises(RuntimeError, match="stale rewrite commit"):
        c2.commit_rewrite("t", add_files={0: ["dt=2023-11-14/c.parquet"]},
                          remove_files={0: ["dt=2023-11-14/a.parquet"]})
    assert c2.current_version("t") == v
    for c in (c1, c2):
        assert c.live_files("t") == {0: [("dt=2023-11-14/b.parquet", "2023-11-14")]}
    assert c2.gen_schemas("t") == [{"id": "string"}]


def test_rewrite_aborts_when_lease_stolen_midjob(spark, tmp_path):
    """End-to-end abort path for the lost-lease hazard: if the rewrite
    lease is stolen while the survivor write is in flight, the commit
    must abort LOUDLY before publishing — the catalog keeps the
    pre-rewrite state, every pre-delete row stays readable, and the
    orphan survivor generation directory is never referenced. The
    steal is simulated by failing the pre-commit ownership check
    (lease.verify), the exact signal a real TTL steal produces."""
    import pytest

    from miniodb_spark.engine import Engine

    root = str(tmp_path / "store")
    eng = Engine(spark, root)
    eng.create_table("t")
    for i in range(6):
        eng.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
    eng.flush("t")
    gens_before = eng.catalog.gen_schemas("t")
    files_before = eng.catalog.live_files("t")

    real_verify = eng.lease.verify
    eng.lease.verify = lambda key: False  # every ownership re-check fails
    try:
        with pytest.raises(RuntimeError, match="lease .* lost"):
            eng.delete("t", "r3")
    finally:
        eng.lease.verify = real_verify

    # catalog unchanged: no new generation, no file added or removed
    assert eng.catalog.gen_schemas("t") == gens_before
    assert eng.catalog.live_files("t") == files_before
    # all six rows still readable (the delete did NOT half-apply)
    rows = json.loads(eng.query("SELECT id FROM t ORDER BY id"))
    assert [r["id"] for r in rows] == [f"r{i}" for i in range(6)]
    # and a retry with the lease intact completes the delete
    assert eng.delete("t", "r3") == 1
    rows = json.loads(eng.query("SELECT id FROM t ORDER BY id"))
    assert [r["id"] for r in rows] == ["r0", "r1", "r2", "r4", "r5"]


def test_concurrent_update_and_merge_no_stall(spark, tmp_path):
    """Regression for the lock-order inversion: update() holding the
    process lock while waiting on the #rewrite lease used to stall a
    concurrent merge for the full 30 s lease timeout and then fail the
    update with a spurious TimeoutError. With leases ordered before
    the process lock, both complete promptly and correctly."""
    from miniodb_spark.catalog import TableConfig
    from miniodb_spark.engine import Engine

    root = str(tmp_path / "store")
    eng = Engine(spark, root)
    eng.create_table("t", TableConfig(name="t", buffer_size=10_000))
    for i in range(8):
        eng.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
    eng.flush("t")

    import datetime
    ts = datetime.datetime.fromtimestamp(T0 / US, datetime.timezone.utc)
    batch = spark.createDataFrame(
        [("r2", 202, ts), ("r6", 606, ts)],
        "id string, v long, timestamp timestamp")

    errs: list[Exception] = []
    gate_ = threading.Barrier(2)

    def upd():
        gate_.wait()
        try:
            eng.update("t", "r0", {"v": 999}, timestamp_us=T0)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def merge():
        gate_.wait()
        try:
            eng.merge_upsert("t", batch)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t_start = time.time()
    ts_ = [threading.Thread(target=upd), threading.Thread(target=merge)]
    [t.start() for t in ts_]
    [t.join() for t in ts_]
    elapsed = time.time() - t_start
    assert not errs, errs
    assert elapsed < 25, f"update+merge stalled {elapsed:.1f}s (lease-order bug?)"

    eng.flush("t")
    rows = json.loads(eng.query("SELECT id, v FROM t ORDER BY id"))
    got = {r["id"]: r["v"] for r in rows}
    assert len(rows) == len(got), "duplicate ids after update+merge race"
    assert got["r0"] == 999 and got["r2"] == 202 and got["r6"] == 606
    assert all(got[f"r{i}"] == i for i in (1, 3, 4, 5, 7))


def test_two_engines_update_update_no_duplicate(spark, tmp_path):
    """Cross-driver update-update of the SAME id (round-13 fix): before
    durable update, each driver's re-insert parked in its OWN buffer —
    invisible to the other driver's sweep — so both flushes landed a
    copy and the table held duplicate ids even WITHOUT a race. Now the
    re-insert persists under the held leases, so the second update
    sees and removes the first's row: exactly one copy, last writer
    wins."""
    from miniodb_spark.catalog import TableConfig
    from miniodb_spark.engine import Engine

    root = str(tmp_path / "store")
    a = Engine(spark, root)
    b = Engine(spark, root)
    a.create_table("t", TableConfig(name="t", buffer_size=10_000))
    for i in range(5):
        a.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
    a.flush("t")

    a.update("t", "r2", {"v": 100}, timestamp_us=T0)
    # deliberately NO b.catalog.refresh_if_changed here: update() must
    # refresh under its own held leases (ADVICE r13 — an explicit
    # refresh in the test masked a stale-catalog type-poisoning path)
    b.update("t", "r2", {"v": 200}, timestamp_us=T0)
    a.flush("t")
    b.flush("t")

    rows = json.loads(a.query("SELECT id, v FROM t ORDER BY id"))
    got = {}
    for r in rows:
        assert r["id"] not in got, f"duplicate id {r['id']}: {rows}"
        got[r["id"]] = r["v"]
    assert got["r2"] == 200, "second update must win"
    assert {k: v for k, v in got.items() if k != "r2"} == {
        f"r{i}": i for i in range(5) if i != 2
    }
    # update is durable at return: a third driver sees it with no flush
    c = Engine(spark, root)
    c.update("t", "r4", {"v": 444}, timestamp_us=T0)
    rows = json.loads(a.query("SELECT v FROM t WHERE id = 'r4'"))
    assert [r["v"] for r in rows] == [444]


def test_update_crash_before_sweep_duplicates_never_loses(
    spark, tmp_path, monkeypatch
):
    """Insert-first crash contract (reference miniodb_service.go:
    737-741): a failure between update's insert commit and its
    old-version sweep must leave a transient DUPLICATE — both versions
    visible — never a lost record; a retried update converges to
    exactly the new row."""
    import pytest as _pytest

    import miniodb_spark.engine as eng_mod
    from miniodb_spark.catalog import TableConfig
    from miniodb_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "store"))
    eng.create_table("t", TableConfig(name="t", buffer_size=10_000))
    eng.write("t", {"v": 1}, record_id="r1", timestamp_us=T0)
    eng.flush("t")

    real = eng_mod.delete_rows

    def boom(*a, **k):
        raise RuntimeError("injected crash before sweep")

    monkeypatch.setattr(eng_mod, "delete_rows", boom)
    with _pytest.raises(RuntimeError):
        eng.update("t", "r1", {"v": 2}, timestamp_us=T0)

    rows = json.loads(eng.query("SELECT id, v FROM t ORDER BY v"))
    assert [r["v"] for r in rows if r["id"] == "r1"] == [1, 2], (
        "crash between commits must leave both versions, not zero")

    monkeypatch.setattr(eng_mod, "delete_rows", real)
    eng.update("t", "r1", {"v": 3}, timestamp_us=T0)
    rows = json.loads(eng.query("SELECT id, v FROM t"))
    assert [r["v"] for r in rows if r["id"] == "r1"] == [3], (
        "retried update must sweep BOTH leaked versions")


def test_two_engines_merge_vs_update_same_key(spark, tmp_path):
    """A bulk merge on engine A races a row-API update on engine B for
    a key INSIDE the merge batch (both paths are insert-first and
    persisted-through as of round 13). The #rewrite lease serializes
    the two insert+sweep windows; the result must be one of the two
    serial histories — exactly one r2 row holding either the merge's or
    the update's value, never both, never zero, siblings untouched."""
    from miniodb_spark.catalog import TableConfig
    from miniodb_spark.engine import Engine

    root = str(tmp_path / "store")
    a = Engine(spark, root)
    b = Engine(spark, root)
    a.create_table("t", TableConfig(name="t", buffer_size=10_000))
    for i in range(6):
        a.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
    a.flush("t")

    import datetime
    ts = datetime.datetime.fromtimestamp(T0 / US, datetime.timezone.utc)
    batch = a.spark.createDataFrame(
        [("r2", 202, ts), ("r4", 404, ts)],
        "id string, v long, timestamp timestamp")

    errs: list[Exception] = []
    gate_ = threading.Barrier(2)

    def merge():
        gate_.wait()
        try:
            a.merge_upsert("t", batch)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def upd():
        gate_.wait()
        try:
            b.update("t", "r2", {"v": 999}, timestamp_us=T0)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts_ = [threading.Thread(target=merge), threading.Thread(target=upd)]
    [t.start() for t in ts_]
    [t.join() for t in ts_]
    assert not errs, errs

    rows = json.loads(a.query("SELECT id, v FROM t ORDER BY id"))
    got = {}
    for r in rows:
        assert r["id"] not in got, f"duplicate id {r['id']}: {rows}"
        got[r["id"]] = r["v"]
    base = {f"r{i}": i for i in range(6) if i not in (2, 4)}
    assert got in (
        base | {"r2": 999, "r4": 404},   # merge then update
        base | {"r2": 202, "r4": 404},   # update then merge
    ), got
    _assert_no_orphan_generations(a, root, "t")


def test_holding_retry_budget_and_counter(tmp_path):
    """holding(retries=N) makes the wait budget load-proportional
    (r13 verdict #1): after each failed full-timeout acquire it backs
    off (jittered exponential) and waits again, up to N extra rounds,
    bumping the busy_retries monitoring counter — and only THEN raises
    the reference's lock-failed error (miniodb_service.go:720-722).
    Budget pin: retries=2 means exactly 3 full waits, counter +2."""
    import pytest as _pytest

    kv = _kv(tmp_path)
    holder = MutationLease(kv, owner="aaaa", ttl_s=30.0)
    waiter = MutationLease(kv, owner="bbbb", ttl_s=30.0)
    assert holder.acquire("k")
    try:
        t0 = time.monotonic()
        with _pytest.raises(TimeoutError, match="after 3 full waits"):
            with waiter.holding("k", timeout_s=0.15, retries=2,
                                backoff_s=0.05):
                raise AssertionError("must not acquire a held lease")
        elapsed = time.monotonic() - t0
        # 3 waits of 0.15 s + 2 backoffs (0.05·[0.5,1.5] + 0.1·[0.5,1.5])
        assert 0.45 <= elapsed < 5.0, elapsed
        assert waiter.busy_retries == 2
        assert holder.busy_retries == 0
    finally:
        holder.release("k")


def test_holding_retry_succeeds_when_holder_releases(tmp_path):
    """A retried wait that finds the lease free proceeds normally: the
    contended-host scenario where the first 'mutation lease busy' is
    transient. The body runs exactly once and the lease round-trips."""
    kv = _kv(tmp_path)
    holder = MutationLease(kv, owner="aaaa", ttl_s=30.0)
    waiter = MutationLease(kv, owner="bbbb", ttl_s=30.0)

    # acquire + release on ONE thread: lease tokens are per
    # (owner, thread), so a cross-thread release is a refused no-op
    held = threading.Event()

    def hold_briefly():
        assert holder.acquire("k")
        held.set()
        time.sleep(0.4)
        holder.release("k")

    t = threading.Thread(target=hold_briefly)
    t.start()
    assert held.wait(5.0)
    ran = []
    with waiter.holding("k", timeout_s=0.1, retries=6, backoff_s=0.05):
        ran.append(True)
    t.join()
    assert ran == [True]
    assert waiter.busy_retries >= 1, "first wait should have been busy"
    # released cleanly: immediately re-acquirable by anyone
    assert holder.acquire("k", timeout_s=0.2)
    holder.release("k")


def test_update_invalid_table_name_no_side_effects(spark, tmp_path):
    """ADVICE r13: update() must validate the table name BEFORE any
    side effect. Previously the durable-update path called
    catalog.ensure_table (persisting <name>.json unvalidated) and took
    leases on the raw name before ingest's validation finally raised —
    creating a durable catalog entry for an unqueryable (write-only)
    table."""
    import pytest as _pytest

    from miniodb_spark.engine import Engine
    from miniodb_spark.gate import SQLGateError

    eng = Engine(spark, str(tmp_path / "store"))
    with _pytest.raises(SQLGateError):
        eng.update("bad-name!", "r1", {"v": 1}, timestamp_us=T0)
    assert eng.catalog.get_table("bad-name!") is None, \
        "invalid name persisted a catalog entry"
    locks_dir = tmp_path / "store" / "_meta" / "locks"
    if locks_dir.exists():
        leftovers = [p.name for p in locks_dir.iterdir()
                     if "bad" in p.name]
        assert not leftovers, leftovers


def test_update_stale_catalog_keeps_array_type(spark, tmp_path):
    """ADVICE r13 (medium): a driver whose catalog predates another
    driver's array<double> column must NOT JSON-stringify a list
    payload for that column — update() now refreshes the catalog under
    the held leases, so the cumulative schema used by _typed_row_df is
    current and the embedding column stays a real typed array (a
    single stringified row would merge_type-poison the whole column to
    string for every consumer)."""
    import datetime

    from miniodb_spark.catalog import TableConfig
    from miniodb_spark.engine import Engine

    root = str(tmp_path / "store")
    a = Engine(spark, root)
    b = Engine(spark, root)  # constructed now: catalog snapshot is empty
    a.create_table("t", TableConfig(name="t", buffer_size=10_000))
    ts = datetime.datetime.fromtimestamp(T0 / US, datetime.timezone.utc)
    a.ingest_dataframe("t", spark.createDataFrame(
        [("r1", ts, [1.0, 2.0]), ("r2", ts, [3.0, 4.0])],
        "id string, timestamp timestamp, emb array<double>"))

    # b's catalog is stale (no refresh here — update() must do it)
    b.update("t", "r1", {"emb": [9.0, 8.0]}, timestamp_us=T0)

    a.catalog.refresh_if_changed("t")
    assert a.catalog.schema_of("t").get("emb") == "array<double>", \
        a.catalog.schema_of("t")
    rows = json.loads(a.query("SELECT id, emb FROM t ORDER BY id"))
    got = {r["id"]: r["emb"] for r in rows}
    assert got == {"r1": [9.0, 8.0], "r2": [3.0, 4.0]}, got


def test_update_id_lease_survives_long_rewrite_wait(spark, tmp_path):
    """Round-14 retry design: with lease_busy_retries > 0, update()'s
    wait for a foreign #rewrite hold can exceed the (table, id)
    lease's TTL — the id-lease keepalive must keep it alive for the
    whole wait, or a concurrent mutation of the same id could
    interleave. Engine A runs with a 1 s TTL while engine B holds
    #rewrite for ~2.5 s: A's update must ride its retry budget to
    success, and a third owner must NOT be able to steal the id lease
    mid-wait."""
    from miniodb_spark.catalog import TableConfig
    from miniodb_spark.engine import Engine
    from miniodb_spark.fs import LocalFS
    from miniodb_spark.kv import FileKV, MutationLease

    root = str(tmp_path / "store")
    a = Engine(spark, root)
    b = Engine(spark, root)
    a.create_table("t", TableConfig(name="t", buffer_size=10_000))
    a.write("t", {"v": 1}, record_id="r1", timestamp_us=T0)
    a.flush("t")

    # short TTL on A: without the keepalive, its id lease would age
    # out during the multi-second #rewrite wait below
    a.lease.ttl_s = 1.0

    held = threading.Event()
    rewrite_live = threading.Event()

    def hold_rewrite():
        assert b.lease.acquire("t/#rewrite", timeout_s=5.0)
        rewrite_live.set()
        held.set()
        time.sleep(2.5)
        # clear BEFORE releasing: the thief only probes while #rewrite
        # is provably still held, i.e. while a.update is provably
        # still waiting and holding the id lease — probing after the
        # release would race update's own legitimate lease release
        rewrite_live.clear()
        b.lease.release("t/#rewrite")

    holder = threading.Thread(target=hold_rewrite)
    holder.start()
    assert held.wait(10.0)

    stolen = []

    def try_steal():
        # a third owner probes the id lease while A is mid-wait; a
        # live keepalive means every probe fails
        thief = MutationLease(
            FileKV(LocalFS(), str(tmp_path / "store" / "_meta" / "locks")),
            owner="thief", ttl_s=1.0)
        while rewrite_live.is_set():
            if thief.acquire("t/r1", timeout_s=0.05):
                if rewrite_live.is_set():
                    stolen.append(True)
                thief.release("t/r1")
                return
            time.sleep(0.1)

    # start probing only once update() actually HOLDS the id lease —
    # an earlier probe would legitimately acquire the still-free lease
    # and record a phantom steal
    marker = a.lease._marker("t/r1")

    def start_thief_when_held():
        t0 = time.monotonic()
        while not a.lease.kv.fs.exists(marker):
            if time.monotonic() - t0 > 10 or not rewrite_live.is_set():
                return
            time.sleep(0.02)
        try_steal()

    thief_t = threading.Thread(target=start_thief_when_held)
    thief_t.start()
    try:
        a.update("t", "r1", {"v": 2}, timestamp_us=T0)
    finally:
        holder.join()
        thief_t.join()
    assert not stolen, "id lease was stolen during the #rewrite wait"
    rows = json.loads(a.query("SELECT id, v FROM t"))
    assert [(r["id"], r["v"]) for r in rows] == [("r1", 2)]
