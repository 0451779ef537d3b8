import pytest

from miniodb_spark.buffer import WAL, BufferRow, WriteBuffer
from miniodb_spark.cache import QueryResultCache, cache_key, normalize_sql
from miniodb_spark.idgen import IDGenerator, resolve_id


def test_normalize_sql_preserves_literals():
    a = normalize_sql("SELECT  *   FROM Users WHERE name = 'John  DOE'")
    assert a == "select * from users where name = 'John  DOE'"
    assert "''" in normalize_sql("select 'it''s'")


def test_cache_key_stable_under_formatting():
    k1 = cache_key("SELECT * FROM users", ["users"])
    k2 = cache_key("select   *  from USERS", ["users"])
    assert k1 == k2


def test_cache_hit_and_invalidation():
    c = QueryResultCache(ttl_s=60)
    c.put("select * from t", ["t"], "[1]")
    assert c.get("select * from t", ["t"]) == "[1]"
    assert c.invalidate_table("t") == 1
    assert c.get("select * from t", ["t"]) is None


def test_cache_lru_eviction():
    c = QueryResultCache(max_entries=2)
    c.put("q1", ["t"], 1)
    c.put("q2", ["t"], 2)
    c.put("q3", ["t"], 3)
    assert c.get("q1", ["t"]) is None
    assert c.get("q3", ["t"]) == 3


def test_idgen_strategies():
    g = IDGenerator(node_id=3)
    u = g.generate("uuid")
    assert len(u) == 36
    s1, s2 = int(g.generate("snowflake")), int(g.generate("snowflake"))
    assert s2 > s1
    assert g.generate("custom", "ord-") == "ord-000000000001"
    assert resolve_id("abc", "uuid", True, g) == "abc"
    with pytest.raises(ValueError):
        resolve_id(None, "user_provided", True, g)
    with pytest.raises(ValueError):
        resolve_id("bad id!", "uuid", True, g)


def test_wal_replay_and_tombstone(tmp_path):
    wal_path = str(tmp_path / "t.wal")
    buf = WriteBuffer(wal_path, buffer_size=100)
    buf.add(BufferRow("a", 1_000_000, "t", {"x": 1}))
    buf.add(BufferRow("b", 2_000_000, "t", {"x": 2}))
    buf.remove("t", "a")
    buf.wal.close()

    recovered = WriteBuffer(wal_path, buffer_size=100)
    ids = [r.id for r in recovered.rows_for("t")]
    assert ids == ["b"]


def test_wal_corrupt_tail_dropped(tmp_path):
    wal_path = str(tmp_path / "t.wal")
    buf = WriteBuffer(wal_path, buffer_size=100)
    buf.add(BufferRow("a", 1_000_000, "t", {"x": 1}))
    buf.wal.close()
    with open(wal_path, "a") as fh:
        fh.write('{"seq":99,"type":"insert","payload":{}}\t123\n')  # bad crc
    recs = WAL.replay(wal_path)
    assert len(recs) == 1 and recs[0]["payload"]["id"] == "a"


def test_buffer_size_trigger(tmp_path):
    buf = WriteBuffer(str(tmp_path / "t.wal"), buffer_size=2)
    assert buf.add(BufferRow("a", 1, "t", {})) is False
    assert buf.add(BufferRow("b", 2, "t", {})) is True


def test_truncate_upto_atomic_keeps_later_records(tmp_path):
    from miniodb_spark.buffer import WAL

    wal = WAL(str(tmp_path / "w.log"))
    s1 = wal.append("insert", {"id": "a", "timestamp": 1, "table_name": "t", "fields": {}})
    wal.append("insert", {"id": "b", "timestamp": 2, "table_name": "t", "fields": {}})
    wal.truncate_upto(s1)
    recs = WAL.replay(wal.path)
    assert [r["payload"]["id"] for r in recs] == ["b"]
    # no stray temp file left behind
    import os
    assert not os.path.exists(wal.path + ".tmp")


def test_requeue_respects_tombstones_after_drain(tmp_path):
    from miniodb_spark.buffer import BufferRow, WriteBuffer

    buf = WriteBuffer(str(tmp_path / "w.log"))
    buf.add(BufferRow("r1", 1_000_000, "t", {"v": 1}))
    buf.add(BufferRow("r2", 1_000_000, "t", {"v": 2}))
    batch, seq = buf.drain()
    # a delete lands between drain and the (failed) flush: finds nothing
    # in the buffer but writes a tombstone
    assert buf.remove("t", "r1") == 0
    buf.requeue(batch)
    live = {r.id for r in buf.rows_for("t")}
    assert live == {"r2"}  # r1 must stay deleted
    # crash-recovery path agrees: replaying the WAL suppresses r1 too
    buf2 = WriteBuffer(str(tmp_path / "w.log"))
    assert {r.id for r in buf2.rows_for("t")} == {"r2"}


def test_failed_flush_rolls_back_new_generation(spark, tmp_path):
    from miniodb_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "store"))
    eng.write("t", {"v": 1}, record_id="a", timestamp_us=1_700_000_000_000_000)
    eng.flush()
    assert len(eng.catalog.gen_schemas("t")) == 1
    # incompatible type for v forces a NEW generation; make the write fail
    eng.write("t", {"v": "now-a-string"}, record_id="b",
              timestamp_us=1_700_000_000_000_000)
    # fail after register_flush_schema picked the new generation,
    # before any file is written: the pick alone records nothing
    orig_gen_dir = eng._gen_dir
    calls = []
    def boom(table, gen):
        if not calls:  # fail the write; let the cleanup path resolve the dir
            calls.append(1)
            raise RuntimeError("injected write failure")
        return orig_gen_dir(table, gen)
    eng._gen_dir = boom
    try:
        import pytest
        with pytest.raises(RuntimeError):
            eng.flush("t")
    finally:
        eng._gen_dir = orig_gen_dir
    # the failed flush must not have minted generation 2
    assert len(eng.catalog.gen_schemas("t")) == 1
    # rows were requeued; a retry succeeds and opens the generation for real
    assert eng.flush("t") == 1
    assert len(eng.catalog.gen_schemas("t")) == 2


def test_wal_segment_rotation_and_replay(tmp_path):
    from miniodb_spark.buffer import WAL

    wal = WAL(str(tmp_path / "w.log"), max_segment_bytes=500)
    seqs = [wal.append("insert", {"id": f"r{i}", "timestamp": i,
                                  "table_name": "t", "fields": {"v": i}})
            for i in range(20)]
    segs = WAL._segments(wal.path)
    assert segs, "rotation should have sealed at least one segment"
    # replay spans sealed segments + active file, in order, no loss
    recs = WAL.replay(wal.path)
    assert [r["seq"] for r in recs] == seqs
    # a new WAL on the same path resumes the sequence after the max
    wal.close()
    wal2 = WAL(str(tmp_path / "w.log"), max_segment_bytes=500)
    s = wal2.append("insert", {"id": "next", "timestamp": 0,
                               "table_name": "t", "fields": {}})
    assert s == seqs[-1] + 1


def test_wal_truncate_upto_drops_covered_segments(tmp_path):
    from miniodb_spark.buffer import WAL

    wal = WAL(str(tmp_path / "w.log"), max_segment_bytes=500)
    seqs = [wal.append("insert", {"id": f"r{i}", "timestamp": i,
                                  "table_name": "t", "fields": {"v": i}})
            for i in range(20)]
    n_segs_before = len(WAL._segments(wal.path))
    assert n_segs_before >= 2
    # flush covering everything but the last 3 records
    wal.truncate_upto(seqs[-4])
    remaining = WAL.replay(wal.path)
    assert [r["seq"] for r in remaining] == seqs[-3:]
    # covered segments were deleted whole, not rewritten empty
    for seg in WAL._segments(wal.path):
        assert WAL._read_lines(seg), "no empty segments should linger"
    # full truncate clears segments too
    wal.truncate()
    assert WAL.replay(wal.path) == []
    assert WAL._segments(wal.path) == []


def test_version_store_cross_instance_invalidation(tmp_path):
    """Two caches over one shared version store (two driver processes on
    one object-store root): invalidation through either is visible to
    the other's next get."""
    from miniodb_spark.fs import LocalFS
    from miniodb_spark.kv import FileKV, TableVersionStore

    def make_cache():
        vs = TableVersionStore(FileKV(LocalFS(), str(tmp_path / "versions")))
        return QueryResultCache(ttl_s=60, version_store=vs)

    a, b = make_cache(), make_cache()
    a.put("select * from t", ["t"], "[a]")
    b.put("select * from t", ["t"], "[b]")
    assert b.get("select * from t", ["t"]) == "[b]"
    a.invalidate_table("t")          # "a write through A"
    assert b.get("select * from t", ["t"]) is None   # B sees it
    assert a.get("select * from t", ["t"]) is None
    # refill after the bump: stable until the next mutation
    b.put("select * from t", ["t"], "[b2]")
    assert b.get("select * from t", ["t"]) == "[b2]"
    a.invalidate_table("other")      # unrelated table: no effect
    assert b.get("select * from t", ["t"]) == "[b2]"


def test_version_store_memo_bounds_staleness(tmp_path):
    from miniodb_spark.fs import LocalFS
    from miniodb_spark.kv import FileKV, TableVersionStore

    kv = FileKV(LocalFS(), str(tmp_path / "v"))
    writer = TableVersionStore(kv)
    reader = TableVersionStore(kv, memo_ttl_s=60.0)
    assert reader.version("t") is None
    writer.bump("t")
    # within the memo TTL the reader may still answer None (bounded
    # staleness by design); a fresh store sees the bump immediately
    assert TableVersionStore(kv).version("t") is not None


def test_two_engines_one_root_cross_invalidate(spark, tmp_path):
    """Multi-driver serving on one store root: a write committed through
    engine A must invalidate engine B's cached query AND be visible to
    B's re-execution (shared version nonces + catalog refresh)."""
    import json

    from miniodb_spark.engine import Engine

    root = str(tmp_path / "store")
    a = Engine(spark, root)
    b = Engine(spark, root)
    t0 = 1_700_000_000 * 1_000_000
    a.write("shared", {"v": 1}, record_id="r1", timestamp_us=t0)
    a.flush()

    # medium-complexity query (group+order+agg) → cache-worthy
    sql = "SELECT v, count(*) AS n FROM shared GROUP BY v ORDER BY v"
    assert len(json.loads(b.query(sql))) == 1
    assert len(json.loads(b.query(sql))) == 1  # second call: cache hit
    assert b.cache.hits >= 1

    a.write("shared", {"v": 2}, record_id="r2", timestamp_us=t0)
    a.flush()
    # B was never told directly — the shared nonce + catalog mtime do it
    assert len(json.loads(b.query(sql))) == 2


def test_filekv_keys_are_collision_free(tmp_path):
    """_safe must be injective: 'sketch/hll/a_b/c' and 'sketch/hll/a/b_c'
    collided under a lossy '/'->'_' mapping, silently overwriting an
    unrelated key's value."""
    from miniodb_spark.fs import LocalFS
    from miniodb_spark.kv import FileKV

    kv = FileKV(LocalFS(), str(tmp_path / "kv"))
    kv.put("sketch/hll/a_b/c", b"one")
    kv.put("sketch/hll/a/b_c", b"two")
    assert kv.get("sketch/hll/a_b/c") == b"one"
    assert kv.get("sketch/hll/a/b_c") == b"two"
    kv.delete("sketch/hll/a_b/c")
    assert kv.get("sketch/hll/a_b/c") is None
    assert kv.get("sketch/hll/a/b_c") == b"two"


def test_wal_truncate_upto_full_coverage_fast_path(tmp_path):
    """truncate_upto(seq >= last assigned) takes the no-reparse fast
    path (r17): segments and active file are dropped wholesale. Must
    behave exactly like the slow path — everything gone, including a
    CRC-corrupt tail, appends still work after, no temp file left."""
    from miniodb_spark.buffer import WAL

    wal = WAL(str(tmp_path / "w.log"), max_segment_bytes=500)
    seqs = [wal.append("insert", {"id": f"r{i}", "timestamp": i,
                                  "table_name": "t", "fields": {"v": i}})
            for i in range(20)]
    assert len(WAL._segments(wal.path)) >= 2
    # simulate a torn tail write (crash mid-append): fast path must
    # discard it just like the slow path's CRC check would
    with open(wal.path, "a", encoding="utf-8") as fh:
        fh.write('{"seq": 999, "type": "insert"\tBADCRC\n')
    wal.truncate_upto(seqs[-1])
    assert WAL.replay(wal.path) == []
    assert WAL._segments(wal.path) == []
    import os
    assert not os.path.exists(wal.path + ".tmp")
    s = wal.append("insert", {"id": "after", "timestamp": 0,
                              "table_name": "t", "fields": {}})
    assert s == seqs[-1] + 1  # sequence still monotonic after fast path
    assert [r["payload"]["id"] for r in WAL.replay(wal.path)] == ["after"]
