"""Randomized mutation soak (FIXTURES.md §A4): a sequence of
write/update/delete operations applied both to the engine and to a
plain Python dict model; final states must agree exactly. Exercises
buffer removal, tombstones, partition rewrite, update semantics, and
hybrid reads under interleaved flushes."""

import json
import random

from miniodb_spark.catalog import TableConfig

US = 1_000_000
DAY = 86_400 * US
T0 = 1_700_000_000 * US


def test_randomized_mutations_match_model(engine):
    rng = random.Random(42)
    engine.create_table("m", TableConfig(name="m", buffer_size=10_000))
    model: dict[str, dict] = {}

    ids = [f"id{i:03d}" for i in range(40)]
    for step in range(200):
        op = rng.random()
        rid = rng.choice(ids)
        ts = T0 + rng.randrange(5) * DAY
        if op < 0.55:  # write (new id or re-insert after delete)
            if rid not in model:
                payload = {"v": rng.randrange(1000), "grp": rng.choice("abc")}
                engine.write("m", payload, record_id=rid, timestamp_us=ts)
                model[rid] = payload
        elif op < 0.8:  # update
            if rid in model:
                payload = {"v": rng.randrange(1000), "grp": rng.choice("abc")}
                engine.update("m", rid, payload, timestamp_us=ts)
                model[rid] = payload
        else:  # delete
            if rid in model:
                n = engine.delete("m", rid)
                assert n >= 1, f"step {step}: delete {rid} removed nothing"
                del model[rid]
        if rng.random() < 0.15:
            engine.flush("m")
    engine.flush("m")

    rows = json.loads(engine.query("SELECT id, v, grp FROM m"))
    got = {r["id"]: {"v": r["v"], "grp": r["grp"]} for r in rows}
    assert len(rows) == len(got), "duplicate ids in result"
    assert got == model

    # aggregate view agrees too
    agg = json.loads(
        engine.query("SELECT grp, count(*) AS n FROM m GROUP BY grp ORDER BY grp")
    )
    from collections import Counter

    expected = Counter(v["grp"] for v in model.values())
    assert {r["grp"]: r["n"] for r in agg} == dict(expected)


def test_compression_config_applied(engine, tmp_path):
    import os

    engine.create_table("z", TableConfig(name="z", compression="zstd"))
    for i in range(3):
        engine.write("z", {"v": "x" * 500}, record_id=f"r{i}", timestamp_us=T0)
    engine.flush()
    files = []
    for root, _, fns in os.walk(os.path.join(engine.root, "z")):
        files += [f for f in fns if f.endswith(".parquet")]
    assert files and all(".zstd." in f or "zstd" in f for f in files), files
    rows = json.loads(engine.query("SELECT count(*) AS n FROM z"))
    assert rows[0]["n"] == 3


def test_merge_upsert_bulk(engine, spark):
    """Bulk MERGE (SCD1): existing keys replaced, new keys inserted, one
    version per key afterwards, untouched keys intact."""
    engine.create_table("mu", TableConfig(name="mu", buffer_size=10_000))
    for i in range(10):
        engine.write("mu", {"v": i}, record_id=f"r{i}", timestamp_us=T0 + i * DAY)
    engine.flush("mu")

    import datetime
    ts = datetime.datetime.fromtimestamp(T0 / US, datetime.timezone.utc)
    batch = spark.createDataFrame(
        [(k, v, ts) for k, v in
         [("r2", 102), ("r4", 104), ("r6", 106), ("n1", 201), ("n2", 202)]],
        "id string, v long, timestamp timestamp",
    )
    inserted, replaced = engine.merge_upsert("mu", batch)
    assert (inserted, replaced) == (5, 3)

    rows = json.loads(engine.query("SELECT id, v FROM mu ORDER BY id"))
    got = {r["id"]: r["v"] for r in rows}
    assert len(rows) == len(got), "duplicate versions after merge"
    expect = {f"r{i}": i for i in range(10) if i not in (2, 4, 6)}
    expect |= {"r2": 102, "r4": 104, "r6": 106, "n1": 201, "n2": 202}
    assert got == expect

    # idempotent retry (the crash-recovery story: re-running the merge
    # after a partial failure converges): same batch again -> the prior
    # merged copies are themselves replaced, still one version per key
    inserted, replaced = engine.merge_upsert("mu", batch)
    assert (inserted, replaced) == (5, 5)
    rows = json.loads(engine.query("SELECT id, v FROM mu ORDER BY id"))
    assert {r["id"]: r["v"] for r in rows} == expect and len(rows) == 12


def test_merge_upsert_replaces_buffered_rows(engine, spark):
    """Unflushed buffered rows of a merged key must not resurrect on the
    next flush (the merge drains the buffer first)."""
    engine.create_table("mb", TableConfig(name="mb", buffer_size=10_000))
    engine.write("mb", {"v": 1}, record_id="k1", timestamp_us=T0)
    engine.write("mb", {"v": 2}, record_id="k2", timestamp_us=T0)  # buffered

    import datetime
    ts = datetime.datetime.fromtimestamp(T0 / US, datetime.timezone.utc)
    batch = spark.createDataFrame([("k2", 22, ts)],
                                  "id string, v long, timestamp timestamp")
    engine.merge_upsert("mb", batch)
    engine.flush("mb")
    rows = json.loads(engine.query("SELECT id, v FROM mb ORDER BY id"))
    assert {r["id"]: r["v"] for r in rows} == {"k1": 1, "k2": 22}
    assert len(rows) == 2


def test_collapse_generations_after_merges(engine, spark):
    """Merges open no generation; type drift does. The collapse
    maintenance pass folds the drifted generations into one cumulative
    generation, tombstones the dead ones (no directory stat per scan),
    and leaves the data byte-identical."""
    import datetime
    import os

    engine.create_table("cg", TableConfig(name="cg", buffer_size=10_000))
    for i in range(6):
        engine.write("cg", {"v": i}, record_id=f"r{i}", timestamp_us=T0 + i * DAY)
    engine.flush("cg")

    ts = datetime.datetime.fromtimestamp(T0 / US, datetime.timezone.utc)
    for n in range(3):  # three merges stay in generation 0
        batch = spark.createDataFrame(
            [(f"r{n}", 100 + n, ts)], "id string, v long, timestamp timestamp")
        engine.merge_upsert("cg", batch)
    assert len(engine.catalog.gen_schemas("cg")) == 1
    # type drift: string after long, then long after string
    engine.write("cg", {"v": "text"}, record_id="s0", timestamp_us=T0)
    engine.flush("cg")
    engine.write("cg", {"v": 7}, record_id="s1", timestamp_us=T0 + DAY)
    engine.flush("cg")
    assert len(engine.catalog.gen_schemas("cg")) == 3
    before = json.loads(engine.query("SELECT id, v FROM cg ORDER BY id"))
    n_gens_before = len([g for g in engine.catalog.gen_schemas("cg") if g])
    assert n_gens_before > 1

    folded = engine.collapse_generations("cg")
    assert folded > 0
    after = json.loads(engine.query("SELECT id, v FROM cg ORDER BY id"))
    assert after == before, "collapse changed query results"
    live = [g for g in engine.catalog.gen_schemas("cg") if g]
    assert len(live) == 1, "collapse left multiple live generations"
    # dead generation directories are gone from disk
    tdir = os.path.join(engine.root, "cg")
    on_disk = [d for d in os.listdir(tdir) if d.startswith("gen=")]
    assert len(on_disk) == 1, on_disk
    # collapse is idempotent: single-generation table is a no-op
    assert engine.collapse_generations("cg") == 0
    # and the table stays fully usable afterwards
    engine.write("cg", {"v": 99}, record_id="post", timestamp_us=T0)
    engine.flush("cg")
    rows = json.loads(engine.query("SELECT count(*) AS n FROM cg"))
    assert rows[0]["n"] == len(before) + 1


def test_randomized_mutations_with_merges_match_model(engine, spark):
    """Randomized soak with bulk merges mixed into the write/update/
    delete stream: engine state must equal the dict model exactly after
    every interleaving of buffer writes, flushes, rewrites and merges."""
    import datetime

    rng = random.Random(7)
    engine.create_table("mm", TableConfig(name="mm", buffer_size=10_000))
    model: dict[str, dict] = {}
    ids = [f"id{i:03d}" for i in range(30)]
    ts_dt = datetime.datetime.fromtimestamp(T0 / US, datetime.timezone.utc)

    for step in range(60):
        op = rng.random()
        rid = rng.choice(ids)
        ts = T0 + rng.randrange(3) * DAY
        if op < 0.4:
            if rid not in model:
                payload = {"v": rng.randrange(1000)}
                engine.write("mm", payload, record_id=rid, timestamp_us=ts)
                model[rid] = payload
        elif op < 0.55:
            if rid in model:
                payload = {"v": rng.randrange(1000)}
                engine.update("mm", rid, payload, timestamp_us=ts)
                model[rid] = payload
        elif op < 0.7:
            if rid in model:
                engine.delete("mm", rid)
                del model[rid]
        else:  # bulk merge of 3 random keys (mix of existing + new)
            keys = rng.sample(ids, 3)
            rows = [(k, rng.randrange(1000), ts_dt) for k in keys]
            batch = spark.createDataFrame(
                rows, "id string, v long, timestamp timestamp")
            engine.merge_upsert("mm", batch)
            for k, v, _ in rows:
                model[k] = {"v": v}
        if rng.random() < 0.2:
            engine.flush("mm")
    engine.flush("mm")

    rows = json.loads(engine.query("SELECT id, v FROM mm ORDER BY id"))
    got = {r["id"]: {"v": r["v"]} for r in rows}
    assert len(rows) == len(got), "duplicate ids after merge-mixed soak"
    assert got == model


def test_two_driver_randomized_mutations_match_model(engine, spark):
    """Two-driver randomized mutation soak (round-13 durable-update
    semantics): two Engine instances over one store root interleave
    writes, flushes, updates and deletes under a shared model. The one
    documented visibility rule the op generator respects: a plain
    write() is buffered in its OWN driver, so the model only routes a
    mutation of an id through the OTHER driver once the owning buffer
    flushed (the reference gets this for free by routing each id to one
    node; flushes here make ownership transferable). Updates/deletes
    are durable at return, so they may bounce between drivers freely.
    Final persisted state must equal the model exactly — in particular,
    never two rows for one id."""
    import random

    from miniodb_spark.engine import Engine

    rng = random.Random(1313)
    engine.create_table("mm", TableConfig(name="mm", buffer_size=10_000))
    other = Engine(spark, engine.root)
    drivers = [engine, other]

    model: dict[str, dict] = {}
    buffered_by: dict[str, int] = {}  # id -> driver index holding it
    ids = [f"id{i:03d}" for i in range(24)]

    for step in range(120):
        op = rng.random()
        rid = rng.choice(ids)
        d = rng.randrange(2)
        eng = drivers[d]
        ts = T0 + rng.randrange(3) * DAY
        if op < 0.40:
            if rid not in model:
                payload = {"v": rng.randrange(1000)}
                eng.write("mm", payload, record_id=rid, timestamp_us=ts)
                model[rid] = payload
                buffered_by[rid] = d
        elif op < 0.55:
            drivers[d].flush("mm")
            buffered_by = {
                k: v for k, v in buffered_by.items() if v != d
            }
        elif op < 0.8:
            # mutate only through a driver that can SEE the row: any
            # driver once flushed, else the owning driver
            if rid in model:
                owner = buffered_by.get(rid, d)
                payload = {"v": rng.randrange(1000)}
                drivers[owner].update("mm", rid, payload,
                                      timestamp_us=ts)
                model[rid] = payload
                # durable at return: persisted, no longer buffer-owned
                buffered_by.pop(rid, None)
        else:
            if rid in model:
                owner = buffered_by.get(rid, d)
                n = drivers[owner].delete("mm", rid)
                assert n >= 1, f"step {step}: delete {rid} lost"
                del model[rid]
                buffered_by.pop(rid, None)

    for eng in drivers:
        eng.flush("mm")
    rows = json.loads(engine.query("SELECT id, v FROM mm ORDER BY id"))
    got: dict[str, int] = {}
    for r in rows:
        assert r["id"] not in got, f"duplicate id {r['id']}"
        got[r["id"]] = r["v"]
    assert got == {k: v["v"] for k, v in model.items()}


def test_mutations_open_no_generation(engine, spark):
    """Updates, deletes, a merge and the empty-id cleanup rewrite files
    inside the table's one generation: the generation list and every
    commit line's schema doc stay exactly the seed's, and the answers
    equal a dict model on the Spark path and on the Arrow lookup path.
    Only a type change opens a generation: a type-drift update opens
    exactly one."""
    import datetime
    import os

    engine.create_table("g1", TableConfig(name="g1", buffer_size=10_000))
    model: dict[str, tuple] = {}
    for i in range(12):
        rid, v, grp = f"r{i:02d}", i, "abc"[i % 3]
        engine.write("g1", {"v": v, "grp": grp}, record_id=rid,
                     timestamp_us=T0 + (i % 3) * DAY)
        model[rid] = (v, grp)
    engine.flush("g1")
    ts = datetime.datetime.fromtimestamp(T0 / US, datetime.timezone.utc)
    # a row with an empty id, for cleanup_empty_id_records
    engine.ingest_dataframe("g1", spark.createDataFrame(
        [("", ts, 99, "a")], "id string, timestamp timestamp, v long, grp string"))
    log = os.path.join(engine.root, "_system", "tables", "_history", "g1.jsonl")

    def docs():
        with open(log, encoding="utf-8") as fh:
            return [json.dumps(json.loads(ln)["doc"]) for ln in fh]

    seed = docs()[-1]
    n_seed = len(docs())

    for n in range(5):
        rid = f"r{n:02d}"
        engine.update("g1", rid, {"v": 100 + n, "grp": "u"},
                      timestamp_us=T0 + (n % 3) * DAY)
        model[rid] = (100 + n, "u")
    for rid in ("r05", "r06", "r09"):
        assert engine.delete("g1", rid) == 1
        del model[rid]
    batch = spark.createDataFrame(
        [("r07", ts, 207, "m"), ("n01", ts, 300, "m")],
        "id string, timestamp timestamp, v long, grp string")
    assert engine.merge_upsert("g1", batch) == (2, 1)
    model.update({"r07": (207, "m"), "n01": (300, "m")})
    assert engine.cleanup_empty_id_records("g1") == 1

    assert len(engine.catalog.gen_schemas("g1")) == 1
    assert len(docs()) > n_seed + 10
    assert set(docs()[n_seed - 1:]) == {seed}

    def check(want, arrow_only=True):
        rows = json.loads(engine.query("SELECT * FROM g1 ORDER BY id"))
        assert [(r["id"], r["v"], r["grp"]) for r in rows] == sorted(
            (k, *want[k]) for k in want)
        n = json.loads(engine.query(
            "SELECT count(DISTINCT id) AS n FROM g1"))[0]["n"]
        assert n == len(want)
        arrow = engine.query_stats["lookups"]["arrow"]
        for rid in sorted(want) + ["r05", ""]:
            rows = json.loads(engine.query(
                f"SELECT id, v, grp FROM g1 WHERE id = '{rid}'"))
            assert [(r["id"], r["v"], r["grp"]) for r in rows] == (
                [(rid, *want[rid])] if rid in want else []), rid
        if arrow_only:  # else a long read as string declines ("cast")
            assert engine.query_stats["lookups"]["arrow"] == (
                arrow + len(want) + 2)

    check(model)
    # a type change opens exactly one generation
    engine.update("g1", "r10", {"v": "text", "grp": "d"}, timestamp_us=T0)
    assert len(engine.catalog.gen_schemas("g1")) == 2
    check({k: (str(v), g) for k, (v, g) in model.items()}
          | {"r10": ("text", "d")}, arrow_only=False)


def test_delete_keeps_rows_its_predicate_reads_as_null(engine, spark):
    """A row whose id is NULL shares a partition with the deleted row:
    ``id = 'r1'`` is NULL for it, neither true nor false, so it is not
    deleted and must survive the rewrite. Only the empty-id cleanup
    removes it."""
    import datetime

    ts = datetime.datetime.fromtimestamp(T0 / US, datetime.timezone.utc)
    engine.ingest_dataframe("nl", spark.createDataFrame(
        [("r1", ts, 1), ("r2", ts, 2), (None, ts, 3)],
        "id string, timestamp timestamp, v long"))
    assert engine.delete("nl", "r1") == 1
    rows = json.loads(engine.query("SELECT id, v FROM nl ORDER BY v"))
    assert [(r.get("id"), r["v"]) for r in rows] == [("r2", 2), (None, 3)]
    assert engine.cleanup_empty_id_records("nl") == 1
    rows = json.loads(engine.query("SELECT id, v FROM nl ORDER BY v"))
    assert [(r.get("id"), r["v"]) for r in rows] == [("r2", 2)]
