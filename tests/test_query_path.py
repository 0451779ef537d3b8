"""The serve query path builds only the scan a query uses.

- The full hybrid scan is built only when no pruned scan replaces it.
- ``read_persisted`` caches its head scan per table, keyed by catalog
  state and the commit-log version: every writer that changes the files
  or the catalog must make the next answer equal a fresh Engine's, and
  a warm query lists no directory.
- Results are collected with the limit above ``toJSON`` (a CollectLimit,
  no single-partition shuffle) and the same JSON text as before.
"""

import json

import pytest
from pyspark.sql import functions as F

from miniodb_spark.backup import BackupManager
from miniodb_spark.catalog import TableConfig
from miniodb_spark.engine import Engine

US = 1_000_000
DAY = 86_400 * US
T0 = 1_700_000_000 * US  # 2023-11-14 UTC

HEAD_SQL = "SELECT * FROM t"


def _rows(eng, sql=HEAD_SQL):
    return sorted(
        json.dumps(r.asDict(), sort_keys=True, default=str)
        for r in eng.query_df(sql).collect()
    )


def _seed(eng, table="t", n=6, days=3, v0=0):
    for i in range(n):
        eng.write(table, {"v": v0 + i}, record_id=f"r{i}",
                  timestamp_us=T0 + (i % days) * DAY)
    eng.flush(table)


def _assert_fresh(eng, before=None):
    """The long-lived engine answers exactly like a freshly booted one
    (and, when ``before`` is given, the writer did change the answer)."""
    got = _rows(eng)
    assert got == _rows(Engine(eng.spark, eng.root))
    if before is not None:
        assert got != before
    return got


def _head_cached(eng):
    before = _rows(eng)
    assert "t" in eng._head_scans
    return before


# -- cache freshness, one test per writer -------------------------------------


def test_unchanged_table_reuses_the_head_scan(engine):
    _seed(engine)
    first = engine.read_persisted("t")
    assert engine.read_persisted("t") is first
    engine.write("t", {"v": 99}, record_id="x", timestamp_us=T0)
    engine.flush("t")
    assert engine.read_persisted("t") is not first


def test_flush_into_existing_day(engine):
    _seed(engine)
    before = _head_cached(engine)
    engine.write("t", {"v": 42}, record_id="new", timestamp_us=T0 + 5)
    engine.flush("t")
    assert any('"new"' in r for r in _assert_fresh(engine, before))


def test_ingest_dataframe(engine, spark):
    _seed(engine)
    before = _head_cached(engine)
    df = spark.createDataFrame(
        [("bulk1", 7, "t")], "id string, v long, table_name string"
    ).withColumn("timestamp", F.timestamp_micros(F.lit(T0 + DAY)))
    engine.ingest_dataframe("t", df)
    _assert_fresh(engine, before)


def test_update_and_delete(engine):
    _seed(engine)
    before = _head_cached(engine)
    engine.update("t", "r1", {"v": 1000}, timestamp_us=T0 + DAY)
    before = _assert_fresh(engine, before)
    engine.delete("t", "r2")
    _assert_fresh(engine, before)


def test_compact(engine):
    for i in range(6):  # six one-file flushes into one day: L0 merges
        engine.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0 + i)
        engine.flush("t")
    before = _head_cached(engine)
    files = engine._head_scans["t"][0]
    assert engine.compact("t")
    assert engine.read_persisted("t") is not None
    assert engine._head_scans["t"][0] != files
    assert _assert_fresh(engine) == before  # same rows, new files


def test_enforce_retention(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "store"))
    eng.create_table("t", TableConfig(name="t", retention_days=3))
    for i in range(6):
        eng.write("t", {"v": i}, record_id=f"r{i}", timestamp_us=T0 - i * DAY)
    eng.flush("t")
    before = _head_cached(eng)
    assert eng.enforce_retention(now_us=T0) == 2
    assert len(_assert_fresh(eng, before)) == 4


def test_vacuum_and_collapse_generations(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "store"), retain_history=True)
    _seed(eng)
    # a conflicting type opens a second generation
    eng.write("t", {"v": "text"}, record_id="s0", timestamp_us=T0)
    eng.flush("t")
    assert len(eng.catalog.gen_schemas("t")) == 2
    eng.delete("t", "r0")
    before = _head_cached(eng)
    assert eng.vacuum("t") > 0
    assert _assert_fresh(eng) == before  # superseded files were invisible
    assert eng.collapse_generations("t") > 0
    assert _assert_fresh(eng) == before
    assert eng.vacuum("t") >= 0
    assert _assert_fresh(eng) == before


def test_backup_then_restore(engine):
    _seed(engine)
    mgr = BackupManager(engine.catalog, engine=engine)
    name = mgr.create_data_backup(["t"])["object_name"]
    backed_up = _rows(engine)
    engine.delete("t", "r0")
    engine.write("t", {"v": 5}, record_id="late", timestamp_us=T0)
    engine.flush("t")
    _head_cached(engine)
    mgr.restore_data_backup(name)
    assert _assert_fresh(engine) == backed_up


def test_restore_equals_its_manifest(engine):
    """A row flushed after the backup into the SAME generation is gone
    after the restore: the restore commits the manifest's files and
    removes every other live file."""
    _seed(engine)
    mgr = BackupManager(engine.catalog, engine=engine)
    name = mgr.create_data_backup(["t"])["object_name"]
    backed_up = _rows(engine)
    engine.write("t", {"v": 5}, record_id="late", timestamp_us=T0)
    engine.flush("t")
    assert len(engine.catalog.gen_schemas("t")) == 1
    assert len(_rows(engine)) == 7
    mgr.restore_data_backup(name)
    assert _rows(Engine(engine.spark, engine.root)) == backed_up
    assert _rows(engine) == backed_up


def test_restore_leaves_only_the_manifest_on_disk(engine):
    """The restore commits the manifest's files and removes every other
    live file; its collection then deletes what it removed, so the
    table's data files on disk are exactly the manifest's."""
    import os

    from diskstate import data_files

    _seed(engine, days=1)
    mgr = BackupManager(engine.catalog, engine=engine)
    info = mgr.create_data_backup(["t"])
    manifest = json.loads(engine.fs.read_bytes(os.path.join(
        mgr.backup_root, info["object_name"], "MANIFEST.json")))
    engine.write("t", {"v": 5}, record_id="late", timestamp_us=T0)
    engine.flush("t")
    mgr.restore_data_backup(info["object_name"])
    on_disk = data_files(engine, "t")
    assert on_disk == sorted(e["rel"] for e in manifest["tables"]["t"])
    assert len(on_disk) == 1


def test_backup_copies_the_live_set_only(engine):
    """A file in the table directory that no commit added is not part of
    the table, so it is not backed up."""
    import os
    import shutil

    _seed(engine)
    live = engine.catalog.live_files("t")
    rel, dt = live[0][0]
    gdir = engine._gen_dir("t", 0)
    shutil.copy(os.path.join(gdir, rel),
                os.path.join(gdir, f"dt={dt}", "part-00000-orphan.parquet"))
    mgr = BackupManager(engine.catalog, engine=engine)
    info = mgr.create_data_backup(["t"])
    manifest = json.loads(engine.fs.read_bytes(os.path.join(
        mgr.backup_root, info["object_name"], "MANIFEST.json")))
    assert sorted(e["rel"] for e in manifest["tables"]["t"]) == sorted(
        f"gen={g}/{r}" for g, files in live.items() for r, _dt in files)
    engine.delete_table("t")
    mgr.restore_data_backup(info["object_name"])
    assert len(_rows(engine)) == 6


def test_drop_then_recreate(engine):
    _seed(engine)
    before = _head_cached(engine)
    assert engine.delete_table("t")
    assert "t" not in engine._head_scans
    _seed(engine, n=3, days=1, v0=100)
    got = _assert_fresh(engine, before)
    assert len(got) == 3


def test_second_engine_writes_same_root(engine):
    _seed(engine)
    before = _head_cached(engine)
    other = Engine(engine.spark, engine.root)
    other.write("t", {"v": 77}, record_id="foreign", timestamp_us=T0 + DAY)
    other.flush("t")
    other.delete("t", "r3")
    got = _assert_fresh(engine, before)
    assert any('"foreign"' in r for r in got)
    assert not any('"r3"' in r for r in got)


def test_emptied_generation_adds_no_scan(engine):
    """A generation whose files were all rewritten away stays in the
    catalog while the collector removes its directory: it contributes
    nothing to the union (no Python-side empty frame to execute), and a
    table that is empty everywhere still has its schema."""
    engine.write("t", {"v": 1}, record_id="a", timestamp_us=T0)
    engine.flush("t")
    engine.write("t", {"v": "text"}, record_id="b", timestamp_us=T0 + DAY)
    engine.flush("t")
    engine.delete("t", "a")
    assert engine.catalog.gen_schemas("t")[0]
    assert not engine.fs.is_dir(engine._gen_dir("t", 0))
    plan = engine.read_persisted("t")._jdf.queryExecution().executedPlan()
    assert "ExistingRDD" not in plan.toString(), plan.toString()
    assert [r["id"] for r in engine.query_df("SELECT id FROM t").collect()] == ["b"]
    engine.delete("t", "b")
    assert json.loads(engine.query("SELECT id, dt FROM t")) == []


class _ListCountingFS:
    def __init__(self, inner):
        self.inner = inner
        self.lists = []

    def __getattr__(self, name):
        attr = getattr(self.inner, name)
        if not name.startswith("list_"):
            return attr

        def call(path, *args, **kwargs):
            self.lists.append((name, path))
            return attr(path, *args, **kwargs)

        return call


def test_warm_head_query_and_lookup_list_nothing(spark, tmp_path, monkeypatch):
    """The live file set comes from the commit log: with the head scan
    and the zone-map view warm, neither a full-table query nor a pruned
    id lookup lists a directory."""
    from miniodb_spark import engine as engine_mod
    from miniodb_spark.fs import LocalFS

    fs = _ListCountingFS(LocalFS())
    monkeypatch.setattr(engine_mod, "get_fs", lambda spark, root: fs)
    eng = engine_mod.Engine(spark, str(tmp_path / "store"))
    _seed(eng, n=8, days=4)
    lookup = "SELECT id, v FROM t WHERE id = '{}'"
    eng.query_df("SELECT count(*) AS n FROM t").collect()
    eng.query_df(lookup.format("r1")).collect()
    fs.lists.clear()
    assert eng.query_df("SELECT count(*) AS n FROM t").collect()[0]["n"] == 8
    assert [r["v"] for r in eng.query_df(lookup.format("r6")).collect()] == [6]
    assert fs.lists == []


# -- which scans a query builds -----------------------------------------------


def _count_read_persisted(engine, monkeypatch):
    calls = []
    real = engine.read_persisted

    def counting(table):
        calls.append(table)
        return real(table)

    monkeypatch.setattr(engine, "read_persisted", counting)
    return calls


def test_prunable_query_builds_no_full_scan(engine, monkeypatch):
    _seed(engine, n=8, days=4)
    calls = _count_read_persisted(engine, monkeypatch)
    out = json.loads(engine.query("SELECT id, v FROM t WHERE id = 'r5'"))
    assert out == [{"id": "r5", "v": 5}]
    assert calls == []
    assert engine.query_stats["zonemap"]["queries"] == 1
    # DISTINCT keeps it on Spark, which reads the full scan
    out = json.loads(engine.query("SELECT count(DISTINCT id) AS n FROM t"))
    assert out == [{"n": 8}]
    assert calls == ["t"]


def test_no_matching_file_still_has_full_schema(engine, monkeypatch):
    _seed(engine, n=4, days=2)
    calls = _count_read_persisted(engine, monkeypatch)
    df = engine.query_df("SELECT * FROM t WHERE id = 'zzz'")
    assert df.collect() == []
    assert set(df.columns) >= {"id", "timestamp", "v", "dt"}
    assert calls == ["t"]  # only for the schema


def test_prune_error_falls_back_to_full_scan(engine, monkeypatch):
    _seed(engine, n=8, days=4)
    sql = "SELECT id, v FROM t WHERE id = 'r6'"
    want = json.loads(engine.query(sql))
    calls = _count_read_persisted(engine, monkeypatch)

    def boom(*args, **kwargs):
        raise RuntimeError("brackets unreadable")

    # the zone-map pruning both lookup paths share: the pyarrow path
    # declines, and the Spark path counts the error and scans unpruned
    monkeypatch.setattr(engine.zonemaps, "prune", boom)
    engine.cache.invalidate_table("t")
    assert json.loads(engine.query(sql)) == want == [{"id": "r6", "v": 6}]
    assert engine.query_stats["zonemap"]["prune_errors"] == 1
    assert engine.query_stats["lookups"]["declined"] == {"prune_error": 1}
    assert calls == ["t"]


def test_identity_columns_are_not_cast(engine):
    _seed(engine)
    plan = engine.read_persisted("t")._jdf.queryExecution().analyzed().toString()
    assert "cast(" not in plan.lower(), plan


# -- the collect ---------------------------------------------------------------


def _executed_plans(spark, run):
    """Physical plans of the SQL executions ``run`` started (the status
    store keeps a bounded, id-ordered list, so new ones are at its end)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def newest_first():
        bus.waitUntilEmpty()
        execs = store.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            yield execs.apply(i)

    last = next((e.executionId() for e in newest_first()), -1)
    run()
    plans = []
    for e in newest_first():
        if e.executionId() <= last:
            break
        plans.append(e.physicalPlanDescription())
    return plans


def test_lookup_collect_has_no_single_partition_exchange(engine, spark):
    _seed(engine, n=8, days=4)
    # a lookup pyarrow answers executes no SQL at all
    assert _executed_plans(
        spark, lambda: engine.query("SELECT * FROM t WHERE id = 'r2'")) == []
    # the Spark path's collect, over the same pruned view: a second
    # conjunct keeps it on Spark
    plans = _executed_plans(
        spark, lambda: engine.query("SELECT * FROM t WHERE id = 'r2' AND v >= 0"))
    assert plans and any("CollectLimit" in p for p in plans), plans
    assert not any("Exchange SinglePartition" in p for p in plans), plans
    plans = _executed_plans(spark, lambda: engine._collect_json(
        engine.point_lookup_df("t", "r2")[0]))
    assert plans and not any("Exchange SinglePartition" in p for p in plans)


def test_order_by_without_limit_collects_as_top_k(engine, spark):
    _seed(engine, n=8, days=4)
    engine.max_result_rows = 3
    for sql in ("SELECT * FROM t ORDER BY v", "SELECT id FROM t ORDER BY v"):
        plans = _executed_plans(spark, lambda: engine.query(sql))
        assert any("TakeOrderedAndProject" in p for p in plans), plans
        assert not any("Exchange rangepartitioning" in p for p in plans)
    # with its own LIMIT the top-K sits below toJSON: the cap collects
    plans = _executed_plans(
        spark, lambda: engine.query("SELECT * FROM t ORDER BY v LIMIT 5"))
    assert any("TakeOrderedAndProject" in p for p in plans), plans
    assert any("CollectLimit" in p for p in plans), plans


def test_scan_of_many_files_runs_no_listing_job(engine, spark):
    for i in range(40):  # one file per day: 40 explicit paths, > 32
        engine.write("t", {"v": i}, record_id=f"r{i}",
                     timestamp_us=T0 + i * DAY)
    engine.flush("t")
    sc = spark.sparkContext
    threshold = spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold")
    sc.setJobGroup("many-files-scan", "head scan over 40 files")
    try:
        assert engine.read_persisted("t") is not None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("many-files-scan")) == []
    assert spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold") == threshold
    assert json.loads(engine.query("SELECT count(*) AS n FROM t")) == [{"n": 40}]


def _old_form(engine, df):
    return df.limit(engine.max_result_rows + 1).toJSON().collect()


def test_collect_json_matches_old_form_on_awkward_values(engine, spark):
    df = spark.createDataFrame(
        [("a", None, float("nan"), "naïve ☃ 日本", 0),
         ("b", 2, float("inf"), None, 1_700_000_000_123_456),
         ("c", 3, -0.0, "quote \" and \\ slash", -1)],
        "k string, n long, x double, s string, us long",
    ).withColumn("ts", F.timestamp_micros("us"))
    rows, truncated = engine._collect_json(df.orderBy("k"))
    assert rows == _old_form(engine, df.orderBy("k")) and not truncated
    # the same values through a stored table and the SQL path
    for i, (x, s) in enumerate([(float("nan"), "ü"), (None, "日本"),
                                (1.5, None)]):
        engine.write("t", {"x": x, "s": s}, record_id=f"r{i}",
                     timestamp_us=T0 + i * 123_457)
    engine.flush("t")
    df = engine.query_df("SELECT * FROM t ORDER BY id")
    rows, _ = engine._collect_json(df)
    assert rows == _old_form(engine, df) and len(rows) == 3


def test_collect_json_matches_old_form_on_join_and_order(engine):
    _seed(engine, n=8, days=4)
    df = engine.query_df(
        "SELECT a.id, b.id, a.v FROM t a JOIN t b ON a.v = b.v + 1 "
        "ORDER BY a.v DESC")
    rows, _ = engine._collect_json(df)
    assert rows == _old_form(engine, df)
    assert rows[0].count('"id"') == 2  # both duplicate names are emitted
    df = engine.query_df("SELECT id, v FROM t ORDER BY v DESC LIMIT 3")
    rows, _ = engine._collect_json(df)
    assert rows == _old_form(engine, df)
    assert [json.loads(r)["v"] for r in rows] == [7, 6, 5]


def test_collect_cap_plus_one_sets_truncated(engine):
    _seed(engine, n=6, days=3)
    engine.max_result_rows = 5
    df = engine.query_df("SELECT id, v FROM t ORDER BY id")
    old = _old_form(engine, df)
    rows, truncated = engine._collect_json(df)
    assert len(old) == 6 and truncated and rows == old[:5]
    res = engine.query_full("SELECT id, v FROM t ORDER BY id")
    assert res.truncated and json.loads(res.json) == [json.loads(r) for r in old[:5]]
    assert engine.query_stats["truncated"] == 2
    res, _ = engine.point_lookup_full("t", ["r0", "r1", "r2", "r3", "r4", "r5"])
    assert res.truncated and len(json.loads(res.json)) == 5
    engine.max_result_rows = 6
    rows, truncated = engine._collect_json(df)
    assert rows == old and not truncated


@pytest.mark.parametrize("sql", [
    "SELECT id, v FROM t WHERE id = 'r1'",
    "SELECT id FROM t WHERE id > 'r3' ORDER BY id",
    "SELECT count(*) AS n FROM t WHERE timestamp >= TIMESTAMP "
    "'2023-11-15 00:00:00'",
    "SELECT sum(v) AS s FROM t",
])
def test_answers_match_a_fresh_engine_after_buffered_writes(engine, sql):
    _seed(engine, n=8, days=4)
    first = json.loads(engine.query(sql))
    engine.write("t", {"v": 50}, record_id="r9", timestamp_us=T0 + 2 * DAY)
    got = json.loads(engine.query(sql))
    assert got == json.loads(Engine(engine.spark, engine.root).query(sql))
    if "sum(v)" in sql:
        assert got != first


# -- key lookups without a Spark job ------------------------------------------


def _spark_answer(engine, sql, **kw):
    """The rows the Spark path gives for ``sql``, as sorted JSON texts."""
    rows, _ = engine._collect_json(engine.query_df(sql, **kw))
    return sorted(rows)


def _answer(res):
    return sorted(json.dumps(r, separators=(",", ":"), ensure_ascii=False)
                  for r in json.loads(res.json))


def _declined(engine, reason, sql, **kw):
    """``sql`` runs on Spark, answers as before and counts ``reason``."""
    stats = engine.query_stats["lookups"]
    before = (stats["arrow"], stats["spark"], stats["declined"].get(reason, 0))
    got = _answer(engine.query_full(sql, **kw))
    assert got == sorted(json.dumps(json.loads(r), separators=(",", ":"),
                                    ensure_ascii=False)
                         for r in _spark_answer(engine, sql, **kw))
    assert (stats["arrow"], stats["spark"], stats["declined"].get(reason, 0)) == (
        before[0], before[1] + 1, before[2] + 1), stats
    return got


@pytest.mark.parametrize("sql", [
    "SELECT v + 1 AS w FROM t WHERE id = 'r1'",
    "SELECT * FROM t WHERE id IN ('r1', 'r2')",
    "SELECT * FROM t WHERE id = 'r1' AND v > 0",
    "SELECT a.v FROM t a JOIN t b ON a.v = b.v WHERE a.id = 'r1'",
    "SELECT ID FROM t WHERE id = 'r1'",
    "SELECT * FROM t WHERE id = 'r1' ORDER BY v",
])
def test_lookup_shape_declines(engine, sql):
    _seed(engine, n=8, days=4)
    assert _declined(engine, "shape", sql)


def test_time_travel_lookup_declines(spark, tmp_path):
    engine = Engine(spark, str(tmp_path / "store"), retain_history=True)
    _seed(engine, n=8, days=4)
    v = engine.table_history("t")[-1]["v"]
    engine.update("t", "r1", {"v": 100}, timestamp_us=T0 + DAY)
    got = _declined(engine, "time_travel",
                    "SELECT id, v FROM t WHERE id = 'r1'", at_version=v)
    assert [json.loads(r)["v"] for r in got] == [1]


def test_array_column_lookup_declines(engine, spark):
    df = spark.createDataFrame(
        [("a1", [1.0, 2.5], "t")], "id string, emb array<double>, table_name string"
    ).withColumn("timestamp", F.timestamp_micros(F.lit(T0)))
    engine.ingest_dataframe("t", df)
    got = _declined(engine, "type", "SELECT * FROM t WHERE id = 'a1'")
    assert json.loads(got[0])["emb"] == [1.0, 2.5]


def test_hadoop_fs_lookup_declines(spark, tmp_path):
    eng = Engine(spark, "file://" + str(tmp_path / "store"))
    _seed(eng, n=4, days=2)
    assert _declined(eng, "hadoop_fs", "SELECT * FROM t WHERE id = 'r2'")


def test_lookup_past_max_files_declines(engine, monkeypatch):
    from miniodb_spark import lookup

    for i in range(3):  # every file holds the key: the zone map keeps all
        engine.write("t", {"v": i}, record_id="k", timestamp_us=T0 + i)
        engine.flush("t")
    monkeypatch.setattr(lookup, "MAX_FILES", 2)
    got = _declined(engine, "too_many_files", "SELECT v FROM t WHERE id = 'k'")
    assert sorted(json.loads(r)["v"] for r in got) == [0, 1, 2]
    monkeypatch.setattr(lookup, "MAX_FILES", 3)
    engine.query_full("SELECT v FROM t WHERE id = 'k' LIMIT 2")
    assert engine.query_stats["lookups"]["arrow"] == 1


def test_lookup_counters_and_slow_log(spark, tmp_path):
    from miniodb_spark.api import MiniODBService

    eng = Engine(spark, str(tmp_path / "store"), slow_query_ms=0.0)
    api = MiniODBService(eng)
    _seed(eng, n=8, days=4)
    eng.query("SELECT * FROM t WHERE id = 'r1'")
    eng.query("SELECT * FROM t WHERE id IN ('r1', 'r2')")
    # no key: not a lookup (DISTINCT keeps it on Spark)
    eng.query("SELECT count(DISTINCT id) AS n FROM t")
    assert api.get_record("t", "r3")["rows"] == eng.point_lookup("t", "r3")
    want = {"arrow": 3, "spark": 1, "declined": {"shape": 1}}
    assert eng.query_stats["lookups"] == want
    assert api.get_metrics()["query_stats"]["lookups"] == want
    assert [e["path"] for e in eng.query_stats["slow"]] == [
        "arrow", "spark", "spark"]


def test_arrow_lookup_runs_no_spark_job_and_lists_nothing(spark, tmp_path, monkeypatch):
    from miniodb_spark import engine as engine_mod
    from miniodb_spark.fs import LocalFS

    fs = _ListCountingFS(LocalFS())
    monkeypatch.setattr(engine_mod, "get_fs", lambda spark, root: fs)
    eng = engine_mod.Engine(spark, str(tmp_path / "store"))
    _seed(eng, n=8, days=4)
    eng.write("t", {"v": 60}, record_id="r6", timestamp_us=T0 + DAY)
    eng.query("SELECT * FROM t WHERE id = 'r1'")  # warm the zone-map view
    fs.lists.clear()
    sc = spark.sparkContext
    sc.setJobGroup("arrow-lookup", "key lookups answered with pyarrow")
    try:
        got = json.loads(eng.query("SELECT id, v FROM t WHERE id = 'r6'"))
        rec = json.loads(eng.point_lookup("t", "r5"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(r["v"] for r in got) == [6, 60]
    assert [r["v"] for r in rec] == [5]
    assert list(sc.statusTracker().getJobIdsForGroup("arrow-lookup")) == []
    assert fs.lists == []
    assert eng.query_stats["lookups"]["arrow"] == 3


# -- what the add entries carry ---------------------------------------------


def test_sizes_and_brackets_come_from_the_log(spark, tmp_path, monkeypatch):
    """Compaction planning, a data backup and a warm lookup take sizes
    and zone-map brackets from the add entries, with no LIST; nothing
    is written beside the log under ``_meta/zonemaps``; and a restored
    table prunes exactly as before its backup."""
    import os

    from miniodb_spark import engine as engine_mod
    from miniodb_spark.compaction import plan_table
    from miniodb_spark.fs import LocalFS

    fs = _ListCountingFS(LocalFS())
    monkeypatch.setattr(engine_mod, "get_fs", lambda spark, root: fs)
    eng = engine_mod.Engine(spark, str(tmp_path / "store"))
    _seed(eng, n=8, days=4)
    eng.ingest_dataframe("t", spark.range(3).select(
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("id"),
        F.timestamp_micros(F.lit(T0) + F.col("id")).alias("timestamp"),
        F.col("id").alias("v")))
    for i in range(5):  # small files into day 0: a compaction candidate
        eng.write("t", {"v": i}, record_id=f"c{i}", timestamp_us=T0)
        eng.flush("t")
    assert eng.compact("t")[0]["inputs"] >= 5
    eng.update("t", "r1", {"v": 10}, timestamp_us=T0 + DAY)
    eng.flush("t")
    eng.point_lookup_full("t", "r6")  # warm
    fs.lists.clear()
    _, report = eng.point_lookup_full("t", "r6")
    objects = eng.live_objects("t")
    assert plan_table(eng._table_dir("t"), objects) == []
    mgr = BackupManager(eng.catalog, engine=eng)
    info = mgr.create_data_backup(["t"])
    assert fs.lists == []
    sizes = {p: s for objs in objects.values() for p, s in objs}
    assert sizes and sizes == {p: os.path.getsize(p) for p in sizes}
    assert report["files_skipped"] > 0
    eng.delete_table("t")
    mgr.restore_data_backup(info["object_name"])
    rows, restored = eng.point_lookup_full("t", "r6")
    assert [r["v"] for r in json.loads(rows.json)] == [6]
    assert restored == report
    assert not os.path.exists(os.path.join(eng.root, "_meta", "zonemaps"))


def test_bare_path_entries_are_listed_for_sizes(spark, tmp_path, monkeypatch):
    """A live file whose add entry has no size (a bare-path entry of a
    log written before entries carried one) is sized by a LIST of its
    own partition only."""
    import os

    from miniodb_spark import engine as engine_mod
    from miniodb_spark.fs import LocalFS

    root = str(tmp_path / "store")
    eng = Engine(spark, root)
    _seed(eng, n=4, days=2)  # two partitions, both from this flush
    eng.write("t", {"v": 9}, record_id="late", timestamp_us=T0 + 5 * DAY)
    eng.flush("t")
    path = eng.catalog._hist_path("t")
    with open(path, encoding="utf-8") as fh:
        recs = [json.loads(line) for line in fh]
    first = next(r for r in recs if "add" in r)
    first["add"] = {g: [e["path"] for e in es] for g, es in first["add"].items()}
    with open(path, "w", encoding="utf-8") as fh:
        fh.writelines(json.dumps(r) + "\n" for r in recs)
    fs = _ListCountingFS(LocalFS())
    monkeypatch.setattr(engine_mod, "get_fs", lambda spark, root: fs)
    fresh = engine_mod.Engine(spark, root)
    fs.lists.clear()
    objects = fresh.live_objects("t")
    gdir = fresh._gen_dir("t", 0)
    assert sorted(fs.lists) == [
        ("list_files", os.path.join(gdir, "dt=2023-11-14")),
        ("list_files", os.path.join(gdir, "dt=2023-11-15"))]
    sizes = {p: s for objs in objects.values() for p, s in objs}
    assert len(sizes) == 3
    assert sizes == {p: os.path.getsize(p) for p in sizes}


def test_buffered_only_lookup_has_the_unpruned_columns(engine):
    """When pruning keeps no persisted file but the buffer holds the
    key, the view still has the unpruned view's columns, order and
    types: a column only the files have resolves (NULL), on the pyarrow
    path, the Spark path and GetRecord alike."""
    _seed(engine, n=8, days=4)
    engine.write("t", {"w": 1.5}, record_id="zz", timestamp_us=T0)
    for sel in ("v", "*", "v, w"):
        pruned = f"SELECT {sel} FROM t WHERE id = 'zz'"
        want = engine.query(f"SELECT {sel} FROM t WHERE id = 'zz' OR id = 'zz'")
        arrow = engine.query_stats["lookups"]["arrow"]
        assert engine.query(pruned) == want, sel
        assert engine.query_stats["lookups"]["arrow"] == arrow + 1
        rows, _ = engine._collect_json(engine.query_df(pruned))
        assert "[" + ",".join(rows) + "]" == want, sel
    assert want == '[{"w":1.5}]'
    df, report = engine.point_lookup_df("t", "zz")
    assert report["files_scanned"] == 0 and report["files_skipped"] == 4
    rows, _ = engine._collect_json(df)
    assert engine.point_lookup("t", "zz") == "[" + ",".join(rows) + "]"
    assert df.columns == ["id", "timestamp", "table_name", "v", "dt", "gen", "w"]


def test_infinite_long_value_reads_as_null(engine):
    """A long column fed ±inf stores NULL, as it does NaN: the flush
    succeeds, and read_buffer, the pyarrow lookup and the Spark lookup
    return the same rows, before and after the flush."""
    engine.write("t", {"x": 1}, record_id="k1", timestamp_us=T0)
    engine.write("t", {"x": float("inf")}, record_id="k2", timestamp_us=T0)
    engine.write("t", {"x": float("-inf")}, record_id="k2", timestamp_us=T0 + 1)
    buffered = engine.read_buffer("t")
    assert sorted((r["id"], r["x"]) for r in buffered.collect()) == [
        ("k1", 1), ("k2", None), ("k2", None)]
    for _ in range(2):
        arrow = engine.query_stats["lookups"]["arrow"]
        got = engine.point_lookup("t", "k2")
        assert engine.query_stats["lookups"]["arrow"] == arrow + 1
        rows, _ = engine._collect_json(engine.point_lookup_df("t", "k2")[0])
        assert sorted(json.loads(got), key=json.dumps) == sorted(
            map(json.loads, rows), key=json.dumps)
        assert [r.get("x") for r in json.loads(got)] == [None, None]
        if engine.flush("t"):
            assert engine.read_buffer("t") is None


def test_each_path_parses_once_and_analyzes_only_with_a_filter(engine, monkeypatch):
    """One ``parsePlan`` per query picks its path. A key lookup runs no
    analysis; an aggregate runs one, which also gives its zone-map
    conditions; a Spark-path query analyzes once for its conditions
    when its plan holds a Filter, and not at all without one."""
    from collections import Counter

    from miniodb_spark import lookup

    _seed(engine, n=8, days=4)
    calls = Counter()
    for name in ("parse", "analyze"):
        real = getattr(lookup, name)

        def counting(*args, _real=real, _name=name, **kwargs):
            calls[_name] += 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(lookup, name, counting)

    def run(sql):
        calls.clear()
        engine.cache.invalidate_table("t")
        return json.loads(engine.query(sql))

    assert run("SELECT id, v FROM t WHERE id = 'r5'") == [{"id": "r5", "v": 5}]
    assert calls == {"parse": 1} and engine.query_stats["lookups"]["arrow"] == 1
    assert run("SELECT count(*) AS n FROM t WHERE id >= 'r5'") == [{"n": 3}]
    assert calls == {"parse": 1, "analyze": 1}
    assert engine.query_stats["aggregates"]["arrow"] == 1
    assert run("SELECT count(DISTINCT id) AS n FROM t") == [{"n": 8}]
    assert calls == {"parse": 1}
    assert run("SELECT id FROM t ORDER BY id LIMIT 2") == [{"id": "r0"}, {"id": "r1"}]
    assert calls == {"parse": 1}
    skipped = engine.query_stats["zonemap"]["files_skipped"]
    assert run("SELECT id FROM t WHERE id >= 'r6' ORDER BY id") == [{"id": "r6"}, {"id": "r7"}]
    assert calls == {"parse": 1, "analyze": 1}
    assert engine.query_stats["zonemap"]["files_skipped"] > skipped


def test_failed_analysis_logs_its_error_once(engine):
    """A query that fails analysis logs PySpark's error record (Spark's
    stack trace) once: the schema-only analysis that declines it before
    the Spark path runs logs nothing."""
    import logging

    from pyspark.errors import AnalysisException
    from pyspark.logger import PySparkLogger

    for t in ("t", "u"):
        engine.write(t, {"k": 1}, record_id="r1", timestamp_us=T0)
        engine.flush(t)
    records = []

    class Count(logging.Handler):
        def emit(self, record):
            records.append(record)

    logger = PySparkLogger.getLogger("SQLQueryContextLogger")
    handler = Count()
    logger.addHandler(handler)
    try:
        with pytest.raises(AnalysisException, match="AMBIGUOUS_REFERENCE"):
            engine.query("SELECT * FROM t a JOIN u b ON a.k = b.k "
                         "WHERE id >= 'r1'")
    finally:
        logger.removeHandler(handler)
    assert len(records) == 1, [r.getMessage()[:80] for r in records]
