"""Small filtered aggregates answered with pyarrow give Spark's answer.

A one-table ``[LIMIT] → Aggregate → [Filter] → t`` query is analyzed by
Catalyst over a schema-only view and evaluated with ``pyarrow.compute``
over the zone-map-pruned files and the buffer
(:func:`miniodb_spark.lookup.aggregate`). A hypothesis differential
compares it with the Spark path's answer (``_collect_json`` over
``query_df``) on hybrid tables: two or more generations with a long →
double drift, buffered rows typed by the whole buffer, NULLs, strings,
booleans, timestamps and longs. Answers must be equal as multisets;
the doubles are multiples of 1/4, so every sum is exact in any order and
double sums and averages are compared exactly too. The same predicates
under ``SELECT * … ORDER BY id`` run on the Spark path, over views
pruned by the conditions of the analyzed plan, and must answer as the
unpruned views do.

Each decline reason has a test (same answer as the Spark path, that
reason's counter moved), a served aggregate runs no Spark job and lists
nothing, and concurrent queries on one table each see their own view.
"""

import json
import tempfile
import threading
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from miniodb_spark import lookup
from miniodb_spark.catalog import TableConfig
from miniodb_spark.engine import Engine

US = 1_000_000
DAY = 86_400 * US
T0 = 1_700_000_000 * US  # 2023-11-14 UTC


def _spark(eng, sql):
    """The Spark path's answer as a multiset of JSON texts."""
    cap = eng.max_result_rows
    eng.max_result_rows = 10_000
    try:
        return Counter(eng._collect_json(eng.query_df(sql))[0])
    finally:
        eng.max_result_rows = cap


def _served(eng, sql, kind="aggregates"):
    """``sql`` through query_full, which must take the pyarrow path;
    its rows as a multiset of JSON texts."""
    before = eng.query_stats[kind]["arrow"]
    res = eng.query_full(sql)
    assert eng.query_stats[kind]["arrow"] == before + 1, (
        sql, eng.query_stats[kind])
    return Counter(json.dumps(r, separators=(",", ":"), ensure_ascii=False)
                   for r in json.loads(res.json))


def _canon(texts: Counter) -> Counter:
    return Counter({json.dumps(json.loads(t), separators=(",", ":"),
                               ensure_ascii=False): n for t, n in texts.items()})


# -- differential -------------------------------------------------------------

quarters = st.integers(-400, 400).map(lambda k: k / 4)
fields = st.fixed_dictionaries({}, optional={
    # a long in one flush and a double in another drifts the column
    "a": st.one_of(st.integers(-1000, 1000), quarters, st.none()),
    "s": st.one_of(st.sampled_from(["x", "y", "zé", ""]), st.none()),
    "b": st.booleans(),
    "n": st.integers(-5, 5),
})
timestamps = st.builds(lambda day, sec: T0 + day * DAY + sec * US,
                       st.integers(0, 2), st.integers(0, 86_399))
batch = st.lists(st.tuples(fields, timestamps), min_size=1, max_size=6)
histories = st.tuples(st.lists(batch, min_size=2, max_size=4),
                      st.lists(st.tuples(fields, timestamps), max_size=5))

PREDICATES = [
    "a > 1", "a <= 2.5", "n = 3", "n IN (1, 2, -3)", "s = 'x'",
    "s IN ('y', NULL)", "s <> 'x'", "a IS NULL", "s IS NOT NULL", "b",
    "NOT (n > 0)", "timestamp >= TIMESTAMP '2023-11-15 00:00:00'",
    "timestamp < '2023-11-15 12:00:00'", "dt = '2023-11-16'",
    "id <> 'r0'", "a > 2e0", "n >= 1.5",
]
SELECTS = [
    ("count(*) AS c, count(a) AS ca, sum(a) AS sa, avg(a) AS aa, min(a) AS mi, "
     "max(a) AS ma, min(s) AS ms, max(timestamp) AS mt, sum(n) AS sn, avg(n) AS an_, "
     "min(b) AS mb", ""),
    ("s, count(*) AS c, sum(a) AS sa, max(n) AS mn", " GROUP BY s"),
    ("b, dt, count(a) AS ca, avg(a) AS aa, min(timestamp) AS t0", " GROUP BY b, dt"),
    ("n, count(*) AS c", " GROUP BY n LIMIT 100"),
]
queries = st.lists(st.tuples(
    st.sampled_from(SELECTS),
    st.lists(st.sampled_from(PREDICATES), max_size=3),
    st.sampled_from([" AND ", " OR "])), min_size=3, max_size=3)

SERVED = Counter()


def _build(spark, history, root):
    batches, buffered = history
    eng = Engine(spark, root)
    eng.create_table("t", TableConfig(name="t", zonemap_columns=["a", "n", "s"]))
    # every column the queries name exists from the first generation
    eng.write("t", {"a": 0, "s": "x", "b": True, "n": 0}, record_id="r0",
              timestamp_us=T0)
    i = 1
    for rows in batches:
        for payload, ts in rows:
            eng.write("t", payload, record_id=f"r{i % 7}", timestamp_us=ts)
            i += 1
        eng.flush("t")
    for payload, ts in buffered:
        eng.write("t", payload, record_id=f"r{i % 7}", timestamp_us=ts)
        i += 1
    return eng


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(histories, queries)
def _differential(spark, history, qs):
    with tempfile.TemporaryDirectory() as root:
        eng = _build(spark, history, root)
        gens = eng.catalog.gen_schemas("t")
        if len(gens) > 1 and {"long", "double"} <= {g.get("a") for g in gens}:
            SERVED["drift"] += 1
        for (select, tail), preds, joiner in qs:
            where = f" WHERE {joiner.join(f'({p})' for p in preds)}" if preds else ""
            sql = f"SELECT {select} FROM t{where}{tail}"
            stats = eng.query_stats["aggregates"]
            before = stats["arrow"]
            res = eng.query_full(sql)
            if stats["arrow"] == before:
                SERVED["declined"] += 1
                continue
            SERVED["arrow"] += 1
            got = Counter(json.dumps(r, separators=(",", ":"), ensure_ascii=False)
                          for r in json.loads(res.json))
            assert got == _canon(_spark(eng, sql)), (sql, stats["declined"])
        for _select, preds, joiner in qs:
            where = f" WHERE {joiner.join(f'({p})' for p in preds)}" if preds else ""
            _spark_path_matches_unpruned(eng, f"SELECT * FROM t{where} ORDER BY id")


def _spark_path_matches_unpruned(eng, sql):
    """``sql`` answers on the Spark path, over views pruned by the
    conditions of its analyzed plan, as it does with pruning off."""
    def rows():
        eng.cache.invalidate_table("t")
        return Counter(json.dumps(r, sort_keys=True) for r in json.loads(eng.query(sql)))

    before = eng.query_stats["count"]
    pruning = eng.query_stats.get("zonemap", {}).get("queries", 0)
    pruned = rows()
    if eng.query_stats.get("zonemap", {}).get("queries", 0) > pruning:
        SERVED["spark_path_pruned"] += 1
    eng._range_select = lambda conds: lambda listing, brackets: [r for r, _dt in listing]
    try:
        assert rows() == pruned, sql
    finally:
        del eng._range_select
    assert eng.query_stats["count"] == before + 2


def test_arrow_aggregates_match_the_spark_path(spark):
    SERVED.clear()
    _differential(spark)
    assert SERVED["arrow"] > 3 * SERVED["declined"], SERVED
    assert SERVED["drift"] > 0, SERVED
    assert SERVED["spark_path_pruned"] > 0, SERVED


# -- the supported shapes, one by one -----------------------------------------


def _seed(eng, table="t"):
    for i in range(8):
        eng.write(table, {"v": i, "w": i * 0.5, "s": "ab"[i % 2]},
                  record_id=f"r{i}", timestamp_us=T0 + (i % 4) * DAY)
    eng.flush(table)


@pytest.mark.parametrize("sql", [
    "SELECT count(*) AS n FROM t",
    "SELECT s, count(*) AS n, sum(v) AS sv, avg(w) AS aw FROM t WHERE v > 2 GROUP BY s",
    "SELECT min(timestamp) AS lo, max(id) AS hi FROM t WHERE timestamp >= "
    "TIMESTAMP '2023-11-15 00:00:00' AND timestamp < TIMESTAMP '2023-11-17 00:00:00'",
    "SELECT count(v) FROM t WHERE id IN ('r1', 'r6', 'zz')",
    "SELECT sum(v) AS s FROM t WHERE id = 'nope'",
    "SELECT s AS k, max(w) AS m FROM t WHERE NOT (w < 1.5) OR s IS NULL GROUP BY s LIMIT 1",
])
def test_served_aggregate_matches_spark(engine, sql):
    _seed(engine)
    engine.write("t", {"v": 100, "s": "c"}, record_id="r9", timestamp_us=T0 + DAY)
    got = _served(engine, sql)
    # a LIMIT without ORDER BY keeps any of the groups
    want = _canon(_spark(engine, sql.replace(" LIMIT 1", "")))
    if "LIMIT 1" in sql:
        assert len(got) == 1 and not got - want
    else:
        assert got == want


def test_key_and_range_conjuncts_prune_files(engine):
    _seed(engine)
    before = engine.query_stats["zonemap"]["files_skipped"] if "zonemap" in \
        engine.query_stats else 0
    assert json.loads(engine.query(
        "SELECT count(*) AS n FROM t WHERE timestamp >= TIMESTAMP '2023-11-17 00:00:00'"
    )) == [{"n": 2}]
    assert json.loads(engine.query(
        "SELECT count(*) AS n FROM t WHERE id IN ('r0', 'zz')")) == [{"n": 1}]
    # one day's file of four survives each
    assert engine.query_stats["zonemap"]["files_skipped"] - before == 3 + 3
    assert engine.query_stats["aggregates"]["arrow"] == 2


# -- declines: the Spark path answers, and the reason is counted -------------


def _declined(eng, reason, sql, kind="aggregates"):
    stats = eng.query_stats[kind]
    before = (stats["arrow"], stats["spark"], stats["declined"].get(reason, 0))
    res = eng.query_full(sql)
    got = Counter(json.dumps(r, separators=(",", ":"), ensure_ascii=False)
                  for r in json.loads(res.json))
    assert got == _canon(_spark(eng, sql))
    assert (stats["arrow"], stats["spark"], stats["declined"].get(reason, 0)) == (
        before[0], before[1] + 1, before[2] + 1), stats
    return got


@pytest.mark.parametrize("sql", [
    "SELECT count(DISTINCT v) AS n FROM t",
    "SELECT sum(v + 1) AS n FROM t",
    "SELECT s, count(*) AS n FROM t GROUP BY s HAVING count(*) > 1",
    "SELECT s, count(*) AS n FROM t GROUP BY s ORDER BY s",
    "SELECT max(v) FILTER (WHERE v > 2) AS m FROM t",
    "SELECT count(*) AS n FROM t WHERE v > w",
    "SELECT upper(s) AS u, count(*) AS n FROM t GROUP BY upper(s)",
    "SELECT count(*) AS n, count(*) AS n FROM t",
])
def test_aggregate_shape_declines(engine, sql):
    _seed(engine)
    _declined(engine, "shape", sql)


def test_unsupported_column_type_declines(engine, spark):
    df = spark.createDataFrame(
        [("a1", [1.0, 2.5], "t")], "id string, emb array<double>, table_name string"
    ).withColumn("timestamp", F.timestamp_micros(F.lit(T0)))
    engine.ingest_dataframe("t", df)
    assert _declined(engine, "type", "SELECT count(emb) AS n FROM t") == Counter(['{"n":1}'])
    # a column the query does not read does not matter
    _served(engine, "SELECT count(*) AS n FROM t WHERE id = 'a1'")


def test_uncertain_cast_declines(engine):
    _seed(engine)
    _declined(engine, "cast", "SELECT count(*) AS n FROM t WHERE v = '5'")
    _declined(engine, "cast", "SELECT count(*) AS n FROM t "
                              "WHERE timestamp > '2023-11-15T00:00:00'")


def test_nan_declines(engine):
    for i, w in enumerate((1.0, float("nan"), 3.0)):
        engine.write("t", {"w": w, "g": "a"}, record_id=f"r{i}", timestamp_us=T0)
    engine.flush("t")
    # Spark orders NaN above every number: w > 2 matches the NaN row
    got = _declined(engine, "nan", "SELECT count(*) AS n FROM t WHERE w > 2")
    assert got == Counter(['{"n":2}'])
    _declined(engine, "nan", "SELECT g, max(w) AS m FROM t GROUP BY g")


def test_long_sum_that_could_overflow_declines(engine):
    # every partial sum fits in int64, but the bound cannot tell
    for i, v in enumerate((1 << 61, 1 << 61, 1 << 61, -(1 << 61))):
        engine.write("t", {"v": v}, record_id=f"r{i}", timestamp_us=T0)
    engine.flush("t")
    got = _declined(engine, "overflow", "SELECT sum(v) AS s FROM t")
    assert got == Counter([json.dumps({"s": 1 << 62}, separators=(",", ":"))])
    _served(engine, "SELECT avg(v) AS a, count(v) AS c FROM t")  # summed as doubles


def test_past_max_rows_declines(engine, monkeypatch):
    _seed(engine)
    engine.write("t", {"v": 50}, record_id="r9", timestamp_us=T0)
    monkeypatch.setattr(lookup, "MAX_ROWS", 8)
    _declined(engine, "too_large", "SELECT count(*) AS n FROM t")
    # pruning brings the input under the bound
    _served(engine, "SELECT count(*) AS n FROM t WHERE id = 'r0'")


def test_entry_without_row_count_declines(engine, monkeypatch):
    _seed(engine)
    real = engine.catalog.live_entries

    def sizes_only(table, version=None):
        return {g: {rel: {"size": e.get("size", 0)} for rel, e in files.items()}
                for g, files in real(table, version).items()}

    monkeypatch.setattr(engine.catalog, "live_entries", sizes_only)
    _declined(engine, "too_large", "SELECT count(*) AS n FROM t")


def test_non_utc_session_declines(engine, spark):
    _seed(engine)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        _declined(engine, "timezone", "SELECT count(*) AS n FROM t WHERE v > 2")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_hadoop_fs_root_declines(spark, tmp_path):
    eng = Engine(spark, "file://" + str(tmp_path / "store"))
    _seed(eng)
    _declined(eng, "hadoop_fs", "SELECT count(*) AS n FROM t WHERE v > 2")


def test_missing_file_declines(engine, monkeypatch):
    import pyarrow.parquet as pq

    _seed(engine)

    class Gone:
        def __init__(self, path, *a, **kw):
            raise FileNotFoundError(path)

    monkeypatch.setattr(pq, "ParquetFile", Gone)  # the pyarrow read only
    _declined(engine, "file_missing", "SELECT sum(v) AS s FROM t")


def test_fault_in_the_arrow_path_is_counted_as_error(engine, monkeypatch):
    _seed(engine)

    def boom(self, data):
        raise RuntimeError("bug")

    monkeypatch.setattr(lookup._Plan, "_evaluate", boom)
    _declined(engine, "error", "SELECT s, count(*) AS n FROM t GROUP BY s")


# -- no Spark job, no LIST; counters; slow log ---------------------------------


class _ListCountingFS:
    def __init__(self, inner):
        self.inner, self.lists = inner, []

    def __getattr__(self, name):
        attr = getattr(self.inner, name)
        if not name.startswith("list_"):
            return attr

        def call(path, *args, **kwargs):
            self.lists.append((name, path))
            return attr(path, *args, **kwargs)

        return call


def test_served_aggregate_runs_no_spark_job_and_lists_nothing(spark, tmp_path, monkeypatch):
    from miniodb_spark import engine as engine_mod
    from miniodb_spark.fs import LocalFS

    fs = _ListCountingFS(LocalFS())
    monkeypatch.setattr(engine_mod, "get_fs", lambda spark, root: fs)
    eng = engine_mod.Engine(spark, str(tmp_path / "store"), slow_query_ms=0.0)
    _seed(eng)
    eng.write("t", {"v": 60, "s": "a"}, record_id="r9", timestamp_us=T0 + DAY)
    eng.query("SELECT count(*) AS n FROM t")  # the schema-only view, once
    fs.lists.clear()
    sc = spark.sparkContext
    sc.setJobGroup("arrow-aggregate", "aggregates answered with pyarrow")
    try:
        got = json.loads(eng.query(
            "SELECT s, count(*) AS n, sum(v) AS sv FROM t WHERE timestamp >= "
            "TIMESTAMP '2023-11-15 00:00:00' GROUP BY s"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted((r["s"], r["n"], r["sv"]) for r in got) == [
        ("a", 3, 68), ("b", 4, 16)]
    assert list(sc.statusTracker().getJobIdsForGroup("arrow-aggregate")) == []
    assert fs.lists == []
    assert eng.query_stats["slow"][-1]["path"] == "arrow"
    assert eng.query_stats["aggregates"] == {"arrow": 2, "spark": 0, "declined": {}}


def test_metrics_count_served_and_declined_by_reason(spark, tmp_path):
    from miniodb_spark.api import MiniODBService

    eng = Engine(spark, str(tmp_path / "store"))
    api = MiniODBService(eng)
    _seed(eng)
    name = "miniodb_arrow_path_total"
    eng.query("SELECT count(*) AS n FROM t WHERE v > 1")
    text = api.get_metrics_text()
    assert f'{name}{{kind="aggregates",outcome="served"}} 1.0' in text
    eng.query("SELECT count(DISTINCT v) AS n FROM t")
    eng.query("SELECT * FROM t WHERE id = 'r1'")
    text = api.get_metrics_text()
    assert f'{name}{{kind="aggregates",outcome="served"}} 1.0' in text
    assert f'{name}{{kind="aggregates",outcome="declined",reason="shape"}} 1.0' in text
    assert f'{name}{{kind="lookups",outcome="served"}} 1.0' in text
    metrics = api.get_metrics()
    assert metrics["query_stats"]["aggregates"] == {
        "arrow": 1, "spark": 1, "declined": {"shape": 1}}
    assert metrics["registry"][name]['{kind="aggregates",outcome="served"}'] == 1.0


# -- concurrent queries each analyze against their own views ------------------


def test_concurrent_queries_see_their_own_views(engine):
    for i in range(40):
        engine.write("t", {"v": i, "s": "ab"[i % 2]}, record_id=f"r{i}",
                     timestamp_us=T0 + (i % 8) * DAY // 2)
        if i % 10 == 9:
            engine.flush("t")
    engine.write("t", {"v": 99, "s": "c"}, record_id="b1", timestamp_us=T0 + DAY)
    day = ["2023-11-14 12:00:00", "2023-11-15 06:00:00", "2023-11-16 00:00:00",
           "2023-11-16 18:00:00"]
    sqls = []
    for i, lo in enumerate(day):
        where = f"timestamp >= TIMESTAMP '{lo}' AND timestamp < TIMESTAMP '{day[(i + 1) % 4]}'"
        # per-query pruned views on the Spark path, and the aggregate
        # path's schema-only view, all under the table's one name
        sqls += [f"SELECT id, v FROM t WHERE {where} ORDER BY id",
                 f"SELECT s, count(*) AS n FROM t WHERE {where} GROUP BY s",
                 f"SELECT id FROM t WHERE id = 'r{i * 7}' AND v >= 0"]
    serial = {sql: _canon(_spark(engine, sql)) for sql in sqls}
    errors = []

    def worker(k):
        try:
            for j in range(12):
                sql = sqls[(k * 5 + j) % len(sqls)]
                engine.cache.invalidate_table("t")
                got = Counter(json.dumps(r, separators=(",", ":"), ensure_ascii=False)
                              for r in json.loads(engine.query(sql)))
                if got != serial[sql]:
                    errors.append((sql, got, serial[sql]))
        except Exception as exc:  # pragma: no cover - reported below
            errors.append(repr(exc))

    threads = [threading.Thread(target=worker, args=(k,)) for k in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors[:3]


# -- zone-map column names resolve in any case --------------------------------


def test_zonemap_column_configured_in_another_case(engine):
    engine.create_table("t", TableConfig(name="t", zonemap_columns=["W"]))
    for i, w in enumerate((10, 20, 30, 40)):
        engine.write("t", {"w": w}, record_id=f"r{i}", timestamp_us=T0)
    engine.flush("t")
    assert engine._zonemap_cols_for("t")[-1] == "w"
    want = ["r0", "r1", "r2", "r3"]
    for sql in ("SELECT id FROM t WHERE w < 50", "SELECT id FROM t WHERE W < 50"):
        assert sorted(r["id"] for r in json.loads(engine.query(sql))) == want
    # brackets are kept under the column's own name, so a miss prunes
    assert json.loads(engine.query("SELECT id FROM t WHERE w > 50")) == []
    assert engine.query_stats["zonemap"]["files_skipped"] >= 1
    # a buffered-only column configured in another case
    engine.create_table("u", TableConfig(name="u", zonemap_columns=["X"]))
    engine.write("u", {"x": 5}, record_id="b0", timestamp_us=T0)
    assert json.loads(engine.query("SELECT id FROM u WHERE x < 50")) == [{"id": "b0"}]
