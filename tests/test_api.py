"""API facade parity with the reference RPC surface (miniodb.proto:12-39)."""

import json

import pytest

from miniodb_spark.api import MiniODBService

US = 1_000_000
T0 = 1_700_000_000 * US


@pytest.fixture()
def svc(engine):
    return MiniODBService(engine)


def test_full_rpc_lifecycle(svc):
    assert svc.create_table("users", {"buffer_size": 100})["success"]
    assert "users" in svc.list_tables()["tables"]
    assert svc.get_table("users")["config"]["buffer_size"] == 100

    r = svc.write_data("users", {"id": "u1", "timestamp": T0,
                                 "payload": {"name": "ann", "age": 30}})
    assert r == {"success": True, "id": "u1"}
    # auto-generated id when missing
    r2 = svc.write_data("users", {"payload": {"name": "bee", "age": 40}, "timestamp": T0})
    assert r2["success"] and len(r2["id"]) == 36  # uuid default

    out = svc.query_data("SELECT name FROM users WHERE age = 30")
    assert json.loads(out["result_json"]) == [{"name": "ann"}]

    svc.update_data("users", "u1", {"name": "ann2", "age": 31}, timestamp_us=T0)
    out = svc.query_data("SELECT name, age FROM users WHERE id = 'u1'")
    assert json.loads(out["result_json"]) == [{"name": "ann2", "age": 31}]

    assert svc.delete_data("users", "u1")["deleted_count"] >= 1
    out = svc.query_data("SELECT count(*) AS n FROM users")
    assert json.loads(out["result_json"])[0]["n"] == 1

    sw = svc.stream_write("users", [{"payload": {"age": i}, "timestamp_us": T0}
                                    for i in range(5)])
    assert sw["count"] == 5
    sq = svc.stream_query("SELECT age FROM users ORDER BY age", batch_size=3)
    assert len(sq["rows"]) == 3 and sq["has_more"]

    backup = svc.backup_metadata()["metadata"]
    assert "users" in backup["tables"]
    assert svc.restore_metadata(backup)["tables_restored"] >= 1

    assert svc.health_check()["status"] == "healthy"
    assert svc.get_status()["uptime_s"] >= 0
    m = svc.get_metrics()
    assert m["writes"] == 7 and m["queries"] == 3  # stream_query bypasses the counter
    # lease-contention leading indicator (r13 verdict #1): present and
    # zero on an uncontended engine
    assert m["lease_busy_retries"] == 0

    assert svc.delete_table("users")["success"]
    assert "users" not in svc.list_tables()["tables"]


def test_time_travel_rpcs(spark, tmp_path):
    from miniodb_spark.engine import Engine

    eng = Engine(spark, str(tmp_path / "tt_api"), retain_history=True)
    svc = MiniODBService(eng)
    svc.write_data("tt", {"id": "a", "timestamp": T0, "payload": {"v": 1}})
    eng.flush("tt")
    v1 = eng.catalog.current_version("tt")
    svc.update_data("tt", "a", {"v": 2}, timestamp_us=T0)
    eng.flush("tt")

    hist = svc.get_table_history("tt")["history"]
    assert [h["v"] for h in hist] == sorted(h["v"] for h in hist)
    assert v1 in {h["v"] for h in hist}

    head = json.loads(svc.query_data("SELECT v FROM tt")["result_json"])
    assert head == [{"v": 2}]
    old = json.loads(
        svc.query_data_at("SELECT v FROM tt", at_version=v1)["result_json"])
    assert old == [{"v": 1}]

    vac = svc.vacuum_table("tt")
    assert vac["success"] and vac["reclaimed_files"] >= 1
    from diskstate import data_files, live_files

    assert data_files(eng, "tt") == live_files(eng, "tt")
    from miniodb_spark.engine import SnapshotUnavailableError

    with pytest.raises(SnapshotUnavailableError):
        svc.query_data_at("SELECT v FROM tt", at_version=v1)


def test_create_table_with_zonemap_columns_via_api(spark, tmp_path):
    """External surface for the round-15 configurable index: a REST/
    gRPC-shaped create_table config dict carries zonemap_columns into
    TableConfig, it round-trips through the catalog json (visible to a
    second engine on the same root), and the numeric SQL path actually
    prunes on the configured column."""
    import json as _json

    from miniodb_spark.api import MiniODBService
    from miniodb_spark.engine import Engine

    root = str(tmp_path / "api_store")
    eng = Engine(spark, root)
    svc = MiniODBService(eng)
    out = svc.create_table("cfg", config={
        "buffer_size": 10_000, "zonemap_columns": ["v"]})
    assert out["success"] is True
    got = svc.get_table("cfg")
    assert got["config"]["zonemap_columns"] == ["v"]
    T0 = 1_700_000_000_000_000
    for base in (0, 1000):
        for i in range(5):
            eng.write("cfg", {"v": base + i}, record_id=f"r{base + i}",
                      timestamp_us=T0)
        eng.flush("cfg")
    before = dict(eng.query_stats.get(
        "zonemap", {"queries": 0, "files_skipped": 0}))
    rows = _json.loads(eng.query(
        "SELECT id FROM cfg WHERE v >= 1000 ORDER BY id"))
    assert len(rows) == 5
    zs = eng.query_stats["zonemap"]
    assert zs["files_skipped"] > before.get("files_skipped", 0), zs
    # second engine on the same root sees the config (shared-store json)
    eng2 = Engine(spark, root)
    cfg2 = eng2.catalog.get_table("cfg")
    assert list(getattr(cfg2, "zonemap_columns", [])) == ["v"]
