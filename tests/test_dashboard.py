"""Read-only dashboard stats family (reference internal/dashboard/
server.go cluster/table/monitor routes re-expressed over the facade)."""

import json
import urllib.request

import pytest

from miniodb_spark.api import MiniODBService

US = 1_000_000
T0 = 1_700_000_000 * US


@pytest.fixture()
def svc(engine):
    return MiniODBService(engine)


def test_dashboard_cluster_shape(svc):
    svc.write_data("dc", {"id": "a", "payload": {"v": 1}})
    info = svc.dashboard_cluster()
    assert info["status"] == "healthy"
    assert info["tables_count"] >= 1
    assert info["pending_writes"] >= 1  # unflushed buffer row
    assert info["nodes_count"] == 1 and info["uptime_s"] >= 0


def test_dashboard_tables_report_files_and_buffer(svc):
    svc.write_data("dt", {"id": "a", "payload": {"v": 1}})
    before = {t["name"]: t for t in svc.dashboard_tables()["tables"]}
    assert before["dt"]["buffered_rows"] == 1
    assert before["dt"]["file_count"] == 0  # nothing flushed yet
    assert before["dt"]["config"]["name"] == "dt"
    svc.engine.flush()
    after = {t["name"]: t for t in svc.dashboard_tables()["tables"]}
    assert after["dt"]["buffered_rows"] == 0
    assert after["dt"]["file_count"] >= 1
    assert after["dt"]["size_bytes"] > 0


def test_dashboard_overview_and_slow_queries(svc):
    svc.engine.slow_query_ms = 0.0  # everything is "slow"
    svc.write_data("do", {"id": "a", "payload": {"v": 1}})
    svc.query_data("SELECT id FROM do")
    ov = svc.dashboard_overview()
    assert ov["counters"]["writes"] == 1 and ov["counters"]["queries"] == 1
    assert ov["queries"]["count"] >= 1
    assert 0.0 <= ov["cache"]["hit_rate"] <= 1.0
    assert ov["audit_enabled"] is False
    slow = svc.dashboard_slow_queries(limit=5)
    assert slow["total"] >= 1
    assert "SELECT" in slow["slow_queries"][-1]["sql"]
    assert slow["slow_queries"][-1]["ms"] >= 0
    last = slow["slow_queries"][-1]
    assert last["build_ms"] + last["collect_ms"] <= last["ms"] + 1e-9


def test_dashboard_rest_routes(engine):
    from miniodb_spark.rest import RestServer

    svc = MiniODBService(engine)
    svc.write_data("dr", {"id": "x", "payload": {"v": 2}})
    srv = RestServer(svc, port=0).serve_background()
    try:
        base = f"http://127.0.0.1:{srv.port}"
        cl = json.loads(urllib.request.urlopen(
            f"{base}/v1/dashboard/cluster").read())
        assert cl["status"] == "healthy" and cl["tables_count"] >= 1
        tb = json.loads(urllib.request.urlopen(
            f"{base}/v1/dashboard/tables").read())
        assert "dr" in [t["name"] for t in tb["tables"]]
        ov = json.loads(urllib.request.urlopen(
            f"{base}/v1/dashboard/overview").read())
        assert ov["counters"]["writes"] == 1
        sq = json.loads(urllib.request.urlopen(
            f"{base}/v1/dashboard/slow-queries?limit=3").read())
        assert "slow_queries" in sq
    finally:
        srv.shutdown()


def test_dashboard_routes_secured_when_auth_on(engine):
    from miniodb_spark.auth import TokenManager
    from miniodb_spark.rest import RestServer

    svc = MiniODBService(engine, auth=TokenManager("k", {"api": "sec"}))
    srv = RestServer(svc, port=0).serve_background()
    try:
        base = f"http://127.0.0.1:{srv.port}"
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(f"{base}/v1/dashboard/cluster")
        assert ei.value.code == 401
        tok = svc.get_token("api", "sec")["access_token"]
        req = urllib.request.Request(
            f"{base}/v1/dashboard/cluster",
            headers={"Authorization": f"Bearer {tok}"})
        assert json.loads(urllib.request.urlopen(req).read())["status"]
    finally:
        srv.shutdown()


def test_dashboard_overview_covers_stateful_streams(svc, tmp_path):
    """State-store metrics (rows in state, evictions) for an ACTIVE
    stateful stream must appear in the dashboard overview (round-7
    verdict item 6), and disappear once the stream stops."""
    from miniodb_spark.streaming.stateful import dedup_stream

    spark = svc.engine.spark
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (2, 3.0)], "k long, v double"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("k long, v double").parquet(src)
    q = (
        dedup_stream(stream, "k")
        .writeStream.foreachBatch(lambda df, bid: df.collect())
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .queryName("dedup_dashboard_probe")
        .start()
    )
    try:
        q.processAllAvailable()
        ov = svc.dashboard_overview()
        streams = {s["name"]: s for s in ov["streaming"]}
        probe = streams["dedup_dashboard_probe"]
        assert probe["is_active"]
        assert probe["batch_id"] is not None
        ops = probe["state_operators"]
        assert ops, "stateful stream must expose state operators"
        assert ops[0]["rows_in_state"] == 2  # keys 1 and 2
        assert ops[0]["evictions"] is not None
        assert ops[0]["memory_used_bytes"] > 0
    finally:
        q.stop()
    # stopped stream leaves the overview
    names = [s["name"] for s in svc.dashboard_overview()["streaming"]]
    assert "dedup_dashboard_probe" not in names
