"""Service API facade: 1:1 with the reference's public contract.

gRPC ``MinIODBService`` (/root/reference/api/proto/miniodb/v1/
miniodb.proto:12-39) and its REST mirror expose: WriteData, QueryData,
UpdateData, DeleteData, StreamWrite, StreamQuery, CreateTable,
ListTables, GetTable, DeleteTable, BackupMetadata, RestoreMetadata,
ListBackups, GetMetadataStatus, HealthCheck, GetStatus, GetMetrics —
plus the separate ``AuthService`` (miniodb.proto:42-46: GetToken,
RefreshToken, RevokeToken). This module maps every RPC onto the Engine
so a reference client's call shapes translate directly; the transport
(gRPC/HTTP server) is out of scope — any server can wrap this facade,
and per-RPC token enforcement is available through
``miniodb_spark.auth.AuthInterceptor`` (mirroring the reference's
interceptor chain, internal/security/interceptor.go).

Responses use the reference's conventions: query results are JSON
array strings (miniodb.proto:88-92), timestamps are µs since epoch.
"""

from __future__ import annotations

import contextlib
import time
from typing import Any

from .backup import BackupManager
from .catalog import TableConfig
from .engine import Engine
from .monitoring import HealthChecker, MetricsRegistry


class MiniODBService:
    def __init__(self, engine: Engine, auth=None, backup: BackupManager | None = None,
                 rate_limiter=None, metrics: MetricsRegistry | None = None,
                 audit=None):
        self.engine = engine
        self.auth = auth  # auth.TokenManager or None (auth RPCs error if None)
        self.backup = backup or BackupManager(engine.catalog, engine=engine)
        self.rate_limiter = rate_limiter  # ratelimit.SmartRateLimiter or None
        self.metrics = metrics or MetricsRegistry()
        self.health = HealthChecker(engine)
        self.audit = audit  # audit.AuditLogger or None (reference audit.go)
        self._started = time.time()
        self._counters = {"writes": 0, "queries": 0, "updates": 0, "deletes": 0}
        self.metrics.counter(
            "miniodb_arrow_path_total",
            "key lookups and aggregates answered without a Spark job "
            "(outcome=served) or run on Spark (outcome=declined, by reason)",
            source=self._arrow_path_counts)

    def _arrow_path_counts(self):
        for kind in ("lookups", "aggregates"):
            stats = self.engine.query_stats[kind]
            yield {"kind": kind, "outcome": "served"}, stats["arrow"]
            for reason, n in sorted(stats["declined"].items()):
                yield {"kind": kind, "outcome": "declined", "reason": reason}, n

    def _audited(self, action: str, table: str = "", record_id: str = "",
                 user_id: str = ""):
        """Audit scope for a mutating RPC (reference audit.go LogWrite/
        LogUpdate/LogDelete); a no-op nullcontext when auditing is off
        so the hot path carries zero cost."""
        if self.audit is None:
            return contextlib.nullcontext({"record_id": record_id,
                                           "details": None})
        return self.audit.audited(action, table, record_id, user_id)

    @contextlib.contextmanager
    def _rpc(self, path: str, client_id: str = "default"):
        """Per-RPC guard: rate limit (reference grpc_smart_rate_limiter.go
        enforces per method) + request counter + latency histogram
        (reference internal/monitoring/metrics.go)."""
        if self.rate_limiter is not None:
            self.rate_limiter.check(client_id, path)
        self.metrics.counter(
            "rpc_requests_total", "RPC invocations by method"
        ).inc(method=path)
        t0 = time.perf_counter()
        try:
            yield
        except Exception:
            self.metrics.counter(
                "rpc_errors_total", "RPC failures by method"
            ).inc(method=path)
            raise
        finally:
            self.metrics.histogram(
                "rpc_latency_seconds", "RPC wall time"
            ).observe(time.perf_counter() - t0)

    # -- data plane ------------------------------------------------------

    def write_data(self, table: str, record: dict, client_id: str = "default") -> dict:
        """record: {id?, timestamp? (µs), payload: {...}}"""
        with self._rpc("write_data", client_id):
            with self._audited("write", table, record.get("id") or "",
                               client_id) as a:
                out = self._write_data(table, record)
                a["record_id"] = out.get("id", "")
                return out

    def _write_data(self, table: str, record: dict) -> dict:
        rid = self.engine.write(
            table,
            record.get("payload", {}),
            record_id=record.get("id"),
            timestamp_us=record.get("timestamp"),
        )
        self._counters["writes"] += 1
        return {"success": True, "id": rid}

    def query_data(self, sql: str, limit: int | None = None,
                   default_table: str | None = None,
                   client_id: str = "default") -> dict:
        with self._rpc("query_data", client_id):
            res = self.engine.query_full(
                sql, limit=limit, default_table=default_table
            )
            self._counters["queries"] += 1
            return {"result_json": res.json, "truncated": res.truncated}

    def query_data_at(self, sql: str,
                      at_version: int | dict[str, int] | None = None,
                      as_of_ts_us: int | None = None,
                      limit: int | None = None,
                      client_id: str = "default") -> dict:
        """Time-travel QueryData (beyond-reference: the reference has
        full-copy backup/restore only; see Engine.read_snapshot)."""
        with self._rpc("query_data_at", client_id):
            res = self.engine.query_full(
                sql, limit=limit, at_version=at_version,
                as_of_ts_us=as_of_ts_us,
            )
            self._counters["queries"] += 1
            return {"result_json": res.json, "truncated": res.truncated}

    def get_record(self, table: str, record_id: str,
                   client_id: str = "default") -> dict:
        """Key-lookup fast path: zone-map file skipping opens only the
        parquet files whose min/max bracket admits the id (plus the
        in-memory buffer) instead of planning a full-table SQL scan.
        Beyond-reference RPC; the reference's experimental id index
        (internal/index) targets the same access pattern."""
        with self._rpc("get_record", client_id):
            res, report = self.engine.point_lookup_full(table, record_id)
            self._counters["queries"] += 1
            return {
                "success": True,
                "rows": res.json,
                "truncated": res.truncated,
                "files_total": report["files_total"],
                "files_scanned": report["files_scanned"],
                "files_skipped": report["files_skipped"],
            }

    def get_table_history(self, name: str,
                          client_id: str = "default") -> dict:
        """The table's metadata commit log (versions usable with
        query_data_at / Engine.read_snapshot)."""
        with self._rpc("get_table_history", client_id):
            return {"table": name, "history": self.engine.table_history(name)}

    def vacuum_table(self, name: str, client_id: str = "default") -> dict:
        """Run the table's garbage collector (Engine.vacuum): delete
        every data file the head version does not hold live and report
        their number as ``reclaimed_files``; snapshots that needed them
        refuse afterwards (SnapshotUnavailableError)."""
        with self._rpc("vacuum_table", client_id):
            with self._audited("vacuum", name, "", client_id) as a:
                n = self.engine.vacuum(name)
                a["details"] = {"reclaimed_files": n}
                return {"success": True, "reclaimed_files": n}

    def update_data(self, table: str, record_id: str, payload: dict,
                    timestamp_us: int | None = None,
                    client_id: str = "default") -> dict:
        with self._rpc("update_data", client_id):
            with self._audited("update", table, record_id, client_id) as a:
                n = self.engine.update(table, record_id, payload,
                                       timestamp_us=timestamp_us)
                a["details"] = {"replaced": n}
                self._counters["updates"] += 1
                return {"success": True, "replaced": n}

    def merge_data(self, table: str, records: list[dict],
                   key_col: str = "id", client_id: str = "default") -> dict:
        """Bulk MERGE (beyond-reference: UpdateData generalized to a
        batch — see Engine.merge_upsert for the protocol)."""
        with self._rpc("merge_data", client_id):
            with self._audited("merge", table, "", client_id) as a:
                inserted, replaced = self.engine.merge_records(
                    table, records, key_col=key_col)
                a["details"] = {"inserted": inserted, "replaced": replaced}
                self._counters["updates"] += replaced
                self._counters["writes"] += inserted
                return {"success": True, "inserted": inserted,
                        "replaced": replaced}

    def delete_data(self, table: str, record_id: str,
                    client_id: str = "default") -> dict:
        with self._rpc("delete_data", client_id):
            with self._audited("delete", table, record_id, client_id) as a:
                n = self.engine.delete(table, record_id)
                a["details"] = {"deleted_count": n}
                self._counters["deletes"] += 1
                return {"success": True, "deleted_count": n}

    def stream_write(self, table: str, records: list[dict],
                     client_id: str = "default") -> dict:
        with self._rpc("stream_write", client_id):
            with self._audited("stream_write", table, "", client_id) as a:
                ids = self.engine.write_batch(table, records)
                a["details"] = {"count": len(ids)}
                self._counters["writes"] += len(ids)
                return {"success": True, "count": len(ids), "ids": ids}

    def stream_query(self, sql: str, batch_size: int = 100, cursor: int = 0,
                     client_id: str = "default") -> dict:
        with self._rpc("stream_query", client_id):
            batch, next_cursor, has_more = self.engine.stream_query(
                sql, batch_size=batch_size, cursor=cursor
            )
            return {"rows": batch, "cursor": next_cursor, "has_more": has_more}

    # -- table plane -----------------------------------------------------

    def create_table(self, name: str, config: dict | None = None,
                     if_not_exists: bool = False) -> dict:
        """CreateTable RPC. ``if_not_exists`` lives here (not in the
        transports) so REST, gRPC-proto and gRPC-JSON all share one
        implementation; the underlying catalog create is idempotent
        under its own lock, so the exists pre-check only shapes the
        response/error, it cannot double-create."""
        with self._audited("create_table", name):
            if self.engine.get_table(name) is not None:
                if if_not_exists:
                    return {"success": True, "message": "table exists"}
                raise ValueError(f"table already exists: {name}")
            cfg = TableConfig(name=name, **(config or {}))
            self.engine.create_table(name, cfg)
            return {"success": True, "message": "created"}

    def list_tables(self) -> dict:
        return {"tables": self.engine.list_tables()}

    def get_table(self, name: str) -> dict:
        cfg = self.engine.get_table(name)
        if cfg is None:
            return {"found": False}
        from dataclasses import asdict

        # cumulative schema (DESCRIBE surface): columns in registration
        # order with their widened merge types — what a SELECT * yields
        schema = self.engine.catalog.schema_of(name) or {}
        return {
            "found": True,
            "config": asdict(cfg),
            "columns": [{"name": c, "type": t} for c, t in schema.items()],
        }

    def delete_table(self, name: str) -> dict:
        with self._audited("delete_table", name) as a:
            ok = self.engine.delete_table(name)
            a["details"] = {"existed": ok}
            return {"success": ok}

    def optimize_table(self, name: str, zorder_by: list[str] | None = None,
                       client_id: str = "default") -> dict:
        """Maintenance RPC: tiered compaction (+ optional Z-order
        clustering) over one table — the reference schedules its
        compaction manager the same way; here it is also callable
        on demand."""
        with self._rpc("optimize_table", client_id):
            with self._audited("optimize_table", name) as a:
                stats = self.engine.compact(name, zorder_by=zorder_by)
                a["details"] = {"plans": len(stats),
                                "zorder_by": list(zorder_by or [])}
                return {"success": True, "plans": stats}

    # -- metadata plane ----------------------------------------------------

    def backup_metadata(self) -> dict:
        info = self.backup.create_backup()
        return {"metadata": self.engine.catalog.export_metadata(),
                "backup": info, "success": True}

    def restore_metadata(self, metadata: dict | None = None,
                         object_name: str | None = None,
                         from_latest: bool = False) -> dict:
        """RestoreMetadata RPC (miniodb.proto:260-270): restore from an
        explicit backup object, from the newest one (``from_latest``), or
        from an inline metadata document."""
        if object_name is None and from_latest:
            listed = self.backup.list_backups(days=36500)["backups"]
            if not listed:
                raise ValueError("from_latest: no backups exist")
            object_name = listed[0]["object_name"]
        with self._audited("restore_metadata", "") as a:
            if object_name is not None:
                n = self.backup.restore_backup(object_name)
            else:
                n = self.engine.catalog.import_metadata(metadata or {})
            a["details"] = {"tables_restored": n,
                            "backup_file": object_name or ""}
            return {"success": True, "tables_restored": n,
                    "backup_file": object_name or ""}

    def list_backups(self, days: int = 30) -> dict:
        """ListBackups RPC (miniodb.proto:287-304)."""
        return self.backup.list_backups(days=days)

    def backup_data(self, tables: list[str] | None = None) -> dict:
        """Object-level data backup (reference internal/backup data
        replication, docs/SOLUTION.md:629): parquet objects + manifest."""
        return self.backup.create_data_backup(tables)

    def restore_data(self, object_name: str,
                     tables: list[str] | None = None) -> dict:
        return self.backup.restore_data_backup(object_name, tables)

    def list_data_backups(self) -> dict:
        return {"backups": self.backup.list_data_backups()}

    def get_metadata_status(self) -> dict:
        """GetMetadataStatus RPC (miniodb.proto:306-318)."""
        return self.backup.status(healthy=self.health_check()["status"] == "healthy")

    # -- auth plane (AuthService, miniodb.proto:42-46) ---------------------

    def _require_auth(self):
        if self.auth is None:
            from .auth import AuthError

            raise AuthError("auth is not configured on this node")
        return self.auth

    def get_token(self, api_key: str, secret: str) -> dict:
        return self._require_auth().get_token(api_key, secret)

    def refresh_token(self, refresh_token: str) -> dict:
        return self._require_auth().refresh(refresh_token)

    def revoke_token(self, token: str) -> dict:
        ok = self._require_auth().revoke(token)
        return {"success": ok, "message": "token revoked"}

    # -- ops plane ---------------------------------------------------------

    def health_check(self) -> dict:
        try:
            self.engine.spark.sql("SELECT 1").collect()
            return {"status": "healthy"}
        except Exception as exc:  # pragma: no cover
            return {"status": "unhealthy", "error": str(exc)}

    def get_status(self) -> dict:
        return self.engine.status() | {"uptime_s": round(time.time() - self._started, 1)}

    def get_metrics(self) -> dict[str, Any]:
        out = dict(self._counters) | {
            "cache_hits": self.engine.cache.hits,
            "cache_misses": self.engine.cache.misses,
            "query_stats": {
                "count": self.engine.query_stats["count"],
                "total_ms": round(self.engine.query_stats["total_ms"], 1),
                "truncated": self.engine.query_stats["truncated"],
                "slow_queries": len(self.engine.query_stats["slow"]),
                # zone-map pruning effect on the SQL path (files the
                # conjunctive id fast path never opened) and pruning
                # failures that fell back to the unpruned scan
                "zonemap": dict(
                    self.engine.query_stats.get(
                        "zonemap", {"queries": 0, "files_skipped": 0,
                                    "prune_errors": 0})
                ),
                # key lookups (GetRecord and `id = '…'` queries) and
                # one-table aggregates served without Spark, on Spark,
                # and each decline's reason
                **{kind: dict(self.engine.query_stats[kind],
                              declined=dict(self.engine.query_stats[kind]["declined"]))
                   for kind in ("lookups", "aggregates")},
            },
            # zone-map bracket failures: their files were committed
            # without brackets, so lookups scan them (counted in
            # Engine._add_entries)
            "zonemap_build_errors": self.engine.zonemap_build_errors,
            # files bracketed by a Spark aggregation instead of their
            # footers or the rows in hand (a float column on ingest,
            # compaction or a rewrite; a HadoopFS root)
            "zonemap_spark_fallback_files":
                self.engine.zonemaps.spark_fallback_files,
            # mutation-lease contention: full-timeout acquire waits that
            # holding() retried instead of surfacing TimeoutError — the
            # leading indicator of a loaded host (r13 verdict #1)
            "lease_busy_retries": self.engine.lease.busy_retries,
            # lease markers left behind by a failed release: the next
            # writer of that key waits out the TTL
            "lease": {"release_errors": self.engine.lease.release_errors},
            "registry": self.metrics.snapshot(),
        }
        if self.rate_limiter is not None:
            out["rate_limiter"] = self.rate_limiter.stats()
        return out

    def get_metrics_text(self) -> str:
        """Prometheus text exposition (reference exposes /metrics)."""
        return self.metrics.expose_text()

    # -- dashboard plane (read-only) ---------------------------------------
    # Reference: internal/dashboard/server.go serves cluster/table/monitor
    # stats to dashboard-ui by proxying the same core service this facade
    # wraps (its heavy routes — backup plans, node decommission, config
    # editing — manage infrastructure Spark deployments delegate to the
    # cluster manager). This is the read-only stats family, served over
    # `/v1/dashboard/*` by rest.py.

    def _table_file_stats(self, table: str) -> tuple[int, int]:
        """(parquet file count, total bytes) for one table via the fs
        abstraction — the reference's tableStats reads the same numbers
        from its Redis file index (dashboard/server.go:1240-1260)."""
        from . import fs as fsmod

        eng = self.engine
        tdir = fsmod.join(eng.root, table)
        if not eng.fs.exists(tdir):
            return 0, 0
        files, size = 0, 0
        stack = [tdir]
        while stack:
            d = stack.pop()
            for _name, sz in eng.fs.list_files(d, suffix=".parquet"):
                files += 1
                size += sz
            stack.extend(eng.fs.list_dirs(d))  # list_dirs yields full paths
        return files, size

    def dashboard_cluster(self) -> dict:
        """clusterInfo (dashboard/server.go:559-600): health, uptime,
        table/pending counts, node count."""
        st = self.engine.status()
        return {
            "status": self.health_check()["status"],
            "uptime_s": round(time.time() - self._started, 1),
            "tables_count": len(st.get("tables", [])),
            "pending_writes": sum(st.get("buffered_rows", {}).values()),
            "nodes_count": 1,
            "mode": "standalone",
        }

    def dashboard_tables(self) -> dict:
        """listTables + tableStats rolled together: per-table config,
        buffered rows, and on-store parquet footprint."""
        from dataclasses import asdict

        buffered = self.engine.status().get("buffered_rows", {})
        out = []
        for name in self.engine.list_tables():
            cfg = self.engine.get_table(name)
            files, size = self._table_file_stats(name)
            out.append({
                "name": name,
                "config": asdict(cfg) if cfg else None,
                "buffered_rows": int(buffered.get(name, 0)),
                "file_count": files,
                "size_bytes": size,
            })
        return {"tables": out, "total": len(out)}

    def dashboard_overview(self) -> dict:
        """monitorOverview analog: request counters, cache hit rate,
        query latency aggregates, limiter state."""
        qs = self.engine.query_stats
        hits, misses = self.engine.cache.hits, self.engine.cache.misses
        out: dict[str, Any] = {
            "counters": dict(self._counters),
            "cache": {
                "hits": hits, "misses": misses,
                "hit_rate": round(hits / max(1, hits + misses), 4),
            },
            "queries": {
                "count": qs["count"],
                "avg_ms": round(qs["total_ms"] / max(1, qs["count"]), 1),
                "truncated": qs["truncated"],
                "slow": len(qs["slow"]),
            },
            "audit_enabled": self.audit is not None,
        }
        # streaming jobs: state-store rows/updates/evictions per active
        # query, so stateful-stream state growth shows up next to the
        # buffer sizes (spark.streams.active is the source of truth)
        from .monitoring import streaming_state_metrics

        out["streaming"] = streaming_state_metrics(self.engine.spark)
        if self.rate_limiter is not None:
            out["rate_limiter"] = self.rate_limiter.stats()
        return out

    def dashboard_slow_queries(self, limit: int = 20) -> dict:
        """The slow-query log (reference query.go:351-373 keeps the same
        rolling window; the dashboard surfaces it)."""
        slow = self.engine.query_stats["slow"]
        return {"slow_queries": slow[-max(1, int(limit)):],
                "total": len(slow)}

    def health_detail(self) -> dict:
        """Component-level health rollup (reference monitoring/health.go)."""
        return self.health.check()
