"""Engine: the write / query / mutate lifecycle facade.

This is the Spark-first re-expression of the reference's service layer
(/root/reference/internal/service/miniodb_service.go). The division of
labor changes completely:

================  =============================  =========================
concern           reference                      here
================  =============================  =========================
SQL execution     embedded DuckDB over views     ``spark.sql`` over temp
                                                 views (Catalyst/Tungsten)
file pruning      Redis min/max metadata +       ``dt=YYYY-MM-DD`` hive
                  regex predicate parser         partitions → built-in
                                                 partition pruning; parquet
                                                 footer stats → row-group
                                                 pushdown
column pruning    regex-built per-query views    Catalyst column pruning
distribution      consistent-hash coordinator    Spark's executor model
schema merge      union_by_name per query        catalog-maintained
                                                 cumulative schema (no
                                                 mergeSchema at scale)
================  =============================  =========================

Storage layout:
``<root>/<table>/gen=<N>/dt=YYYY-MM-DD/part-00000-<uuid>.c000.<codec>.parquet``
(``gen`` is the schema generation, ``dt`` the UTC day), with ``id`` kept
as a *data column* (SURVEY §7: per-id directories explode
at 100 TB; id point-lookups ride on parquet footer min/max pushdown
instead).
"""

from __future__ import annotations

import functools
import json
import math
import os
import threading
import weakref
from collections.abc import Iterable
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.errors import AnalysisException

from . import gate, schema as dyn_schema
from .buffer import BufferRow, WriteBuffer
from .cache import QueryResultCache
from .catalog import Catalog, TableConfig, cumulative_schema, merge_type
from .extractor import analyze_complexity, extract_tables
from .fs import get_fs
from . import fs as fsmod
from .idgen import IDGenerator, resolve_id
from .mutations import delete_rows

_TYPE_MAP: dict[str, T.DataType] = {
    "string": T.StringType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
}


# Explicit-file scans of more paths than Spark's default threshold (32)
# raise it while they resolve (see Engine._read_files). The lock keeps
# concurrent raises from restoring each other's value.
_PARALLEL_LISTING_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_SPARK_LISTING_THRESHOLD = 32
_LISTING_CONF_LOCK = threading.Lock()
# one lock per SparkSession over its temp views: a query registers each
# table's view under the table's own name and analyzes against it, so
# two queries on one table must not interleave between the two steps
_VIEW_LOCKS: "weakref.WeakKeyDictionary[SparkSession, threading.Lock]" = \
    weakref.WeakKeyDictionary()
_VIEW_LOCKS_GUARD = threading.Lock()


def _view_lock(spark: SparkSession) -> threading.Lock:
    with _VIEW_LOCKS_GUARD:
        lock = _VIEW_LOCKS.get(spark)
        if lock is None:
            lock = _VIEW_LOCKS[spark] = threading.Lock()
        return lock

# the nodes ``Dataset.toJSON().limit(n)`` puts over the query's own plan
_TO_JSON_LIMIT = ("GlobalLimit", "LocalLimit")
_TO_JSON_SERDE = ("SerializeFromObject", "MapPartitions", "DeserializeToObject")


def _sorts_whole_result(plan) -> bool:
    """Whether the optimized ``toJSON().limit(n)`` plan ``plan`` wraps a
    global Sort, optionally under a Project: the two shapes a limit
    placed directly over the query would plan as TakeOrderedAndProject."""
    node = plan
    for names in (_TO_JSON_LIMIT, _TO_JSON_SERDE):
        while node.nodeName() in names:
            node = node.child()
    if node.nodeName() == "Project":
        node = node.child()
    return node.nodeName() == "Sort" and getattr(node, "global")()


_CANONICAL = {"bigint": "long", "int": "long", "smallint": "long", "tinyint": "long",
              "float": "double"}


def _parse_type(t: str) -> T.DataType:
    """Generation-schema type name → Spark type. The common scalar names
    hit the map; complex types (array<...>, map<...>, struct<...>,
    decimal(p,s)) — which the bulk DataFrame-ingest path records via
    ``simpleString()`` — parse as DDL so they survive the round trip
    (an embedding column must come back array<double>, not string)."""
    dt = _TYPE_MAP.get(t)
    if dt is not None:
        return dt
    try:
        return T.StructType.fromDDL(f"`c` {t}")[0].dataType
    except Exception:
        return T.StringType()


class SnapshotUnavailableError(RuntimeError):
    """A time-travel read needs a data file that the garbage collector
    (vacuum, or the collection at the end of a rewrite, compaction or
    retention pass without retain_history) has deleted. The snapshot's
    metadata still exists in the commit log; its data does not — the
    Delta-Lake VACUUM contract."""


class QueryResult(NamedTuple):
    """A query's JSON payload plus its truncation flag. Truncation is a
    property of the *result* — it travels with the cache entry, so a
    cache-hit of a truncated result still reports truncated, and
    concurrent queries can't cross-talk through shared engine state."""

    json: str
    truncated: bool


def _file_struct(gcols: dict[str, str]) -> T.StructType:
    """A generation's data-file schema: its columns plus the ``dt``
    partition column."""
    return T.StructType(
        [T.StructField(c, _parse_type(t), True) for c, t in gcols.items()]
        + [T.StructField("dt", T.StringType(), True)]
    )


def _type_name(dt: T.DataType) -> str:
    s = dt.simpleString()
    return _CANONICAL.get(s, s)


_DT_DIR_RE = __import__("re").compile(r"^\d{4}-\d{2}-\d{2}$")


def _filter_listing_by_day(listing, ts_range):
    """Drop (rel, dt) entries whose dt= DAY provably misses a
    timestamp range — sound because every write path derives dt as
    date_format(timestamp) under the UTC session, so an out-of-range
    day holds no in-range rows even unindexed. Unrecognized dt strings
    are kept (must scan); a NULL timestamp can never match a range, so
    the residual filter drops those rows regardless."""
    import datetime as _dtm

    lo, _, hi, _ = ts_range
    dt_lo = lo.date().isoformat() if isinstance(lo, _dtm.datetime) else None
    dt_hi = hi.date().isoformat() if isinstance(hi, _dtm.datetime) else None
    if dt_lo is None and dt_hi is None:
        return listing
    out = []
    for rel, dt in listing:
        if _DT_DIR_RE.match(dt):
            if dt_lo is not None and dt < dt_lo:
                continue
            if dt_hi is not None and dt > dt_hi:
                continue
        out.append((rel, dt))
    return out


def _utc(v):
    """``v`` as a Spark literal; a naive datetime is read as UTC (the zone
    of the zone-map brackets), not as the Python process's local time."""
    import datetime as _dtm

    if isinstance(v, _dtm.datetime) and v.tzinfo is None:
        v = v.replace(tzinfo=_dtm.timezone.utc)
    return F.lit(v)


def _local_meta_root(fs, root: str) -> str:
    """The driver-local metadata directory of an object-store ``root``:
    ``~/.miniodb_spark_meta/<sha256(root)[:16]>``, tied to the store by a
    random id written once under ``<root>/_meta/store_id`` and recorded
    beside the catalog. A directory recording another id belonged to an
    earlier store at the same URI, whose data is gone: it is set aside as
    ``<dir>.<its id>.<ns>``, neither read nor deleted. A directory without an
    id (written before stores had one) adopts the store's, unless the id
    was created just now for a store holding no table: then the
    directory is as stale and is set aside too."""
    import hashlib
    import time

    meta = os.path.join(os.path.expanduser("~/.miniodb_spark_meta"),
                        hashlib.sha256(root.encode()).hexdigest()[:16])
    marker = fsmod.join(root, "_meta", "store_id")
    created = fs.create_bytes_if_absent(marker, os.urandom(16).hex().encode())
    for _ in range(40):  # a concurrent creator writes its id just after creating
        store_id = fs.read_bytes(marker).decode().strip()
        if store_id:
            break
        time.sleep(0.05)
    else:
        raise RuntimeError(f"store id {marker} is empty")
    local = os.path.join(meta, "store_id")
    if os.path.isdir(meta):
        known = None
        if os.path.exists(local):
            with open(local, encoding="utf-8") as fh:
                known = fh.read().strip()
        elif created and not any(os.path.basename(d.rstrip("/")) != "_meta"
                                 for d in fs.list_dirs(root)):
            known = "no-id"
        if known is not None and known != store_id:
            os.rename(meta, f"{meta}.{known}.{time.time_ns()}")
    os.makedirs(meta, exist_ok=True)
    if not os.path.exists(local):
        tmp = f"{local}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(store_id)
        os.replace(tmp, local)
    return meta


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        node_id: int = 0,
        cache_ttl_s: float = 1800.0,
        event_publisher=None,
        encryptor=None,
        slow_query_ms: float = 1000.0,
        max_result_rows: int = 10_000,
        retain_history: bool = False,
        lease_busy_retries: int = 3,
    ):
        # retry budget for cross-driver mutation leases: each retry is
        # another full ttl_s wait with jittered backoff (kv.holding),
        # so the default gives update/delete ~4×30 s of load-
        # proportional patience before surfacing lease-busy. The
        # reference surfaces the failure after ONE wait
        # (miniodb_service.go:720-722); see kv.MutationLease.holding.
        self.lease_busy_retries = lease_busy_retries
        self.spark = spark
        self.root = root
        # data-path file ops go through the fs abstraction so mutations /
        # compaction / retention work against s3a:// roots; metadata
        # (catalog commit log, WAL) stays driver-local, mirroring the reference's
        # Redis-metadata / MinIO-data split. For an object-store root the
        # local metadata dir is derived from a hash of the root URI.
        self.fs = get_fs(spark, root)
        self.fs.makedirs(root)
        meta_root = _local_meta_root(self.fs, root) if "://" in root else root
        self.meta_root = meta_root
        os.makedirs(meta_root, exist_ok=True)
        self.catalog = Catalog(meta_root)
        # cross-process cache invalidation: per-table version nonces on
        # the *shared* store root (not the driver-local meta dir), so two
        # serve processes over one object-store root cross-invalidate —
        # the reference does this through Redis; see kv.py
        from .kv import FileKV, MutationLease, TableVersionStore

        self._versions_root = fsmod.join(root, "_meta", "cache_versions")
        versions = TableVersionStore(FileKV(self.fs, self._versions_root))
        self.versions = versions
        # cross-driver mutation lease on the shared store root (reference
        # locks (table, id) in Redis with a 30 s TTL before Update/Delete,
        # miniodb_service.go:720-722 + pkg/lock); owner token is random
        # per engine so two engines in one process still exclude each other
        self.lease = MutationLease(
            FileKV(self.fs, fsmod.join(root, "_meta", "locks")),
            owner=os.urandom(8).hex(),
        )
        # file-level zone maps: each add entry of the commit log carries
        # its file's [min, max] per zone-map column (Delta-style
        # add-file stats), so point lookups prune the file list
        # driver-side instead of paying one footer GET per file — the
        # reference's experimental id index (internal/index,
        # //go:build experimental). Hint-only: a file without a bracket
        # is always scanned.
        from .zonemap import ZoneMapStore

        # id brackets serve point lookups / keyset cursors; timestamp
        # brackets add INTRA-DAY file skipping for time-slice queries
        # (dt= partition dirs already prune at day grain) — the
        # reference's time-partition pruning analog
        # (file_pruning.go:349-594)
        self.zonemap_columns: tuple[str, ...] = ("id", "timestamp")
        self.zonemaps = ZoneMapStore(self.catalog)
        # bracket failures are counted, never raised (see _add_entries):
        # a nonzero count is the ops signal that files were committed
        # without brackets, which lookups always scan
        self.zonemap_build_errors = 0
        self.zonemap_last_error: str | None = None
        self.cache = QueryResultCache(ttl_s=cache_ttl_s, version_store=versions)
        self.idgen = IDGenerator(node_id)
        self.events = event_publisher  # streaming.cdc.EventPublisher or None
        self.encryptor = encryptor  # encryption.FieldEncryptor or None
        self.slow_query_ms = slow_query_ms
        # time travel: writers only commit, and the collector
        # (mutations.gc_superseded) deletes the files the head no longer
        # holds. By default every call that removes files runs it at its
        # end; with retain_history=True only vacuum() does, so every
        # catalog version in the commit log stays readable via
        # read_snapshot until then (Delta's
        # delta.deletedFileRetentionDuration contract, collapsed to a
        # manual knob).
        self.retain_history = retain_history
        # driver-materialization guard: a query with neither a SQL LIMIT nor
        # a request limit is still capped here (the reference always injects
        # a request-level LIMIT, miniodb_service.go:624-626) — an unbounded
        # SELECT * over a 100 TB table must never collect onto the driver
        self.max_result_rows = max_result_rows
        self.query_stats: dict[str, Any] = {
            "count": 0, "total_ms": 0.0, "slow": [], "truncated": 0,
            # key lookups and aggregates served without Spark, on
            # Spark, and why not
            "lookups": {"arrow": 0, "spark": 0, "declined": {}},
            "aggregates": {"arrow": 0, "spark": 0, "declined": {}},
        }
        self._buffers: dict[str, WriteBuffer] = {}
        # read_persisted's head scan per table: (catalog key, DataFrame)
        self._head_scans: dict[str, tuple] = {}
        # the schema-only view per table that queries are analyzed over:
        # (types, DataFrame, {exprId: column})
        self._schema_views: dict[str, tuple] = {}
        self._view_lock = _view_lock(spark)
        self._lock = threading.RLock()
        # per-table flush serialization: a flush's drain/requeue and an
        # ingest's before/after LIST assume one commit per table at a
        # time, and two concurrent ingest_dataframe jobs into the same gen dir
        # would share the FileOutputCommitter _temporary/0 staging path,
        # where one job's commit destroys the other's task files. The
        # reference serializes flushes per table the same way. Different
        # tables still flush/ingest in parallel. Re-entrant: a rewrite
        # holds it from its snapshot through the writer's commit.
        self._flush_locks: dict[str, threading.RLock] = {}
        # boot-time WAL replay (reference replays on startup,
        # concurrent_buffer.go:258-359): without this, rows acked before a
        # crash stay invisible to hybrid reads until the first write
        # happens to re-create the table's buffer
        wal_dir = os.path.join(self.meta_root, "_system", "wal")
        if os.path.isdir(wal_dir):
            import re as _re

            seg_re = _re.compile(r"^(?P<table>.+)\.wal\.seg\d{6}$")
            names: set[str] = set()
            for fn in os.listdir(wal_dir):
                # active files end .wal; a crash between segment-seal and
                # active-file reopen can leave ONLY .wal.segNNNNNN files,
                # so sealed segments must also nominate their table
                if fn.endswith(".wal"):
                    names.add(fn[: -len(".wal")])
                else:
                    m = seg_re.match(fn)
                    if m:
                        names.add(m.group("table"))
            for name in sorted(names):
                if self.catalog.get_table(name) is None:
                    # leftover WAL for a table the catalog no longer knows:
                    # an interrupted delete_table committed the drop (the
                    # catalog is the source of truth) but crashed before
                    # removing the log — finish the cleanup instead of
                    # resurrecting an acked-deleted table via ensure_table
                    self._remove_wal_files(name)
                    continue
                self._buffer_for(name)

    # ------------------------------------------------------------------
    # tables
    # ------------------------------------------------------------------

    def create_table(self, name: str, config: TableConfig | None = None) -> TableConfig:
        gate.validate_table_name(name)
        return self.catalog.create_table(name, config)

    def list_tables(self) -> list[str]:
        return self.catalog.list_tables()

    def get_table(self, name: str) -> TableConfig | None:
        return self.catalog.get_table(name)

    def delete_table(self, name: str) -> bool:
        """DeleteTable (reference miniodb_service.go): drop catalog entry,
        buffer, WAL and data. The WAL file + sealed segments MUST go too —
        boot replay re-creates any table with a leftover log, so skipping
        this silently undoes an acked DeleteTable at the next restart (and
        in-session on the next write to the same name, whose fresh
        WriteBuffer would replay the pre-delete rows). Ordering: catalog
        drop first (source of truth), then log removal — a crash in
        between is healed by boot replay's catalog check."""
        with self._lock:
            buf = self._buffers.pop(name, None)
            if buf:
                buf.wal.close()
            ok = self.catalog.drop_table(name)
            self._remove_wal_files(name)
            self.cache.invalidate_table(name)
            path = self._table_dir(name)
            if self.fs.is_dir(path):
                self.fs.remove_dir(path)
            self._head_scans.pop(name, None)
            return ok

    def _remove_wal_files(self, table: str) -> None:
        """Delete a table's active WAL file and every sealed segment."""
        from .buffer import WAL

        wal_path = os.path.join(self.meta_root, "_system", "wal", f"{table}.wal")
        for p in [*WAL._segments(wal_path), wal_path]:
            try:
                os.remove(p)
            except FileNotFoundError:
                pass

    def _table_dir(self, table: str) -> str:
        return fsmod.join(self.root, table)

    def _flush_lock(self, table: str) -> threading.RLock:
        with self._lock:
            lk = self._flush_locks.get(table)
            if lk is None:
                lk = self._flush_locks[table] = threading.RLock()
            return lk

    def _buffer_for(self, table: str) -> WriteBuffer:
        with self._lock:
            buf = self._buffers.get(table)
            if buf is None:
                cfg = self.catalog.ensure_table(table)
                buf = WriteBuffer(
                    wal_path=os.path.join(self.meta_root, "_system", "wal", f"{table}.wal"),
                    buffer_size=cfg.buffer_size,
                    flush_interval_s=cfg.flush_interval_s,
                )
                self._buffers[table] = buf
            return buf

    # ------------------------------------------------------------------
    # write path
    # ------------------------------------------------------------------

    def write(
        self,
        table: str,
        payload: dict[str, Any],
        record_id: str | None = None,
        timestamp_us: int | None = None,
    ) -> str:
        """WriteData (reference miniodb_service.go:240-353): resolve id,
        buffer the row (WAL first), flush on size trigger."""
        gate.validate_table_name(table)
        cfg = self.catalog.ensure_table(table)
        rid = resolve_id(
            record_id, cfg.id_strategy, cfg.auto_generate_id, self.idgen,
            cfg.id_prefix, cfg.max_id_length,
        )
        if timestamp_us is None:
            import time

            timestamp_us = int(time.time() * 1_000_000)
        if self.encryptor:
            payload = self.encryptor.encrypt_payload(payload)
        row = BufferRow(id=rid, timestamp=timestamp_us, table_name=table, fields=payload)
        buf = self._buffer_for(table)
        if buf.add(row):
            self.flush(table)
        self.cache.invalidate_table(table)
        if self.events:
            self.events.publish("insert", table, [rid])
        return rid

    def write_batch(self, table: str, records: list[dict]) -> list[str]:
        """StreamWrite-style batch of {id?, timestamp_us?, payload} dicts.
        One WAL flush + one cache invalidation + one CDC event for the
        whole batch (reference miniodb_service.go:1196-1273 funnels the
        stream through the same buffer; its WAL syncs on an interval)."""
        import time as _time

        gate.validate_table_name(table)
        cfg = self.catalog.ensure_table(table)
        now_us = int(_time.time() * 1_000_000)
        rows: list[BufferRow] = []
        ids: list[str] = []
        for rec in records:
            rid = resolve_id(
                rec.get("id"), cfg.id_strategy, cfg.auto_generate_id, self.idgen,
                cfg.id_prefix, cfg.max_id_length,
            )
            payload = rec.get("payload", {})
            if self.encryptor:
                payload = self.encryptor.encrypt_payload(payload)
            rows.append(
                BufferRow(
                    id=rid,
                    # accept both key spellings: REST bodies say
                    # timestamp_us, proto DataRecords decode as
                    # timestamp (µs) — dropping the latter silently
                    # restamped streamed rows with server time
                    timestamp=rec.get("timestamp_us")
                    or rec.get("timestamp") or now_us,
                    table_name=table,
                    fields=payload,
                )
            )
            ids.append(rid)
        if rows:
            buf = self._buffer_for(table)
            if buf.add_many(rows):
                self.flush(table)
            self.cache.invalidate_table(table)
            if self.events:
                self.events.publish("batch", table, ids[:100],
                                    metadata={"rows": len(ids)})
        return ids

    def flush(self, table: str | None = None) -> int:
        """Flush buffered rows to parquet. Returns rows flushed.

        Each (table, inferred-schema) batch is written from the driver
        as one Parquet file per ``dt`` day (see :meth:`_flush_rows` —
        no Spark job) and committed as add-file entries; the batch
        columns merge into the catalog's cumulative schema.

        Cross-driver safety: the whole drain→write→commit runs under
        the table's shared-store ``#rewrite`` lease (same lock the
        mutation paths hold — re-entrant when a mutation's own flush
        triggers this). The lease serializes a flush against a
        concurrent collapse/rewrite from another driver, which could
        tombstone the very generation the flush is appending into, and
        against another driver's generation registration and
        add-file commit for the same table. Lock order: lease before
        process locks, as everywhere (see update())."""
        tables = [table] if table else list(self._buffers)
        total = 0
        for t in tables:
            buf = self._buffers.get(t)
            if buf is None or buf.count == 0:
                continue
            with self.lease.holding(f"{t}/#rewrite", timeout_s=120.0), \
                    self.lease.keepalive(f"{t}/#rewrite"), \
                    self._flush_lock(t):
                if buf.count == 0:  # a racing flush already drained it
                    continue
                # pick up generations another driver registered since
                # our last look — absorb into ITS generation instead of
                # forking a duplicate index (safe: we hold the lease)
                self.catalog.refresh_if_changed(t)
                batches, drained_seq = buf.drain()
                flushed: list[str] = []
                try:
                    for tname, rows in batches.items():
                        if not rows:
                            continue
                        total += self._flush_rows(tname, rows)
                        flushed.append(tname)
                except Exception:
                    # restore only what didn't make it to parquet: the rows
                    # stay queryable via the hybrid read path, and their WAL
                    # records were never truncated, so durability holds.
                    buf.requeue(
                        {k: v for k, v in batches.items() if k not in flushed}
                    )
                    raise
                buf.mark_flushed(drained_seq)
        return total

    def _gen_dir(self, table: str, gen: int) -> str:
        return fsmod.join(self._table_dir(table), f"gen={gen}")

    def _flush_rows(self, table: str, rows: list[BufferRow]) -> int:
        """Write one drained batch as Parquet from the driver and commit
        it. The batch is at most ``buffer_size`` rows already in memory,
        so it becomes one verified Arrow table and one Parquet file per
        ``dt`` day, each stored under a fresh unique name with a single
        ``fs.write_bytes`` (no staging, no rename — on s3a a rename is a
        copy plus a delete). The commit is the catalog's add-file entry
        for exactly the names written (Delta Lake's immutable files +
        log entry), with each file's size and the zone-map brackets of
        the rows in hand, so no Spark job or output committer is
        involved."""
        import uuid

        row_dicts = [r.to_dict() for r in rows]
        batch_schema, name_map = dyn_schema.infer_batch_schema(row_dicts)
        # the verifier runs before any file is written: a bad value
        # (int64 overflow, NULL system column) fails with nothing to undo
        tbl = dyn_schema.batch_table(row_dicts, batch_schema, name_map)
        cfg = self.catalog.get_table(table)
        codec, ext = dyn_schema.parquet_codec(
            cfg.compression if cfg else "snappy")
        name = f"part-00000-{uuid.uuid4()}.c000{ext}.parquet"
        cols = {f.name: _type_name(f.dataType) for f in batch_schema.fields}
        gen = self.catalog.register_flush_schema(table, cols)
        gen_dir = self._gen_dir(table, gen)
        written: list[str] = []
        sizes: dict[str, int] = {}
        days: dict[str, Any] = {}
        try:
            for dt, part, data in dyn_schema.parquet_day_files(tbl, codec):
                rel = f"dt={dt}/{name}"
                written.append(rel)  # before the write: a torn file goes too
                self.fs.write_bytes(fsmod.join(gen_dir, rel), data)
                sizes[rel], days[rel] = len(data), part
            # the commit: the version whose snapshot INCLUDES this
            # batch, with its files as Delta-style add entries (until
            # then no reader sees them), bracketed from the rows in hand,
            # and the batch's schema, so a generation it opens or widens
            # is registered by the same line
            self.catalog.touch(table, add_files={
                gen: self._add_entries(table, gen, sizes, gcols=cols,
                                       tables=days)}, schema={gen: cols})
        except Exception:
            # nothing was committed, so neither the files nor the
            # generation exist for any reader; removing every file this
            # flush wrote only keeps them from piling up (the requeued
            # rows flush again into the generation picked then)
            for rel in written:
                try:
                    self.fs.remove_file(fsmod.join(gen_dir, rel))
                except FileNotFoundError:
                    pass  # its write failed before creating it
                except Exception as exc:
                    import logging

                    logging.getLogger(__name__).warning(
                        "flush of %s: could not remove %s: %r",
                        table, rel, exc)
            raise
        return len(rows)

    def _gen_listing(self, table: str, gen: int) -> dict[str, int]:
        """``{relpath: size}`` of every data file in the generation
        directory (one LIST per dt partition), committed or not — only
        for finding what a Spark job just wrote; readers take the live
        set from the commit log. Empty when the directory doesn't exist
        yet."""
        gdir = self._gen_dir(table, gen)
        out: dict[str, int] = {}
        if not self.fs.is_dir(gdir):
            return out
        for dt_dir in self.fs.list_dirs(gdir, prefix="dt="):
            dt_name = dt_dir.rstrip("/").split("/")[-1]
            for path, size in self.fs.list_files(
                    fsmod.join(gdir, dt_name), suffix=".parquet"):
                out[f"{dt_name}/{path.rstrip('/').split('/')[-1]}"] = size
        return out

    def ingest_dataframe(self, table: str, df: DataFrame,
                         ts_col: str = "timestamp") -> int:
        """Bulk-ingest path: no driver materialization — the DataFrame is
        written straight through with the same layout (:meth:`_write_files`).
        This is the 100 TB path; the row-level ``write`` API is for the
        low-latency edge. Returns the generation index the batch landed
        in."""
        gate.validate_table_name(table)
        self.catalog.ensure_table(table)
        out = df
        if "table_name" not in out.columns:
            out = out.withColumn("table_name", F.lit(table))
        out = out.withColumn("dt", F.date_format(F.col(ts_col), "yyyy-MM-dd"))
        gen = self._write_files(table, out)
        self.cache.invalidate_table(table)
        return gen

    def _write_files(self, table: str, df: DataFrame,
                     remove_files: dict[int, list[str]] | None = None) -> int:
        """The one Spark writer of table data: a bulk ingest, and the
        survivors of every rewrite (delete, update, merge, collapse).
        ``df`` holds the table's columns plus ``dt``. It appends into
        the generation :meth:`Catalog.register_flush_schema` picks for
        its types, so only a real type conflict opens a generation, and
        commits the files it wrote plus ``remove_files`` (the files a
        rewrite read and replaces; :meth:`Catalog.commit_rewrite`) as
        ONE commit-log record. Returns the generation index.

        Everything runs under the table's cross-driver ``#rewrite``
        lease and the flush lock — in-process via the lock, across
        drivers via the lease (two drivers' append jobs into one gen dir
        would share the committer staging path). The lease is checked
        again right before the commit: a writer whose lease was stolen
        mid-job aborts rather than publish over the thief's work (its
        files are unreferenced, so aborting is free)."""
        cfg = self.catalog.get_table(table)
        key = f"{table}/#rewrite"
        with self.lease.holding(key, timeout_s=120.0), \
                self.lease.keepalive(key), self._flush_lock(table):
            self.catalog.refresh_if_changed(table)
            cols = {f.name: _type_name(f.dataType)
                    for f in df.schema.fields if f.name != "dt"}
            gen = self.catalog.register_flush_schema(table, cols)
            # the commit's adds are what the Spark job wrote: one LIST
            # before it and one after (a leftover already in the
            # directory is never attributed to this commit)
            before = self._gen_listing(table, gen)
            (
                # REBALANCE on dt: hash-partitioning on dt alone would
                # put a whole day in one task (guide §2.5); the AQE
                # rebalance keeps rows clustered by day but splits
                # oversized days into advisory-sized files (§6)
                df.hint("rebalance", "dt")
                .write.mode("append")
                .option("compression", cfg.compression if cfg else "snappy")
                .partitionBy("dt")
                .parquet(self._gen_dir(table, gen))
            )
            # the job's files as add entries, their sizes from the LIST
            new = {rel: size for rel, size in
                   self._gen_listing(table, gen).items() if rel not in before}
            add = {gen: self._add_entries(table, gen, new, gcols=cols)}
            if not self.lease.verify(key):
                raise RuntimeError(
                    f"mutation lease on {table!r} lost during the write; "
                    "aborting commit (no data was published)")
            if remove_files is None:
                self.catalog.touch(table, add_files=add, schema={gen: cols})
            else:
                self.catalog.commit_rewrite(
                    table, add_files=add, remove_files=remove_files,
                    schema={gen: cols})
        return gen

    def ingest_path(
        self,
        table: str,
        path: str,
        fmt: str = "parquet",
        ts_col: str = "timestamp",
        options: dict | None = None,
    ) -> None:
        """Ingest files of any Spark-readable format (parquet/csv/json/orc)
        through the bulk path — a capability upgrade over the reference's
        parquet-only surface."""
        reader = self.spark.read
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        if fmt == "csv":
            reader = reader.option("header", "true").option("inferSchema", "true")
        df = reader.format(fmt).load(path)
        self.ingest_dataframe(table, df, ts_col=ts_col)

    def export(self, sql: str, path: str, fmt: str = "parquet",
               options: dict | None = None) -> int:
        """Run a gated query and write the result to ``path`` in the given
        format; returns the row count. The write is a distributed job —
        results never pass through the driver."""
        df = self.query_df(sql)
        writer = df.write.mode("overwrite")
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        if fmt == "csv":
            writer = writer.option("header", "true")
        writer.format(fmt).save(path)
        return df.count()

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------

    def _catalog_struct(self, table: str) -> T.StructType | None:
        cols = self.catalog.schema_of(table)
        if not cols:
            return None
        fields = [
            T.StructField(name, _parse_type(typ), True)
            for name, typ in cols.items()
        ]
        return T.StructType(fields)

    def index_source(self, table: str):
        """Staleness-contract handle for derived serving indexes built
        from ``table`` (see :mod:`miniodb_spark.serving`): pass it as
        ``source=`` to similarity's ``write_bucketed/write_ivf/
        write_ivfpq`` so probes can detect post-build mutations via the
        same per-table nonce the SQL result cache re-checks (reference:
        query_cache.go:364-397 invalidates per table on every write)."""
        from .serving import IndexSource

        return IndexSource(self.versions, table, self._versions_root)

    def read_persisted(self, table: str) -> DataFrame | None:
        """Persisted parquet: one explicit-schema scan per generation
        (never ``mergeSchema`` over a file listing), each aligned to the
        cumulative schema, then unioned; ``gen`` is synthesized as a
        literal so mutations can address physical partitions, and
        ``dt`` comes from the partition paths, so a ``dt`` predicate
        still prunes at planning time.

        Each generation reads exactly its live files from the commit
        log (:meth:`Catalog.live_files`, ``basePath`` + explicit files);
        no directory is listed. The built DataFrame is cached per table,
        keyed by the generation schemas, the cumulative schema and the
        log version: while no commit happened, a call returns the
        already-analyzed scan — Spark neither lists nor re-analyzes.
        Only the garbage collector deletes, and only files a commit
        already removed, so a hit never opens a file the store no
        longer has."""
        gens = self.catalog.gen_schemas(table)
        cum = self.catalog.schema_of(table)
        if not gens or not cum:
            return None
        # the version is read before the files: a commit in between
        # only makes the next call rebuild
        key = (tuple(tuple(g.items()) for g in gens), tuple(cum.items()),
               self.catalog.log_version(table))
        hit = self._head_scans.get(table)
        if hit is not None and hit[0] == key:
            return hit[1]
        out = self._scan_files(table, self.catalog.live_files(table), gens)
        if out is None:
            # no live file anywhere: still a typed scan
            i = next(i for i, g in enumerate(gens) if g)
            out = self._gen_scan(table, i, gens[i], cum, [])
        self._head_scans[table] = (key, out)
        return out

    def _scan_files(self, table: str, files: dict[int, list[tuple[str, str]]],
                    gens: list[dict[str, str]] | None = None) -> DataFrame | None:
        """Exactly ``files`` ({gen: [(relpath, dt)]}, as
        :meth:`Catalog.live_files` returns them) as one DataFrame: one
        explicit-schema scan per generation (``gens``, default the
        catalog's), each aligned to their cumulative schema, unioned.
        Spark fixes the file list when the scan is built, so a file
        committed later is never part of it. None when ``files`` names
        no file of a generation with a schema (tombstoned generations
        have none)."""
        gens = self.catalog.gen_schemas(table) if gens is None else gens
        cum = cumulative_schema(gens)
        parts = [
            self._gen_scan(table, i, gcols, cum,
                           [rel for rel, _dt in files[i]])
            for i, gcols in enumerate(gens)
            if gcols and files.get(i)
        ]
        return functools.reduce(DataFrame.unionByName, parts) if parts else None

    def live_objects(self, table: str) -> dict[tuple[int, str], list[tuple[str, int]]]:
        """``{(gen, dt): [(path, size)]}`` of the table's live files, for
        the writers that need sizes (compaction, backup). The sizes come
        from the add entries (:meth:`Catalog.live_entries`); only a
        partition holding an entry without one (a bare-path entry) is
        LISTed, and a live file that LIST misses raises
        FileNotFoundError."""
        out: dict[tuple[int, str], list[tuple[str, int]]] = {}
        for gen, files in self.catalog.live_entries(table).items():
            gdir = self._gen_dir(table, gen)
            unsized: dict[str, set[str]] = {}
            for rel, e in files.items():
                dt_name, fname = rel.split("/", 1)
                if "size" in e:
                    out.setdefault((gen, dt_name[len("dt="):]), []).append(
                        (fsmod.join(gdir, rel), e["size"]))
                else:
                    unsized.setdefault(dt_name, set()).add(fname)
            for dt_name, names in unsized.items():
                objs = [
                    (path, size) for path, size in self.fs.list_files(
                        fsmod.join(gdir, dt_name), suffix=".parquet")
                    if path.rstrip("/").rsplit("/", 1)[-1] in names
                ]
                if len(objs) != len(names):
                    raise FileNotFoundError(
                        f"{table}: a live file of gen={gen}/{dt_name} is "
                        "missing from the store")
                out.setdefault((gen, dt_name[len("dt="):]), []).extend(objs)
        return {k: sorted(v) for k, v in sorted(out.items())}

    def _gen_scan(self, table: str, gen: int, gcols: dict[str, str],
                  cum: dict[str, str], rels: list[str]) -> DataFrame:
        """Exactly the files ``rels`` of one generation, read with the
        generation's own schema (``dt`` from the paths under
        ``basePath``) and projected onto the cumulative schema: a column
        whose type already matches passes through, a narrower one is
        cast, a missing one is NULL; ``gen`` is a literal."""
        struct = _file_struct(gcols)
        if rels:
            gdir = self._gen_dir(table, gen)
            df = self._read_files(
                gdir, struct, [fsmod.join(gdir, rel) for rel in rels])
        else:  # a Python-side empty frame: only for an all-empty table
            df = self.spark.createDataFrame([], struct)
        cols = []
        for c, ct in cum.items():
            if gcols.get(c) == ct:
                cols.append(F.col(c))  # an identity cast is one more analysis
            else:
                src = F.col(c) if c in gcols else F.lit(None)
                cols.append(src.cast(_parse_type(ct)).alias(c))
        return df.select(*cols, F.col("dt"), F.lit(gen).alias("gen"))

    def _read_files(self, gdir: str, struct: T.StructType,
                    paths: list[str]) -> DataFrame:
        """A Parquet scan of exactly ``paths`` under ``basePath`` gdir.

        The commit log already names these files, so Spark only stats
        them. Past ``parallelPartitionDiscovery.threshold`` paths (32 by
        default) Spark would stat them in a parallel-listing job; the
        threshold is raised to the path count while this scan resolves
        (the listing is eager) so the stats stay on the driver."""
        reader = self.spark.read.option("basePath", gdir).schema(struct)
        if len(paths) <= _SPARK_LISTING_THRESHOLD:
            return reader.parquet(*paths)
        conf = self.spark.conf
        with _LISTING_CONF_LOCK:
            old = conf.get(_PARALLEL_LISTING_CONF)
            conf.set(_PARALLEL_LISTING_CONF, str(max(int(old), len(paths))))
            try:
                return reader.parquet(*paths)
            finally:
                conf.set(_PARALLEL_LISTING_CONF, old)

    # -- time travel ------------------------------------------------------

    def table_history(self, table: str) -> list[dict]:
        """The table's metadata commit log, oldest first (one entry per
        commit: table creation, data commits with any generation they
        opened or widened, rewrite commits, tombstones). ``v`` values are what read_snapshot
        accepts."""
        return self.catalog.history(table)

    def read_snapshot(self, table: str, version: int) -> DataFrame | None:
        """The persisted table exactly as catalog ``version`` saw it:
        the generation schemas come from that version's commit record
        and each generation reads the files live at that version
        (:meth:`Catalog.live_files`), so rows later deleted/updated
        reappear and generations later tombstoned scan again.

        Requires those files to still exist: with
        ``retain_history=True`` only vacuum() deletes files, so every
        version back to the last vacuum() is readable. A version that
        needs a file no longer on disk raises
        :class:`SnapshotUnavailableError` instead of returning partial
        data — Spark checks explicit paths when the scan is built. The
        write buffer is never part of a snapshot — versions are commit
        points.

        Beyond the reference (its backup/restore is full-copy,
        internal/backup/; a committed rewrite there deletes the old
        object immediately, query.go upload-then-delete). Scan shape is
        identical to read_persisted."""
        doc = self.catalog.doc_at(table, version)
        if doc is None:
            raise ValueError(
                f"unknown snapshot version {version!r} for table "
                f"{table!r}; table_history() lists committed versions")
        gens = [dict(g) for g in doc.get("generations", [])]
        try:
            return self._scan_files(
                table, self.catalog.live_files(table, version), gens)
        except AnalysisException as e:
            # only a MISSING path means the version is gone (GC'd,
            # compacted away, retention-dropped — possibly by
            # another driver a moment ago); a corrupt footer or a
            # permission error is a real fault and surfaces as-is.
            # Spark 4 raises PATH_NOT_FOUND (FileNotFoundException
            # underneath).
            klass = ""
            try:
                klass = e.getCondition() or ""
            except Exception:
                pass
            msg = str(e)
            if not ("PATH_NOT_FOUND" in klass
                    or "PATH_NOT_FOUND" in msg
                    or "FileNotFoundException" in msg):
                raise
            raise SnapshotUnavailableError(
                f"snapshot v{version} of {table!r} needs files no "
                "longer on disk (garbage-collected after a rewrite, "
                "compaction or retention pass, or vacuumed); run "
                "with retain_history=True and vacuum explicitly to "
                f"keep snapshots readable: {e}") from e

    def vacuum(self, table: str) -> int:
        """Run the table's garbage collector (mutations.gc_superseded,
        under the table's #rewrite lease): delete every file the head
        version does not hold live. This is the explicit companion of
        ``retain_history=True``, where nothing else deletes: snapshots
        that need a deleted file stop being readable past this point
        (read_snapshot then raises SnapshotUnavailableError rather than
        under-returning). Returns the number of data files deleted."""
        from . import mutations

        return mutations.gc_superseded(self, table)

    def _collect(self, table: str) -> None:
        """The last step of every call that removes files from the
        table: without retain_history, the collector deletes them now;
        with it, vacuum() does."""
        from . import mutations

        if not self.retain_history:
            mutations.gc_superseded(self, table)

    def read_buffer(self, table: str) -> DataFrame | None:
        """Unflushed rows as a DataFrame — the hybrid-query half that gives
        1–3 s visibility (reference query/query.go:399-427)."""
        buf = self._buffers.get(table)
        if buf is None:
            return None
        rows = buf.rows_for(table)
        if not rows:
            return None
        row_dicts = [r.to_dict() for r in rows]
        batch_schema, name_map = dyn_schema.infer_batch_schema(row_dicts)
        df = dyn_schema.batch_dataframe(
            self.spark, row_dicts, batch_schema, name_map)
        return df.withColumn("dt", F.date_format("timestamp", "yyyy-MM-dd"))

    def read_table(self, table: str) -> DataFrame | None:
        """Hybrid read: persisted ∪ buffer (allowMissingColumns covers
        ragged dynamic schemas). Where buffer and cumulative types
        disagree, *both* sides are cast to the widened merge type
        (long+double → double, else string) so the union never clashes
        and never truncates."""
        persisted = self.read_persisted(table)
        buffered = self.read_buffer(table)
        persisted, buffered = self._harmonize_hybrid(table, persisted, buffered)
        if persisted is None:
            return buffered
        if buffered is None:
            return persisted
        return persisted.unionByName(buffered, allowMissingColumns=True)

    def _harmonize_hybrid(self, table, persisted, buffered):
        """Cast persisted/buffer sides to their widened merge types so a
        hybrid union never clashes and never truncates (shared by
        read_table and point_lookup_df)."""
        if buffered is not None and persisted is not None:
            cum = self.catalog.schema_of(table)
            target = self._hybrid_targets(cum, {
                f.name: _type_name(f.dataType) for f in buffered.schema.fields})
            buffered = buffered.select(
                *[
                    F.col(f.name).cast(_TYPE_MAP.get(target.get(f.name, ""), f.dataType)).alias(f.name)
                    if f.name in target
                    else F.col(f.name)
                    for f in buffered.schema.fields
                ]
            )
            persisted = persisted.select(
                *[
                    F.col(f.name).cast(_TYPE_MAP.get(target.get(f.name, ""), f.dataType)).alias(f.name)
                    if f.name in target and f.name in cum
                    else F.col(f.name)
                    for f in persisted.schema.fields
                ]
            )
        return persisted, buffered

    @staticmethod
    def _hybrid_targets(cum: dict[str, str], buf_types: dict[str, str]) -> dict[str, str]:
        """The type each buffered column (``dt`` aside) and its persisted
        twin are cast to in a hybrid read: the widened merge of the
        cumulative and the buffer type (long+double → double, else
        string)."""
        return {c: merge_type(cum[c], t) if c in cum else t
                for c, t in buf_types.items() if c != "dt"}

    # ------------------------------------------------------------------
    # point lookups (zone-map file skipping)
    # ------------------------------------------------------------------

    def _gen_struct(self, table: str, gen: int) -> T.StructType | None:
        gens = self.catalog.gen_schemas(table)
        if gen >= len(gens) or not gens[gen]:
            return None
        return _file_struct(gens[gen])

    def _zonemap_cols_for(self, table: str,
                          columns: Iterable[str] = ()) -> tuple[str, ...]:
        """Engine defaults (id, timestamp) plus the table's configured
        extra columns (TableConfig.zonemap_columns) — the reference's
        per-table multi-column index config. Order-stable and
        deduped. A configured name resolves to the table's column of
        the same name in any case, as Spark resolves it
        (``caseSensitive=false``); ``columns`` are those of a write not
        yet committed, which the table's schema does not hold yet."""
        cols = list(self.zonemap_columns)
        cfg = self.catalog.get_table(table)
        names = {c.lower(): c for c in (*self.catalog.schema_of(table), *columns)}
        for c in (getattr(cfg, "zonemap_columns", None) or ()):
            c = names.get(c.lower(), c)
            if c not in cols:
                cols.append(c)
        return tuple(cols)

    def _add_entries(
        self, table: str, gen: int, files: dict[str, int],
        gcols: dict[str, str] | None = None, tables: dict | None = None,
    ) -> dict[str, dict]:
        """The add entries committing ``files`` ({relpath: size}) into
        generation ``gen``, whose schema is ``gcols`` (default: the
        catalog's): sizes plus the row counts and zone-map brackets of
        :meth:`ZoneMapStore.build` (``tables``: see there). A build
        failure must never fail the write it serves (its files commit
        with sizes only, and lookups scan them), but it is COUNTED and
        logged, never silently dropped."""
        try:
            return self.zonemaps.build(
                self.spark, self._gen_dir(table, gen),
                _file_struct(gcols) if gcols is not None
                else self._gen_struct(table, gen),
                self._zonemap_cols_for(table, gcols or ()), files, tables)
        except Exception as exc:
            self.zonemap_build_errors += 1
            self.zonemap_last_error = f"{table}/gen={gen}: {exc!r}"
            import logging

            logging.getLogger(__name__).warning(
                "zone-map build failed for %s gen=%d (its files are "
                "committed without brackets): %r", table, gen, exc,
            )
            return {rel: {"size": size} for rel, size in files.items()}

    def point_lookup_df(
        self, table: str, value, id_col: str = "id",
    ) -> tuple[DataFrame | None, dict]:
        """``SELECT * WHERE id_col = value`` that opens only the files
        whose zone-map bracket admits the key (plus anything unindexed
        — the hint-only contract in :mod:`miniodb_spark.zonemap`),
        then unions the in-memory buffer, exactly like read_table.

        Returns ``(df, report)``; the report counts files listed /
        scanned / skipped per generation so tests and the dashboard can
        see the pruning effect. ``value`` may be a list/tuple of keys
        (multi-get / IN-list): a file is scanned when ANY key's bracket
        admits it. Correctness contract (tested): identical rows to
        ``read_table(table).filter(id_col = value)`` under flushes,
        appends, updates, deletes and compaction. A key list inside a
        time window is :meth:`multi_range_lookup_df`'s
        ``[(id_col, keys), ("timestamp", lo, lo_incl, hi, hi_incl)]``."""
        keys = list(value) if isinstance(value, (list, tuple, set)) else [value]
        if len(keys) == 1:
            key_pred = F.col(id_col).eqNullSafe(F.lit(keys[0]))
        else:
            key_pred = F.col(id_col).isin(keys)
        return self._pruned_hybrid_scan(
            table, (id_col,), self._range_select([(id_col, keys)]), key_pred)

    def range_lookup_df(
        self, table: str, lo=None, hi=None, lo_incl: bool = True,
        hi_incl: bool = True, id_col: str = "id",
    ) -> tuple[DataFrame | None, dict]:
        """``SELECT * WHERE id_col [>|>=] lo AND id_col [<|<=] hi``
        opening only the files whose zone-map [min, max] bracket
        intersects the range — the key-range twin of
        :meth:`point_lookup_df` (keyset pagination ``id > 'cursor'``,
        time-ordered key slices). Same hint-only superset contract and
        the same hybrid buffer union; the residual predicate re-filters
        whatever the brackets admit. A range predicate never matches a
        NULL key (SQL three-valued logic), matching prune_range's
        skip-all-null-files rule.

        For the ``timestamp`` column the listing is first pruned at
        DAY grain by the ``dt=`` directory name itself — sound because
        the write paths derive dt as date_format(timestamp) under the
        UTC session (engine.py flush/ingest; mutations preserve the
        partition value), so a file in an out-of-range day provably
        holds no in-range rows EVEN UNINDEXED. This is the reference's
        time-partition pruning (file_pruning.go:349-594) at directory
        grain; the zone-map brackets then add intra-day skipping.
        Unrecognized dt strings (NULL-timestamp partitions etc.) are
        conservatively kept — but a NULL timestamp can never match a
        range, so the residual filter drops those rows anyway."""
        return self.multi_range_lookup_df(
            table, {id_col: (lo, lo_incl, hi, hi_incl)})

    def multi_range_lookup_df(
        self, table: str, ranges: dict[str, tuple] | list[tuple],
    ) -> tuple[DataFrame | None, dict]:
        """Conjunction of conditions over several columns, pruning with
        EVERY condition's zone-map brackets intersected (a file survives
        only if every condition's bracket admits it). ``ranges`` is
        ``{col: (lo, lo_incl, hi, hi_incl)}`` or the condition list
        :meth:`_range_select` takes, ``[(col, lo, lo_incl, hi, hi_incl)
        | (col, [values])]``; naive datetimes are UTC, as the brackets
        are. The shape this serves at scale: keyset pagination inside a
        time window (``id > cursor AND timestamp BETWEEN ...``) — the
        id bracket alone admits every file of the cursor's
        lexicographic tail, the time bracket alone admits every file of
        the window; the intersection opens just their overlap. A
        ``timestamp`` range additionally drops whole out-of-range
        ``dt=`` day directories by NAME before any bracket is consulted
        (see range_lookup_df)."""
        conds = [(c, *r) for c, r in ranges.items()] if isinstance(ranges, dict) \
            else list(ranges)
        pred = F.lit(True)
        for cond in conds:
            c = F.col(cond[0])
            if len(cond) == 2:
                pred = pred & c.isin([_utc(v) for v in cond[1]])
                continue
            _col, lo, lo_i, hi, hi_i = cond
            if lo is not None:
                pred = pred & (c >= _utc(lo) if lo_i else c > _utc(lo))
            if hi is not None:
                pred = pred & (c <= _utc(hi) if hi_i else c < _utc(hi))
        return self._pruned_hybrid_scan(
            table, tuple(dict.fromkeys(cond[0] for cond in conds)),
            self._range_select(conds), pred)

    def _range_select(self, conds: list[tuple]):
        """The per-generation file selection (see :meth:`_prune_live`) of
        ``conds``, each ``(column, lo, lo_incl, hi, hi_incl)`` or
        ``(column, [values])``: a file survives when every condition's
        bracket admits it. A timestamp range also drops the days it
        misses by the ``dt=`` directory name (see range_lookup_df)."""

        def select_fn(listing, brackets):
            for cond in conds:
                if not listing:
                    break
                col = cond[0]
                if len(cond) == 2:
                    hit: set[str] = set()
                    for v in cond[1]:
                        hit.update(self.zonemaps.prune(brackets, listing, col, v)[0])
                else:
                    if col == "timestamp":
                        listing = _filter_listing_by_day(listing, cond[1:])
                    _col, lo, lo_i, hi, hi_i = cond
                    hit = set(self.zonemaps.prune_range(
                        brackets, listing, col,
                        lo=lo, hi=hi, lo_incl=lo_i, hi_incl=hi_i)[0])
                listing = [(rel, dt) for rel, dt in listing if rel in hit]
            return [rel for rel, _dt in listing]

        return select_fn

    def _pruned_hybrid_scan(
        self, table: str, id_col, select_fn, key_pred,
    ) -> tuple[DataFrame | None, dict]:
        """Shared scan builder behind point/range lookups: the files
        :meth:`_prune_live` selects with ``select_fn``, the residual
        ``key_pred`` re-filtering rows, and the in-memory buffer unioned
        in exactly like read_table. ``id_col`` may be a tuple of columns
        (multi-column range lookups): a generation or buffer lacking ANY
        of them holds only NULLs there, which no equality/range
        predicate matches — skipped wholesale. When no persisted file is
        selected, the buffered rows still take the unpruned view's
        columns and types (:meth:`_as_hybrid_view`)."""
        req = (id_col,) if isinstance(id_col, str) else tuple(id_col)
        gens = self.catalog.gen_schemas(table)
        cum = self.catalog.schema_of(table)
        selected, report = self._prune_live(table, req, select_fn)
        parts = [self._gen_scan(table, i, gens[i], cum, [rel for rel, _dt in sel])
                 for i, sel in selected]
        persisted = None
        if parts:
            persisted = parts[0]
            for p in parts[1:]:
                persisted = persisted.unionByName(p)
            persisted = persisted.filter(key_pred)
        buffered = self.read_buffer(table)
        if buffered is not None and {c.lower() for c in req} <= {
            c.lower() for c in buffered.columns
        }:
            buffered = buffered.filter(key_pred)
        elif buffered is not None:
            buffered = None
        persisted, buffered = self._harmonize_hybrid(table, persisted, buffered)
        if persisted is None:
            if buffered is not None and cum:
                buffered = self._as_hybrid_view(cum, buffered)
            return buffered, report
        if buffered is None:
            return persisted, report
        return (
            persisted.unionByName(buffered, allowMissingColumns=True),
            report,
        )

    def _as_hybrid_view(self, cum: dict[str, str],
                        buffered: DataFrame) -> DataFrame:
        """Buffered rows with the columns, order and types the hybrid
        union of :meth:`read_table` gives them: the cumulative schema's
        columns (a buffered one cast to its merge type, a missing one a
        typed NULL), ``dt`` and a NULL ``gen``, then the columns only
        the buffer has."""
        btypes = {f.name: _type_name(f.dataType) for f in buffered.schema.fields}
        targets = self._hybrid_targets(cum, btypes)
        cols = [
            (F.col(c) if targets[c] == btypes[c]
             else F.col(c).cast(_parse_type(targets[c])).alias(c))
            if c in btypes else F.lit(None).cast(_parse_type(t)).alias(c)
            for c, t in cum.items()
        ]
        cols += [F.col("dt"), F.lit(None).cast("int").alias("gen")]
        return buffered.select(*cols, *[
            c for c in buffered.columns if c not in cum and c != "dt"])

    def _prune_live(self, table: str, req: tuple[str, ...], select_fn,
                    ) -> tuple[list[tuple[int, list[tuple[str, str]]]], dict]:
        """The live files a pruned lookup opens: per generation holding
        every column of ``req``, ``select_fn(live_files, brackets)``
        picks the files by their zone-map brackets
        (:meth:`ZoneMapStore.load`; a superset of matches by the
        zone-map contract). Returns ``[(gen, [(rel, dt)])]`` for the
        generations with a selected file, and the pruning report (files
        listed / scanned / skipped). A generation lacking a column of
        ``req`` (compared in any case, as Spark resolves names) holds
        only NULLs there, which no predicate matches: skipped."""
        gens = self.catalog.gen_schemas(table)
        report = {"files_total": 0, "files_scanned": 0,
                  "files_skipped": 0, "gens": len(gens)}
        selected = []
        live = self.catalog.live_files(table)
        for i, gcols in enumerate(gens):
            listing = live.get(i)
            if not gcols or not listing:
                continue
            report["files_total"] += len(listing)
            if {c.lower() for c in req} <= {c.lower() for c in gcols}:
                keep = set(select_fn(listing, self.zonemaps.load(table, i)))
                sel = [(rel, dt) for rel, dt in listing if rel in keep]
            else:
                sel = []  # column absent: no match
            report["files_scanned"] += len(sel)
            report["files_skipped"] += len(listing) - len(sel)
            if sel:
                selected.append((i, sel))
        return selected, report

    def point_lookup_full(
        self, table: str, value, id_col: str = "id"
    ) -> tuple[QueryResult, dict]:
        """Key lookup (GetRecord) with the SAME ``max_result_rows``
        collect cap as :meth:`query_full` (one row past the cap is
        fetched so truncation is detectable) — a hot id with millions of
        rows must not drive an unbounded driver collect through the
        GetRecord path (round-11 verdict task 4). Returns the capped
        ``QueryResult`` plus the pruning report.

        String keys on ``id`` are answered first without Spark
        (:func:`miniodb_spark.lookup.lookup`: the pruned files read with
        pyarrow, the buffer filtered in place, Spark's JSON text); what
        that path declines runs as a Spark job over
        :meth:`point_lookup_df`. ``query_stats["lookups"]`` counts both."""
        from . import lookup

        keys = list(value) if isinstance(value, (list, tuple, set)) else [value]
        served = None
        if id_col == "id" and keys and all(isinstance(k, str) for k in keys):
            served = self._arrow_served(
                "lookups", lambda: lookup.lookup(self, table, keys, with_gen=True))
        else:
            self._note_decline("lookups", "shape")
        if served is not None:
            rows, report = served
            rows, truncated = self._capped(rows)
        else:
            df, report = self.point_lookup_df(table, value, id_col=id_col)
            if df is None:
                return QueryResult("[]", False), report
            rows, truncated = self._collect_json(df)
        return QueryResult("[" + ",".join(rows) + "]", truncated), report

    def _arrow_served(self, kind: str, run):
        """``run()``'s result, counted in ``query_stats[kind]`` (kind:
        "lookups" or "aggregates") as served without Spark; or None when
        it declined (counted by reason)."""
        from .lookup import Declined

        try:
            out = run()
        except Declined as d:
            self._note_decline(kind, d.reason)
            return None
        except Exception as exc:
            # the Spark path answers it; the fault is counted and logged
            import logging

            logging.getLogger(__name__).warning(
                "arrow %s path failed (answering on Spark): %r", kind, exc)
            self._note_decline(kind, "error")
            return None
        self.query_stats[kind]["arrow"] += 1
        return out

    def _note_decline(self, kind: str, reason: str) -> None:
        """A key lookup or aggregate that runs on Spark, and why."""
        stats = self.query_stats[kind]
        stats["spark"] += 1
        stats["declined"][reason] = stats["declined"].get(reason, 0) + 1

    def _capped(self, rows: list[str]) -> tuple[list[str], bool]:
        """At most ``max_result_rows`` of ``rows``, and whether any were
        cut (counted in ``query_stats["truncated"]``)."""
        cap = self.max_result_rows
        truncated = len(rows) > cap
        if truncated:
            rows = rows[:cap]
            self.query_stats["truncated"] += 1
        return rows, truncated

    def _collect_json(self, df: DataFrame) -> tuple[list[str], bool]:
        """``df``'s rows as JSON texts, at most ``max_result_rows`` of
        them, plus whether more existed (one row past the cap is fetched
        so truncation is detectable). The limit sits ON TOP of
        ``toJSON``, so Spark plans it as a CollectLimit that takes
        partitions incrementally; ``df.limit(n).toJSON()`` instead hides
        the limit under toJSON's MapPartitions and plans a GlobalLimit
        over an ``Exchange SinglePartition`` shuffle. Same JSON
        generator, same rows.

        The exception is an ORDER BY with no limit of its own: a limit
        directly over its global Sort plans as a top-K
        (TakeOrderedAndProject), while one above toJSON cannot reach the
        Sort, which would then range-shuffle and sort the whole result.
        That shape keeps the limit under toJSON. Telling the two apart
        reads the optimized plan the collect executes anyway."""
        cap = self.max_result_rows
        jds = df._jdf.toJSON().limit(cap + 1)
        if _sorts_whole_result(jds.queryExecution().optimizedPlan()):
            jds = df.limit(cap + 1)._jdf.toJSON()
        return self._capped([r[0] for r in DataFrame(jds, self.spark).collect()])

    def point_lookup(self, table: str, value, id_col: str = "id") -> str:
        """JSON rows for a key lookup (the GetRecord-style fast path);
        same NDJSON-array shape and collect cap as :meth:`query`."""
        res, _report = self.point_lookup_full(table, value, id_col=id_col)
        return res.json

    # ------------------------------------------------------------------
    # query path
    # ------------------------------------------------------------------

    def explain(self, sql: str, default_table: str | None = None) -> str:
        """Formatted physical plan for a gated query — the ops tool for
        checking that a production query actually gets its pushdown /
        pruning / broadcast (capability upgrade; the reference has no
        plan introspection, its DuckDB plans are opaque to callers)."""
        from .plans import formatted_plan

        return formatted_plan(self.query_df(sql, default_table=default_table))

    def query_df(
        self, sql: str, limit: int | None = None,
        default_table: str | None = None,
        at_version: int | dict[str, int] | None = None,
        as_of_ts_us: int | None = None,
    ) -> DataFrame:
        """QueryData minus the JSON serialization: gate → rewrites →
        temp-view registration per referenced table → ``spark.sql``.

        A table's view is the zone-map-pruned scan when the analyzed
        plan's filters bound one of its zone-map columns
        (:meth:`_pruned_view`); the full hybrid scan (:meth:`read_table`)
        is built only when it is the view: no pruning applies, pruning
        failed, or no file can match and the empty view needs its
        schema. Both take the table's files from the commit log, never
        from a directory listing; the persisted half of the full scan is
        cached per log version (:meth:`read_persisted`).

        Time travel: ``at_version`` pins the snapshot by catalog version
        (an int for single-table queries, a ``{table: version}`` dict
        for joins — versions are per-table counters, so one bare int
        across tables would be meaningless), ``as_of_ts_us`` by wall
        clock (each table resolves to its last version committed at or
        before the instant — the natural multi-table form). Snapshot
        queries never see the write buffer (versions are commit
        points)."""
        sql, tables = self._final_sql(sql, limit, default_table)
        return self._query_df(sql, tables, None, at_version, as_of_ts_us)

    def _query_df(self, sql: str, tables: list[str], nodes: list[dict] | None,
                  at_version, as_of_ts_us) -> DataFrame:
        """:meth:`query_df` of the final SQL text and its tables;
        ``nodes`` is its parsed plan when the caller already holds it."""
        if at_version is not None and as_of_ts_us is not None:
            raise ValueError("pass at_version or as_of_ts_us, not both")
        time_travel = at_version is not None or as_of_ts_us is not None
        if isinstance(at_version, int) and len(tables) > 1:
            raise ValueError(
                "at_version must be a {table: version} dict for a "
                f"multi-table query (tables: {sorted(tables)})")
        for t in tables:
            gate.validate_table_name(t)
            # pick up metadata committed by other driver processes on the
            # same store (flush/rewrite/create/delete) before planning —
            # one os.stat when nothing changed
            self.catalog.refresh_if_changed(t)
        conds = {} if time_travel else self._plan_conditions(sql, tables, nodes)
        views = []
        for t in tables:
            if time_travel:
                if isinstance(at_version, dict):
                    if t not in at_version:
                        raise ValueError(
                            f"at_version has no entry for table {t!r}")
                    v = at_version[t]
                elif at_version is not None:
                    v = at_version
                else:
                    v = self.catalog.version_as_of(t, int(as_of_ts_us))
                    if v is None:
                        raise ValueError(
                            f"table {t!r} has no version committed at or "
                            f"before ts_us={as_of_ts_us}")
                df = self.read_snapshot(t, v)
            else:
                # the full hybrid scan only when no pruned one replaces it
                df = self._pruned_view(t, conds.get(t))
                if df is None:
                    df = self.read_table(t)
            if df is None:
                if self.catalog.get_table(t) is None:
                    raise gate.SQLGateError(f"table not found: {t}")
                df = self.spark.createDataFrame([], self._empty_struct(t))
            if "gen" in df.columns:  # internal layout detail, not user-visible
                df = df.drop("gen")
            views.append((t, df))
        # spark.sql analyzes eagerly: from then on the DataFrame holds
        # the views' plans, and another query may replace them
        with self._view_lock:
            for t, df in views:
                df.createOrReplaceTempView(t)
            return self.spark.sql(sql)

    @staticmethod
    def _final_sql(sql: str, limit: int | None,
                   default_table: str | None) -> tuple[str, list[str]]:
        """The SQL text Spark runs (gated, legacy ``FROM table``
        rewritten, request limit injected) and the tables it names."""
        sql = gate.validate_query(sql)
        if default_table:
            sql = gate.rewrite_legacy_from_table(sql, default_table)
        sql = gate.inject_limit(sql, limit)
        tables = extract_tables(sql)
        if not tables:
            raise gate.SQLGateError("no table referenced in query")
        return sql, tables

    def _arrow_query(self, sql: str, tables: list[str], nodes: list[dict],
                     time_travel: bool):
        """A one-table query answered without Spark: ``rows``, or None
        for query_df to run. Spark's parsed plan ``nodes`` picks the
        path: an aggregate query goes to
        :func:`miniodb_spark.lookup.aggregate`, a query whose filter pins
        ``id`` (:func:`~miniodb_spark.lookup.keys`) to
        :func:`miniodb_spark.lookup.lookup` when the plan is exactly a
        lookup (:func:`~miniodb_spark.lookup.parse_lookup`); each counts
        in ``query_stats`` as served or declined, by reason. Time travel
        and other queries run on Spark uncounted (a time-travel lookup
        counts as declined)."""
        from . import lookup

        if len(tables) != 1:
            return None
        if time_travel:
            if lookup.keys(nodes) is not None:
                self._note_decline("lookups", "time_travel")
            return None
        t = tables[0]
        gate.validate_table_name(t)
        self.catalog.refresh_if_changed(t)
        if self.catalog.get_table(t) is None:
            return None  # query_df raises the error
        if lookup.is_aggregate(nodes):
            kind = "aggregates"

            def run():
                return lookup.aggregate(self, t, sql, nodes)
        elif lookup.keys(nodes) is not None:
            kind = "lookups"

            def run():
                columns, n, key = lookup.parse_lookup(nodes, t)
                return lookup.lookup(self, t, [key], columns, n)
        else:
            return None

        def counted():
            rows, report = run()
            if report is not None:
                zs = self._zonemap_stats()
                zs["queries"] += 1
                zs["files_skipped"] += report["files_skipped"]
            return rows

        return self._arrow_served(kind, counted)

    def _zonemap_stats(self) -> dict:
        """``query_stats["zonemap"]``: queries that pruned, the files
        they skipped and the pruning failures."""
        return self.query_stats.setdefault(
            "zonemap", {"queries": 0, "files_skipped": 0, "prune_errors": 0})

    def _plan_conditions(self, sql: str, tables: list[str],
                         nodes: list[dict] | None) -> dict[str, list[tuple]]:
        """``{table: zone-map conditions}`` for the Spark path's views,
        read from Spark's analyzed plan
        (:func:`miniodb_spark.lookup.plan_conditions`). A query whose
        parsed plan ``nodes`` (parsed here when None) holds no Filter is
        not analyzed. A query the analysis declines prunes nothing; any
        other failure is counted in ``query_stats["zonemap"]
        ["prune_errors"]`` and prunes nothing."""
        from . import lookup

        if nodes is None:
            try:
                nodes = lookup.parse(self.spark, sql)
            except lookup.Declined:
                return {}
        if not lookup.has_filter(nodes):
            return {}
        try:
            return lookup.plan_conditions(self, tables, sql)
        except lookup.Declined:
            return {}
        except Exception as exc:
            self._zonemap_stats()["prune_errors"] += 1
            import logging

            logging.getLogger(__name__).warning(
                "zone-map conditions failed for %s (scanning unpruned): %r",
                tables, exc)
            return {}

    def _pruned_view(self, t: str, conds: list[tuple] | None) -> DataFrame | None:
        """Zone-map file pruning on the SQL path: the view of ``t`` is
        the hybrid scan of the files whose brackets admit every one of
        ``conds`` (:meth:`_plan_conditions`; :meth:`multi_range_lookup_df`)
        instead of the full one. The SQL still re-applies every predicate
        and the pruned set is a superset of matching rows by
        construction. This is the reference's Redis-min/max query-path
        pruning (BASELINE.md: file pruning −90% reads) on Spark.

        Returns None without conditions or when pruning failed (counted
        in ``query_stats["zonemap"]["prune_errors"]``): query_df then
        builds the full scan, which it never builds for a pruned view."""
        if not conds:
            return None
        zs = self._zonemap_stats()
        try:
            pruned, rep = self.multi_range_lookup_df(t, conds)
            if pruned is None:
                # no file or buffered row can match; the empty view still
                # needs the full scan's schema (a table without any data
                # is left to query_df, uncounted as before)
                full = self.read_table(t)
                if full is None:
                    return None
                pruned = self.spark.createDataFrame([], full.schema)
            zs["queries"] += 1
            zs["files_skipped"] += rep["files_skipped"]
            return pruned
        except Exception as exc:
            # pruning is only an optimization: fall back to the unpruned
            # view, but count and log the failure
            zs["prune_errors"] += 1
            import logging

            logging.getLogger(__name__).warning(
                "zone-map pruning failed for %s (scanning unpruned): %r",
                t, exc)
            return None

    def _empty_struct(self, table: str) -> T.StructType:
        struct = self._catalog_struct(table)
        if struct is not None:
            return struct
        return T.StructType(
            [
                T.StructField("id", T.StringType(), False),
                T.StructField("timestamp", T.TimestampType(), False),
                T.StructField("table_name", T.StringType(), False),
            ]
        )

    def query(
        self, sql: str, limit: int | None = None,
        default_table: str | None = None,
        at_version: int | dict[str, int] | None = None,
        as_of_ts_us: int | None = None,
    ) -> str:
        """Full QueryData: returns the JSON array string the reference's
        API contract specifies (empty result ⇒ ``"[]"``). Callers that
        need the truncation flag use ``query_full``. ``at_version`` /
        ``as_of_ts_us`` time-travel the referenced tables (see
        query_df)."""
        return self.query_full(
            sql, limit=limit, default_table=default_table,
            at_version=at_version, as_of_ts_us=as_of_ts_us,
        ).json

    def query_full(
        self, sql: str, limit: int | None = None,
        default_table: str | None = None,
        at_version: int | dict[str, int] | None = None,
        as_of_ts_us: int | None = None,
    ) -> QueryResult:
        """Gate → execute → bounded JSON collect, via the result cache
        when the query is cache-worthy. The cached value is the whole
        ``QueryResult``, so the truncated flag survives cache hits.

        A cache miss that is a plain key lookup — ``SELECT <*|columns>
        FROM t WHERE id = '<key>' [LIMIT n]`` by Spark's parsed plan — or
        a filtered aggregate over one table, not time travel, is
        answered without a Spark job (:meth:`_arrow_query`,
        :mod:`miniodb_spark.lookup`) with the same JSON text, cap and
        pruning counts; everything else, and every query that path
        declines, runs through :meth:`query_df`. One ``parsePlan`` per
        cache miss picks the path, and the Spark path reuses it to skip
        the analysis for pruning when the plan holds no Filter.
        ``query_stats["lookups"]`` and ``["aggregates"]`` count the
        queries served each way, and slow-query entries carry the
        ``path`` taken."""
        import time as _time

        from . import lookup

        checked = gate.validate_query(sql)
        tables = extract_tables(checked)
        # time-travel results must neither hit nor populate the head
        # cache: its keys are (sql, tables) with no version dimension,
        # so a pinned-snapshot result would masquerade as current
        time_travel = at_version is not None or as_of_ts_us is not None
        use_cache = analyze_complexity(checked).cacheable and not time_travel
        versions = None
        if use_cache:
            hit = self.cache.get(checked, tables)
            if hit is not None:
                return hit
            # snapshot BEFORE executing: a mutation committed by another
            # driver mid-query must invalidate the entry we are about to
            # store, not be absorbed into its recorded versions
            versions = self.cache.snapshot_versions(tables)
        t0 = _time.perf_counter()
        final, final_tables = self._final_sql(checked, limit, default_table)
        # one parse picks the path and, on Spark, whether to analyze
        try:
            nodes = lookup.parse(self.spark, final)
        except lookup.Declined:
            nodes = []
        rows = self._arrow_query(final, final_tables, nodes, time_travel)
        if rows is not None:
            path, t_built = "arrow", t0
            rows, truncated = self._capped(rows)
        else:
            df = self._query_df(final, final_tables, nodes, at_version, as_of_ts_us)
            path, t_built = "spark", _time.perf_counter()
            # cap the collect; queries carrying their own LIMIT are
            # unaffected (inject_limit is a no-op then, and the cap only
            # trims if the user's limit exceeds it)
            rows, truncated = self._collect_json(df)
        if self.encryptor:
            decrypted = [
                json.dumps(self.encryptor.decrypt_row(json.loads(r)),
                           separators=(",", ":"))
                for r in rows
            ]
            result = "[" + ",".join(decrypted) + "]"
        else:
            result = "[" + ",".join(rows) + "]"
        t_done = _time.perf_counter()
        elapsed_ms = (t_done - t0) * 1000
        # query stats + slow-query log (reference query.go:351-373);
        # build_ms is query_df (gate, views, pruning, planning),
        # collect_ms the execution and JSON collect — both rounded down,
        # so their sum never exceeds ms
        self.query_stats["count"] += 1
        self.query_stats["total_ms"] += elapsed_ms
        if elapsed_ms >= self.slow_query_ms:
            self.query_stats["slow"].append({
                "sql": checked[:200], "ms": round(elapsed_ms, 1),
                "build_ms": math.floor((t_built - t0) * 10_000) / 10,
                "collect_ms": math.floor((t_done - t_built) * 10_000) / 10,
                "path": path,
            })
            self.query_stats["slow"] = self.query_stats["slow"][-100:]
        out = QueryResult(result, truncated)
        if use_cache:
            self.cache.put(checked, tables, out, versions=versions)
        return out

    def stream_query(
        self, sql: str, batch_size: int = 100, cursor: int = 0, default_table: str | None = None
    ) -> tuple[list[dict], int, bool]:
        """StreamQuery pagination with an integer offset cursor (reference
        miniodb_service.go:1276-1360). batch_size default 100, max 10,000.

        The page is pulled through ``toLocalIterator`` — the driver holds
        at most one partition of results plus the page itself, never the
        full result set (the previous implementation collected everything
        and sliced, which dies on an unbounded SELECT * at scale). The
        iterator runs partition-by-partition, so an early page only
        computes the leading partitions. Stable pagination requires a
        deterministic ORDER BY, same as the reference."""
        import itertools

        batch_size = max(1, min(int(batch_size), 10_000))
        checked = gate.validate_query(sql)
        df = self.query_df(checked, default_table=default_table)
        it = df.toJSON().toLocalIterator(prefetchPartitions=False)
        window = list(itertools.islice(it, cursor, cursor + batch_size + 1))
        has_more = len(window) > batch_size
        batch = [json.loads(r) for r in window[:batch_size]]
        if self.encryptor:
            batch = [self.encryptor.decrypt_row(r) for r in batch]
        next_cursor = cursor + len(batch)
        return batch, next_cursor, has_more

    # ------------------------------------------------------------------
    # mutation path
    # ------------------------------------------------------------------

    def delete(self, table: str, record_id: str) -> int:
        """DeleteData: buffer removal + tombstone, then copy-on-write
        rewrite of affected ``dt`` partitions inside their generation
        (reference miniodb_service.go:867-1007, query/query.go:1252-1413
        rewrites per *file*; partition-level rewrite is the Spark-shaped
        unit). One commit replaces the partitions' files, so the delete
        is all-or-nothing (see mutations.delete_rows)."""
        gate.validate_table_name(table)
        with self.lease.holding(f"{table}/{record_id}",
                                retries=self.lease_busy_retries), \
                self.lease.keepalive(f"{table}/{record_id}"):
            self.catalog.refresh_if_changed(table)
            removed = 0
            buf = self._buffers.get(table)
            if buf is not None:
                removed += buf.remove(table, record_id)
            removed += delete_rows(self, table, F.col("id") == record_id)
        self.cache.invalidate_table(table)
        if self.events:
            self.events.publish("delete", table, [record_id])
        self._collect(table)
        return removed

    _ARRAY_ELEM_TYPES = {
        "double": T.DoubleType(), "float": T.FloatType(),
        "bigint": T.LongType(), "int": T.IntegerType(),
        "smallint": T.ShortType(), "tinyint": T.ByteType(),
        "string": T.StringType(), "boolean": T.BooleanType(),
    }

    def _typed_row_df(self, table: str, rid: str, timestamp_us: int,
                      payload: dict[str, Any]) -> DataFrame:
        """One-row DataFrame for the durable-update re-insert, shaped
        like the flush path (sanitized names, first-seen scalar typing,
        JSON-stringified nested values — the reference's
        concurrent_buffer.go:576-592 semantics) EXCEPT that a list
        payload whose column is already ``array<elem>`` in the table's
        cumulative schema stays a real typed array. Stringifying it
        would merge the column type to string for the whole table
        (catalog merge_type falls back to string on any disagreement)
        and poison typed consumers — an embedding column updated
        through the row API must remain probe-able by the ANN serving
        indexes (test_serving_staleness.py pins this)."""
        def _elem(v, et):
            if v is None:
                return None
            try:
                if isinstance(et, (T.DoubleType, T.FloatType)):
                    return float(v)
                if isinstance(et, (T.LongType, T.IntegerType,
                                   T.ShortType, T.ByteType)):
                    return int(v)
                if isinstance(et, T.BooleanType):
                    return bool(v)
            except (TypeError, ValueError):
                return None
            return str(v)

        cum = self.catalog.schema_of(table)
        name_map = dyn_schema.resolve_field_names(list(payload.keys()))
        struct = [
            T.StructField("id", T.StringType(), False),
            T.StructField("timestamp", T.TimestampType(), False),
            T.StructField("table_name", T.StringType(), False),
        ]
        vals: list[Any] = [
            str(rid), dyn_schema.micros_to_datetime(timestamp_us), table,
        ]
        for key in sorted(payload.keys()):
            col, val = name_map[key], payload[key]
            cumt = cum.get(col, "") or ""
            et = (
                self._ARRAY_ELEM_TYPES.get(cumt[6:-1])
                if cumt.startswith("array<") else None
            )
            if et is not None and isinstance(val, (list, tuple)):
                struct.append(T.StructField(col, T.ArrayType(et), True))
                vals.append([_elem(v, et) for v in val])
                continue
            dtype = (
                dyn_schema.infer_spark_type(val)
                if val is not None else T.StringType()
            )
            struct.append(T.StructField(col, dtype, True))
            vals.append(dyn_schema.coerce_value(val, dtype))
        return self.spark.createDataFrame(
            [tuple(vals)], T.StructType(struct)
        )

    def update(self, table: str, record_id: str, payload: dict[str, Any],
               timestamp_us: int | None = None) -> int:
        """UpdateData: insert the new version, then sweep the old ones —
        the reference's order (miniodb_service.go:737-741), kept
        deliberately: a crash between the two commits leaves a transient
        DUPLICATE (the retried update or any later mutation of the id
        sweeps it), never a LOST record. The reverse order would lose
        the row if the process died after the delete commit.

        The new version lands PERSISTED, never buffered. A buffered
        re-insert is local to THIS driver: another driver's update of
        the same id can only sweep what it can see (shared-store files
        + its own buffer), so both drivers' flushes would land their
        own copy — duplicate ids from a cross-driver update-update,
        even unraced. Persisting under the held (table, id) + #rewrite
        leases makes the new version visible to every driver the moment
        the leases release, and makes update durable at return
        (strictly stronger than the reference's buffer-then-flush).
        The sweep reads only the files live before the insert (the
        merge_upsert protocol at single-row grain), so the fresh row is
        never swept; both land in the generation the catalog picks for
        their types, so no generation opens unless a column changes
        type.

        Lock ordering: cross-driver leases are ALWAYS acquired before
        the process-level ``self._lock`` (re-entered by
        ingest_dataframe and delete_rows on this thread). Taking
        ``self._lock`` first would invert against merge_upsert, which
        holds ``#rewrite`` while its flush briefly needs ``self._lock``:
        concurrent update+merge would then stall the merge for the full
        lease timeout and spuriously fail the update.

        The keepalive on the (table, id) lease is load-protection, not
        decoration: with lease_busy_retries > 0 the ``#rewrite`` wait
        below can legitimately exceed the id lease's TTL on a busy
        host, and an aged-out id lease would let a concurrent mutation
        of the same id interleave with ours."""
        gate.validate_table_name(table)
        with self.lease.holding(f"{table}/{record_id}",
                                retries=self.lease_busy_retries), \
                self.lease.keepalive(f"{table}/{record_id}"), \
                self.lease.holding(f"{table}/#rewrite",
                                   retries=self.lease_busy_retries), \
                self.lease.keepalive(f"{table}/#rewrite"), self._lock:
            # refresh under the held leases (race-free): the cumulative
            # schema read by _typed_row_df must include columns ingested
            # by OTHER drivers, or a list payload for a foreign
            # array<T> column is JSON-stringified and merge_type
            # poisons the whole column to string (ADVICE r13).
            self.catalog.refresh_if_changed(table)
            cfg = self.catalog.ensure_table(table)
            rid = resolve_id(
                record_id, cfg.id_strategy, cfg.auto_generate_id,
                self.idgen, cfg.id_prefix, cfg.max_id_length,
            )
            if timestamp_us is None:
                import time as _time

                timestamp_us = int(_time.time() * 1_000_000)
            if self.encryptor:
                payload = self.encryptor.encrypt_payload(payload)
            df = self._typed_row_df(table, rid, timestamp_us, payload)
            # the sweep's snapshot: the files live before the insert.
            # We hold #rewrite re-entrantly around snapshot + insert +
            # sweep, so no other commit lands in between.
            old = self.catalog.live_files(table)
            # 1. INSERT FIRST
            self.ingest_dataframe(table, df)
            # 2. sweep older versions: this driver's buffer copy plus
            #    every persisted copy in the snapshot
            removed = 0
            buf = self._buffers.get(table)
            if buf is not None:
                removed += buf.remove(table, rid)
            removed += delete_rows(self, table, F.col("id") == rid, files=old)
        self.cache.invalidate_table(table)
        if self.events:
            self.events.publish("update", table, [record_id])
        self._collect(table)
        return removed

    def merge_upsert(self, table: str, batch: DataFrame, key_col: str = "id",
                     ts_col: str = "timestamp") -> tuple[int, int]:
        """Bulk MERGE (SCD1): insert ``batch`` and drop every older
        version of its keys — the distributed, single-commit-per-side
        generalization of per-record :meth:`update` (see
        mutations.upsert_dataframe for the protocol and the reference
        citation). Returns (n_inserted, n_replaced)."""
        from .mutations import upsert_dataframe

        return upsert_dataframe(self, table, batch, key_col=key_col,
                                ts_col=ts_col)

    def merge_records(self, table: str, records: list[dict],
                      key_col: str = "id") -> tuple[int, int]:
        """Row-shaped bulk merge: StreamWrite-style {id, timestamp_us?,
        payload} dicts → one DataFrame (same dynamic-schema inference as
        the flush path) → :meth:`merge_upsert`. The transport-facing
        counterpart of the bulk merge, sized for API batches — the
        100 TB path takes a DataFrame directly."""
        import time as _time

        gate.validate_table_name(table)
        cfg = self.catalog.ensure_table(table)
        now_us = int(_time.time() * 1_000_000)
        row_dicts = []
        for rec in records:
            rid = resolve_id(
                rec.get("id"), cfg.id_strategy, cfg.auto_generate_id,
                self.idgen, cfg.id_prefix, cfg.max_id_length,
            )
            payload = rec.get("payload", {})
            if self.encryptor:
                payload = self.encryptor.encrypt_payload(payload)
            row_dicts.append({
                "id": rid,
                "timestamp": rec.get("timestamp_us", rec.get("timestamp", now_us)),
                "table_name": table,
                "fields": payload,
            })
        batch_schema, name_map = dyn_schema.infer_batch_schema(row_dicts)
        df = dyn_schema.batch_dataframe(
            self.spark, row_dicts, batch_schema, name_map)
        return self.merge_upsert(table, df, key_col=key_col)

    def collapse_generations(self, table: str) -> int:
        """Fold all schema generations into one cumulative-schema
        generation (maintenance pass; see mutations.collapse_generations).
        Returns the number of (gen, dt) partitions folded."""
        from .mutations import collapse_generations

        return collapse_generations(self, table)

    def cleanup_empty_id_records(self, table: str) -> int:
        """DELETE FROM t WHERE id = '' OR id IS NULL (reference
        miniodb_service.go:1051-1084). '_' placeholder ids count too."""
        n = delete_rows(
            self, table,
            F.col("id").isNull() | (F.col("id") == "") | (F.col("id") == "_"))
        self.cache.invalidate_table(table)
        self._collect(table)
        return n

    # ------------------------------------------------------------------
    # approximate-query surface (reference approximation.go:309-456 —
    # its registry lives server-side; ours persists through the shared
    # store KV so estimates survive restarts and merge across drivers)
    # ------------------------------------------------------------------

    @property
    def approx(self):
        if getattr(self, "_approx", None) is None:
            from .kv import FileKV
            from .sketches import ApproximateQueryEngine

            self._approx = ApproximateQueryEngine()
            self._approx_kv = FileKV(
                self.fs, fsmod.join(self.root, "_meta", "sketches")
            )
        return self._approx

    def refresh_sketches(self, table: str, columns: list[str]) -> None:
        """(Re)build HLL/CMS sketches for the table's columns from its
        current hybrid view and persist them to the store. One narrow
        scan per call; run it post-flush or on a schedule, like the
        reference updates its registry on ingest."""
        df = self.read_table(table)
        if df is None:
            raise gate.SQLGateError(f"table not found: {table}")
        self.approx.update_from_dataframe(table, df, columns, replace=True)
        self.approx.save(self._approx_kv)

    def _approx_with_fallback(self, table: str, column: str, fn):
        """Shared accessor fallback: on a sketch miss, load ONLY the
        missing kinds from the store (fill_missing — merging a persisted
        copy into the live sketch it was saved from would double every
        count) and retry once."""
        try:
            return fn()
        except KeyError:
            if self.approx.load(self._approx_kv, [(table, column)],
                                fill_missing=True) == 0:
                raise
            return fn()

    def approx_cardinality(self, table: str, column: str) -> float:
        """HLL distinct estimate; falls back to sketches persisted by
        another driver when this process hasn't built one."""
        return self._approx_with_fallback(
            table, column, lambda: self.approx.cardinality(table, column)
        )

    def approx_frequency(self, table: str, column: str, value) -> int:
        """CMS point-frequency estimate (never underestimates)."""
        return self._approx_with_fallback(
            table, column, lambda: self.approx.frequency(table, column, value)
        )

    def approx_top_values(self, table: str, column: str, n: int = 10):
        """Misra-Gries heavy-hitter candidates (value, lower-bound count),
        largest first; same cross-driver KV fallback as the other
        sketch accessors."""
        return self._approx_with_fallback(
            table, column, lambda: self.approx.top_values(table, column, n)
        )

    def approx_quantile(self, table: str, column: str, q: float) -> float:
        """Mergeable-digest quantile estimate for numeric columns. Point
        estimate is heuristic; sound rank bounds come from the digest's
        ``rank_bracket(est)`` (see sketches.QuantileDigest)."""
        return self._approx_with_fallback(
            table, column, lambda: self.approx.quantile(table, column, q)
        )

    # ------------------------------------------------------------------
    # retention + background flush
    # ------------------------------------------------------------------

    def enforce_retention(self, table: str | None = None, now_us: int | None = None) -> int:
        """Drop ``dt`` partitions older than each table's retention_days
        (reference: retention config in table_config.go; enforcement is
        one rm commit per table — O(files), never a rewrite — and the
        collector deletes the files). Returns the number of ``(gen, dt)``
        partitions the rm commits emptied."""
        import time as _time
        from datetime import datetime, timedelta, timezone

        now_us = now_us or int(_time.time() * 1_000_000)
        removed = 0
        for t in [table] if table else self.list_tables():
            cfg = self.catalog.get_table(t)
            if cfg is None or not cfg.retention_days:
                continue
            cutoff = (
                datetime.fromtimestamp(now_us / 1_000_000, tz=timezone.utc)
                - timedelta(days=cfg.retention_days)
            ).strftime("%Y-%m-%d")
            # the live-set read -> rm commit runs under the table's
            # #rewrite lease, so no flush commits late-arriving data
            # into a pre-cutoff partition in between
            with self.lease.holding(f"{t}/#rewrite", timeout_s=120.0), \
                    self.lease.keepalive(f"{t}/#rewrite"):
                # ONE commit removes every live file of the dropped days
                live = self.catalog.live_files(t)
                parts = {(g, dt) for g, files in live.items()
                         for _rel, dt in files if dt < cutoff}
                if parts:
                    self.catalog.touch(t, remove_files={
                        g: [rel for rel, dt in files if dt < cutoff]
                        for g, files in live.items()})
                    removed += len(parts)
                    self.cache.invalidate_table(t)
                self._collect(t)
        return removed

    def compact(self, table: str,
                zorder_by: list[str] | None = None) -> list[dict]:
        """Run tiered compaction over one table's partitions (reference
        compaction manager; exposed here as the maintenance entry point
        the service schedules). ``zorder_by`` Morton-clusters rewritten
        partitions (the OPTIMIZE-ZORDER analog). Rewriting files changes
        what a cached result was computed from, so the table's cache
        entries (and the cross-process version nonce) are invalidated
        whenever any plan executed.

        Each compaction is one add+remove commit; the collector deletes
        the inputs at the end of the call, or — with
        ``retain_history=True`` — at the next vacuum(), so snapshots
        from before the compaction keep reading its inputs until then."""
        from .compaction import compact_table, plan_table

        if self.catalog.get_table(table) is None:
            raise ValueError(f"no such table: {table}")
        # exclude concurrent cross-driver flushes/rewrites for the
        # duration: the plan is taken from the live set
        with self.lease.holding(f"{table}/#rewrite", timeout_s=120.0), \
                self.lease.keepalive(f"{table}/#rewrite"):
            plans = plan_table(self._table_dir(table),
                               self.live_objects(table))
            outputs = compact_table(self.spark, plans, fs=self.fs,
                                    zorder_by=zorder_by)
            # ONE commit swaps each plan's inputs for its outputs
            # (Delta-style add+remove entries, the outputs bracketed
            # from their footers): a crash anywhere leaves either the
            # inputs or the outputs live, never both
            added: dict[int, dict[str, int]] = {}
            removed: dict[int, list[str]] = {}
            for plan, outs in zip(plans, outputs):
                added.setdefault(plan.gen, {}).update(outs)
                removed.setdefault(plan.gen, []).extend(plan.rels)
            if plans:
                self.catalog.touch(table, add_files={
                    g: self._add_entries(table, g, outs)
                    for g, outs in added.items()}, remove_files=removed)
                self.cache.invalidate_table(table)
            self._collect(table)
        return [plan.stats(len(outs)) for plan, outs in zip(plans, outputs)]

    def start_auto_flush(self, poll_interval_s: float = 1.0) -> None:
        """Background timer flush — the reference's flush_interval trigger
        (concurrent_buffer.go:1128-1209). Size-triggered flushes remain
        synchronous on the write path."""
        import time as _time

        if getattr(self, "_auto_flush_thread", None):
            return
        self._auto_flush_stop = threading.Event()

        def _loop():
            while not self._auto_flush_stop.wait(poll_interval_s):
                for t, buf in list(self._buffers.items()):
                    if buf.count and buf.should_flush_by_time():
                        try:
                            self.flush(t)
                        except Exception:  # pragma: no cover - background path
                            pass

        self._auto_flush_thread = threading.Thread(target=_loop, daemon=True)
        self._auto_flush_thread.start()

    def stop_auto_flush(self) -> None:
        if getattr(self, "_auto_flush_thread", None):
            self._auto_flush_stop.set()
            self._auto_flush_thread.join(timeout=5)
            self._auto_flush_thread = None

    # ------------------------------------------------------------------
    # health / status
    # ------------------------------------------------------------------

    def status(self) -> dict[str, Any]:
        return {
            "tables": self.list_tables(),
            "buffered_rows": {t: b.count for t, b in self._buffers.items()},
            "cache": {"hits": self.cache.hits, "misses": self.cache.misses},
            "queries": {
                "count": self.query_stats["count"],
                "avg_ms": round(
                    self.query_stats["total_ms"] / max(1, self.query_stats["count"]), 1
                ),
                "slow": len(self.query_stats["slow"]),
            },
        }
