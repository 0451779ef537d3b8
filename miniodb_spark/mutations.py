"""Id-level delete/update via copy-on-write partition rewrite.

Reference semantics (/root/reference/internal/query/query.go:1252-1413):
find the files containing the id via the Redis index; files made
entirely of the id are dropped, others are rewritten without the
matching rows — upload the rewritten object, then delete the old one.
Our Spark-shaped unit of rewrite is the ``gen=N/dt=day`` partition:
affected partitions are discovered by a scan of a known file set (the
``id`` predicate rides parquet footer min/max), survivors are
re-materialized in cumulative types, and the partition's files are
replaced. The rewrite itself is a distributed Spark job, not a driver
loop over files.

**Rename-free commit protocol** (object-store-safe: on S3A a rename is
a non-atomic copy+delete, so the data path must never rename):

1. the rewrite reads a snapshot whose files it knows, and writes the
   survivors through the engine's one writer (``Engine._write_files``)
   under fresh file names into the generation the catalog picks for
   their types — the latest one unless a column changed type. Readers
   read only the files the commit log holds live, so a crash mid-write
   leaves invisible orphan files, never partial data;
2. the commit point is ONE commit-log record
   (:meth:`~miniodb_spark.catalog.Catalog.commit_rewrite`): it adds
   the survivors' files and removes exactly the snapshot files of the
   rewritten ``(gen, dt)`` partitions, and it refuses to commit if any
   of them is no longer live;
3. the files the commit removed stay on disk, invisible, until the
   table's garbage collector (:func:`gc_superseded`) deletes them.

The whole snapshot→write→commit window runs under the table's
``#rewrite`` lease and the engine's per-table flush lock, so no other
writer commits in between.
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A file no commit ever added (a crashed writer's output, a temp file)
# is deleted only once older than this: a writer whose lease aged out
# may still commit it.
GC_GRACE_S = 24 * 3600


def _name(path: str) -> str:
    return path.rstrip("/").rsplit("/", 1)[-1]


def gc_superseded(engine, table: str) -> int:
    """The table's one garbage collector — writers only commit. Under
    the table's ``#rewrite`` lease (every writer holds it, so none is
    in flight) it LISTs the ``gen=*/*`` directories once and deletes
    every file the head version does not hold live: at once if some
    commit added it, past :data:`GC_GRACE_S` if none did. A
    ``.<name>.crc`` companion follows its file, a ``_SUCCESS`` marker
    its directory, and a directory goes once it holds nothing to keep.
    Returns the number of data files deleted. A failure raises; the
    next collection finishes the work. Callers decide when to collect:
    ``Engine._collect`` and ``Engine.vacuum``."""
    key = f"{table}/#rewrite"
    with engine.lease.holding(key, timeout_s=120.0), \
            engine.lease.keepalive(key):
        keep = {(g, rel) for g, files in engine.catalog.live_files(table).items()
                for rel, _dt in files}
        added = engine.catalog.added_files_index(table)
        horizon_us = (time.time() - GC_GRACE_S) * 1e6
        deleted = 0
        for gdir in engine.fs.list_dirs(engine._table_dir(table), prefix="gen="):
            g, gen_keeps = int(_name(gdir)[len("gen="):]), False
            for sub in engine.fs.list_dirs(gdir):
                files = {_name(p): (p, t) for p, t in engine.fs.list_files_mtime(sub)}
                # data files: neither a marker nor a checksum companion
                data = {n: t for n, (_p, t) in files.items()
                        if not n.startswith("_") and not (
                            n.startswith(".") and n.endswith(".crc")
                            and n[1:-4] in files)}
                d = _name(sub)
                doomed = [n for n, t in data.items() if (g, f"{d}/{n}") not in keep
                          and ((g, f"{d}/{n}") in added or t < horizon_us)]
                deleted += len(doomed)
                if len(doomed) == len(data):
                    engine.fs.remove_dir(sub)
                    continue
                gen_keeps = True
                for name in doomed:
                    for victim in (name, f".{name}.crc"):
                        if victim in files:
                            engine.fs.remove_file(files[victim][0])
            if not gen_keeps:
                engine.fs.remove_dir(gdir)
    return deleted


def delete_rows(
    engine,
    table: str,
    delete_predicate: Column | None = None,
    match_keys: tuple[DataFrame, str] | None = None,
    files: dict[int, list[tuple[str, str]]] | None = None,
) -> int:
    """Delete rows matching ``delete_predicate`` — or, with
    ``match_keys=(keys_df, key_col)``, rows whose key appears in a keys
    DataFrame (semi-join matching, the bulk-merge shape: a million-key
    batch can never be an ``isin`` literal) — from a table's persisted
    data; returns the number of rows deleted. Only (gen, dt) partitions
    containing matches are rewritten, via the rename-free commit
    protocol above.

    The rows read are a snapshot whose files are known: ``files``
    ({gen: [(relpath, dt)]}, a :meth:`Catalog.live_files` taken by the
    caller), less any file a commit removed since, or the head when
    ``files`` is None. A caller that inserts before sweeping (update,
    merge) takes ``files`` before its insert, so the fresh rows are
    never read or removed. The remove set is exactly the snapshot's
    files in the matched partitions.

    **Cross-driver serialization**: the whole snapshot→rewrite→commit
    runs under the table-level ``#rewrite`` lease (reference: every
    mutation holds the Redis (table,id) lock, miniodb_service.go:
    720-722; rewrites serialize per *table* here because a commit
    replaces whole partitions). The snapshot is taken after the lease
    is held and the catalog refreshed, so it never predates another
    driver's commit."""
    assert (delete_predicate is None) != (match_keys is None), \
        "exactly one of delete_predicate / match_keys"
    # keepalive starts the moment the lease is held, BEFORE the first
    # Spark job (the matched-count collect below is itself a full scan
    # that can outlast the 30 s TTL at 100 TB) — an uncovered gap here
    # would let a second driver steal the lease mid-snapshot and both
    # would rewrite
    key = f"{table}/#rewrite"
    with engine.lease.holding(key, retries=engine.lease_busy_retries), \
            engine.lease.keepalive(key), engine._flush_lock(table):
        engine.catalog.refresh_if_changed(table)
        head = engine.catalog.live_files(table)
        # the caller's snapshot, less any file a commit removed since
        files = head if files is None else {
            g: sorted(set(fs) & set(head.get(g, ()))) for g, fs in files.items()}
        df = engine._scan_files(table, files)
        if df is None:
            return 0
        if match_keys is not None:
            keys_df, key_col = match_keys
            # distinct keys, joined (no broadcast hint — a merge batch
            # can be arbitrarily large; AQE broadcasts while it fits)
            keys = keys_df.select(F.col(key_col).alias("__mk")).distinct()
            matched = df.join(keys, df[key_col] == F.col("__mk"), "left_semi")
            survivors_of = lambda part: part.join(
                keys, part[key_col] == F.col("__mk"), "left_anti")
        else:
            matched = df.filter(delete_predicate)
            # a row the predicate reads as NULL is not deleted: it survives
            survivors_of = lambda part: part.filter(
                ~F.coalesce(delete_predicate, F.lit(False)))
        per_part = matched.groupBy("gen", "dt").count().collect()
        if not per_part:
            return 0
        parts = {(int(r["gen"]), r["dt"]) for r in per_part}
        read = {g: [(rel, dt) for rel, dt in fs if (g, dt) in parts]
                for g, fs in files.items()}
        engine._write_files(
            table, survivors_of(engine._scan_files(table, read)).drop("gen"),
            remove_files={g: [rel for rel, _dt in fs]
                          for g, fs in read.items() if fs})
    # the caller invalidates the cache, then collects
    return sum(r["count"] for r in per_part)


def upsert_dataframe(
    engine,
    table: str,
    batch: DataFrame,
    key_col: str = "id",
    ts_col: str = "timestamp",
) -> tuple[int, int]:
    """Bulk MERGE (SCD1 upsert): insert the batch, then drop every OLDER
    version of the batch's keys — the distributed generalization of the
    reference's per-record UpdateData (miniodb_service.go:712-795),
    whose insert-first order we keep: the reference inserts the new
    record and then deletes the old one, tolerating a transient
    duplicate on partial failure rather than a lost record
    (miniodb_service.go:737-741). Same here: a crash between ingest and
    sweep leaves both versions visible until the merge is retried —
    never data loss.

    Scale shape: the batch lands via the 100 TB ingest path (one
    distributed write, no driver materialization); the old-version
    sweep is a key semi-join rewrite of only the (gen, dt) partitions
    that contain batch keys (``delete_rows`` match_keys mode — a
    million-key batch is a join, never an ``isin`` literal). The sweep
    reads the files live after the flush and before the insert, so the
    batch's own rows are never swept. The whole ingest+sweep runs under
    the table's cross-driver #rewrite lease, re-entered by the sweep,
    so two drivers merging into one table serialize.

    Returns ``(n_inserted, n_replaced)``.
    """
    from . import gate

    gate.validate_table_name(table)
    n_batch = batch.count()
    # keepalive from the instant the lease is held: the flush + full
    # distributed ingest below are exactly the multi-minute jobs that
    # outlast the TTL at scale, and they must not run on a stolen lease
    with engine.lease.holding(f"{table}/#rewrite",
                              retries=engine.lease_busy_retries), \
            engine.lease.keepalive(f"{table}/#rewrite"):
        engine.catalog.refresh_if_changed(table)
        # buffered rows of batch keys would resurrect on flush: drain the
        # buffer first so every old version is persisted and sweepable
        engine.flush(table)
        old = engine.catalog.live_files(table)
        engine.ingest_dataframe(table, batch, ts_col=ts_col)
        replaced = delete_rows(engine, table, match_keys=(batch, key_col),
                               files=old)
    engine.cache.invalidate_table(table)
    if engine.events:
        engine.events.publish("update", table, [f"bulk:{n_batch}"])
    engine._collect(table)
    return n_batch, int(replaced)


def collapse_generations(engine, table: str) -> int:
    """Fold every generation into ONE cumulative-schema generation — the
    maintenance pass that keeps scan cost O(1) in generations after
    schema evolution (only a column type change opens a generation;
    file-level compaction deliberately stays inside a generation). The
    table's rows go through the engine's one writer into the generation
    the catalog picks for the cumulative schema, ONE atomic commit
    replaces every live file, every other generation is tombstoned, and
    the collector deletes the folded files and directories afterwards.
    Returns the number of (gen, dt) partitions folded; no-op (0) when
    the table already has a single generation.

    The whole pass runs under the cross-driver #rewrite lease with the
    keepalive daemon — at 100 TB this re-materializes the table, a
    multi-minute job."""
    from . import gate

    gate.validate_table_name(table)
    with engine.lease.holding(f"{table}/#rewrite",
                              retries=engine.lease_busy_retries), \
            engine.lease.keepalive(f"{table}/#rewrite"), \
            engine._flush_lock(table):
        engine.catalog.refresh_if_changed(table)
        if len([g for g in engine.catalog.gen_schemas(table) if g]) <= 1:
            return 0
        files = engine.catalog.live_files(table)
        df = engine._scan_files(table, files)
        if df is None:
            return 0
        gen = engine._write_files(
            table, df.drop("gen"),
            remove_files={g: [rel for rel, _dt in fs] for g, fs in files.items()})
        # every other generation is now empty: tombstone them so future
        # scans don't even stat their directories
        engine.catalog.tombstone_generations(table, [
            i for i in range(len(engine.catalog.gen_schemas(table))) if i != gen])
    engine.cache.invalidate_table(table)
    engine._collect(table)
    return len({(g, dt) for g, fs in files.items() for _rel, dt in fs})
