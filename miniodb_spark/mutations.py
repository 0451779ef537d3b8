"""Id-level delete/update via copy-on-write partition rewrite.

Reference semantics (/root/reference/internal/query/query.go:1252-1413):
find the files containing the id via the Redis index; files made
entirely of the id are dropped, others are rewritten without the
matching rows — upload the rewritten object, then delete the old one.
Our Spark-shaped unit of rewrite is the ``gen=N/dt=day`` partition:
affected partitions are discovered by a pruned scan (the ``id``
predicate rides parquet footer min/max), survivors are re-materialized
in cumulative types, and the old partitions are superseded. The
rewrite itself is a distributed Spark job, not a driver loop over
files.

**Rename-free commit protocol** (object-store-safe: on S3A a rename is
a non-atomic copy+delete, so the data path must never rename):

1. survivors are written *directly* into a brand-new generation
   directory ``gen=M`` whose files no commit has added — readers read
   only the files the commit log holds live, so a crash mid-write
   leaves an invisible orphan directory, never partial data;
2. the commit point is ONE commit-log record
   (:meth:`~miniodb_spark.catalog.Catalog.commit_rewrite`): it adds
   the survivors' files and removes every live file of the superseded
   ``(gen, dt)`` partitions, which it also lists for GC;
3. the old partition directories are garbage-collected afterwards — a
   crash between commit and GC leaves them on disk but invisible (no
   live file), and the next mutation on the table retries the GC.

The whole reserve→write→commit window runs under the engine's
per-table flush lock so no concurrent flush can claim generation M.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import fs as fsmod


def gc_superseded(engine, table: str, force: bool = False) -> int:
    """Remove the directories of partitions a committed rewrite
    superseded, then forget the exclusions. Idempotent and crash-safe:
    every step re-checks disk state, and exclusions are only cleared
    after the removals succeed. A partition that still holds a live
    file keeps its directory: its exclusion reached the catalog but
    the commit's remove entries never did (a crash between the two
    writes of one persist), so its data is still the table's.

    With ``engine.retain_history`` set, the inline GC after each
    mutation is DEFERRED (returns 0) so earlier catalog versions stay
    readable via Engine.read_snapshot; ``Engine.vacuum`` passes
    ``force=True`` to reclaim. Excluded partitions are invisible to
    head reads either way — retention costs storage, never
    correctness."""
    if getattr(engine, "retain_history", False) and not force:
        return 0
    parts = sorted(engine.catalog.excluded_parts(table))
    if not parts:
        return 0
    live = {(g, dt) for g, files in engine.catalog.live_files(table).items()
            for _rel, dt in files}
    for g, d in parts:
        pdir = fsmod.join(engine._gen_dir(table, g), f"dt={d}")
        if (g, d) not in live and engine.fs.is_dir(pdir):
            engine.fs.remove_dir(pdir)
    engine.catalog.clear_excluded(table, parts)
    return len(parts)


def _superseded_files(
    engine, table: str, affected: list[tuple[int, str]],
) -> dict[int, list[str]]:
    """Every live file of the superseded ``(gen, dt)`` partitions — the
    ``rm`` entries a rewrite commit records, so from its version on the
    log alone says the partitions are gone (earlier versions still
    read them until GC removes the directories)."""
    parts = {(int(g), d) for g, d in affected}
    out: dict[int, list[str]] = {}
    for g, files in engine.catalog.live_files(table).items():
        rels = [rel for rel, dt in files if (g, dt) in parts]
        if rels:
            out[g] = rels
    return out


def delete_rows(
    engine,
    table: str,
    df: DataFrame,
    delete_predicate: Column | None = None,
    match_keys: tuple[DataFrame, str] | None = None,
) -> int:
    """Delete rows matching ``delete_predicate`` — or, with
    ``match_keys=(keys_df, key_col)``, rows whose key appears in a keys
    DataFrame (semi-join matching, the bulk-merge shape: a million-key
    batch can never be an ``isin`` literal) — from a table's persisted
    data; returns the number of rows deleted. ``df`` must be the
    engine's aligned persisted read (columns = cumulative schema +
    dt + gen), optionally pre-filtered (merge_upsert passes
    ``gen != fresh_gen``). Only (gen, dt) partitions containing matches
    are rewritten, via the rename-free commit protocol above.

    **Cross-driver serialization**: the whole snapshot→rewrite→commit
    runs under the table-level ``#rewrite`` lease (reference: every
    mutation holds the Redis (table,id) lock, miniodb_service.go:
    720-722; rewrites serialize per *table* here because the unit of
    commit is the whole catalog entry). The per-process flush lock
    alone cannot stop a second driver on the same store root from
    reserving the same generation index — and, worse, a snapshot taken
    before the other driver's commit would re-materialize rows it just
    deleted. So if the catalog moved while we waited for the lease, the
    snapshot is re-derived from the refreshed catalog before counting."""
    assert (delete_predicate is None) != (match_keys is None), \
        "exactly one of delete_predicate / match_keys"
    # keepalive starts the moment the lease is held, BEFORE the first
    # Spark job (the matched-count collect below is itself a full scan
    # that can outlast the 30 s TTL at 100 TB) — an uncovered gap here
    # would let a second driver steal the lease mid-snapshot and both
    # would rewrite
    with engine.lease.holding(f"{table}/#rewrite",
                              retries=engine.lease_busy_retries), \
            engine.lease.keepalive(f"{table}/#rewrite"), \
            engine._flush_lock(table):
        if engine.catalog.refresh_if_changed(table):
            # another driver committed while we waited: the caller's
            # snapshot (and any pre-filter baked into it) is stale.
            # Predicate deletes re-derive here; key-mode callers hold
            # the lease reentrantly around snapshot+call (merge_upsert),
            # so a mid-call catalog move cannot happen for them.
            df = engine.read_persisted(table)
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
            survivors_of = lambda part: part.filter(~delete_predicate)
        per_part = matched.groupBy("gen", "dt").count().collect()
        if not per_part:
            return 0
        affected = [(int(r["gen"]), r["dt"]) for r in per_part]
        deleted = sum(r["count"] for r in per_part)

        affected_pred = F.lit(False)
        for g, d in affected:
            affected_pred = affected_pred | ((F.col("gen") == g) & (F.col("dt") == d))
        survivors = survivors_of(df.filter(affected_pred)).drop("gen")

        cum = engine.catalog.schema_of(table)
        cfg = engine.catalog.get_table(table)
        # retry any GC a previous crash left behind, so stale excluded
        # directories can't accumulate
        gc_superseded(engine, table)
        new_gen = engine.catalog.next_generation_index(table)
        # 1. land survivors directly in the unreferenced generation dir
        #    (the keepalive daemon above re-extends every ttl/3 for the
        #    duration; the reference lock exposes the same Extend,
        #    pkg/lock/lock.go)
        (
            # REBALANCE vs repartition("dt"): see engine.ingest_dataframe
            # — keeps days clustered but parallelizes big ones (§2.5/§6)
            survivors.hint("rebalance", "dt")
            .write.mode("overwrite")
            .option("compression", cfg.compression if cfg else "snappy")
            .partitionBy("dt")
            .parquet(engine._gen_dir(table, new_gen))
        )
        # 2. COMMIT: generation M becomes visible and the old partitions
        #    invisible in one atomic metadata write — but only if we
        #    still own the lease. A stolen lease means another driver may
        #    have started its own rewrite; publishing over it would lose
        #    its writes. Aborting is free: gen=M is unreferenced.
        if not engine.lease.verify(f"{table}/#rewrite"):
            raise RuntimeError(
                f"mutation lease on {table!r} lost during rewrite; "
                "aborting commit (no data was published)")
        survivor_files = sorted(engine._gen_file_set(table, new_gen))
        engine.catalog.commit_rewrite(
            table, dict(cum), affected, expected_gen=new_gen,
            add_files={new_gen: survivor_files},
            remove_files=_superseded_files(engine, table, affected))
        # index the rewrite's fresh files (best-effort, hint-only)
        engine._build_zonemap(table, new_gen)
    # 3. GC the superseded directories (safe to crash here)
    gc_superseded(engine, table)
    return int(deleted)


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
    million-key batch is a join, never an ``isin`` literal). The whole
    ingest+sweep runs under the table's cross-driver #rewrite lease,
    re-entered by the sweep, so two drivers merging into one table
    serialize.

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
        # the batch gets its OWN generation (even under an identical
        # schema): DataFrames are lazy, so "rows that existed before
        # this ingest" is only expressible as a generation filter — an
        # absorbed batch would be swept by its own old-version pass
        fresh_gen = engine.ingest_dataframe(table, batch, ts_col=ts_col,
                                            force_new_generation=True)
        persisted = engine.read_persisted(table)
        replaced = 0
        if persisted is not None:
            replaced = delete_rows(
                engine, table,
                persisted.filter(F.col("gen") != fresh_gen),
                match_keys=(batch, key_col),
            )
    engine.cache.invalidate_table(table)
    if engine.events:
        engine.events.publish("update", table, [f"bulk:{n_batch}"])
    return n_batch, int(replaced)


def collapse_generations(engine, table: str) -> int:
    """Fold every generation into ONE cumulative-schema generation — the
    maintenance pass that keeps scan cost O(1) in generations after
    schema evolution or repeated merge_upsert batches (each merge opens
    a fresh generation by design; file-level compaction deliberately
    stays inside a generation). Same rename-free protocol as
    delete_rows: survivors land in an unreferenced generation dir, ONE
    atomic catalog write commits, GC afterwards. Returns the number of
    (gen, dt) partitions folded; no-op (0) when the table already has a
    single generation.

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
        live = [g for g in engine.catalog.gen_schemas(table) if g]
        if len(live) <= 1:
            return 0
        df = engine.read_persisted(table)
        if df is None:
            return 0
        parts = df.groupBy("gen", "dt").count().collect()
        if not parts:
            return 0
        affected = [(int(r["gen"]), r["dt"]) for r in parts]
        cum = engine.catalog.schema_of(table)
        cfg = engine.catalog.get_table(table)
        gc_superseded(engine, table)
        new_gen = engine.catalog.next_generation_index(table)
        (
            # REBALANCE vs repartition("dt"): see engine.ingest_dataframe
            df.drop("gen").hint("rebalance", "dt")
            .write.mode("overwrite")
            .option("compression", cfg.compression if cfg else "snappy")
            .partitionBy("dt")
            .parquet(engine._gen_dir(table, new_gen))
        )
        # ownership re-check before the atomic commit (see delete_rows)
        if not engine.lease.verify(f"{table}/#rewrite"):
            raise RuntimeError(
                f"mutation lease on {table!r} lost during collapse; "
                "aborting commit (no data was published)")
        survivor_files = sorted(engine._gen_file_set(table, new_gen))
        # every live file of the folded generations is removed (the
        # whole dead-gen directories go below)
        dead_files = {g: [rel for rel, _dt in files] for g, files
                      in engine.catalog.live_files(table).items()
                      if g < new_gen}
        engine.catalog.commit_rewrite(
            table, dict(cum), affected, expected_gen=new_gen,
            add_files={new_gen: survivor_files},
            remove_files=dead_files)
        # every pre-collapse generation is now empty: tombstone them so
        # future scans don't even stat their directories
        engine.catalog.tombstone_generations(table, list(range(new_gen)))
        engine._build_zonemap(table, new_gen)
        for g in range(new_gen):
            engine.zonemaps.drop(table, g)  # sidecars of dead gens
    gc_superseded(engine, table)
    # dt-level GC leaves the gen roots behind (a parquet job drops
    # _SUCCESS there); the dead generations hold no data anymore, so
    # remove the whole directories
    for g in range(new_gen):
        gdir = engine._gen_dir(table, g)
        if engine.fs.is_dir(gdir):
            engine.fs.remove_dir(gdir)
    engine.cache.invalidate_table(table)
    return len(affected)
