"""Deterministic fixture→Engine ingest for the engine-path registry
entries (``queries/enginepath.py``).

Those entries grade the ENGINE's SQL path (gate → extractor → zone-map
pruning → temp views → ``spark.sql``) against DuckDB oracles over the
same testdata, so they must first materialize a small Engine store from
the fixture tables. That ingest lives here, outside ``queries/``,
because it is write-side plumbing with a driver-side materialization:
the row-based WriteData API takes Python dicts, so each seeding
collects a FIXED slice of a fixture table — ≤90 events rows (LIMIT
before any driver transfer) or the constant-size TPC-H region (5) and
nation (25) tables. The bound is structural, the same class as the
engine's own sketch-/shortlist-bounded collects; query modules stay
collect-free.

Stores are cached per (SparkSession, sf_dir), so the 2–3 entries that
share a seeding pay for it once per driver run. Timestamps are fixed
constants — reseeding is bit-identical."""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .catalog import TableConfig
from .engine import Engine
from .queries.base import load

T0_US = 1_700_000_000_000_000  # 2023-11-14 UTC, inside one dt partition

# (applicationId, sf_dir, tag) → (session, engine). The session object
# rides IN the entry (r16 ADVICE: keying by id(spark) alone collides
# once the id is reused after GC — a later session could be handed an
# Engine bound to a STOPPED one); applicationId is the stable key and
# the identity check below catches the impossible-but-cheap case of a
# distinct live session reporting the same id.
_CACHE: dict[tuple, tuple[SparkSession, Engine]] = {}


def _cache_key(spark: SparkSession, sf_dir: str, tag: str) -> tuple:
    return (spark.sparkContext.applicationId, sf_dir, tag)


def _cache_get(spark: SparkSession, sf_dir: str, tag: str) -> Engine | None:
    ent = _CACHE.get(_cache_key(spark, sf_dir, tag))
    if ent is not None and ent[0] is spark:
        return ent[1]
    return None


def _cache_put(spark: SparkSession, sf_dir: str, tag: str,
               eng: Engine) -> None:
    _CACHE[_cache_key(spark, sf_dir, tag)] = (spark, eng)


def _seed_dir(prefix: str) -> str:
    """mkdtemp + exit-time cleanup (r16 ADVICE: the seed stores were
    never reclaimed; one driver run leaks a handful of small dirs,
    but a long-lived test box accretes them)."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def numeric_prune_store(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine with table ``evz`` (zonemap_columns=["v"]): the first 90
    events by event_id, v = floor(value) as BIGINT, written in three
    v-sorted flushes so the three files carry disjoint-ish v brackets —
    a numeric point or range conjunct provably skips files."""
    eng = _cache_get(spark, sf_dir, "evz")
    if eng is not None:
        return eng
    rows = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(90)
        .select("event_id", F.floor("value").cast("long").alias("v"))
        .collect()
    )
    rows.sort(key=lambda r: (r["v"], r["event_id"]))
    eng = Engine(spark, _seed_dir("miniodb_seed_evz_"))
    eng.create_table("evz", TableConfig(name="evz", zonemap_columns=["v"]))
    for start in range(0, len(rows), 30):
        eng.write_batch("evz", [
            {
                "id": f"e{r['event_id']:06d}",
                "timestamp_us": T0_US + start + i,
                "payload": {"v": r["v"]},
            }
            for i, r in enumerate(rows[start:start + 30])
        ])
        eng.flush("evz")
    _cache_put(spark, sf_dir, "evz", eng)
    return eng


def comma_join_store(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine with ``reg_cj`` (5 regions, record_id = r_name with spaces
    underscored (the id grammar is [A-Za-z][A-Za-z0-9_]*), one flush
    per ~2 regions so the id zone maps have multiple brackets) and
    ``nat_cj`` (25 nations, one flush) — the comma-join + multi-table
    qualified-pruning fixture."""
    eng = _cache_get(spark, sf_dir, "cj")
    if eng is not None:
        return eng
    regions = sorted(
        load(spark, sf_dir, "region")
        .select("r_regionkey", "r_name").collect(),
        key=lambda r: r["r_name"])
    nations = sorted(
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey").collect(),
        key=lambda r: r["n_name"])
    eng = Engine(spark, _seed_dir("miniodb_seed_cj_"))
    for start in range(0, len(regions), 2):
        eng.write_batch("reg_cj", [
            {
                "id": r["r_name"].replace(" ", "_"),
                "timestamp_us": T0_US + start + i,
                "payload": {"r_regionkey": r["r_regionkey"],
                            "r_name": r["r_name"]},
            }
            for i, r in enumerate(regions[start:start + 2])
        ])
        eng.flush("reg_cj")
    eng.write_batch("nat_cj", [
        {
            "id": n["n_name"].replace(" ", "_"),
            "timestamp_us": T0_US + i,
            "payload": {"n_nationkey": n["n_nationkey"],
                        "n_name": n["n_name"],
                        "n_regionkey": n["n_regionkey"]},
        }
        for i, n in enumerate(nations)
    ])
    eng.flush("nat_cj")
    _cache_put(spark, sf_dir, "cj", eng)
    return eng


def mutation_store(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine with table ``emut``: the first 60 events (event_id 0..59
    at every SF — the fixture's ids are dense from 0), v =
    floor(value) as BIGINT, flushed once, then mutated through the
    DURABLE paths — update of e000003 to v=999 (insert-first rewrite
    sweep) and deletes of e0000{10,20,30,40,50} (per-file rewrite with
    rm entries). The mutations live HERE so the per-session cache
    applies them exactly once; the oracle re-derives the end state
    from the raw fixture with a CASE + NOT IN. The pre-mutation
    catalog version is kept on ``eng.seed_versions["emut"]`` so the
    time-travel entry can read the v0 snapshot; the store is built
    with retain_history=True to keep that snapshot's files alive
    across the rewrites."""
    eng = _cache_get(spark, sf_dir, "emut")
    if eng is not None:
        return eng
    rows = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(60)
        .select("event_id", F.floor("value").cast("long").alias("v"))
        .collect()
    )
    # retain_history: the pre-mutation snapshot must stay readable —
    # engine_time_travel_parity queries at_version=v0 after the
    # update/delete rewrites (rewrites otherwise GC superseded files)
    eng = Engine(spark, _seed_dir("miniodb_seed_emut_"),
                 retain_history=True)
    eng.write_batch("emut", [
        {
            "id": f"e{r['event_id']:06d}",
            "timestamp_us": T0_US + i,
            "payload": {"v": r["v"]},
        }
        for i, r in enumerate(rows)
    ])
    eng.flush("emut")
    # pre-mutation snapshot version, consumed by the time-travel entry
    eng.seed_versions = {"emut": eng.catalog.current_version("emut")}
    eng.update("emut", "e000003", {"v": 999}, timestamp_us=T0_US + 3)
    for k in (10, 20, 30, 40, 50):
        eng.delete("emut", f"e{k:06d}")
    _cache_put(spark, sf_dir, "emut", eng)
    return eng


def backup_restore_store(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine with table ``ebak``: the first 40 events (v =
    floor(value) as BIGINT), flushed once, DATA-BACKED-UP
    (BackupManager.create_data_backup — object copies + catalog
    manifest), then corrupted through the durable mutation paths
    (update e000003 -> v=999, deletes of e000005/e000007), then
    RESTORED from the backup. The post-restore state must equal the
    pre-mutation fixture slice — graded externally by
    ``engine_backup_restore_parity``. ``eng.seed_flags['ebak_mutated']``
    records that the corruption really diverged the store before the
    restore (guards against a restore that trivially 'passes' because
    the mutations never applied)."""
    eng = _cache_get(spark, sf_dir, "ebak")
    if eng is not None:
        return eng
    from .backup import BackupManager

    rows = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(40)
        .select("event_id", F.floor("value").cast("long").alias("v"))
        .collect()
    )
    eng = Engine(spark, _seed_dir("miniodb_seed_ebak_"))
    eng.write_batch("ebak", [
        {
            "id": f"e{r['event_id']:06d}",
            "timestamp_us": T0_US + i,
            "payload": {"v": r["v"]},
        }
        for i, r in enumerate(rows)
    ])
    eng.flush("ebak")
    bm = BackupManager(eng.catalog, engine=eng)
    info = bm.create_data_backup(["ebak"])
    eng.update("ebak", "e000003", {"v": 999}, timestamp_us=T0_US + 3)
    eng.delete("ebak", "e000005")
    eng.delete("ebak", "e000007")
    mutated_n = eng.query_df(
        "SELECT count(*) AS n FROM ebak").collect()[0]["n"]
    bm.restore_data_backup(info["object_name"], ["ebak"])
    eng.seed_flags = {"ebak_mutated": int(mutated_n) == len(rows) - 2}
    _cache_put(spark, sf_dir, "ebak", eng)
    return eng


def compaction_store(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine with table ``ecmp``: the first 60 events written as SIX
    10-row flushes (six L0 generations), then tiered compaction
    (``compact()``) — graded externally by
    ``engine_compaction_parity``: the merged output must reproduce
    the fixture slice exactly (lossless rewrite), and
    ``eng.seed_flags['ecmp_compacted']`` records that the physical
    file count actually dropped (the entry fails if compaction
    silently no-opped)."""
    eng = _cache_get(spark, sf_dir, "ecmp")
    if eng is not None:
        return eng
    import glob
    import os

    rows = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(60)
        .select("event_id", F.floor("value").cast("long").alias("v"))
        .collect()
    )
    eng = Engine(spark, _seed_dir("miniodb_seed_ecmp_"))
    for start in range(0, len(rows), 10):
        eng.write_batch("ecmp", [
            {
                "id": f"e{r['event_id']:06d}",
                "timestamp_us": T0_US + start + i,
                "payload": {"v": r["v"]},
            }
            for i, r in enumerate(rows[start:start + 10])
        ])
        eng.flush("ecmp")
    pat = os.path.join(eng.root, "ecmp", "**", "*.parquet")
    before = len(glob.glob(pat, recursive=True))
    eng.compact("ecmp")
    after = len(glob.glob(pat, recursive=True))
    eng.seed_flags = {"ecmp_compacted": after < before}
    _cache_put(spark, sf_dir, "ecmp", eng)
    return eng


def cdc_store(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine with table ``ecdc`` wired to an InMemorySink
    EventPublisher, driven through a FIXED mutation script: three
    single writes, one 20-row batch, flush, one update, one delete.
    The resulting CDC event log's deterministic projection —
    (sequence, event_type, record count, first record id) — is
    stashed on ``eng.seed_cdc`` for ``engine_cdc_event_stream`` to
    grade externally (event_id/timestamp are intentionally excluded:
    they are uuid/wall-clock by design, reference
    kafka_subscriber.go:331-470). The batch ids come from the fixture
    slice (event_id dense 0..N-1 at every SF, offset +10)."""
    eng = _cache_get(spark, sf_dir, "ecdc")
    if eng is not None:
        return eng
    from .streaming.cdc import EventPublisher, InMemorySink

    ids = [
        r["event_id"]
        for r in load(spark, sf_dir, "events")
        .orderBy("event_id").limit(30).select("event_id").collect()
    ]
    pub = EventPublisher([InMemorySink()])
    eng = Engine(spark, _seed_dir("miniodb_seed_ecdc_"),
                 event_publisher=pub)
    for i in ids[:3]:
        eng.write("ecdc", {"v": int(i)}, record_id=f"e{i:06d}",
                  timestamp_us=T0_US + int(i))
    eng.write_batch("ecdc", [
        {"id": f"e{i:06d}", "timestamp_us": T0_US + int(i),
         "payload": {"v": int(i)}}
        for i in ids[10:30]
    ])
    eng.flush("ecdc")
    eng.update("ecdc", f"e{ids[1]:06d}", {"v": 99},
               timestamp_us=T0_US + int(ids[1]))
    eng.delete("ecdc", f"e{ids[2]:06d}")
    eng.seed_cdc = [
        (seq, ev.event_type, len(ev.records),
         ev.records[0] if ev.records else None)
        for seq, ev in enumerate(
            pub.memory_sink.all_events("ecdc"), 1)
    ]
    _cache_put(spark, sf_dir, "ecdc", eng)
    return eng


def cleanup_store(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine with table ``ecln``: 30 fixture rows plus THREE
    placeholder-id rows ('_' — the reference's empty-id marker,
    miniodb_service.go:1051-1084), flushed, then
    ``cleanup_empty_id_records`` sweeps the placeholders through the
    per-file-rewrite delete path. ``eng.seed_flags['ecln_cleaned']``
    records the sweep's return count for the grading entry."""
    eng = _cache_get(spark, sf_dir, "ecln")
    if eng is not None:
        return eng
    rows = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(30)
        .select("event_id", F.floor("value").cast("long").alias("v"))
        .collect()
    )
    eng = Engine(spark, _seed_dir("miniodb_seed_ecln_"))
    eng.write_batch("ecln", [
        {
            "id": f"e{r['event_id']:06d}",
            "timestamp_us": T0_US + i,
            "payload": {"v": r["v"]},
        }
        for i, r in enumerate(rows)
    ] + [
        {"id": "_", "timestamp_us": T0_US + 1000 + j,
         "payload": {"v": 100000 + j}}
        for j in range(3)
    ])
    eng.flush("ecln")
    cleaned = eng.cleanup_empty_id_records("ecln")
    eng.seed_flags = {"ecln_cleaned": int(cleaned)}
    _cache_put(spark, sf_dir, "ecln", eng)
    return eng


def merge_store(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine with table ``emrg``: the first 40 events flushed, then
    one ``merge_records`` batch (the bulk MERGE / SCD1 path,
    mutations.upsert_dataframe) that REPLACES the first 10 ids with
    v+1000 and INSERTS 10 new ids carrying fixture rows 40..49's
    values — graded by ``engine_bulk_merge_parity``.
    ``eng.seed_flags['emrg']`` keeps the (inserted, replaced) return."""
    eng = _cache_get(spark, sf_dir, "emrg")
    if eng is not None:
        return eng
    rows = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(50)
        .select("event_id", F.floor("value").cast("long").alias("v"))
        .collect()
    )
    eng = Engine(spark, _seed_dir("miniodb_seed_emrg_"))
    eng.write_batch("emrg", [
        {
            "id": f"e{r['event_id']:06d}",
            "timestamp_us": T0_US + i,
            "payload": {"v": r["v"]},
        }
        for i, r in enumerate(rows[:40])
    ])
    eng.flush("emrg")
    ins, rep = eng.merge_records("emrg", [
        {"id": f"e{r['event_id']:06d}", "timestamp_us": T0_US + 100 + i,
         "payload": {"v": r["v"] + 1000}}
        for i, r in enumerate(rows[:10])
    ] + [
        {"id": f"n{r['event_id']:06d}", "timestamp_us": T0_US + 200 + i,
         "payload": {"v": r["v"]}}
        for i, r in enumerate(rows[40:50])
    ])
    eng.seed_flags = {"emrg": (int(ins), int(rep))}
    _cache_put(spark, sf_dir, "emrg", eng)
    return eng


def schema_evolution_store(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine with table ``egen``: two flushes with EVOLVING payload
    schema — rows 0..9 carry {v} only, rows 10..19 add a new double
    column {v, w} — so the read path must union the generations with
    typed NULL back-fill (SURVEY #13 dynamic-schema flush sink).
    Graded by ``engine_schema_evolution_parity``."""
    eng = _cache_get(spark, sf_dir, "egen")
    if eng is not None:
        return eng
    rows = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(20)
        .select("event_id", F.floor("value").cast("long").alias("v"))
        .collect()
    )
    eng = Engine(spark, _seed_dir("miniodb_seed_egen_"))
    eng.write_batch("egen", [
        {
            "id": f"e{r['event_id']:06d}",
            "timestamp_us": T0_US + i,
            "payload": {"v": r["v"]},
        }
        for i, r in enumerate(rows[:10])
    ])
    eng.flush("egen")
    eng.write_batch("egen", [
        {
            "id": f"e{r['event_id']:06d}",
            "timestamp_us": T0_US + 50 + i,
            "payload": {"v": r["v"], "w": float(r["event_id"])},
        }
        for i, r in enumerate(rows[10:20])
    ])
    eng.flush("egen")
    _cache_put(spark, sf_dir, "egen", eng)
    return eng


def wal_replay_store(spark: SparkSession, sf_dir: str) -> Engine:
    """SECOND Engine instance on a root whose first engine flushed 20
    fixture rows and then buffered 10 MORE without flushing — the
    restart-shaped fixture for ``engine_wal_replay_parity``: the
    returned engine never saw the writes, so the 10 unflushed rows
    exist only through WAL boot replay, and the query path must
    union them with the 20 persisted ones (hybrid scan)."""
    eng = _cache_get(spark, sf_dir, "ewal")
    if eng is not None:
        return eng
    rows = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(30)
        .select("event_id", F.floor("value").cast("long").alias("v"))
        .collect()
    )
    root = _seed_dir("miniodb_seed_ewal_")
    first = Engine(spark, root)
    first.write_batch("ewal", [
        {
            "id": f"e{r['event_id']:06d}",
            "timestamp_us": T0_US + i,
            "payload": {"v": r["v"]},
        }
        for i, r in enumerate(rows[:20])
    ])
    first.flush("ewal")
    for i, r in enumerate(rows[20:30]):
        first.write("ewal", {"v": r["v"]},
                    record_id=f"e{r['event_id']:06d}",
                    timestamp_us=T0_US + 100 + i)
    # NO flush — the tail 10 live only in buffer + WAL. The "restart":
    # a fresh Engine on the same root replays the WAL at boot.
    eng = Engine(spark, root)
    _cache_put(spark, sf_dir, "ewal", eng)
    return eng


def stream_replay_store(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine whose table ``esw`` was filled by stream_ingest
    (foreachBatch + availableNow) run TWICE over the same 40-row
    fixture-slice source — the second run with a FRESH checkpoint and
    the same stream_id, so the same data re-arrives as batch_id 0 and
    the catalog's commit registry must skip it (StreamWrite's
    exactly-once contract surviving checkpoint loss, SURVEY #45).
    Graded by ``engine_stream_idempotent_ingest``."""
    eng = _cache_get(spark, sf_dir, "esw")
    if eng is not None:
        return eng
    from pyspark.sql import functions as SF

    from .streaming.ingest import stream_ingest

    src_dir = _seed_dir("miniodb_seed_esw_src_")
    (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(40)
        .select(
            SF.concat(SF.lit("e"), SF.lpad(
                SF.col("event_id").cast("string"), 6, "0")).alias("id"),
            SF.lit(T0_US).cast("long").alias("ts_us"),
            SF.floor("value").cast("long").alias("v"),
        )
        .coalesce(1)
        .write.mode("overwrite").parquet(src_dir)
    )
    eng = Engine(spark, _seed_dir("miniodb_seed_esw_"))
    schema = "id string, ts_us long, v long"

    def run(ckpt: str) -> None:
        sdf = (
            spark.readStream.schema(schema).parquet(src_dir)
            .withColumn("ts", SF.timestamp_micros(SF.col("ts_us")))
            .drop("ts_us")
        )
        q = stream_ingest(eng, sdf, "esw", ts_col="ts",
                          checkpoint_dir=ckpt, stream_id="esw1")
        q.awaitTermination(120)

    run(_seed_dir("miniodb_seed_esw_ck1_"))
    # checkpoint loss: same data re-arrives as batch_id 0 under the
    # same stream_id — the commit registry must skip it
    run(_seed_dir("miniodb_seed_esw_ck2_"))
    eng.seed_flags = {
        "esw_last_batch": int(eng.catalog.last_committed_batch("esw1"))}
    _cache_put(spark, sf_dir, "esw", eng)
    return eng


def tombstone_replay_store(spark: SparkSession, sf_dir: str) -> Engine:
    """SECOND Engine on a root whose first engine buffered 30 fixture
    rows WITHOUT flushing and then deleted 5 of them while still
    buffered (WAL tombstones, SURVEY #42) — the restart-shaped
    fixture for ``engine_buffer_tombstone_replay``: the returned
    engine replays writes AND tombstones from the WAL, then flushes,
    so the persisted state must carry exactly the 25 survivors."""
    eng = _cache_get(spark, sf_dir, "etom")
    if eng is not None:
        return eng
    rows = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(30)
        .select("event_id", F.floor("value").cast("long").alias("v"))
        .collect()
    )
    root = _seed_dir("miniodb_seed_etom_")
    first = Engine(spark, root)
    for i, r in enumerate(rows):
        first.write("etom", {"v": r["v"]},
                    record_id=f"e{r['event_id']:06d}",
                    timestamp_us=T0_US + i)
    for k in (3, 5, 7, 11, 13):
        first.delete("etom", f"e{rows[k]['event_id']:06d}")
    # NO flush — writes and tombstones live only in the WAL. Restart:
    eng = Engine(spark, root)
    eng.flush("etom")  # persist the replayed net state
    _cache_put(spark, sf_dir, "etom", eng)
    return eng


def encryption_store(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine with field-level encryption on ``tag`` (table ``eenc``):
    30 fixture rows whose tag is derived from event_id, written
    through the encryptor and flushed — the fixture for
    ``engine_encryption_roundtrip``. The stored parquet carries only
    ``enc:`` ciphertext for the protected field; the engine's JSON
    query path transparently decrypts."""
    eng = _cache_get(spark, sf_dir, "eenc")
    if eng is not None:
        return eng
    from .encryption import FieldEncryptor

    rows = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(30)
        .select("event_id", F.floor("value").cast("long").alias("v"))
        .collect()
    )
    eng = Engine(spark, _seed_dir("miniodb_seed_eenc_"),
                 encryptor=FieldEncryptor("seed-key", {"tag"}))
    eng.write_batch("eenc", [
        {
            "id": f"e{r['event_id']:06d}",
            "timestamp_us": T0_US + i,
            "payload": {"tag": f"tag{r['event_id']}", "v": r["v"]},
        }
        for i, r in enumerate(rows)
    ])
    eng.flush("eenc")
    _cache_put(spark, sf_dir, "eenc", eng)
    return eng


def ts_prune_store(spark: SparkSession, sf_dir: str) -> Engine:
    """Engine with table ``etsp``: 30 fixture rows across THREE day
    partitions (10 per day, one flush each — disjoint per-file
    timestamp brackets), the fixture for
    ``engine_ts_window_prune_sql``: a typed TIMESTAMP range conjunct
    must prune to the middle day's file through the gate's typed
    literal parser + the timestamp zone map."""
    eng = _cache_get(spark, sf_dir, "etsp")
    if eng is not None:
        return eng
    rows = (
        load(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(30)
        .select("event_id", F.floor("value").cast("long").alias("v"))
        .collect()
    )
    day_us = 86_400 * 1_000_000
    eng = Engine(spark, _seed_dir("miniodb_seed_etsp_"))
    for day in range(3):
        eng.write_batch("etsp", [
            {
                "id": f"e{r['event_id']:06d}",
                "timestamp_us": T0_US + day * day_us + i,
                "payload": {"v": r["v"]},
            }
            for i, r in enumerate(rows[day * 10:(day + 1) * 10])
        ])
        eng.flush("etsp")
    _cache_put(spark, sf_dir, "etsp", eng)
    return eng


def audit_store(spark: SparkSession, sf_dir: str):
    """(engine, audit_rows): a MiniODBService wired to a CRC-framed
    AuditLogger, driven through a FIXED RPC script — two writes, an
    update, a delete, and one gate-REJECTED write (invalid table
    name) whose failure must still be audited (audit.py `audited`
    logs-and-reraises). ``audit_rows`` is the log's deterministic
    projection (seq, action, table, record_id, success) re-read
    through the CRC replay path, for ``engine_audit_log_trail``.
    Wall-clock timestamps/durations are excluded by design
    (reference audit.go field shape)."""
    cached = _cache_get(spark, sf_dir, "eaud")
    if cached is not None:
        return cached
    import os

    from .api import MiniODBService
    from .audit import AuditLogger

    root = _seed_dir("miniodb_seed_eaud_")
    aud = AuditLogger(os.path.join(root, "audit.jsonl"), node_id="7")
    eng = Engine(spark, root)
    svc = MiniODBService(eng, audit=aud)
    svc.write_data("eaud", {"id": "a1", "timestamp_us": T0_US,
                            "payload": {"v": 1}})
    svc.write_data("eaud", {"id": "a2", "timestamp_us": T0_US + 1,
                            "payload": {"v": 2}})
    eng.flush("eaud")
    svc.update_data("eaud", "a1", {"v": 10})
    svc.delete_data("eaud", "a2")
    try:
        svc.write_data("bad-name", {"id": "x", "payload": {"v": 0}})
    except Exception:
        pass  # the rejection itself must appear in the log
    rows = [
        (i, e["action"], e["table"], e["record_id"], bool(e["success"]))
        for i, e in enumerate(aud.replay(), 1)
    ]
    out = (eng, rows)
    _cache_put(spark, sf_dir, "eaud", out)
    return out
