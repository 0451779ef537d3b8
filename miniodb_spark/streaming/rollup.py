"""Continuous aggregate (hypertable-style rollup) over the engine's
parquet layout.

TimescaleDB calls this a *continuous aggregate*; streaming warehouses
call it an incrementally-maintained materialized view: a persisted
table of time-bucketed aggregates that every micro-batch updates
ADDITIVELY, so dashboard queries read the tiny rollup instead of
re-scanning the fact stream. The reference has nothing like it (its
analytics always re-query DuckDB over raw parquet); this is the
capability-upgrade shape the brief's custom-operator list names
("hypertable rollup").

Design:

- **Mergeable partials only.** The per-batch aggregate keeps count /
  sum / min / max — all additively mergeable, so maintenance is
  `merged = combine(persisted[touched], batch_partial)` with no
  re-scan of history. avg is derived at read time (sum/count);
  non-mergeable stats (exact median) are out of scope by construction,
  exactly as in every production continuous aggregate.
- **Late data is just another partial.** A late event's window bucket
  is computed from its own event time, so it merges into the OLD
  window row additively — no watermark surgery, no rewrite of
  neighbors. (Consequence: the rollup is eventually-exact under
  unbounded lateness, stricter than Structured Streaming's own
  watermark-dropped windowed aggregates.)
- **Bounded maintenance work.** Each batch touches only the
  (window, key) rows the batch itself contains — the persisted side is
  read through a broadcast semi-join on those keys, and the upsert
  rides :meth:`Engine.merge_upsert` (generation-based CoW), so a batch
  spanning W windows x K keys rewrites at most the partitions holding
  those W*K rows, never the whole rollup.
- **Exactly-once across restarts.** Two layers. (1) Same
  batch-registry contract as ``stream_ingest``: committed batch_ids
  are recorded in the engine catalog and checkpoint replays are
  skipped. (2) The residual window that contract leaves — a crash
  AFTER the rollup upsert committed but BEFORE the batch marker — is
  closed by stamping every rollup row with ``last_batch_id``: a
  replayed merge sees the persisted row already carries this batch
  (``last_batch_id >= batch_id``) and keeps it VERBATIM instead of
  re-adding the partial, while still re-upserting it so a
  crash-mid-upsert's un-swept older row version gets cleaned. Replays
  therefore converge to the same state from ANY crash point
  (property-tested over random crash schedules in
  tests/test_ranks_property.py). Assumes one stream per rollup table
  (the default ``stream_id`` enforces that naming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..engine import Engine


def rollup_id_col(window_col: str = "window_start",
                  key_cols: tuple = ("grp",)):
    """Deterministic rollup row id: ISO window start + key values."""
    parts = [F.date_format(F.col(window_col), "yyyy-MM-dd'T'HH:mm:ss")]
    for k in key_cols:
        parts.append(F.coalesce(F.col(k).cast("string"), F.lit("\\N")))
    return F.concat_ws("|", *parts)


def batch_partials(batch_df: DataFrame, *, ts_col: str, value_col: str,
                   window: str, key_cols: tuple) -> DataFrame:
    """One mergeable partial row per (window, keys) in the batch."""
    return (
        batch_df.groupBy(
            F.window(F.col(ts_col), window).getField("start")
            .alias("window_start"),
            *key_cols,
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col(value_col).cast("double")).alias("value_sum"),
            F.min(F.col(value_col).cast("double")).alias("value_min"),
            F.max(F.col(value_col).cast("double")).alias("value_max"),
        )
    )


def merge_partials(persisted: DataFrame | None, part: DataFrame,
                   key_cols: tuple,
                   batch_id: int | None = None) -> DataFrame:
    """Additively combine a batch's partials with the persisted rollup
    rows they touch. Only the batch's (window, key) rows participate —
    the persisted side is reduced via a broadcast semi-join on the
    bounded partial — so maintenance cost scales with the batch, never
    the rollup's history. Factored out of the sink so the merge algebra
    is property-testable without a streaming runtime.

    The semi-join is NULL-SAFE per key column: ``rollup_id_col`` maps a
    NULL key to the ``\\N`` sentinel, so a NULL-keyed group's persisted
    row shares the id of every later NULL-keyed partial — a null-unsafe
    semi-join would drop the persisted row from the merge and the
    upsert would then OVERWRITE the accumulated n/sum/min/max with the
    batch partial alone (silent data loss for the NULL bucket).

    With ``batch_id`` set (the sink always sets it), the merge is
    IDEMPOTENT under replay: persisted rows stamped with
    ``last_batch_id >= batch_id`` already contain this batch — they
    pass through verbatim (their partial is excluded) instead of
    double-adding, closing the crash-after-upsert-before-marker
    window. A crash MID-upsert can leave two row versions of one id
    visible (ingest committed, old-version sweep not yet): the dedupe
    below keeps the max-``last_batch_id`` version, and the pass-through
    rows are still re-upserted so the replay's sweep removes the stale
    older version. Rows written before this column existed read as
    ``last_batch_id = -1`` (always mergeable)."""
    if persisted is None:
        return part.withColumn(
            "last_batch_id",
            F.lit(-1 if batch_id is None else batch_id).cast("long"))
    probe = part.select("window_start", *key_cols).alias("pr")
    if "last_batch_id" in persisted.columns:
        lb = F.col("last_batch_id").cast("long")
    else:  # pre-upgrade rollup table
        lb = F.lit(-1).cast("long")
    old = persisted.select(
        F.col("timestamp").alias("window_start"),
        *[F.col(k) for k in key_cols],
        "n", "value_sum", "value_min", "value_max",
        lb.alias("last_batch_id"),
    ).alias("o")
    cond = F.col("o.window_start").eqNullSafe(F.col("pr.window_start"))
    for k in key_cols:
        cond = cond & F.col(f"o.{k}").eqNullSafe(F.col(f"pr.{k}"))
    old = old.join(F.broadcast(probe), cond, "left_semi")
    # crash-mid-upsert can leave two versions of one (window, key) row
    # visible (new version committed, old version not yet swept):
    # keep the newest stamp only — it strictly contains the older one
    w = W.partitionBy("window_start", *key_cols).orderBy(
        F.col("last_batch_id").desc())
    old = (
        old.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1).drop("_rn")
    )
    if batch_id is None:
        applied = old.limit(0)
        todo_old = old
    else:
        applied = old.filter(F.col("last_batch_id") >= batch_id)
        todo_old = old.filter(F.col("last_batch_id") < batch_id)
    todo_old = todo_old.drop("last_batch_id")
    # partials whose row already carries this batch are dropped — the
    # anti-join is null-safe for the same reason the semi-join is
    akeys = applied.select("window_start", *key_cols).alias("ap")
    pcond = F.col("p.window_start").eqNullSafe(F.col("ap.window_start"))
    for k in key_cols:
        pcond = pcond & F.col(f"p.{k}").eqNullSafe(F.col(f"ap.{k}"))
    part_todo = part.alias("p").join(
        F.broadcast(akeys), pcond, "left_anti")
    merged = (
        todo_old.unionByName(part_todo)
        .groupBy("window_start", *key_cols)
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("value_sum").alias("value_sum"),
            F.min("value_min").alias("value_min"),
            F.max("value_max").alias("value_max"),
        )
        .withColumn(
            "last_batch_id",
            F.lit(-1 if batch_id is None else batch_id).cast("long"))
    )
    return merged.unionByName(applied)


def apply_rollup_batch(
    engine: Engine,
    rollup_table: str,
    batch_df: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    window: str,
    key_cols: tuple,
    batch_id: int,
    stream_id: str,
) -> bool:
    """The foreachBatch body, exposed as a plain function so
    restart-recovery tests can drive it with injected crash points
    (the streaming runtime replays a batch with the SAME batch_id
    after any failure — this function must converge from every crash
    position: before the upsert, mid-upsert between the merged
    ingest and the old-version sweep, or after the upsert but before
    the batch marker). Returns True when the batch was applied, False
    when the marker says it already was."""
    if batch_id <= engine.catalog.last_committed_batch(stream_id):
        return False
    if batch_df.isEmpty():
        engine.catalog.commit_stream_batch(stream_id, batch_id)
        return False
    # MEMORY_AND_DISK, not the MEMORY_ONLY default (r18, guide §5 spill
    # posture): the partials frame is bounded only by the micro-batch's
    # (window × key) cardinality — a backlogged resume replays a huge
    # batch, and a memory-only cache would silently recompute evicted
    # partitions TWICE (merge_partials reads it for the merge join and
    # the upsert). Disk spill keeps the reuse guarantee at any batch
    # size.
    from pyspark import StorageLevel

    part = batch_partials(batch_df, ts_col=ts_col, value_col=value_col,
                          window=window, key_cols=key_cols).persist(
        StorageLevel.MEMORY_AND_DISK)
    try:
        merged = merge_partials(
            engine.read_persisted(rollup_table), part, key_cols,
            batch_id=batch_id)
        rows = merged.select(
            rollup_id_col("window_start", key_cols).alias("id"),
            F.unix_micros(F.col("window_start")).alias("timestamp_us"),
            "window_start", *key_cols,
            "n", "value_sum", "value_min", "value_max",
            "last_batch_id",
        )
        upsert = rows.select(
            "id",
            F.timestamp_micros(F.col("timestamp_us")).alias("timestamp"),
            *key_cols, "n", "value_sum", "value_min", "value_max",
            "last_batch_id",
        )
        engine.merge_upsert(rollup_table, upsert, key_col="id")
        engine.catalog.commit_stream_batch(stream_id, batch_id)
    finally:
        part.unpersist()
    return True


def continuous_rollup(
    engine: Engine,
    stream_df: DataFrame,
    rollup_table: str,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    key_cols: tuple = ("event_type",),
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    stream_id: str | None = None,
):
    """Maintain ``rollup_table`` as a continuous aggregate of the
    stream. Returns the StreamingQuery. Read the result with
    :func:`read_rollup` (adds the derived avg)."""
    from . import ingest as _  # noqa: F401  (shared contract docs)

    sid = stream_id or f"rollup:{rollup_table}"
    key_cols = tuple(key_cols)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_rollup_batch(
            engine, rollup_table, batch_df, ts_col=ts_col,
            value_col=value_col, window=window, key_cols=key_cols,
            batch_id=batch_id, stream_id=sid,
        )

    writer = stream_df.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_rollup(engine: Engine, rollup_table: str,
                key_cols: tuple = ("event_type",)) -> DataFrame | None:
    """The queryable face of the rollup: one row per (window, keys)
    with the derived average. Reading this table replaces a full fact
    scan for any dashboard aggregate it covers."""
    df = engine.read_persisted(rollup_table)
    if df is None:
        return None
    return df.select(
        F.col("timestamp").alias("window_start"),
        *[F.col(k) for k in key_cols],
        "n", "value_sum", "value_min", "value_max",
        (F.col("value_sum") / F.col("n")).alias("value_avg"),
    )
