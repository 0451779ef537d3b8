"""Structured Streaming ingestion into the engine's parquet layout.

The reference's StreamWrite is a client-streaming RPC that funnels
batches through the same buffered write path
(/root/reference/internal/service/miniodb_service.go:1196-1273). The
Spark-native equivalent: any streaming source → ``foreachBatch`` →
``Engine.ingest_dataframe`` (the bulk path — straight partitioned
parquet append, no driver materialization).

Delivery semantics: **effectively-once**. Structured Streaming's
checkpoint replays the last uncommitted batch after a restart with the
same ``batch_id``; the sink records each committed batch_id in the
engine catalog and skips replays, so acknowledged batches are never
ingested twice. The residual window is a crash *between* the parquet
job commit and the marker write — that single batch is re-ingested on
restart (plain parquet has no transaction that can span data + marker;
closing the window needs a transactional table format). This is the
honest bound for an append-only parquet sink, and one batch narrower
than the reference's at-least-once StreamWrite ack model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..engine import Engine


def stream_ingest(
    engine: Engine,
    stream_df: DataFrame,
    table: str,
    ts_col: str = "timestamp",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    publish_cdc: bool = True,
    stream_id: str | None = None,
):
    """Start (and by default drain-and-stop) a streaming ingestion into
    ``table``. Returns the StreamingQuery.

    ``stream_id`` keys the idempotence registry; defaults to the target
    table, which is right for one stream per table. Run two concurrent
    streams into one table only with distinct explicit stream_ids."""
    sid = stream_id or f"ingest:{table}"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= engine.catalog.last_committed_batch(sid):
            return  # checkpoint replay of an already-ingested batch
        if batch_df.isEmpty():
            engine.catalog.commit_stream_batch(sid, batch_id)
            return
        engine.ingest_dataframe(table, batch_df, ts_col=ts_col)
        engine.catalog.commit_stream_batch(sid, batch_id)
        if publish_cdc and engine.events:
            n = batch_df.count()
            engine.events.publish(
                "batch", table, [], metadata={"batch_id": batch_id, "rows": n}
            )

    writer = stream_df.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    stream_df: DataFrame,
    keys: tuple[str, ...] = ("record_id",),
    ts_col: str = "ts",
    horizon: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup with *bounded* state: drop rows whose key
    was already seen within the watermark horizon.

    The streaming counterpart of ``operators.dedup.incremental_dedup``
    (which covers the batch/backfill path against the persistent
    fingerprint store): at-source redelivery and producer retries are
    absorbed here before rows ever reach the ingest sink.

    Uses ``dropDuplicatesWithinWatermark``, so the dedup state holds
    only keys newer than the watermark — state size is
    ingest-rate x horizon, independent of corpus size. A plain
    ``dropDuplicates`` on a stream grows state forever; that is the
    difference between an operator that survives a year of uptime and
    one that OOMs in week two. Exactly-once against redelivery *across*
    the horizon (e.g. a 3-day-late replay) is the job of the
    idempotent batch registry in :func:`stream_ingest` and the
    store-side ``incremental_dedup``."""
    return stream_df.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_upsert(
    engine: Engine,
    stream_df: DataFrame,
    table: str,
    key_col: str = "id",
    ts_col: str = "timestamp",
    op_col: str | None = None,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    stream_id: str | None = None,
):
    """CDC-apply sink: each micro-batch is reduced to its LATEST version
    per key (row_number over ``ts_col`` descending — a CDC batch can
    carry several updates of one key) and merged into the table via
    :meth:`Engine.merge_upsert`; with ``op_col`` given, rows whose op is
    ``'delete'`` sweep their keys instead (``delete_rows`` key mode).
    This is the streaming counterpart of the reference's
    UpdateData/DeleteData RPCs applied from a change feed — the shape a
    Kafka/Debezium topic lands as.

    Same effectively-once contract as :func:`stream_ingest`: the batch
    registry skips checkpoint replays; ``merge_upsert`` itself is
    idempotent on retry (re-merging the same batch converges), so the
    residual crash window never duplicates keys — at worst it re-runs
    one merge.

    Scale: the per-batch latest-per-key window partitions on the key
    (batch-sized state, executor-parallel); merge and sweep are the
    bulk-join paths, never per-row RPCs."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    sid = stream_id or f"upsert:{table}"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= engine.catalog.last_committed_batch(sid):
            return
        if batch_df.isEmpty():
            engine.catalog.commit_stream_batch(sid, batch_id)
            return
        w = W.partitionBy(key_col).orderBy(F.col(ts_col).desc())
        latest = (batch_df.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
        if op_col is not None:
            dels = latest.filter(F.col(op_col) == "delete").select(key_col)
            # null-safe complement: `op != 'delete'` is NULL (not true)
            # for a NULL op under three-valued logic, which would drop
            # malformed feed rows on the floor — neither upserted nor
            # deleted nor reported. NULL-op rows are treated as upserts,
            # matching the reference's default-op behavior.
            ups = latest.filter(~F.col(op_col).eqNullSafe("delete")).drop(op_col)
        else:
            dels, ups = None, latest
        if not ups.isEmpty():
            engine.merge_upsert(table, ups, key_col=key_col, ts_col=ts_col)
        if dels is not None and not dels.isEmpty():
            from ..mutations import delete_rows

            delete_rows(engine, table, match_keys=(dels, key_col))
            engine.cache.invalidate_table(table)
            engine._collect(table)
        engine.catalog.commit_stream_batch(sid, batch_id)

    writer = stream_df.writeStream.foreachBatch(_sink).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
