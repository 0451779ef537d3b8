"""miniodb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of richenlin/minIODB.

The reference system (read-only snapshot at /root/reference) composes
MinIO (parquet at rest) + embedded DuckDB (SQL execution) + Redis
(metadata / cache / index).  This package re-expresses the same
capabilities Spark-first:

- Catalyst + the parquet data source replace DuckDB and all the custom
  pruning layers (column pruning, file min/max skipping, time-partition
  pruning are built-in once data is laid out as ``dt=`` partitions).
- Spark's executor model replaces the coordinator / scatter-gather /
  consistent-hash placement entirely.
- The layers the reference implements natively — SQL gating, table
  extraction, result caching, buffered ingest with dynamic schema
  inference, mutation-by-rewrite, compaction, sketches, CDC — are
  implemented here as thin app-level components around ``spark.sql``.

Package map:
  session.py    SparkSession factory tuned for the workload
  gate.py       SELECT-only SQL sanitizer (reference: internal/security/sql_sanitizer.go)
  extractor.py  table-name extraction + query classification (internal/query/table_extractor.go)
  schema.py     dynamic schema inference + column sanitization (internal/buffer/concurrent_buffer.go)
  buffer.py     WAL-backed in-memory write buffer (internal/buffer, internal/wal)
  catalog.py    table configs + schema-generation registry + the add/remove commit log (internal/metadata)
  cache.py      query result cache with table-keyed invalidation (internal/query/query_cache.go)
  engine.py     the Engine facade: write/query/update/delete lifecycle (internal/service)
  api.py        1:1 facade over the reference's RPC surface (api/proto/miniodb/v1)
  mutations.py  id-level delete/update via partition rewrite (internal/query/query.go:1252-1413)
  compaction.py tiered small-file compaction job (internal/compaction/manager.go)
  sketches.py   HLL / CountMinSketch registry (internal/query/approximation.go)
  encryption.py field-level encrypt-at-ingest/decrypt-at-render (internal/security)
  idgen.py      uuid / snowflake / custom id strategies (pkg/idgen)
  plans.py      physical-plan inspection (pushdown/pruning/broadcast assertions)
  bucketing.py  bucketed co-located joins (zero-shuffle recurring joins)
  skew.py       salted joins + two-phase aggregation for hot keys
  fs.py         data-path storage abstraction: local or Hadoop FS (s3a://)
  auth.py       HS256 JWT token manager + per-RPC interceptor (internal/security/jwt_manager.go)
  backup.py     metadata snapshots: create/list/restore/status (internal/backup)
  monitoring.py Prometheus-style metrics registry + component health (internal/monitoring)
  ratelimit.py  token-bucket smart rate limiter (internal/security/smart_rate_limiter.go)
  rest.py       the reference's /v1 REST route table on stdlib http.server (internal/transport/rest)
  grpc_server.py the miniodb.v1 gRPC surface: protobuf codec default, streaming RPC shapes (internal/transport/grpc)
  protowire.py  hand-rolled pure-python protobuf wire codec for miniodb.v1 (api/proto)
  audit.py      per-RPC audit log, CRC-framed replayable JSONL (internal/audit/audit.go)
  kv.py         store-root KV: version nonces, driver heartbeat registry (Redis substitution)
  layout.py     Z-order (Morton) clustered writes for multi-column pruning
  queries/      the operator-inventory registry (Spark impl + DuckDB oracle pairs)
  operators/    dedup (incl. Bloom-gated incremental), similarity (ANN
                tiers + batched k-NN join), temporal joins, text analysis
                (incl. bigram LM), trainable quality classifier, sampling
                (mixing/split/packing/epoch shuffle/contrastive pairs),
                multimodal (decoders + perceptual-hash near-dup), jpeg
                codec, composed pipeline + sharded writer
  streaming/    structured-streaming ingest, CDC events, windows, stateful ops
"""

__version__ = "0.1.0"
