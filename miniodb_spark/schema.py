"""Dynamic schema inference + column-name sanitization.

The reference has no user-declared schemas: each flushed batch gets a
parquet schema inferred from the union of its rows' field keys, typed
from the first-seen value, with sanitized + collision-suffixed column
names (/root/reference/internal/buffer/concurrent_buffer.go:521-655,
560-592). Semantics re-expressed here for Spark ``StructType``:

- fixed system columns (required): id STRING, timestamp TIMESTAMP,
  table_name STRING;
- dynamic columns (nullable): bool → BooleanType, int → LongType,
  float → DoubleType, everything else (strings, nested maps/lists)
  → StringType (nested values JSON-stringified);
- names: lowercased, non-``[a-z0-9_]`` replaced with ``_``, leading
  digit prefixed with ``_``, empty → ``_col``; collisions with each
  other or the reserved system names get ``_2``, ``_3``… suffixes
  assigned in deterministic sorted order of the original keys.
"""

from __future__ import annotations

import json
import re
from datetime import datetime, timezone
from typing import Any, Iterator

from pyspark.sql import types as T

SYSTEM_COLUMNS = ("id", "timestamp", "table_name")
# partition column added by our layout (not in the reference's row shape)
DT_COLUMN = "dt"

_SANITIZE_RE = re.compile(r"[^a-z0-9_]")


def sanitize_column_name(name: str) -> str:
    s = _SANITIZE_RE.sub("_", name.lower())
    if not s:
        return "_col"
    if s[0].isdigit():
        s = "_" + s
    return s


def resolve_field_names(keys: list[str]) -> dict[str, str]:
    """Map original field keys → final sanitized column names with
    deterministic collision suffixes (reference concurrent_buffer.go:594-655).

    Keys are processed in sorted order; a sanitized name that collides
    with a system column or an already-assigned name gets ``_2``,
    ``_3``… appended."""
    taken: set[str] = set(SYSTEM_COLUMNS) | {DT_COLUMN}
    mapping: dict[str, str] = {}
    for key in sorted(keys):
        base = sanitize_column_name(key)
        candidate = base
        n = 2
        while candidate in taken:
            candidate = f"{base}_{n}"
            n += 1
        taken.add(candidate)
        mapping[key] = candidate
    return mapping


def infer_spark_type(value: Any) -> T.DataType:
    """First-seen-value typing (reference concurrent_buffer.go:576-592)."""
    if isinstance(value, bool):  # bool before int: bool is an int subclass
        return T.BooleanType()
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    return T.StringType()


def coerce_value(value: Any, dtype: T.DataType) -> Any:
    """Coerce a payload value to its inferred column type; non-scalar
    values are JSON-stringified (matching the reference's UTF8
    stringification of nested maps/lists)."""
    if value is None:
        return None
    if isinstance(dtype, T.BooleanType):
        return bool(value)
    if isinstance(dtype, T.LongType):
        try:
            v = int(value)
        except (TypeError, ValueError, OverflowError):
            return None  # NaN, ±inf, a non-numeric string: NULL
        # int64 range guard: batch_table builds Arrow arrays from
        # these tuples with no PySpark row verifier in between, so the
        # range check happens here: an unrepresentable long fails the
        # flush loudly (rows requeued, WAL intact) instead of
        # overflowing silently.
        if not (-(1 << 63) <= v < (1 << 63)):
            raise ValueError(
                f"object of LongType out of range: {value!r}")
        return v
    if isinstance(dtype, T.DoubleType):
        try:
            return float(value)
        except (TypeError, ValueError):
            return None
    # StringType
    if isinstance(value, str):
        return value
    if isinstance(value, (dict, list)):
        return json.dumps(value, separators=(",", ":"), ensure_ascii=False, default=str)
    return str(value)


def infer_batch_schema(rows: list[dict]) -> tuple[T.StructType, dict[str, str]]:
    """Schema for one flush batch: system columns + the union of all
    dynamic field keys, typed from the first-seen non-null value.

    ``rows`` are buffer rows: {"id", "timestamp" (µs int or datetime),
    "table_name", "fields": {...}}. Returns (schema, key→column map)."""
    field_types: dict[str, T.DataType] = {}
    order: list[str] = []
    for row in rows:
        for key, value in (row.get("fields") or {}).items():
            if key not in field_types:
                order.append(key)
                field_types[key] = infer_spark_type(value) if value is not None else None
            elif field_types[key] is None and value is not None:
                field_types[key] = infer_spark_type(value)
    for key in order:
        if field_types[key] is None:  # all-null column
            field_types[key] = T.StringType()

    name_map = resolve_field_names(order)

    struct = [
        T.StructField("id", T.StringType(), False),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("table_name", T.StringType(), False),
    ]
    # deterministic column order: sorted original keys (same order the
    # collision resolver assigns suffixes in)
    for key in sorted(order):
        struct.append(T.StructField(name_map[key], field_types[key], True))
    return T.StructType(struct), name_map


def micros_to_datetime(us: int) -> datetime:
    return datetime.fromtimestamp(us / 1_000_000, tz=timezone.utc)


def to_row_tuple(row: dict, schema: T.StructType, name_map: dict[str, str]) -> tuple:
    """Buffer row dict → tuple matching ``schema`` field order."""
    ts = row["timestamp"]
    if isinstance(ts, int):
        ts = micros_to_datetime(ts)
    elif ts is None:
        # non-nullable system column; with no row verifier (see
        # coerce_value) this guard is the nullability check — the
        # flush fails and requeues its rows (a caller CAN pass an
        # explicit timestamp_us=None through the merge API's
        # .get(..., default) lookups).
        raise ValueError("timestamp must not be None")
    fields = row.get("fields") or {}
    if row.get("table_name") is None:
        raise ValueError("table_name must not be None")
    # reverse map: column name -> original key
    rev = {v: k for k, v in name_map.items()}
    out: list[Any] = []
    for f in schema.fields:
        if f.name == "id":
            out.append(str(row["id"]) if row.get("id") else "_")
        elif f.name == "timestamp":
            out.append(ts)
        elif f.name == "table_name":
            out.append(row["table_name"])
        else:
            out.append(coerce_value(fields.get(rev[f.name]), f.dataType))
    return tuple(out)


def _pa_type(dtype: T.DataType):
    """Arrow equivalent of a dynamic-schema column type (the inference
    above only ever produces these five)."""
    import pyarrow as pa

    if isinstance(dtype, T.TimestampType):
        # session + process tz are pinned UTC (session._pin_process_utc);
        # to_row_tuple emits aware-UTC datetimes
        return pa.timestamp("us", tz="UTC")
    if isinstance(dtype, T.LongType):
        return pa.int64()
    if isinstance(dtype, T.DoubleType):
        return pa.float64()
    if isinstance(dtype, T.BooleanType):
        return pa.bool_()
    if isinstance(dtype, T.StringType):
        return pa.string()
    raise TypeError(f"no arrow mapping for {dtype}")


# Surrogate-scrub telemetry: how many batches held a string Arrow could
# not encode as UTF-8 (a lone surrogate) and were re-encoded with
# U+FFFD, plus the last such error. Plain ints under the engine's
# per-table flush lock are adequate (a racing concurrent flush can at
# worst undercount by one — telemetry, not accounting).
ARROW_FALLBACK_COUNT = 0
ARROW_FALLBACK_LAST: str | None = None

_SURROGATE_RE = re.compile("[\ud800-\udfff]")


def batch_table(row_dicts: list[dict], schema: T.StructType,
                name_map: dict[str, str]):
    """Buffer rows → ONE Arrow table with ``schema``'s columns, types
    and nullability. Every row goes through :func:`to_row_tuple`, the
    batch's verifier: types, int64 range and non-null system columns
    fail here, before anything is written.

    A string holding a lone surrogate has no UTF-8 encoding; each
    surrogate code point is stored as U+FFFD — what the JVM's UTF-8
    decoder makes of it — so such a row lands like any other instead
    of failing every flush. Only a batch that needs it pays the
    re-encode; it is counted in ``ARROW_FALLBACK_COUNT``."""
    global ARROW_FALLBACK_COUNT, ARROW_FALLBACK_LAST
    import pyarrow as pa

    pa_schema = pa.schema([
        pa.field(f.name, _pa_type(f.dataType), nullable=f.nullable)
        for f in schema.fields
    ])
    tuples = [to_row_tuple(d, schema, name_map) for d in row_dicts]
    cols = list(zip(*tuples)) if tuples else [()] * len(schema.fields)
    try:
        arrays = [pa.array(c, type=t) for c, t in zip(cols, pa_schema.types)]
    except UnicodeEncodeError as exc:
        ARROW_FALLBACK_COUNT += 1
        ARROW_FALLBACK_LAST = repr(exc)
        import logging

        logging.getLogger(__name__).warning(
            "batch_table: lone surrogates stored as U+FFFD "
            "(%d batches so far this process): %r",
            ARROW_FALLBACK_COUNT, exc)
        arrays = [
            pa.array(
                [v if v is None else _SURROGATE_RE.sub("\ufffd", v)
                 for v in c] if pa.types.is_string(t) else c,
                type=t)
            for c, t in zip(cols, pa_schema.types)
        ]
    return pa.Table.from_arrays(arrays, schema=pa_schema)


def batch_dataframe(spark, row_dicts: list[dict], schema: T.StructType,
                    name_map: dict[str, str]):
    """Buffer rows → DataFrame: :func:`batch_table` handed to the JVM
    in one columnar hop (the hybrid read of buffered rows and the
    merge API need a DataFrame; the flush does not)."""
    return spark.createDataFrame(
        batch_table(row_dicts, schema, name_map), schema=schema)


# Spark's ``compression`` option name → (pyarrow codec, the codec part
# Spark puts in a data file's name)
PARQUET_CODECS = {
    "none": ("none", ""),
    "uncompressed": ("none", ""),
    "snappy": ("snappy", ".snappy"),
    "gzip": ("gzip", ".gz"),
    "zstd": ("zstd", ".zstd"),
    "lz4": ("lz4", ".lz4hadoop"),
    "brotli": ("brotli", ".br"),
}


def parquet_codec(compression: str) -> tuple[str, str]:
    """``(pyarrow codec, file-name part)`` for a table's Spark-style
    ``compression`` setting; ValueError when pyarrow cannot write it."""
    try:
        return PARQUET_CODECS[compression.lower()]
    except KeyError:
        raise ValueError(
            f"unsupported parquet compression: {compression!r}") from None


def parquet_day_files(tbl, codec: str) -> Iterator[tuple[str, Any, bytes]]:
    """``(dt, rows, parquet bytes)`` per UTC day of ``tbl``'s
    timestamps, in day order, ``rows`` being the day's slice of ``tbl``;
    rows keep their batch order within a day. The file
    matches what Spark's ``partitionBy("dt")`` write produced: ``dt``
    lives in the directory name only, timestamps are INT64 micros
    adjusted to UTC, and ``codec`` (see :func:`parquet_codec`)
    compresses every column.

    A FLOAT/DOUBLE column holding NaN gets no min/max statistics in
    that file: parquet statistics exclude NaN, while Spark orders NaN
    above every number, so row-group pushdown on such a bracket would
    drop the NaN row of ``w > 50``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    day = pc.cast(tbl.column("timestamp"), pa.date32())
    order = pc.sort_indices(day)  # stable: batch order within a day
    tbl, day = tbl.take(order), day.take(order)
    start = 0
    counts = pc.value_counts(day)  # first-seen order == day order here
    for d, n in zip(counts.field("values").to_pylist(),
                    counts.field("counts").to_pylist()):
        part = tbl.slice(start, n)
        start += n
        stats = [
            f.name for f, col in zip(part.schema, part.columns)
            if not (pa.types.is_floating(f.type)
                    and pc.any(pc.is_nan(col)).as_py())
        ]
        buf = pa.BufferOutputStream()
        pq.write_table(
            part, buf, compression=codec,
            write_statistics=stats if len(stats) < part.num_columns else True)
        yield d.isoformat(), part, buf.getvalue().to_pybytes()
