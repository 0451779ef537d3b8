"""Dynamic schema rules (reference concurrent_buffer.go:521-655)."""

import pytest
from pyspark.sql import types as T

from miniodb_spark.schema import (
    infer_batch_schema,
    infer_spark_type,
    resolve_field_names,
    sanitize_column_name,
)


def test_sanitize():
    assert sanitize_column_name("Name") == "name"
    assert sanitize_column_name("1bad") == "_1bad"
    assert sanitize_column_name("中文-key") == "___key"
    assert sanitize_column_name("") == "_col"
    assert sanitize_column_name("a b.c") == "a_b_c"


def test_system_column_collision_gets_suffix():
    mapping = resolve_field_names(["id", "name"])
    assert mapping["id"] == "id_2"
    assert mapping["name"] == "name"


def test_collision_between_fields_deterministic():
    mapping = resolve_field_names(["a b", "a_b", "a.b"])
    # sorted order: "a b", "a.b", "a_b" → a_b, a_b_2, a_b_3
    assert mapping["a b"] == "a_b"
    assert mapping["a.b"] == "a_b_2"
    assert mapping["a_b"] == "a_b_3"


def test_type_inference():
    assert isinstance(infer_spark_type(True), T.BooleanType)
    assert isinstance(infer_spark_type(3), T.LongType)
    assert isinstance(infer_spark_type(3.5), T.DoubleType)
    assert isinstance(infer_spark_type("s"), T.StringType)
    assert isinstance(infer_spark_type({"a": 1}), T.StringType)
    assert isinstance(infer_spark_type([1, 2]), T.StringType)


def test_batch_schema_union_and_first_seen_type():
    rows = [
        {"id": "a", "timestamp": 1, "table_name": "t", "fields": {"x": 1, "y": "s"}},
        {"id": "b", "timestamp": 2, "table_name": "t", "fields": {"x": 2.5, "z": True}},
    ]
    schema, mapping = infer_batch_schema(rows)
    names = [f.name for f in schema.fields]
    assert names[:3] == ["id", "timestamp", "table_name"]
    assert set(names[3:]) == {"x", "y", "z"}
    by_name = {f.name: f.dataType for f in schema.fields}
    assert isinstance(by_name["x"], T.LongType)  # first-seen value wins
    assert isinstance(by_name["y"], T.StringType)
    assert isinstance(by_name["z"], T.BooleanType)


def test_all_null_column_is_string():
    rows = [{"id": "a", "timestamp": 1, "table_name": "t", "fields": {"v": None}}]
    schema, _ = infer_batch_schema(rows)
    assert isinstance(schema["v"].dataType, T.StringType)


def test_coerce_long_out_of_range_raises():
    # the flush path hands rows to createDataFrame with
    # verifySchema=False (r17), so coerce_value itself must keep the
    # verifier's contract: an unrepresentable int64 fails loudly
    # instead of overflowing in the JVM
    from miniodb_spark.schema import coerce_value

    assert coerce_value((1 << 63) - 1, T.LongType()) == (1 << 63) - 1
    assert coerce_value(-(1 << 63), T.LongType()) == -(1 << 63)
    with pytest.raises(ValueError, match="out of range"):
        coerce_value(1 << 63, T.LongType())
    with pytest.raises(ValueError, match="out of range"):
        coerce_value(-(1 << 63) - 1, T.LongType())


def test_to_row_tuple_null_system_columns_raise():
    # same contract: the row verifier used to reject NULL in the
    # non-nullable system columns; with it disabled the guard lives in
    # to_row_tuple (a merge-API caller can pass timestamp_us=None)
    from miniodb_spark.schema import infer_batch_schema, to_row_tuple

    rows = [{"id": "a", "timestamp": 1, "table_name": "t", "fields": {"v": 1}}]
    schema, name_map = infer_batch_schema(rows)
    with pytest.raises(ValueError, match="timestamp"):
        to_row_tuple(
            {"id": "a", "timestamp": None, "table_name": "t", "fields": {}},
            schema, name_map,
        )
    with pytest.raises(ValueError, match="table_name"):
        to_row_tuple(
            {"id": "a", "timestamp": 1, "table_name": None, "fields": {}},
            schema, name_map,
        )


def test_batch_dataframe_arrow_and_fallback_agree(spark):
    # the flush paths convert via one Arrow table (r17); rows, schema
    # and nullability must be identical to the tuple path, and a value
    # Arrow cannot encode (lone surrogate) must fall back silently
    from miniodb_spark.schema import (
        batch_dataframe, infer_batch_schema, to_row_tuple,
    )

    rows = [
        {"id": "a", "timestamp": 1_700_000_000_000_000, "table_name": "t",
         "fields": {"k": 1, "v": 1.5, "s": "x", "flag": True}},
        {"id": "b", "timestamp": 1_700_000_000_000_001, "table_name": "t",
         "fields": {"k": None, "v": None, "s": None, "flag": None}},
    ]
    schema, name_map = infer_batch_schema(rows)
    tuples = [to_row_tuple(d, schema, name_map) for d in rows]
    df_arrow = batch_dataframe(spark, rows, schema, name_map)
    df_tuple = spark.createDataFrame(tuples, schema, verifySchema=False)
    assert df_arrow.schema == df_tuple.schema  # incl. nullability
    assert sorted(map(tuple, df_arrow.collect())) == sorted(
        map(tuple, df_tuple.collect())
    )

    # lone-surrogate string: Arrow refuses, the helper must fall back
    # to the tuple path and still produce a frame
    bad = [{"id": "c", "timestamp": 1, "table_name": "t",
            "fields": {"s": "bad\udcff"}}]
    schema2, nm2 = infer_batch_schema(bad)
    df_bad = batch_dataframe(spark, bad, schema2, nm2)
    assert df_bad.count() == 1


def test_batch_dataframe_fallback_counter_and_size_tag(spark):
    # r18 observability (r17 verdict watch-item 3): the surrogate
    # fallback must increment the module counter + record the error
    from miniodb_spark import schema as dyn

    rows = [{"id": "a", "timestamp": 1_700_000_000_000_000,
             "table_name": "t", "fields": {"k": 1}}]
    schema, nm = dyn.infer_batch_schema(rows)
    before = dyn.ARROW_FALLBACK_COUNT
    df = dyn.batch_dataframe(spark, rows, schema, nm)
    assert dyn.ARROW_FALLBACK_COUNT == before  # arrow path: no fallback

    bad = [{"id": "c", "timestamp": 1, "table_name": "t",
            "fields": {"s": "bad\udcff"}}]
    schema2, nm2 = dyn.infer_batch_schema(bad)
    df_bad = dyn.batch_dataframe(spark, bad, schema2, nm2)
    assert dyn.ARROW_FALLBACK_COUNT == before + 1
    assert dyn.ARROW_FALLBACK_LAST is not None
