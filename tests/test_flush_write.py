"""The row flush writes Parquet from the driver with pyarrow (no Spark
job): these tests pin that its files read back exactly as the Spark
``partitionBy("dt")`` write's did, that a failed flush leaves nothing
visible, and that a flush survives a fault at any of its filesystem
mutations (``tests/faultfs.py``)."""

import glob
import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

US = 1_000_000
DAY = 86_400 * US
T0 = 1_700_000_000 * US  # 2023-11-14T22:13:20Z


def _files(root, table):
    return sorted(glob.glob(os.path.join(root, table, "gen=*", "dt=*", "*.parquet")))


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect()) if df is not None else []


def test_flushed_files_read_with_catalog_types(engine, spark):
    for i in range(4):
        engine.write("t", {"v": i, "s": f"x{i}"}, record_id=f"r{i}",
                     timestamp_us=T0 + (i % 2) * DAY)
    engine.flush()
    files = _files(engine.root, "t")
    assert [os.path.basename(os.path.dirname(f)) for f in files] == [
        "dt=2023-11-14", "dt=2023-11-15"]
    for f in files:
        assert os.path.basename(f).endswith(".c000.snappy.parquet")
        md = pq.ParquetFile(f).metadata
        col = md.schema.column(md.schema.names.index("timestamp"))
        assert col.physical_type == "INT64"
        assert "isAdjustedToUTC=true" in str(col.logical_type)
        assert "microseconds" in str(col.logical_type)
        assert "dt" not in md.schema.names  # partition value lives in the path
        assert md.row_group(0).column(0).compression == "SNAPPY"
    # Spark with no schema hint: timestamp is a timestamp, not a long
    raw = spark.read.parquet(files[0])
    assert raw.schema["timestamp"].dataType == T.TimestampType()
    assert raw.schema["v"].dataType == T.LongType()
    # the engine's scan: dt is a string partition column
    df = engine.read_persisted("t")
    assert df.schema["dt"].dataType == T.StringType()
    got = sorted((r["id"], r["dt"], r["v"], r["timestamp"])
                 for r in df.collect())
    import datetime as _dt

    assert got == [
        (f"r{i}", "2023-11-14" if i % 2 == 0 else "2023-11-15", i,
         _dt.datetime(2023, 11, 14, 22, 13, 20) + _dt.timedelta(days=i % 2))
        for i in range(4)
    ]


def test_table_compression_names_and_encodes_files(engine):
    from miniodb_spark.catalog import TableConfig

    engine.create_table("z", TableConfig(name="z", compression="zstd"))
    engine.write("z", {"v": 1}, record_id="a", timestamp_us=T0)
    engine.flush("z")
    (f,) = _files(engine.root, "z")
    assert f.endswith(".c000.zstd.parquet")
    assert pq.ParquetFile(f).metadata.row_group(0).column(0).compression == "ZSTD"
    assert json.loads(engine.query("SELECT id, v FROM z")) == [{"id": "a", "v": 1}]


def test_nan_column_has_no_footer_stats(engine):
    for i, (w, u) in enumerate(((1.0, 1.0), (float("nan"), 2.0), (3.0, 3.0))):
        engine.write("n", {"w": w, "u": u}, record_id=f"r{i}", timestamp_us=T0)
    engine.flush()
    (f,) = _files(engine.root, "n")
    md = pq.ParquetFile(f).metadata
    names = md.schema.names
    rg = md.row_group(0)
    w = rg.column(names.index("w")).statistics
    assert w is None or not w.has_min_max
    u = rg.column(names.index("u")).statistics
    assert u.has_min_max and (u.min, u.max) == (1.0, 3.0)
    # Spark orders NaN above every number: pushdown must not drop it
    out = json.loads(engine.query("SELECT id FROM n WHERE w > 50"))
    assert out == [{"id": "r1"}]


def test_lone_surrogate_stored_as_replacement_char(engine):
    engine.write("s", {"s": "bad\udcff", "t": "ok"}, record_id="a",
                 timestamp_us=T0)
    engine.flush()
    out = json.loads(engine.query("SELECT s, t FROM s"))
    assert out == [{"s": "bad�", "t": "ok"}]


def test_int64_overflow_fails_flush_and_keeps_rows(engine, spark):
    from miniodb_spark.engine import Engine

    engine.write("o", {"k": 1}, record_id="ok", timestamp_us=T0)
    engine.write("o", {"k": 1 << 63}, record_id="big", timestamp_us=T0)
    with pytest.raises(ValueError, match="out of range"):
        engine.flush("o")
    assert engine._buffers["o"].count == 2  # requeued
    assert engine.catalog.gen_schemas("o") == []  # no generation left behind
    assert _files(engine.root, "o") == []
    # the WAL still holds both rows: a fresh engine replays them
    fresh = Engine(spark, engine.root)
    assert fresh._buffers["o"].count == 2


def test_flush_then_ingest_snapshots_match_versions(engine, spark):
    import datetime as _dt

    def write(ids):
        for i in ids:
            engine.write("g", {"v": i}, record_id=f"r{i}",
                         timestamp_us=T0 + (i % 3) * DAY)
        engine.flush("g")

    expected = []
    write(range(0, 4))
    expected.append((engine.table_history("g")[-1]["v"], {f"r{i}" for i in range(4)}))
    bulk = spark.createDataFrame(
        [(f"r{i}", _dt.datetime(2023, 11, 15, 1, 0), "g", i) for i in range(4, 7)],
        "id string, timestamp timestamp, table_name string, v long")
    assert engine.ingest_dataframe("g", bulk) == 0  # same generation
    expected.append((engine.table_history("g")[-1]["v"], expected[-1][1]
                     | {f"r{i}" for i in range(4, 7)}))
    write(range(7, 10))
    expected.append((engine.table_history("g")[-1]["v"], expected[-1][1]
                     | {f"r{i}" for i in range(7, 10)}))
    assert len(engine.catalog.gen_schemas("g")) == 1
    for v, ids in expected:
        assert set(_ids(engine.read_snapshot("g", v))) == ids, v
    # every committed version is one of those states, in order
    states = [set()] + [ids for _v, ids in expected]
    seen = []
    for h in engine.table_history("g"):
        got = set(_ids(engine.read_snapshot("g", h["v"])))
        assert got in states, (h["v"], got)
        seen.append(states.index(got))
    assert seen == sorted(seen)


def test_dot_temp_file_is_invisible_to_scans(engine):
    for i in range(3):
        engine.write("h", {"v": i}, record_id=f"r{i}", timestamp_us=T0)
    engine.flush()
    (f,) = _files(engine.root, "h")
    # a writer that died mid-write leaves a half file under a "." name
    with open(f, "rb") as fh:
        half = fh.read()[: os.path.getsize(f) // 2]
    torn = os.path.join(os.path.dirname(f),
                        "." + os.path.basename(f) + ".tmp.123.abcd")
    with open(torn, "wb") as fh:
        fh.write(half)
    assert _ids(engine.read_persisted("h")) == ["r0", "r1", "r2"]
    assert json.loads(engine.query("SELECT count(*) AS n FROM h")) == [{"n": 3}]


def test_localfs_write_bytes_temp_is_hidden_and_cleaned(tmp_path, monkeypatch):
    from miniodb_spark.fs import LocalFS

    fs = LocalFS()
    target = str(tmp_path / "d" / "part-0.parquet")
    seen = []
    real_replace = os.replace

    def replace(src, dst):
        seen.append(os.path.basename(src))
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    fs.write_bytes(target, b"abc")
    assert seen and seen[0].startswith(".part-0.parquet.tmp.")
    assert os.listdir(tmp_path / "d") == ["part-0.parquet"]

    def boom(src, dst):
        raise OSError("disk full")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="disk full"):
        fs.write_bytes(str(tmp_path / "d" / "part-1.parquet"), b"xyz")
    assert os.listdir(tmp_path / "d") == ["part-0.parquet"]


def test_flush_fault_sweep(spark, tmp_path, monkeypatch):
    """A fault at every mutating filesystem call of one 3-day flush:
    afterwards every acknowledged row is visible exactly once, no
    uncommitted file sits in the table, and a retry flush lands every
    row exactly once (checked again after a fresh boot's WAL replay)."""
    from faultfs import FaultFS, InjectedFault
    from miniodb_spark import engine as engine_mod
    from miniodb_spark.fs import LocalFS

    monkeypatch.setattr(engine_mod, "get_fs",
                        lambda spark, root: FaultFS(LocalFS()))
    seeded = [f"s{i}" for i in range(3)]
    batch = [f"b{i}" for i in range(9)]

    def prepare(root):
        eng = engine_mod.Engine(spark, root)
        for rid in seeded:  # the flush appends into an existing generation
            eng.write("t", {"v": 0}, record_id=rid, timestamp_us=T0)
        eng.flush()
        for i, rid in enumerate(batch):
            eng.write("t", {"v": i, "w": i / 2}, record_id=rid,
                      timestamp_us=T0 + (i % 3) * DAY)
        return eng

    def committed_match_listing(eng):
        listed = {os.path.relpath(f, eng._gen_dir("t", 0))
                  for f in _files(eng.root, "t")}
        added = {rel for g, rel in eng.catalog.added_files_index("t") if g == 0}
        return listed == added

    eng = prepare(str(tmp_path / "count"))
    eng.fs.arm()
    eng.flush()
    eng.fs.disarm()
    calls = list(eng.fs.calls)
    assert sum(1 for m, p in calls if m == "write_bytes" and "/dt=" in p) == 3
    want = sorted(seeded + batch)
    for k in range(1, len(calls) + 1):
        root = str(tmp_path / f"k{k}")
        eng = prepare(root)
        eng.fs.arm(fail_at=k)
        try:
            eng.flush()
        except InjectedFault:
            pass
        eng.fs.disarm()
        assert committed_match_listing(eng), (k, calls[k - 1])
        assert _ids(eng.read_table("t")) == want, (k, calls[k - 1])
        eng.flush()
        assert eng._buffers["t"].count == 0
        fresh = engine_mod.Engine(spark, root)
        assert _ids(fresh.read_table("t")) == want, (k, calls[k - 1])
        assert committed_match_listing(fresh)
