"""Crash sweeps over the commit points of ``update`` and ``delete``.

Each sweep fails one step of one mutation on a 2-day, 6-row table —
every mutating filesystem call (``FaultFS``) in turn, then the k-th
Spark ``DataFrameWriter.parquet`` call before and after it writes —
and boots a fresh Engine on the same root, as a restarted driver
would. Its answers must match a dict model:

- an update shows the old version, the new one, or both; both only
  when the insert committed and the sweep did not (the insert-first
  contract: a duplicate, never a lost row);
- a delete is all-or-nothing: the row is gone exactly when its rewrite
  committed.

Then ``vacuum()`` leaves exactly the live files on disk, once the
grace age of the files no commit added has passed.

A bulk ingest whose column type drifts goes through the same Spark-write
faults: the generation it would open exists only in its commit, so a
failed write leaves the table's schemas as they were.
"""

import json

import pytest
from pyspark.sql.readwriter import DataFrameWriter

from diskstate import (age_past_grace, data_files, expire_leases, live_files,
                       never_added)
from faultfs import FaultFS, InjectedFault
from miniodb_spark import engine as engine_mod
from miniodb_spark.catalog import TableConfig
from miniodb_spark.fs import LocalFS

US = 1_000_000
DAY = 86_400 * US
T0 = 1_700_000_000 * US

BASE = {f"r{i}": i for i in range(6)}
OPS = {
    "update": lambda eng: eng.update("t", "r2", {"v": 20}, timestamp_us=T0),
    "delete": lambda eng: eng.delete("t", "r2"),
}


def _prepare(spark, root):
    eng = engine_mod.Engine(spark, root)
    eng.create_table("t", TableConfig(name="t", buffer_size=10_000))
    for rid, v in BASE.items():  # r0, r2, r4 on day 0; r1, r3, r5 on day 1
        eng.write("t", {"v": v}, record_id=rid,
                  timestamp_us=T0 + (v % 2) * DAY)
    eng.flush("t")
    return eng


def _commits(eng, since: int) -> tuple[bool, bool]:
    """(an add-only commit, a commit with removes) after version
    ``since``: the update's insert and the rewrite's commit."""
    recs = [eng.catalog.record_at("t", h["v"])
            for h in eng.catalog.history("t") if h["v"] > since]
    return (any("add" in r and "rm" not in r for r in recs),
            any("rm" in r for r in recs))


def _rows(eng) -> list[tuple[str, int]]:
    return sorted((r["id"], r["v"]) for r in eng.read_table("t").collect())


def _want(op: str, inserted: bool, rewritten: bool) -> list[tuple[str, int]]:
    rows = sorted(BASE.items())
    if op == "delete":
        return [r for r in rows if r[0] != "r2"] if rewritten else rows
    if rewritten:
        return sorted([r for r in rows if r[0] != "r2"] + [("r2", 20)])
    return sorted(rows + [("r2", 20)]) if inserted else rows


def _check_after_fault(spark, root, op, since, where):
    expire_leases(root)
    fresh = engine_mod.Engine(spark, root)
    inserted, rewritten = _commits(fresh, since)
    if op == "update":
        assert inserted or not rewritten, where  # insert-first
    want = _want(op, inserted, rewritten)
    assert _rows(fresh) == want, where
    got = json.loads(fresh.query("SELECT id, v FROM t WHERE id = 'r2'"))
    assert sorted((r["id"], r["v"]) for r in got) == [
        r for r in want if r[0] == "r2"], where
    fresh.vacuum("t")
    assert sorted(live_files(fresh, "t") + never_added(fresh, "t")) == (
        data_files(fresh, "t")), where
    age_past_grace(f"{root}/t")
    fresh.vacuum("t")
    assert data_files(fresh, "t") == live_files(fresh, "t"), where
    assert _rows(fresh) == want, where


@pytest.mark.parametrize("op", sorted(OPS))
def test_mutation_fault_sweep(spark, tmp_path, monkeypatch, op):
    """A fault at every mutating filesystem call of one update or
    delete."""
    monkeypatch.setattr(engine_mod, "get_fs",
                        lambda spark, root: FaultFS(LocalFS()))
    eng = _prepare(spark, str(tmp_path / "count"))
    since = eng.catalog.current_version("t")
    eng.fs.arm()
    OPS[op](eng)
    eng.fs.disarm()
    calls = list(eng.fs.calls)
    assert _commits(eng, since) == (op == "update", True)
    assert data_files(eng, "t") == live_files(eng, "t")
    for k in range(1, len(calls) + 1):
        root = str(tmp_path / f"k{k}")
        eng = _prepare(spark, root)
        since = eng.catalog.current_version("t")
        eng.fs.arm(fail_at=k)
        try:
            OPS[op](eng)
        except InjectedFault:
            pass
        eng.fs.disarm()
        _check_after_fault(spark, root, op, since, (k, calls[k - 1]))


@pytest.fixture
def spark_write_faults(monkeypatch):
    """``(seen, fault)``: every path ``DataFrameWriter.parquet`` is
    called with, in order, and the call that fails — ``fault["at"]``
    (1-based; None: no failure), before the job runs or, with
    ``fault["after"]``, after its files landed."""
    real = DataFrameWriter.parquet
    seen, fault = [], {"at": None, "after": False}

    def parquet(self, path, *args, **kwargs):
        seen.append(path)
        hit = len(seen) == fault["at"]
        if hit and not fault["after"]:
            raise InjectedFault(f"before write {fault['at']}: {path}")
        out = real(self, path, *args, **kwargs)
        if hit:
            raise InjectedFault(f"after write {fault['at']}: {path}")
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return seen, fault


@pytest.mark.parametrize("op", sorted(OPS))
def test_mutation_spark_write_fault_sweep(spark, tmp_path, spark_write_faults,
                                          op):
    """A failure of the k-th Spark write of one update (its insert, its
    rewrite) or delete (its rewrite), raised before the job runs and
    after its files landed uncommitted."""
    seen, fault = spark_write_faults
    eng = _prepare(spark, str(tmp_path / "count"))
    OPS[op](eng)
    n_writes = len(seen)
    assert n_writes == (2 if op == "update" else 1)
    for k in range(1, n_writes + 1):
        for after in (False, True):
            root = str(tmp_path / f"k{k}{'a' if after else 'b'}")
            eng = _prepare(spark, root)
            since = eng.catalog.current_version("t")
            seen.clear()
            fault.update(at=k, after=after)
            with pytest.raises(InjectedFault):
                OPS[op](eng)
            fault["at"] = None
            _check_after_fault(spark, root, op, since, (k, after))


def test_drifting_ingest_spark_write_fault_sweep(spark, tmp_path,
                                                 spark_write_faults):
    """A failure of the k-th Spark write of an ingest whose ``v`` is a
    string where the table's is a long, raised before the job runs and
    after its files landed uncommitted: a fresh Engine shows the
    pre-ingest generations and cumulative schema, and reads ``v`` as
    the number it was."""
    import datetime

    seen, fault = spark_write_faults
    ts = datetime.datetime.fromtimestamp(T0 / US, datetime.timezone.utc)

    def ingest(eng):
        eng.ingest_dataframe("t", spark.createDataFrame(
            [("x1", ts, "one")], "id string, timestamp timestamp, v string"))

    eng = _prepare(spark, str(tmp_path / "count"))
    n_gens = len(eng.catalog.gen_schemas("t"))
    ingest(eng)
    assert len(eng.catalog.gen_schemas("t")) == n_gens + 1  # it drifts
    n_writes = len(seen)
    assert n_writes >= 1
    for k in range(1, n_writes + 1):
        for after in (False, True):
            root = str(tmp_path / f"k{k}{'a' if after else 'b'}")
            eng = _prepare(spark, root)
            gens, cum = eng.catalog.gen_schemas("t"), eng.catalog.schema_of("t")
            seen.clear()
            fault.update(at=k, after=after)
            with pytest.raises(InjectedFault):
                ingest(eng)
            fault["at"] = None
            expire_leases(root)
            fresh = engine_mod.Engine(spark, root)
            where = (k, after)
            assert fresh.catalog.gen_schemas("t") == gens, where
            assert fresh.catalog.schema_of("t") == cum, where
            assert cum["v"] == "long"
            assert json.loads(fresh.query(
                "SELECT id, v FROM t WHERE id = 'r1'")) == [
                    {"id": "r1", "v": 1}], where
            assert _rows(fresh) == sorted(BASE.items()), where
