"""Seeded input generators for the benchmark.

Everything a workload reads is made here from ``--seed``: the same seed
gives byte-identical tables. The shapes follow the repo's test fixtures
(TESTDATA.md / FIXTURES.md): a TPC-H-style star schema, an ``events``
stream, ``documents`` and ``embeddings``, with the same column names,
types and value domains, so the registry's query functions and their
DuckDB oracles run unchanged over the generated directory.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENTS_START_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
DAY_US = 86_400 * 1_000_000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_P_TYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
_P_ADJ = ["blue", "hot", "small", "old", "cold", "red", "new", "large"]
_P_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_LANGS = np.array(["en", "en", "en", "zh", "de", "fr", "es"])
_WORDS = np.array(
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join small data column order customer query "
    "filter stream group big vector".split())
_TPCH_START_US = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
_TPCH_DAYS = 2405  # 1995-01-01 .. 2001-08-02


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def events_arrays(rng: np.random.Generator, n: int, days: int = 30) -> dict:
    """Columns of ``n`` events in timestamp order over ``days`` days from
    2024-01-01 UTC."""
    ts = np.sort(rng.integers(EVENTS_START_US, EVENTS_START_US + days * DAY_US, n))
    n_users = max(150, int(n * 0.015))
    return {
        "event_id": np.arange(n, dtype="int64"),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(40.0, n) + 0.01, 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def events_table(cols: dict) -> pa.Table:
    return pa.table({
        "event_id": cols["event_id"], "ts": _ts(cols["ts"]),
        "user_id": cols["user_id"], "event_type": cols["event_type"],
        "value": cols["value"], "props": cols["props"],
    })


def event_records(cols: dict) -> list[dict]:
    """The same events as ``Engine.write_batch`` records: the event id is
    the record id, ``ts`` the record timestamp, the rest the payload."""
    return [
        {"id": f"e{eid}", "timestamp_us": int(ts),
         "payload": {"user_id": int(u), "event_type": str(et),
                     "value": float(v), "props": str(p)}}
        for eid, ts, u, et, v, p in zip(
            cols["event_id"], cols["ts"], cols["user_id"],
            cols["event_type"], cols["value"], cols["props"])
    ]


def fixture_dir(root: str, seed: int, sf: float) -> str:
    """Write the star schema + streams for scale ``sf`` under ``root``
    (one parquet file per table) and return the directory."""
    rng = np.random.default_rng([seed, 7])
    out = os.path.join(root, f"sf{sf}")
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = np.array([f"{a} {b}" for a in _P_ADJ for b in _P_NOUN])
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _P_TYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(_TPCH_START_US + rng.integers(0, _TPCH_DAYS, n_ord) * DAY_US),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_TPCH_START_US + rng.integers(1, _TPCH_DAYS + 95, n_line) * DAY_US)})
    tables["events"] = events_table(events_arrays(rng, n_ev))
    n_words = rng.integers(10, 90, n_doc)
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), k)]) for k in n_words]
    # one document in twenty is a near-duplicate of another, as in the
    # repo's fixture: the MinHash recall check needs pairs to find
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[(i + 1 + int(rng.integers(0, n_doc - 1))) % n_doc] + " dup"
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": _LANGS[rng.integers(0, len(_LANGS), n_doc)],
        "source": np.array([f"src{s}" for s in rng.integers(0, 20, n_doc)])})
    tables["documents"] = tables["documents"].append_column(
        "n_chars", pc.utf8_length(tables["documents"]["text"]).cast(pa.int64()))
    vec = rng.normal(size=(n_emb, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    return out
