"""A store and helpers for the zone-map conditions the engine reads from
Spark's analyzed plan (:func:`miniodb_spark.lookup.plan_conditions`).

``t`` has three files with disjoint ``id``, ``timestamp``, ``v``, ``d``,
``w`` and ``x`` brackets over two generations: ``w`` is a long in the first and a double
in the second (a long → double drift), and two rows stay buffered. ``u``
(two files) and ``r`` (one) are join partners. Zone-map columns of
``t``: ``id``, ``timestamp``, ``v``, ``d``, ``w`` and ``x``.

:func:`conditions` and :func:`bounds` read what the plan reader makes of
a query; :func:`answers_as_unpruned` runs it end to end, pruned and with
pruning switched off, and returns the files the pruned run skipped.
"""

import datetime as dt
import json
from collections import Counter

import pytest

from miniodb_spark.catalog import TableConfig
from miniodb_spark.engine import Engine

US = 1_000_000
DAY = 86_400 * US
JAN1 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * US

# (id prefix, day, v base, w as a double?) per flushed file of ``t``
FILES = (("A", 0, -10, False), ("k", 1, 10, False), ("r", 4, 100, True))


def build(spark, root: str) -> Engine:
    eng = Engine(spark, root)
    eng.create_table("t", TableConfig(name="t", zonemap_columns=["v", "d", "w", "x"]))
    for prefix, day, base, wide in FILES:
        for i in range(4):
            v = base + i // 2
            eng.write("t", {
                "v": v, "d": v + 0.5, "w": v + (0.5 if wide else 0),
                "x": f"{prefix}{i}", "k": i % 3, "name": f"n{v}"},
                record_id=f"{prefix}{i}", timestamp_us=JAN1 + day * DAY + i * 3600 * US)
        eng.flush("t")
    for i, rid in enumerate(("m5", "z9")):
        eng.write("t", {"v": 50 + i, "d": 50.5, "w": 50.5, "x": rid, "k": i,
                        "name": "buffered"},
                  record_id=rid, timestamp_us=JAN1 + 2 * DAY)
    for lo in (0, 3):
        for i in range(lo, lo + 3):
            eng.write("u", {"k": i % 3, "v": i}, record_id=f"u{i}",
                      timestamp_us=JAN1 + i * DAY)
        eng.flush("u")
    eng.write("r", {"k": 1, "v": 1}, record_id="r1", timestamp_us=JAN1)
    eng.flush("r")
    return eng


@pytest.fixture(scope="module")
def planner(spark, tmp_path_factory):
    return build(spark, str(tmp_path_factory.mktemp("planner") / "store"))


def conditions(eng: Engine, sql: str) -> dict[str, list[tuple]]:
    """``{table: zone-map conditions}`` the Spark path would prune by."""
    final, tables = eng._final_sql(sql, None, None)
    return eng._plan_conditions(final, tables, None)


def bounds(eng: Engine, sql: str, column: str, table: str = "t"):
    """``table``'s conditions on ``column``: the values of an IN list
    alone, else the conditions (an equality as the range ``[v, v]``)
    intersected into ``(lo, lo_incl, hi, hi_incl)``; None without one."""
    conds = [c for c in conditions(eng, sql).get(table, []) if c[0] == column]
    if not conds:
        return None
    if len(conds) == 1 and len(conds[0]) == 2 and len(conds[0][1]) > 1:
        return conds[0][1]
    assert all(len(c) == 5 or len(c[1]) == 1 for c in conds), conds
    ranges = [c if len(c) == 5 else (column, c[1][0], True, c[1][0], True) for c in conds]
    lo = hi = None
    lo_i = hi_i = True
    for _col, lo2, lo2_i, hi2, hi2_i in ranges:
        if lo2 is not None:
            if lo is None or lo2 > lo:
                lo, lo_i = lo2, lo2_i
            elif lo2 == lo:
                lo_i = lo_i and lo2_i
        if hi2 is not None:
            if hi is None or hi2 < hi:
                hi, hi_i = hi2, hi2_i
            elif hi2 == hi:
                hi_i = hi_i and hi2_i
    return lo, lo_i, hi, hi_i


def _answer(eng: Engine, sql: str):
    for t in ("t", "u", "r"):
        eng.cache.invalidate_table(t)
    try:
        return Counter(json.dumps(r, sort_keys=True) for r in json.loads(eng.query(sql)))
    except Exception as exc:  # the query's own error: both runs must raise it
        return type(exc).__name__


def answers_as_unpruned(eng: Engine, sql: str, monkeypatch) -> int:
    """Asserts that ``sql`` answers through ``Engine.query`` as it does
    with every zone-map selection switched off; returns the files the
    pruned run skipped."""
    zs = eng._zonemap_stats()
    skipped, errors = zs["files_skipped"], zs["prune_errors"]
    pruned = _answer(eng, sql)
    skipped = zs["files_skipped"] - skipped
    assert zs["prune_errors"] == errors, sql
    with monkeypatch.context() as m:
        m.setattr(eng, "_range_select",
                  lambda conds: lambda listing, brackets: [rel for rel, _dt in listing])
        assert _answer(eng, sql) == pruned, sql
    return skipped


# The inputs the former gate scanners' unit tests (test_gate.py,
# test_properties.py, test_zonemap.py) were written for, with whether the
# query must skip files of this store: True where the scanners extracted
# a bound, None where they declined (the plan reader may still prune).
_W = "SELECT * FROM t WHERE "
PORTED = [
    ("SELECT * FROM t WHERE x BETWEEN 'a' AND 'z' = id", None),
    ("SELECT * FROM t WHERE v BETWEEN 'a' AND 'z' AND id = 'k1'", None),
    ("SELECT * FROM t WHERE v >= 3 AND id = 'k1'", True),
    ("SELECT 'WHERE v > 999 AND pad', 'x LIMIT y' FROM t", None),
    ("SELECT 'WHERE id = ''zz'' AND p', 'x LIMIT y' FROM t", None),
    ("SELECT 'WHERE id >= ''a'' AND p', 'x LIMIT y' FROM t", None),
    ("SELECT 'WHERE id IN (''a'') AND p', 'x LIMIT y' FROM t", None),
    ("SELECT * FROM t WHERE name = 'x LIMIT 5' AND v > 3", True),
    ("SELECT 'WHERE pad' FROM t WHERE v > 3", True),
    ("SELECT * FROM t WHERE v > 3 AND name = 'x", None),
    ("SELECT * FROM (SELECT v + 1 AS v FROM t ORDER BY v) s WHERE v > 9", None),
    ("WITH c AS (SELECT * FROM t) SELECT * FROM c WHERE id = 'k'", None),
    ("SELECT * FROM t WHERE v > 3 WHERE v > 4", None),
    *((_W + w, True) for w in (
        "v > 5", "v >= 5 AND v < 10.5", "3 <= v AND 9 > v", "v > 2 AND v >= 2",
        "v > 1 AND v > 4", "v BETWEEN 3 AND 7", "v BETWEEN 0.5 AND 1.5 AND k > 2",
        "v BETWEEN 3 AND 7 AND timestamp BETWEEN TIMESTAMP '2024-01-01' "
        "AND TIMESTAMP '2024-01-02'", f"v > {2**53 - 1}", "v = 7", "7 = v",
        "v = 7 AND v >= 5", "v > 7 AND v = 7", "v >= -4")),
    *((_W + w, None) for w in (
        "v > 5 OR v < 2", "NOT v > 5", "v > 1e3", f"v > {2**53}", "v > '5'", "w > 5",
        "v = 9007199254740993", "v BETWEEN -4 AND 4")),
    ("SELECT * FROM t a JOIN u b ON a.k = b.k WHERE a.id >= 'x'", True),
    ("SELECT * FROM t JOIN u ON t.k = u.k", None),
    ("SELECT * FROM t AS a LEFT JOIN u AS b ON a.k = b.k GROUP BY a.k", None),
    ("SELECT * FROM t a CROSS JOIN u b", None),
    ("SELECT * FROM t, u WHERE t.k = u.k", None),
    ("SELECT * FROM t a, u b, r c WHERE a.k = b.k", None),
    ("SELECT * FROM t a JOIN t b ON a.k = b.k", None),
    ("SELECT * FROM t a, t b WHERE a.k = b.k", None),
    ("SELECT * FROM t a JOIN (SELECT * FROM u) b ON a.k = b.k", None),
    ("WITH c AS (SELECT 1 AS k) SELECT * FROM t JOIN c ON t.k = c.k", None),
    ("SELECT * FROM t u JOIN u ON u.k = u.k", None),
    ("SELECT * FROM t WHERE id = 'a' AND v IN (SELECT v FROM u)", None),
    ("SELECT * FROM t a JOIN u b ON a.k = b.k "
     "WHERE a.id >= 'r1' AND b.id = 'z9' AND a.v > 5", True),
    ("SELECT * FROM t a JOIN u b ON a.k = b.k WHERE id >= 'r1'", None),
    ("SELECT * FROM t JOIN u ON t.k = u.k WHERE t.id BETWEEN 'a' AND 'c'", True),
    ('SELECT "x WHERE v > 999 AND pad", "y LIMIT z" FROM t', None),
    ('SELECT v FROM t WHERE x = "pad AND v > 999 AND pad"', None),
    ("SELECT v FROM t WHERE x = \"pad AND id = 'u1' AND pad\"", None),
    ('SELECT "DROP" AS a, v FROM t', None),
    (r"SELECT 'a\' WHERE v > 999 AND pad \'b' FROM t", None),
    (r"SELECT v FROM t WHERE id >= 'a\nb'", None),
    (r"SELECT v FROM t WHERE id IN ('a\z')", None),
    (r"SELECT v FROM t WHERE v > 5 AND x = 'p\qr'", True),
    (r"SELECT r'a\', 'x WHERE v > 999 AND pad' FROM t", None),
    (r"SELECT r'a\', 'x WHERE v > 999 AND pad', r'b\' FROM t", None),
    (r"SELECT v FROM t WHERE x = r'p AND v > 999 AND q' AND v < 5", True),
    (r"SELECT v FROM t WHERE x = r'p AND id = u1 AND q'", None),
    ("SELECT 'x WHERE v > 1', 'LIMIT 2' FROM t", None),
    ("SELECT 'pad' FROM t WHERE v >= 7 AND v < 9", True),
    ('SELECT "pad" FROM t WHERE v >= 7 AND v < 9', True),
    ('SELECT v FROM t WHERE v >= 7 AND x = "pad" AND v < 9', True),
    *((_W + w, True) for w in (
        "id >= 'a'", "id > 'a' AND id <= 'm'", "'a' <= id AND 'm' > id",
        "id > 'a' AND id >= 'c'", "id >= 'c' AND id > 'c'", "id > 'a' AND v = 3",
        "id BETWEEN 'a' AND 'm'", "id BETWEEN 'c' AND 'f'",
        "id BETWEEN 'c' AND 'f' AND id < 'e'",
        "timestamp BETWEEN TIMESTAMP '2024-01-02' AND TIMESTAMP '2024-01-05'",
        "timestamp >= TIMESTAMP '2024-01-02' AND timestamp < '2024-01-03'",
        "timestamp >= '2024-01-02'", "timestamp >= '2024-01-02 06:30:00.5'")),
    *((_W + w, None) for w in (
        "id > 'a' OR v = 3", "(id > 'a')", "id > v", "v > 'a'", "id NOT BETWEEN 'c' AND 'f'",
        "id BETWEEN 1 AND 2", "x BETWEEN 'a' AND 'b'", "x BETWEEN 1 AND 2",
        "name = 'x BETWEEN ''a'' AND ''b''' AND id >= 'k'", "v BETWEEN -1 AND 2",
        "v BETWEEN 1e3 AND 2e3", "upper(x) BETWEEN 'a' AND 'b'",
        "timestamp >= '2024-01-02T06:30:00'", "timestamp >= '2024-01-02 00:00:00+02:00'",
        "timestamp >= '20240101'", "id = 'a''b'")),
    ("SELECT * FROM t", None),
]
