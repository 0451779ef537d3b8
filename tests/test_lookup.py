"""Key lookups answered with pyarrow give Spark's answer, byte for byte.

A hypothesis history of writes, flushes, an update and a delete builds a
table; then every key is looked up through ``Engine.query_full`` and
``Engine.point_lookup_full`` (the pyarrow path) and through
``_collect_json`` over the Spark path's view. The JSON texts must be the
same multiset; when the ``max_result_rows`` cap binds, the same count
and truncated flag, with every row one of the Spark path's.

The histories cover schema evolution across generations (long → double,
late columns), buffered and persisted rows (including a buffered key
whose files are all pruned away), a buffer whose column types are set by
rows other than the matching ones, NaN, ±inf, doubles JDK 17 prints in
a longer form than Python, NULLs, non-ASCII text, control characters,
and millisecond and microsecond timestamps.
"""

import json
import tempfile
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from miniodb_spark.engine import Engine

US = 1_000_000
DAY = 86_400 * US
T0 = 1_700_000_000 * US
KEYS = ("k0", "k1", "k2", "kb")  # "kb" is only ever buffered
# JDK 17's Double.toString is not always the shortest form: it prints
# 2.82879384806159008E17 where Python's repr is 2.82879384806159e+17
ODD_DOUBLES = (2.82879384806159008e17, 1.0e7, 1.0e-4, 123456.789, -0.0,
               float("nan"), float("inf"), float("-inf"), 5e-324, 1e21)
TEXT = st.text(alphabet=st.sampled_from(
    list("aZ é日😀\"\\\n\t\r\b\f\x00\x1f\x7f ")), max_size=6)

fields = st.fixed_dictionaries({}, optional={
    "a": st.one_of(st.integers(-(1 << 62), 1 << 62),
                   st.floats(allow_nan=False, allow_infinity=False)),
    "x": st.one_of(st.sampled_from(ODD_DOUBLES), st.floats()),
    "s": st.one_of(TEXT, st.none()),
    "b": st.booleans(),
    "n": TEXT,
})
timestamps = st.builds(
    lambda day, us, ms: T0 + day * DAY + (us // 1000 * 1000 if ms else us),
    st.integers(0, 2), st.integers(0, DAY - 1), st.booleans())
writes = st.tuples(st.just("write"), st.sampled_from(KEYS[:3]), fields, timestamps)
steps = st.tuples(writes, st.lists(st.one_of(writes, writes, st.just(("flush",))),
                                   max_size=11)).map(lambda t: [t[0], *t[1]])
histories = st.tuples(
    steps,
    st.sampled_from([None, "update", "delete"]),
    st.lists(st.tuples(st.sampled_from(KEYS), fields, timestamps), max_size=4),
    st.sampled_from([10_000, 10_000, 1, 2]),
)

SERVED = Counter()


def _spark_rows(eng, df):
    cap = eng.max_result_rows
    eng.max_result_rows = 10_000
    try:
        return eng._collect_json(df)[0] if df is not None else []
    finally:
        eng.max_result_rows = cap


def _check(eng, got, truncated, want, limit=None):
    """``got`` (the pyarrow path's rows) against the Spark path's full
    result ``want`` (without the query's LIMIT, which may keep any
    ``limit`` of its rows) under the engine's cap."""
    n = len(want) if limit is None else min(limit, len(want))
    cap = eng.max_result_rows
    assert truncated == (n > cap)
    assert len(got) == min(n, cap), (got, want)
    if len(got) == len(want):
        assert Counter(got) == Counter(want), (got, want)
    else:
        assert not Counter(got) - Counter(want), (got, want)


def _lookups(eng):
    stats = eng.query_stats["lookups"]
    for key in KEYS + ("missing",):
        for sql, limit in ((f"SELECT * FROM t WHERE id = '{key}'", None),
                           (f"SELECT timestamp, id, dt FROM t WHERE id = '{key}'", 2)):
            before = stats["arrow"]
            res = eng.query_full(sql if limit is None else f"{sql} LIMIT {limit}")
            if stats["arrow"] == before:
                SERVED["declined"] += 1
                continue
            SERVED["arrow"] += 1
            want = _spark_rows(eng, eng.query_df(sql))
            _check(eng, _split(res.json[1:-1]), res.truncated, want, limit)
        before = stats["arrow"]
        res, _report = eng.point_lookup_full("t", key)
        if stats["arrow"] > before:
            SERVED["arrow"] += 1
            want = _spark_rows(eng, eng.point_lookup_df("t", key)[0])
            _check(eng, _split(res.json[1:-1]), res.truncated, want)


def _split(body: str) -> list[str]:
    """Top-level ``{…}`` texts of a comma-joined row list (braces inside
    strings are skipped)."""
    out, depth, start, in_str, esc = [], 0, 0, False, False
    for i, ch in enumerate(body):
        if in_str:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_str = False
        elif ch == '"':
            in_str = True
        elif ch == "{":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                out.append(body[start:i + 1])
    return out


def _run(spark, history):
    steps, mutation, buffered, cap = history
    with tempfile.TemporaryDirectory() as root:
        eng = Engine(spark, root)
        for step in steps:
            if step[0] == "write":
                _, key, payload, ts = step
                eng.write("t", payload, record_id=key, timestamp_us=ts)
            else:
                eng.flush("t")
        eng.flush("t")
        if mutation == "update":
            eng.update("t", "k1", {"a": 2.5, "s": "upd"}, timestamp_us=T0 + DAY)
        elif mutation == "delete":
            eng.delete("t", "k0")
        for key, payload, ts in buffered:
            eng.write("t", payload, record_id=key, timestamp_us=ts)
        eng.max_result_rows = cap
        _lookups(eng)


@settings(max_examples=14, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(histories)
# a buffer whose first "a" is a long: the matching row's 2.5 reads as 2
@example(([("write", "k0", {"a": 1, "x": 2.82879384806159008e17}, T0), ("flush",)],
          None, [("kb", {"a": 7}, T0 + 5), ("k0", {"a": 2.5, "x": 1e7}, T0 + 1001)],
          10_000))
def _differential(spark, history):
    _run(spark, history)


def test_arrow_lookups_match_the_spark_path(spark):
    SERVED.clear()
    _differential(spark)
    # the histories mostly stay inside the pyarrow path's reach
    assert SERVED["arrow"] > 3 * SERVED["declined"], SERVED


def test_split_keeps_braces_inside_strings():
    assert _split('{"a":"}{"},{"b":"\\"}"}') == ['{"a":"}{"}', '{"b":"\\"}"}']
