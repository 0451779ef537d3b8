"""Property-based tests (hypothesis) for the pure-Python layers —
invariants rather than examples — and for the zone-map conditions the
engine reads from Spark's analyzed plan."""

import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from miniodb_spark.cache import cache_key, normalize_sql
from miniodb_spark.gate import SQLGateError, quote_identifier, quote_literal, validate_query
from miniodb_spark.schema import infer_batch_schema, resolve_field_names, sanitize_column_name
from miniodb_spark.sketches import CountMinSketch, HyperLogLog
from plan_reader import bounds, conditions, planner  # noqa: F401 (fixture)

VALID_COL = re.compile(r"^[a-z0-9_]+$")


@given(st.text(max_size=80))
def test_sanitize_always_valid(name):
    out = sanitize_column_name(name)
    assert VALID_COL.match(out), out
    assert not out[0].isdigit()


@given(st.lists(st.text(max_size=30), max_size=20, unique=True))
def test_resolve_names_injective(keys):
    mapping = resolve_field_names(keys)
    assert len(set(mapping.values())) == len(mapping)  # no collisions
    reserved = {"id", "timestamp", "table_name", "dt"}
    assert not (set(mapping.values()) & reserved)


@given(st.text(max_size=200))
def test_normalize_sql_idempotent(sql):
    once = normalize_sql(sql)
    assert normalize_sql(once) == once


@given(st.text(alphabet=" \t\nSELECTfromwhere*abc,=", max_size=120))
def test_cache_key_whitespace_stable(sql):
    import re as _re

    squished = _re.sub(r"[ \t\n]+", " ", sql)
    assert cache_key(sql, ["t"]) == cache_key(squished, ["t"])


@given(st.text(max_size=60))
def test_quote_literal_strips_control_and_escapes(s):
    q = quote_literal(s)
    assert q.startswith("'") and q.endswith("'")
    inner = q[1:-1]
    assert "\x00" not in inner
    # every remaining single quote is doubled
    assert "'" not in inner.replace("''", "")


@given(st.text(max_size=60))
def test_quote_identifier_balanced(s):
    q = quote_identifier(s)
    assert q.startswith('"') and q.endswith('"')
    assert '"' not in q[1:-1].replace('""', "")


_DML = ["DROP TABLE t", "INSERT INTO t VALUES (1)", "UPDATE t SET a=1",
        "DELETE FROM t", "TRUNCATE TABLE t", "CREATE TABLE t (a int)"]


@given(st.sampled_from(_DML), st.text(alphabet=" \t", max_size=5))
def test_gate_rejects_dml_with_any_whitespace(dml, pad):
    try:
        validate_query(pad + dml)
        raise AssertionError("DML admitted")
    except SQLGateError:
        pass


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                                      exclude_characters="'\";#-/"), max_size=40))
def test_gate_admits_keywords_inside_literals(payload):
    sql = f"SELECT * FROM t WHERE msg = '{payload} DROP TABLE x'"
    assert validate_query(sql)


@given(st.lists(
    st.dictionaries(
        st.text(min_size=1, max_size=10),
        st.one_of(st.booleans(), st.integers(min_value=-2**40, max_value=2**40),
                  st.floats(allow_nan=False, allow_infinity=False), st.text(max_size=10)),
        max_size=5,
    ),
    min_size=1, max_size=8,
))
def test_infer_batch_schema_total(payloads):
    rows = [
        {"id": f"r{i}", "timestamp": 1_700_000_000_000_000, "table_name": "t",
         "fields": p}
        for i, p in enumerate(payloads)
    ]
    schema, mapping = infer_batch_schema(rows)
    names = [f.name for f in schema.fields]
    assert names[:3] == ["id", "timestamp", "table_name"]
    assert len(set(names)) == len(names)  # unique columns always


@settings(deadline=2000)
@given(st.integers(min_value=100, max_value=20_000), st.integers(min_value=0, max_value=2**31))
def test_hll_within_bound(n, seed):
    rng = np.random.RandomState(seed % (2**31))
    h = rng.randint(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                    size=n, dtype=np.int64).view(np.uint64)
    hll = HyperLogLog(12)
    hll.add_hashes(h)
    distinct = len(np.unique(h))
    assert abs(hll.estimate() - distinct) / distinct < 5 * hll.error_bound


@settings(deadline=2000)
@given(st.integers(min_value=1, max_value=500), st.integers(min_value=0, max_value=2**31))
def test_cms_lower_bound_property(n, seed):
    rng = np.random.RandomState(seed % (2**31))
    h = rng.randint(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                    size=n, dtype=np.int64).view(np.uint64)
    counts = rng.randint(1, 10, size=n).astype(np.int64)
    cms = CountMinSketch(256, 4)
    cms.add_hashes(h, counts)
    idx = int(rng.randint(0, n))
    assert cms.query_hash(int(h[idx])) >= int(counts[idx])


# --- numeric conditions read from the analyzed plan are exact --------------
# (the former gate scanners' properties, run through Spark's parser and
# analyzer: miniodb_spark.lookup.plan_conditions over plan_reader.py's
# ``planner`` store)

_num_lit = st.one_of(
    st.integers(min_value=-(2**53) + 1, max_value=2**53 - 1),
    st.floats(min_value=-1e6, max_value=1e6,
              allow_nan=False, allow_infinity=False)
    .map(lambda f: round(f, 3)),
)


def _fmt(v):
    """Render a literal as plain digits / plain decimal, optional sign."""
    if isinstance(v, int):
        return str(v)
    s = f"{v:.3f}".rstrip("0")
    return s + "0" if s.endswith(".") else s


@given(st.lists(
    st.tuples(st.sampled_from([">", ">=", "<", "<="]), _num_lit,
              st.booleans()),
    min_size=1, max_size=6))
@settings(max_examples=300, deadline=None)
def test_numeric_range_extraction_is_exact_intersection(planner, conjs):
    """For a random pure-AND chain of numeric comparisons on a double
    zone-map column (random operand side per conjunct), the conditions
    the plan reader gives, intersected, admit a value x IFF every
    original conjunct admits x — checked on a probe set around each
    literal. Any discrepancy would be either an unsound prune (the
    interval rejects a satisfying x) or a phantom bound."""
    parts = []
    for op, lit, flipped in conjs:
        txt = _fmt(lit)
        if flipped:
            flip = {">": "<", "<": ">", ">=": "<=", "<=": ">="}
            parts.append(f"{txt} {flip[op]} d")
        else:
            parts.append(f"d {op} {txt}")
    sql = "SELECT d FROM t WHERE " + " AND ".join(parts)
    got = bounds(planner, sql, "d")
    assert got is not None, sql
    lo, lo_i, hi, hi_i = got

    def interval_admits(x):
        if lo is not None and (x < lo or (x == lo and not lo_i)):
            return False
        if hi is not None and (x > hi or (x == hi and not hi_i)):
            return False
        return True

    def conjuncts_admit(x):
        for op, lit, _f in conjs:
            if op == ">" and not x > lit:
                return False
            if op == ">=" and not x >= lit:
                return False
            if op == "<" and not x < lit:
                return False
            if op == "<=" and not x <= lit:
                return False
        return True

    probes = set()
    for _op, lit, _f in conjs:
        # exact literal value as parsed (float literals re-parse)
        v = lit if isinstance(lit, int) else float(_fmt(lit))
        probes.update((v, v - 1, v + 1, v - 0.0005, v + 0.0005))
    for x in probes:
        assert interval_admits(x) == conjuncts_admit(x), (
            sql, got, x)


_SOUP = st.text(
    alphabet=st.sampled_from(list("WHERE LIMIT AND OR ORDER BY GROUP "
                                  "BETWEEN v id > < = ' 0123456789.x")),
    max_size=60)


@given(_SOUP, _SOUP)
@settings(max_examples=300, deadline=None)
def test_literal_soup_never_fabricates_a_bound(planner, a, b):
    """For a query with NO WHERE clause, SELECT-list string literals
    containing arbitrary keyword soup (WHERE / LIMIT / comparison
    fragments / stray quotes, '' escaped) never give a condition."""
    la, lb = a.replace("'", "''"), b.replace("'", "''")
    sql = f"SELECT '{la}', '{lb}' FROM t"
    assert conditions(planner, sql) == {}, sql


@given(_SOUP)
@settings(max_examples=300, deadline=None)
def test_literal_soup_never_shifts_a_real_bound(planner, a):
    """Companion property: with a REAL clause present, a keyword-soup
    literal in the SELECT list never changes its conditions."""
    lit = a.replace("'", "''")
    sql = f"SELECT '{lit}' FROM t WHERE v >= 7 AND v < 9"
    assert conditions(planner, sql) == {
        "t": [("v", None, True, 9, False), ("v", 7, True, None, True)]}, sql


@given(_SOUP)
@settings(max_examples=200, deadline=None)
def test_legacy_rewrite_never_touches_literals(a):
    """rewrite_legacy_from_table rewrites the real `FROM table` and
    ONLY it — literal content (including 'FROM table' inside a
    string, with '' escapes) survives byte-identical."""
    from miniodb_spark.gate import rewrite_legacy_from_table

    lit = ("FROM table " + a).replace("'", "''")
    sql = f"SELECT '{lit}' AS x FROM table"
    out = rewrite_legacy_from_table(sql, "users")
    assert out == f"SELECT '{lit}' AS x FROM users", (sql, out)


_SOUPQ = st.text(
    alphabet=st.sampled_from(list("WHERE LIMIT AND OR ORDER BY GROUP "
                                  "BETWEEN v id > < = ' \" \\ 0123456789.x")),
    max_size=60)


def _dq(s: str) -> str:
    """Valid double-quoted-literal content under the pinned dialect
    (backslash escapes live, '""' doubles)."""
    return s.replace("\\", "\\\\").replace('"', '""')


def _sq_bs(s: str) -> str:
    """Single-quoted-literal content using BACKSLASH escaping (the
    dialect's other escape flavor) instead of '' doubling."""
    return s.replace("\\", "\\\\").replace("'", "\\'")


@given(_SOUPQ, _SOUPQ)
@settings(max_examples=300, deadline=None)
def test_dq_literal_soup_never_fabricates_a_bound(planner, a, b):
    """The no-WHERE soup property, one quote flavor over: DOUBLE-quoted
    SELECT-list literals (string literals under the pinned dialect)
    never give a condition, whatever keyword soup (stray quotes of both
    flavors and backslashes included) they contain."""
    sql = f'SELECT "{_dq(a)}", "{_dq(b)}" FROM t'
    assert conditions(planner, sql) == {}, sql


@given(_SOUPQ)
@settings(max_examples=300, deadline=None)
def test_dq_literal_soup_never_shifts_a_real_bound(planner, a):
    """Companion: with a REAL clause present, dq-literal soup in the
    SELECT list never changes its bound on v — nor does the same soup
    as a sibling conjunct's literal inside the clause."""
    lit = _dq(a)
    sql = f'SELECT "{lit}" FROM t WHERE v >= 7 AND v < 9'
    assert bounds(planner, sql, "v") == (7, True, 9, False), sql
    sql2 = f'SELECT v FROM t WHERE v >= 7 AND x = "{lit}" AND v < 9'
    assert bounds(planner, sql2, "v") == (7, True, 9, False), sql2


@given(_SOUPQ, _SOUPQ)
@settings(max_examples=300, deadline=None)
def test_backslash_escaped_soup_never_fabricates_a_bound(planner, a, b):
    """Escape-flavor property: single-quoted literals using BACKSLASH
    quote escaping (``'a\\'b'`` — live under the pinned dialect,
    escapedStringLiterals=false) never give a condition."""
    sql = f"SELECT '{_sq_bs(a)}', '{_sq_bs(b)}' FROM t"
    assert conditions(planner, sql) == {}, sql


@given(_SOUPQ)
@settings(max_examples=200, deadline=None)
def test_legacy_rewrite_never_touches_dq_literals(a):
    """rewrite_legacy_from_table: 'FROM table' inside a DOUBLE-quoted
    literal survives byte-identical (the r16 ADVICE low repro:
    SELECT "copy FROM table x" FROM events was corrupted)."""
    from miniodb_spark.gate import rewrite_legacy_from_table

    lit = _dq("FROM table " + a)
    sql = f'SELECT "{lit}" AS x FROM table'
    out = rewrite_legacy_from_table(sql, "users")
    assert out == f'SELECT "{lit}" AS x FROM users', (sql, out)


@given(_SOUPQ)
@settings(max_examples=200, deadline=None)
def test_extract_tables_dq_literal_never_fabricates(a):
    """extractor._scan_text twin: a double-quoted literal containing
    'FROM ghost' soup must neither fabricate a table reference nor
    hide the real one (r16 verdict: extract_tables('SELECT "x FROM
    ghost" FROM real_t') returned ['ghost', 'real_t'])."""
    from miniodb_spark.extractor import extract_tables

    sql = f'SELECT "{_dq("FROM ghost " + a)}" FROM real_t'
    assert extract_tables(sql) == ["real_t"], sql


@given(_SOUPQ, _SOUPQ)
@settings(max_examples=200, deadline=None)
def test_raw_literal_soup_never_fabricates_a_bound(planner, a, b):
    """Raw-string flavor: r'...' literals (no backslash escapes —
    content is raw) carrying keyword soup never give a condition.
    Content keeps quotes out (a quote would terminate a raw literal;
    there is no in-literal escape for it)."""
    ra = a.replace("'", " ")
    rb = b.replace("'", " ")
    sql = f"SELECT r'{ra}', r'{rb}' FROM t"
    assert conditions(planner, sql) == {}, sql


@given(_SOUPQ)
@settings(max_examples=300, deadline=None)
def test_blanker_is_length_preserving_and_idempotent(s):
    """_blank_string_literals: length-preserving (position-map
    soundness), idempotent (blanking blanked text changes nothing),
    and every non-literal byte survives unchanged (the stripper's
    output is always a subsequence of the input)."""
    from miniodb_spark.gate import (
        _blank_string_literals, _strip_string_literals,
    )

    b = _blank_string_literals(s)
    if b is None:
        return
    assert len(b) == len(s), (s, b)
    b2 = _blank_string_literals(b)
    assert b2 is not None and len(b2) == len(b)
    # stripper output is a subsequence of the raw input
    stripped = _strip_string_literals(s)
    it = iter(s)
    assert all(ch in it for ch in stripped), (s, stripped)
