"""SQL-gate tests, modeled on the reference's injection suite
(/root/reference/internal/query/query_test.go:14-240), and the inputs the
gate's former predicate scanners were tested on, read through Spark's
analyzed plan."""

import pytest

from miniodb_spark.gate import (
    SQLGateError,
    inject_limit,
    quote_identifier,
    quote_literal,
    rewrite_legacy_from_table,
    validate_query,
    validate_table_name,
)
from plan_reader import bounds, conditions, planner  # noqa: F401 (fixture)


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT * FROM users",
        "select id, name from users where age > 20",
        "WITH t AS (SELECT id FROM users) SELECT * FROM t",
        "SELECT count(*) FROM orders GROUP BY status HAVING count(*) > 1",
        "SELECT * FROM users ORDER BY id LIMIT 10 OFFSET 5",
        "SELECT * FROM users;",  # trailing semicolon alone is fine
        "SELECT 'it''s ok' FROM users",
    ],
)
def test_admits_selects(sql):
    assert validate_query(sql)


@pytest.mark.parametrize(
    "sql",
    [
        "DROP TABLE users",
        "DELETE FROM users",
        "INSERT INTO users VALUES (1)",
        "UPDATE users SET a=1",
        "CREATE TABLE t (a int)",
        "ALTER TABLE users ADD COLUMN x int",
        "TRUNCATE TABLE users",
        "SELECT * FROM users UNION SELECT * FROM admins",
        "SELECT * FROM users; DROP TABLE users",
        "SELECT * FROM users -- comment",
        "SELECT * FROM users /* comment */",
        "SELECT * FROM users # comment",
        "SELECT xp_cmdshell('dir')",
        "EXEC sp_something",
        "",
        "   ",
        "S" * 10_001,
    ],
)
def test_rejects(sql):
    with pytest.raises(SQLGateError):
        validate_query(sql)


def test_keywords_inside_literals_allowed():
    assert validate_query("SELECT * FROM logs WHERE msg = 'please DROP this'")
    assert validate_query("SELECT * FROM logs WHERE msg = 'a -- b'")


def test_quote_helpers():
    assert quote_identifier('we"ird') == '"we""ird"'
    assert quote_literal("it's") == "'it''s'"
    assert quote_literal("a\x00b") == "'ab'"


def test_legacy_from_table_rewrite():
    assert (
        rewrite_legacy_from_table("SELECT * FROM table WHERE x=1", "users")
        == "SELECT * FROM users WHERE x=1"
    )
    # only the literal word "table"
    assert (
        rewrite_legacy_from_table("SELECT * FROM tables", "users")
        == "SELECT * FROM tables"
    )
    # never inside a string literal (r16: the rewrite previously
    # corrupted the literal's VALUE in results)
    assert (
        rewrite_legacy_from_table(
            "SELECT 'copied FROM table' AS x FROM table", "users")
        == "SELECT 'copied FROM table' AS x FROM users"
    )
    assert (
        rewrite_legacy_from_table(
            "SELECT 'FROM table' AS x FROM t", "users")
        == "SELECT 'FROM table' AS x FROM t"
    )


def test_inject_limit():
    assert inject_limit("SELECT * FROM t", 10) == "SELECT * FROM t LIMIT 10"
    assert inject_limit("SELECT * FROM t LIMIT 5", 10) == "SELECT * FROM t LIMIT 5"
    assert inject_limit("SELECT * FROM t", None) == "SELECT * FROM t"
    assert inject_limit("SELECT * FROM t;", 3) == "SELECT * FROM t LIMIT 3"


def test_table_name_validation():
    assert validate_table_name("users_2_x") == "users_2_x"
    assert validate_table_name("A1") == "A1"
    # every accepted name must be queryable: hyphens, digit-leading, and
    # reserved words are rejected at write time, not silently unreachable
    for bad in ["", "a b", "a;b", "x" * 256, 'a"b', "users-2", "2users",
                "_users", "select", "FROM"]:
        with pytest.raises(SQLGateError):
            validate_table_name(bad)


# -- predicates: the inputs of the former gate scanners, read from Spark's
# analyzed plan instead (miniodb_spark.lookup.plan_conditions over the
# ``planner`` store of plan_reader.py)


def test_conjunct_extractor_declines_between(planner):
    """A BETWEEN's embedded AND never slices out a fabricated conjunct:
    ``x BETWEEN 'a' AND 'z' = id`` is ``x BETWEEN 'a' AND ('z' = id)``,
    so only its ``x >= 'a'`` half bounds anything and nothing pins id;
    a BETWEEN no longer hides a real sibling conjunct."""
    sql = "SELECT * FROM t WHERE x BETWEEN 'a' AND 'z' = id"
    assert bounds(planner, sql, "id") is None
    assert bounds(planner, sql, "x") == ("a", True, None, True)
    # a BETWEEN whose bounds cast against the column prunes nothing,
    # and its real sibling still does
    sql2 = "SELECT * FROM t WHERE v BETWEEN 'a' AND 'z' AND id = 'k1'"
    assert conditions(planner, sql2) == {"t": [("id", ["k1"])]}
    sql3 = "SELECT * FROM t WHERE v >= 3 AND id = 'k1'"
    assert bounds(planner, sql3, "id") == ("k1", True, "k1", True)
    assert bounds(planner, sql3, "v") == (3, True, None, True)


def test_where_locator_not_spoofable_by_literals(planner):
    """Literal content is a Literal node to Spark's parser: a fake
    conjunct in a SELECT-list string fabricates nothing, a literal
    holding LIMIT or WHERE neither truncates nor shifts a real clause,
    and a column a derived table computes under a base column's name
    is never read as the base column."""
    assert conditions(planner, "SELECT 'WHERE v > 999 AND pad', 'x LIMIT y' FROM t") == {}
    assert conditions(planner, "SELECT 'WHERE id = ''zz'' AND p', 'x LIMIT y' FROM t") == {}
    assert conditions(planner, "SELECT 'WHERE id >= ''a'' AND p', 'x LIMIT y' FROM t") == {}
    assert conditions(planner, "SELECT 'WHERE id IN (''a'') AND p', 'x LIMIT y' FROM t") == {}
    assert bounds(planner, "SELECT * FROM t WHERE name = 'x LIMIT 5' AND v > 3", "v") == \
        (3, False, None, True)
    assert bounds(planner, "SELECT 'WHERE pad' FROM t WHERE v > 3", "v") == \
        (3, False, None, True)
    # what Spark cannot parse or analyze prunes nothing
    assert conditions(planner, "SELECT * FROM t WHERE v > 3 AND name = 'x") == {}
    assert conditions(planner, "SELECT * FROM t WHERE v > 3 WHERE v > 4") == {}
    assert conditions(planner, "SELECT * FROM (SELECT v + 1 AS v FROM t ORDER BY v) s "
                               "WHERE v > 9") == {}
    # a filter over a CTE reference reaches no view
    assert conditions(planner, "WITH c AS (SELECT * FROM t) SELECT * FROM c "
                               "WHERE id = 'k'") == {}
    # ... but one inside the definition does
    assert bounds(planner, "WITH c AS (SELECT * FROM t WHERE id = 'k') "
                           "SELECT * FROM c", "id") == ("k", True, "k", True)


def test_extract_conjunctive_numeric_range(planner):
    """Numeric comparisons on a long column: both operand sides,
    intersection, BETWEEN, equality, negative literals and literals past
    2**53 are read exactly as Catalyst analyzed them (``v < 10.5`` on a
    long is ``v < 11``); a comparison Catalyst answers by casting the
    column (an exponent or a string literal) prunes nothing."""
    def ex(where):
        return bounds(planner, f"SELECT * FROM t WHERE {where}", "v")

    assert ex("v > 5") == (5, False, None, True)
    assert ex("v >= 5 AND v < 10.5") == (5, True, 11, False)
    assert ex("3 <= v AND 9 > v") == (3, True, 9, False)
    assert ex("v > 2 AND v >= 2") == (2, False, None, True)
    assert ex("v > 1 AND v > 4") == (4, False, None, True)
    assert ex("v BETWEEN 3 AND 7") == (3, True, 7, True)
    assert ex("v BETWEEN 0.5 AND 1.5 AND k > 2") == (1, True, 1, True)
    assert ex("v BETWEEN 3 AND 7 AND timestamp BETWEEN TIMESTAMP '2024-01-01' "
              "AND TIMESTAMP '2024-01-02'") == (3, True, 7, True)
    assert ex("v BETWEEN -4 AND 4") == (-4, True, 4, True)
    assert ex("v >= -4") == (-4, True, None, True)
    assert ex("v = 7") == ex("7 = v") == ex("v = 7 AND v >= 5") == (7, True, 7, True)
    assert ex("v > 7 AND v = 7") == (7, False, 7, True)  # empty: skips all
    assert ex(f"v > {2**53}") == (2**53, False, None, True)
    assert ex("v = 9007199254740993") == (2**53 + 1, True, 2**53 + 1, True)
    for where in ("v > 5 OR v < 2", "NOT v > 5", "v > 1e3", "v > '5'", "w > 5"):
        assert ex(where) is None, where
    # a double column takes the literal as Spark casts it
    assert bounds(planner, "SELECT * FROM t WHERE d > 9007199254740993", "d") == \
        (float(2**53), False, None, True)
    # the drifted column (long, then double) prunes nothing
    assert conditions(planner, "SELECT * FROM t WHERE w > 5") == {}


def test_extract_join_pruning_bindings(planner):
    """Each table of a join, a comma join, a derived table or a CTE
    query takes the conjuncts on its own columns; a self-join, and any
    table read twice, takes none."""
    assert conditions(planner, "SELECT * FROM t a JOIN u b ON a.k = b.k "
                               "WHERE a.id >= 'x'") == {"t": [("id", "x", True, None, True)]}
    assert conditions(planner, "SELECT * FROM t, u WHERE t.k = u.k AND t.id >= 'k'") == \
        {"t": [("id", "k", True, None, True)]}
    assert conditions(planner, "SELECT * FROM t a, u b, r c WHERE a.k = b.k "
                               "AND c.id = 'r1'") == {"r": [("id", ["r1"])]}
    assert conditions(planner, "SELECT * FROM t a JOIN (SELECT * FROM u WHERE u.id = 'u1') b "
                               "ON a.k = b.k") == {"u": [("id", ["u1"])]}
    assert conditions(planner, "WITH c AS (SELECT 1 AS k) SELECT * FROM t JOIN c "
                               "ON t.k = c.k WHERE t.id = 'a0'") == \
        {"t": [("id", ["a0"])]}
    assert conditions(planner, "SELECT * FROM t WHERE id = 'a' AND v IN "
                               "(SELECT v FROM u)") == {"t": [("id", ["a"])]}
    for sql in ("SELECT * FROM t a JOIN t b ON a.k = b.k WHERE a.id = 'a0'",
                "SELECT * FROM t a, t b WHERE a.k = b.k AND a.id = 'a0'",
                "SELECT * FROM t WHERE id = 'a0' AND v IN (SELECT v FROM t)"):
        assert conditions(planner, sql) == {}, sql


def test_qualified_conjunct_extraction(planner):
    """A conjunct belongs to the table whose attribute it compares: the
    other side's conjunct never leaks across, and an unqualified column
    both sides have is Spark's analysis error, which prunes nothing."""
    sql = ("SELECT * FROM t a JOIN u b ON a.k = b.k "
           "WHERE a.id >= 'r1' AND b.id = 'z9' AND a.v > 5")
    assert bounds(planner, sql, "id") == ("r1", True, None, True)
    assert bounds(planner, sql, "v") == (5, False, None, True)
    assert bounds(planner, sql, "id", table="u") == ("z9", True, "z9", True)
    assert bounds(planner, sql, "v", table="u") is None
    assert conditions(planner, "SELECT * FROM t a JOIN u b ON a.k = b.k "
                               "WHERE id >= 'r1'") == {}
    assert bounds(planner, "SELECT * FROM t JOIN u ON t.k = u.k "
                           "WHERE t.id BETWEEN 'a' AND 'c'", "id") == ("a", True, "c", True)


def test_dq_literal_dialect_unit(planner):
    """Double-quoted segments are string literals under the pinned
    dialect (session.py sets doubleQuotedIdentifiers=false): the gate's
    lexer, the rewrites and the plan reader all treat them as data."""
    from miniodb_spark.gate import _blank_string_literals, _strip_string_literals

    assert conditions(planner, 'SELECT "x WHERE v > 999 AND pad", "y LIMIT z" FROM t') == {}
    assert bounds(planner, 'SELECT v FROM t WHERE x = "pad AND v > 999 AND pad"',
                  "v") is None
    assert bounds(planner, "SELECT v FROM t WHERE x = \"pad AND id = 'u1' AND pad\"",
                  "id") is None
    # deny-list side-benefit: a harmless dq constant spelling DROP is
    # data, not a statement
    assert validate_query('SELECT "DROP" AS a, v FROM t')
    # ...but real keywords outside literals still reject
    with pytest.raises(SQLGateError):
        validate_query('SELECT "x", v FROM t UNION SELECT 1, 2')
    # blanker: both flavors, length-preserving, escape-aware
    assert _blank_string_literals('a "b c" d') == 'a "   " d'
    assert _blank_string_literals("a 'b\\'c' d") == "a '    ' d"
    assert _blank_string_literals('x "unterminated') is None
    # stripper drops dq content too
    assert _strip_string_literals('SELECT "FROM ghost" FROM t') == \
        'SELECT "" FROM t'
    # legacy rewrite leaves dq literals byte-identical
    assert rewrite_legacy_from_table(
        'SELECT "copy FROM table x" FROM events', "deflt") == \
        'SELECT "copy FROM table x" FROM events'


def test_backslash_escape_dialect_unit(planner, spark):
    """escapedStringLiterals=false (pinned): backslash escapes are live
    inside literals, and a bound is the value Spark unescapes, never
    the raw text."""
    assert conditions(planner, r"SELECT 'a\' WHERE v > 999 AND pad \'b' FROM t") == {}
    unescaped = spark.sql(r"SELECT 'a\nb' AS s, 'a\z' AS z").first()
    assert bounds(planner, r"SELECT v FROM t WHERE id >= 'a\nb'", "id") == \
        (unescaped.s, True, None, True) == ("a\nb", True, None, True)
    assert conditions(planner, r"SELECT v FROM t WHERE id IN ('a\z')") == \
        {"t": [("id", [unescaped.z])]}
    assert bounds(planner, r"SELECT v FROM t WHERE v > 5 AND x = 'p\qr'", "v") == \
        (5, False, None, True)


def test_raw_string_literal_dialect_unit(planner):
    """Spark's r/R raw-string literals disable backslash escapes INSIDE
    the literal (r'a\\' is the two-char literal a\\; r'a''b' is two
    adjacent literals = 'ab'): the gate's lexer closes them where Spark
    does, and their content fabricates no bound."""
    from miniodb_spark.gate import _blank_string_literals

    assert _blank_string_literals(r"SELECT r'a\' AS x") == \
        "SELECT r'  ' AS x"
    assert conditions(planner, r"SELECT r'a\', 'x WHERE v > 999 AND pad' FROM t") == {}
    assert conditions(
        planner, r"SELECT r'a\', 'x WHERE v > 999 AND pad', r'b\' FROM t") == {}
    # raw soup inside a real clause: sibling bound survives, soup inert
    assert bounds(planner, r"SELECT v FROM t WHERE x = r'p AND v > 999 AND q' "
                           r"AND v < 5", "v") == (None, True, 5, False)
    assert bounds(planner, r"SELECT v FROM t WHERE x = r'p AND id = u1 AND q'",
                  "id") is None
    # identifier-adjacent r is NOT a raw prefix (typed-literal syntax,
    # which Spark itself rejects for unknown types): escapes stay live
    assert _blank_string_literals("SELECT xr'ab' AS x") == \
        "SELECT xr'  ' AS x"
    # doubled quotes inside raw: same closing position as Spark's
    # adjacent-literal parse
    assert _blank_string_literals("SELECT r'a''b' AS x") == \
        "SELECT r'    ' AS x"
