"""Key lookups and small aggregates answered in the driver, with no Spark
job, and the zone-map conditions every query path prunes by.

Two query shapes keep only a handful of files after zone-map pruning,
and planning and running a Spark job over them costs far more than
reading them (SURVEY §0: the reference answers these in-process over
its pruned Parquet objects):

- **Key lookups** — GetRecord, or ``SELECT <*|columns> FROM t WHERE id
  = '<key>' [LIMIT n]``. The files are read with
  ``pyarrow.parquet.read_table(filters=...)`` and the write buffer's
  rows filtered in place.
- **Filtered aggregates over one table** — Spark's parsed plan is
  ``[Limit] → Aggregate → [Filter] → t``. Catalyst analyzes the query
  over a schema-only temp view with the hybrid view's columns and types
  (:func:`aggregate`), so every name, type and implicit cast comes from
  the analyzer; ``pyarrow.compute`` and ``Table.group_by`` then evaluate
  the analyzed tree. Served: comparisons (``= <> < <= > >=``), ``IN``
  and ``IS [NOT] NULL`` between a column and a literal under
  AND/OR/NOT; the casts Catalyst puts on literals and the long → double
  widening; grouping by plain columns; ``count(*)``, ``count(col)``,
  ``sum``, ``avg`` (summed as doubles, as Spark's ``Average`` does),
  ``min`` and ``max``.

Every other query runs on Spark over views pruned by the same analysis:
:func:`plan_conditions` analyzes it over schema-only views of all its
tables and reads each table's conditions from the Filters of the
analyzed plan. One compiler, :func:`prune_conditions`, turns an
analyzed filter's conjuncts into zone-map conditions for both paths.

Both take the same inputs as the Spark path: the files come from
``Catalog.live_files``, pruned by the zone-map brackets their add
entries carry (:meth:`Engine._prune_live`), each
generation is projected onto the cumulative schema as
``Engine._gen_scan`` does, and buffered rows are typed over the whole
buffer as ``Engine.read_buffer`` types them, then cast to
``Engine._hybrid_targets``' merge types. The view's columns are the
unpruned hybrid view's, whether or not a file survives pruning. Rows
are rendered as the JSON text Spark's ``toJSON`` writes, byte for byte
(:func:`render`); double sums and averages equal Spark's up to the
order of summation.

Anything this module cannot reproduce exactly raises :class:`Declined`
and the caller runs the unchanged Spark path. The reasons:
``shape``, ``type``, ``cast``, ``timezone``, ``hadoop_fs``,
``file_missing`` and (counted by the engine) ``error``; lookups also
``time_travel``, ``too_many_files`` and ``prune_error``; aggregates
also ``nan`` (a compared, grouped or aggregated double column holds
NaN, which Spark orders above every number), ``overflow`` (a long sum
could leave int64, where ANSI Spark raises) and ``too_large`` (more
than :data:`MAX_ROWS` input rows).
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import re

from . import schema as dyn_schema
from . import fs as fsmod

# Past this many pruned files the Spark path answers. Measured on 4
# vCPUs over 320-row files (CHANGES.md has the table), pyarrow's CPU
# stays under the Spark path's to 384 files (1.7 ms per file against a
# ~330 ms job plus ~2 ms per file), but its single-threaded read gains on
# the job's parallel one in wall time: at 256 files it is 76% of it.
MAX_FILES = 256

# Past this many input rows (the pruned files' add-entry ``rows`` plus
# the buffered rows) an aggregate runs on Spark. Measured on 4 vCPUs
# with a five-group GROUP BY over a timestamp range as the pruned input
# grows from 1k to 1.3M rows (CHANGES.md has the table, medians of 15):
# the pyarrow path stays cheaper in both CPU and wall time over the
# whole range, about 35-60 ms of CPU up to 300k rows against the Spark
# job's 270-430 ms, and 188 ms against 841 ms CPU (192 against 409 ms
# wall) at 1M. No crossing showed, so the bound stays inside the
# measured range; it also keeps the columns a query reads, all held in
# driver memory at once, to tens of MB.
MAX_ROWS = 1_000_000

_SCALAR = {"string", "long", "double", "boolean", "timestamp"}
_CLS = "org.apache.spark.sql.catalyst."
_PLAN = _CLS + "plans.logical."
_EXPR = _CLS + "expressions."
_LIMITS = (_PLAN + "GlobalLimit", _PLAN + "LocalLimit")
_LITERAL = _EXPR + "Literal"
_ATTR = _CLS + "analysis.UnresolvedAttribute"
_FUNCTION = _CLS + "analysis.UnresolvedFunction"
_RELATION = _CLS + "analysis.UnresolvedRelation"
_NAME_RE = re.compile(r"^\[([A-Za-z0-9_]+)\]$")
# before 1900 a Parquet timestamp may be calendar-rebased on read
_MIN_TS_US = -2_208_988_800_000_000
_EPOCH = _dt.datetime(1970, 1, 1)
_INT64_MAX = (1 << 63) - 1

# the aggregate functions whose calls make a parsed projection an
# aggregate query (the analyzer turns it into an Aggregate)
_AGG_NAMES = {"count", "sum", "avg", "mean", "min", "max"}
_COMPARE = {_EXPR + "EqualTo": "equal", _EXPR + "LessThan": "less",
            _EXPR + "LessThanOrEqual": "less_equal",
            _EXPR + "GreaterThan": "greater",
            _EXPR + "GreaterThanOrEqual": "greater_equal"}
# a comparison read with its operands swapped
_FLIPPED = {"equal": "equal", "less": "greater", "less_equal": "greater_equal",
            "greater": "less", "greater_equal": "less_equal"}
_AGG_FNS = {_EXPR + "aggregate." + k: v for k, v in (
    ("Count", "count"), ("Sum", "sum"), ("Average", "avg"),
    ("Min", "min"), ("Max", "max"))}
_TS_TEXT_RE = re.compile(r"^\d{4}-\d{2}-\d{2}(?: \d{2}:\d{2}:\d{2}(?:\.\d{1,6})?)?$")
_DECIMAL_RE = re.compile(r"^decimal\(\d+,\d+\)$")

# Jackson's string escapes: the short forms, else \\u00XX in upper-case hex
_ESCAPES = {i: f"\\u{i:04X}" for i in range(0x20)}
_ESCAPES.update({0x08: "\\b", 0x09: "\\t", 0x0A: "\\n", 0x0C: "\\f",
                 0x0D: "\\r", 0x22: '\\"', 0x5C: "\\\\"})
_NON_FINITE = {math.inf: '"Infinity"', -math.inf: '"-Infinity"'}
# Double.toString texts by repr: JDK 17's is not always the shortest
# form Python prints, so each distinct value asks the JVM once; the
# method handle is kept per gateway (looking it up costs a few calls)
_DOUBLE_TEXT: dict[str, str] = {}
_TO_STRING: list = [None, None]


class Declined(Exception):
    """The query is outside what this path reproduces; ``reason``
    names why (counted in ``query_stats["lookups"|"aggregates"]
    ["declined"]``)."""

    def __init__(self, reason: str):
        super().__init__(reason)
        self.reason = reason


# -- the parsed plan: which path a query may take ---------------------------


def parse(spark, sql: str) -> list[dict]:
    """Spark's parsed (unanalyzed) plan of ``sql`` as its JSON nodes,
    parent before child; Declined("shape") when it does not parse."""
    try:
        return json.loads(spark._jsparkSession.sessionState().sqlParser()
                          .parsePlan(sql).toJSON())
    except Exception:
        raise Declined("shape") from None


def _limit(nodes: list[dict]) -> tuple[int | None, list[dict]]:
    """The plan's ``LIMIT n`` (None without one) and the nodes under it."""
    if len(nodes) >= 2 and (nodes[0]["class"], nodes[1]["class"]) == _LIMITS \
            and nodes[0]["limitExpr"] == nodes[1]["limitExpr"]:
        lit = nodes[0]["limitExpr"]
        if len(lit) == 1 and lit[0]["class"] == _LITERAL \
                and lit[0]["dataType"] == "integer":
            return int(lit[0]["value"]), nodes[2:]
    return None, nodes


def _is_relation(node: dict, table: str) -> bool:
    return node["class"] == _RELATION and node["multipartIdentifier"] == f"[{table}]" \
        and not node.get("options") and not node["isStreaming"]


def parse_lookup(nodes: list[dict], table: str) -> tuple[list[str] | None, int | None, str]:
    """``(columns or None for *, limit or None, key)`` when the parsed
    plan ``nodes`` (:func:`parse`) is exactly ``[GlobalLimit/LocalLimit
    n] → Project(* | distinct column names) → Filter('id = <string
    literal>) → UnresolvedRelation(table)``; else Declined."""
    limit, nodes = _limit(nodes)
    if len(nodes) != 3 or [n["class"] for n in nodes[:2]] != [
            _PLAN + "Project", _PLAN + "Filter"] or not _is_relation(nodes[2], table):
        raise Declined("shape")
    proj, filt, _rel = nodes
    cond = filt["condition"]
    if len(cond) != 3 or cond[0]["class"] != _EXPR + "EqualTo" \
            or (cond[1]["class"], cond[1].get("nameParts")) != (_ATTR, "[id]") \
            or cond[2]["class"] != _LITERAL or cond[2]["dataType"] != "string" \
            or not isinstance(cond[2]["value"], str):
        raise Declined("shape")
    items = proj["projectList"]
    if items == [[{"class": _CLS + "analysis.UnresolvedStar", "num-children": 0}]]:
        return None, limit, cond[2]["value"]
    columns = []
    for item in items:
        m = len(item) == 1 and item[0]["class"] == _ATTR \
            and _NAME_RE.match(item[0]["nameParts"])
        if not m or m.group(1) in columns:
            raise Declined("shape")
        columns.append(m.group(1))
    return columns, limit, cond[2]["value"]


def _is_key_column(tree) -> bool:
    node, _kids = tree
    return node["class"] == _ATTR and node["nameParts"].strip("[]").split(", ")[-1].lower() == "id"


def _is_string(tree) -> bool:
    node, _kids = tree
    return node["class"] == _LITERAL and node["dataType"] == "string" \
        and isinstance(node["value"], str)


def keys(nodes: list[dict]) -> list[str] | None:
    """The keys a query pins ``id`` to: the string literals of a
    top-level ``[alias.]id = '<key>'`` or ``[alias.]id IN ('<key>',
    ...)`` conjunct of a Filter in the parsed plan ``nodes``
    (:func:`parse`); None without one. Such a query is a key lookup,
    served or counted as declined."""
    for node in nodes:
        if node["class"] != _PLAN + "Filter":
            continue
        stack = [_tree(node["condition"])]
        while stack:
            tree = stack.pop()
            cls, kids = tree[0]["class"], tree[1]
            if cls == _EXPR + "And":
                stack += kids
            elif cls == _EXPR + "EqualTo":
                for col, lit in (kids, kids[::-1]):
                    if _is_key_column(col) and _is_string(lit):
                        return [lit[0]["value"]]
            elif cls == _EXPR + "In" and _is_key_column(kids[0]) \
                    and all(_is_string(k) for k in kids[1:]):
                return [k[0]["value"] for k in kids[1:]]
    return None


def has_filter(tree) -> bool:
    """Whether the parsed plan ``tree`` (:func:`parse`) holds a Filter
    anywhere, subqueries and CTE definitions included."""
    if isinstance(tree, dict):
        return tree.get("class") == _PLAN + "Filter" or any(
            has_filter(v) for v in tree.values())
    return isinstance(tree, list) and any(has_filter(v) for v in tree)


def _agg_call(node: dict) -> bool:
    return node["class"] == _FUNCTION and node["nameParts"].strip("[]").lower() in _AGG_NAMES


def is_aggregate(nodes: list[dict]) -> bool:
    """Whether the parsed plan is an aggregate query — it groups, or
    projects a call to count/sum/avg/min/max — which the aggregate path
    answers or counts as declined."""
    return any(n["class"] == _PLAN + "Aggregate" or n["class"] == _PLAN + "Project"
               and any(_agg_call(e) for item in n["projectList"] for e in item)
               for n in nodes)


# -- the hybrid view both paths read ----------------------------------------


def _check_env(engine) -> None:
    if "://" in engine.root:
        raise Declined("hadoop_fs")
    if engine.spark.conf.get("spark.sql.session.timeZone") != "UTC":
        raise Declined("timezone")


class _View:
    """The table as the Spark path's view sees it: generation schemas,
    the cumulative schema, the buffered rows with their inferred struct,
    and ``types``, the view's columns (in the order Spark's union yields
    them; the buffer alone only while nothing is persisted) and types."""

    def __init__(self, engine, table: str, with_gen: bool = False):
        from .engine import _type_name

        cat = engine.catalog
        self.gens, self.cum = cat.gen_schemas(table), cat.schema_of(table)
        buf = engine._buffers.get(table)
        self.brows = [r.to_dict() for r in buf.rows_for(table)] if buf is not None else []
        self.btypes: dict[str, str] = {}
        if self.brows:
            self.struct, self.name_map = dyn_schema.infer_batch_schema(self.brows)
            self.btypes = {f.name: _type_name(f.dataType) for f in self.struct.fields}
            self.btypes["dt"] = "string"
        targets = engine._hybrid_targets(self.cum, self.btypes)
        types = {c: targets.get(c, t) for c, t in self.cum.items()}
        if self.cum:
            types["dt"] = "string"
            if with_gen:
                types["gen"] = "long"
        for c, t in self.btypes.items():
            types.setdefault(c, t)
        if not types or "gen" in self.cum or "gen" in self.btypes \
                or len({c.lower() for c in types}) != len(types):
            raise Declined("shape")
        self.types = types

    def buffer_table(self, rows: list[dict] | None = None):
        """``rows`` (default: every buffered row) as the Arrow table
        ``read_buffer`` builds, typed by the whole buffer."""
        return dyn_schema.batch_table(
            self.brows if rows is None else rows, self.struct, self.name_map)


def lookup(engine, table: str, keys: list[str], columns: list[str] | None = None,
           limit: int | None = None, with_gen: bool = False) -> tuple[list[str], dict]:
    """JSON texts of the rows whose ``id`` is in ``keys``, as the Spark
    path's view (``with_gen``: GetRecord's, which keeps ``gen``) yields
    them, projected onto ``columns`` (None: all) and cut to ``limit``;
    plus the pruning report. Like the Spark path's collect, it stops
    after one row past ``max_result_rows``. Raises Declined."""
    _check_env(engine)
    view = _View(engine, table, with_gen)
    gens, cum, types = view.gens, view.cum, view.types
    if any(t not in _SCALAR for g in gens for t in g.values()):
        raise Declined("type")
    try:
        selected, report = engine._prune_live(
            table, ("id",), engine._range_select([("id", keys)]))
    except Exception:
        raise Declined("prune_error") from None
    if sum(len(sel) for _g, sel in selected) > MAX_FILES:
        raise Declined("too_many_files")
    if any(c not in types for c in columns or ()):
        raise Declined("shape")
    need = engine.max_result_rows + 1
    need = need if limit is None else min(limit, need)
    rows: list[dict] = []
    for gen, sel in selected:
        gdir = engine._gen_dir(table, gen)
        for rel, dt in sel:
            if len(rows) >= need:
                break
            pred = ("id", "=", keys[0]) if len(keys) == 1 else ("id", "in", keys)
            tbl = _read(fsmod.join(gdir, rel), filters=[pred])
            if tbl.num_rows:
                rows += _rows(tbl, gens[gen], {c: types[c] for c in cum},
                              dict(dt=dt, gen=gen) if with_gen else dict(dt=dt))
    if view.brows and len(rows) < need:
        matched = [r for r in view.brows if (str(r["id"]) if r["id"] else "_") in keys]
        if matched:
            out = _rows(view.buffer_table(matched), view.btypes,
                        {c: types[c] for c in view.btypes if c != "dt"}, {})
            for r in out:
                r["dt"] = (_EPOCH + _dt.timedelta(microseconds=r["timestamp"])) \
                    .date().isoformat()
            rows += out
    return render(engine.spark, rows[:need], columns or list(types), types), report


def _read(path: str, filters: list | None = None, columns: list[str] | None = None):
    """The file's rows passing ``filters`` (a pushed-down read), else
    its ``columns`` (a plain footer-and-pages read, a fraction of the
    dataset machinery's cost per file)."""
    import pyarrow.parquet as pq

    try:
        if filters is not None:
            return pq.read_table(path, filters=filters, partitioning=None,
                                 use_threads=False)
        return pq.ParquetFile(path).read(columns=columns, use_threads=False)
    except FileNotFoundError:
        raise Declined("file_missing") from None


def _arrow_type(t: str):
    import pyarrow as pa

    return {"string": pa.string(), "long": pa.int64(), "double": pa.float64(),
            "boolean": pa.bool_(), "timestamp": pa.timestamp("us", tz="UTC")}[t]


def _project(tbl, src: dict[str, str], want: dict[str, str]) -> dict:
    """``tbl``'s columns ``want`` ({column: view type}) as Arrow arrays
    of the view types: each read as its physical type ``src[c]`` (NULL
    where absent), then cast to ``want[c]`` — only the widening long →
    double is exact in both engines, so any other cast declines."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = {}
    for c, t in want.items():
        s = src.get(c)
        if s is None or c not in tbl.column_names:
            out[c] = pa.nulls(tbl.num_rows, _arrow_type(t))
            continue
        if s != t and (s, t) != ("long", "double"):
            raise Declined("cast")
        arr = tbl.column(c)
        ok = {"string": pa.types.is_string(arr.type),
              "long": arr.type == pa.int64(), "double": arr.type == pa.float64(),
              "boolean": arr.type == pa.bool_(),
              "timestamp": pa.types.is_timestamp(arr.type)
              and arr.type.tz in ("UTC", "+00:00") and arr.type.unit in ("ms", "us")}
        if not ok.get(s):
            raise Declined("type")
        if s == "timestamp":
            arr = arr.cast(pa.timestamp("us", tz="UTC"))
            low = pc.min(arr.cast(pa.int64())).as_py()
            if low is not None and low < _MIN_TS_US:
                raise Declined("type")
        elif s != t:
            arr = arr.cast(pa.float64(), safe=False)  # rounds as Java does
        out[c] = arr
    return out


def _rows(tbl, src: dict[str, str], want: dict[str, str], extra: dict) -> list[dict]:
    """``tbl``'s rows as dicts over ``want``'s columns (:func:`_project`),
    timestamps as microseconds since the epoch, plus ``extra``."""
    import pyarrow as pa

    cols = {c: (a.cast(pa.int64()) if want[c] == "timestamp" else a).to_pylist()
            for c, a in _project(tbl, src, want).items()}
    return [dict({c: v[i] for c, v in cols.items()}, **extra)
            for i in range(tbl.num_rows)]


# -- aggregates: Catalyst types the plan, pyarrow runs it -------------------


def aggregate(engine, table: str, sql: str, nodes: list[dict]) -> tuple[list[str], dict | None]:
    """JSON texts of an aggregate query's result rows (at most one past
    ``max_result_rows``), as Spark's ``toJSON`` writes them, plus the
    pruning report (None when no conjunct prunes). ``nodes`` is the query's parsed plan
    (:func:`parse`); only ``[Limit] → Aggregate|Project → [Filter] →
    UnresolvedRelation(table)`` with no DISTINCT or FILTER clause pays
    for analysis. Raises Declined."""
    _check_env(engine)
    limit, top = _limit(nodes)
    if [n["class"] for n in top[1:-1]] not in ([], [_PLAN + "Filter"]) \
            or top[0]["class"] not in (_PLAN + "Aggregate", _PLAN + "Project") \
            or not _is_relation(top[-1], table) or any(
                n["class"] == _FUNCTION and (n.get("isDistinct") or n.get("filter"))
                for k in ("projectList", "aggregateExpressions")
                for item in top[0].get(k, ()) for n in item):
        raise Declined("shape")
    view = _View(engine, table)
    plan = _Plan(engine, table, view, limit, *_analyzed(engine, table, view, sql))
    return plan.run(engine, table, view)


def analyze(engine, views: dict, sql: str) -> tuple:
    """``(plan, names)``: ``sql``'s analyzed plan (the JVM object),
    resolved over a schema-only temp view per table of ``views``
    (``{table: _View}``) with the hybrid view's columns and types, and
    per table ``{exprId: column}`` of its view's attributes.

    The views are registered under the tables' names, so they hold the
    engine's per-session view lock from the registration through the
    analysis, like :meth:`Engine.query_df`; each empty DataFrame and its
    attributes are kept per table and schema. Declined("shape") when
    the query does not analyze: the Spark path raises the error."""
    from .engine import _parse_type
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    hits = {}
    for table, view in views.items():
        key = tuple(view.types.items())
        hit = engine._schema_views.get(table)
        if hit is None or hit[0] != key:
            df = engine.spark.createDataFrame([], T.StructType([
                T.StructField(c, _parse_type(t), True) for c, t in view.types.items()]))
            out = df._jdf.queryExecution().analyzed().output()
            attrs = [out.apply(i) for i in range(out.size())]
            hit = engine._schema_views[table] = (
                key, df, {a.exprId().id(): a.name() for a in attrs})
        hits[table] = hit
    jspark = engine.spark._jsparkSession
    with engine._view_lock:
        for table, hit in hits.items():
            hit[1]._jdf.createOrReplaceTempView(table)
        try:
            plan = jspark.sql(sql).queryExecution().analyzed()
        except AnalysisException:
            # the query's own error: the Spark path raises it to the caller
            raise Declined("shape") from None
        finally:
            for table in hits:
                jspark.catalog().dropTempView(table)
    return plan, {table: hit[2] for table, hit in hits.items()}


def _analyzed(engine, table: str, view: _View, sql: str) -> tuple:
    """``(grouping, aggregates, condition, names)`` of ``sql``'s
    analyzed ``[Limit] → Aggregate → [Filter] → view`` plan
    (:func:`analyze`), each expression as its JSON nodes (condition None
    without a filter), plus the view's ``{exprId: column}``. Each
    expression is fetched on its own: the whole plan's JSON, which
    spells out every view column, passes 8 KB on a wide table, and a
    py4j reply that size can stall ~40 ms on the socket."""
    plan, names = analyze(engine, {table: view}, sql)
    name = plan.nodeName()
    while name in ("GlobalLimit", "LocalLimit"):
        plan = plan.child()
        name = plan.nodeName()
    if name != "Aggregate":
        raise Declined("shape")
    child = plan.child()
    condition = None
    if child.nodeName() == "Filter":
        condition = json.loads(child.condition().toJSON())
        child = child.child()
    if child.nodeName() != "SubqueryAlias":
        raise Declined("shape")

    def exprs(seq):
        return [json.loads(seq.apply(i).toJSON()) for i in range(seq.size())]

    return (exprs(plan.groupingExpressions()), exprs(plan.aggregateExpressions()),
            condition, names[table])


def _tree(flat: list[dict]):
    """An expression's JSON nodes (pre-order, ``num-children`` each) as
    nested ``(node, [children])``."""
    it = iter(flat)

    def build():
        node = next(it)
        return node, [build() for _ in range(node["num-children"])]

    return build()


def _literal(node: dict, want: str):
    """A Literal's value in the engine's representation of type ``want``
    (timestamps as microseconds), through the cast Catalyst put on it
    when its own type differs; Declined("cast") for a cast whose result
    this module does not reproduce exactly."""
    t, v = node["dataType"], node["value"]
    if v is None:
        return None
    if t == want == "string":
        return v
    if t == want == "boolean":
        return v == "true"
    if t in ("integer", "long") and want in ("long", "double"):
        return int(v) if want == "long" else float(int(v))
    if t == "double" and want == "double":
        return float(v)
    if _DECIMAL_RE.match(t) and want == "double":
        # Decimal.toDouble is BigDecimal.doubleValue: correctly rounded
        return float(v)
    if t == want == "timestamp" or (t, want) == ("string", "timestamp"):
        # a timestamp literal prints in the (UTC) session zone; a string
        # casts the same way when it has exactly this form
        if not _TS_TEXT_RE.match(v):
            raise Declined("cast")
        d = _dt.datetime.fromisoformat(v)
        return (d - _EPOCH) // _dt.timedelta(microseconds=1)
    raise Declined("cast")


def _operand(tree, column):
    """``("col", name, type)`` — a column, which ``column(node)`` names,
    possibly widened long → double — or ``("lit", value, type)``."""
    node, kids = tree
    cls = node["class"]
    if cls == _EXPR + "Cast" and kids[0][0]["class"] == _LITERAL:
        return "lit", _literal(kids[0][0], node["dataType"]), node["dataType"]
    if cls == _LITERAL:
        t = node["dataType"]
        return "lit", _literal(node, t), t
    if cls == _EXPR + "Cast":
        inner = kids[0][0]
        if inner["class"] != _EXPR + "AttributeReference":
            raise Declined("shape")
        src, dst = inner["dataType"], node["dataType"]
        if src != dst and (src, dst) != ("long", "double"):
            raise Declined("cast")
        return "col", column(inner), dst
    if cls == _EXPR + "AttributeReference":
        return "col", column(node), node["dataType"]
    raise Declined("shape")


def _comparison(tree, column):
    """A column-vs-literal comparison or IN list as ``("cmp", op,
    column, type, value)`` or ``("in", column, type, values)``
    (:func:`_operand` resolves the operands); else Declined."""
    node, kids = tree
    cls = node["class"]
    if cls in _COMPARE:
        a, b = _operand(kids[0], column), _operand(kids[1], column)
        op = _COMPARE[cls]
        if a[0] == "lit":
            a, b, op = b, a, _FLIPPED[op]
        if (a[0], b[0]) != ("col", "lit") or a[2] != b[2]:
            raise Declined("shape")
        return "cmp", op, a[1], a[2], b[1]
    if cls == _EXPR + "In":
        a = _operand(kids[0], column)
        items = [_operand(k, column) for k in kids[1:]]
        if a[0] != "col" or any(i[0] != "lit" or i[2] != a[2] for i in items):
            raise Declined("shape")
        return "in", a[1], a[2], [i[1] for i in items]
    raise Declined("shape")


def _between(tree):
    """A BETWEEN as the ``>= AND <=`` it analyzes to: its replacement, a
    ``With`` expression, with its one common expression (the BETWEEN's
    input) put back in place of every reference; Declined for any other
    shape."""
    try:
        ((with_node, (main, (_def, (common,)))),) = tree[1]
    except ValueError:
        raise Declined("shape") from None
    if with_node["class"] != _EXPR + "With":
        raise Declined("shape")

    def inline(t):
        n, ks = t
        if n["class"] == _EXPR + "CommonExpressionRef":
            return common
        return n, [inline(k) for k in ks]

    return inline(main)


def prune_conditions(condition: list[dict], names: dict[int, str], types: dict[str, str],
                     gens: list[dict], zcols, utc: bool) -> list[tuple]:
    """``[(column, lo, lo_incl, hi, hi_incl) | (column, [values])]``, the
    zone-map conditions (:meth:`Engine._range_select`; an equality is a
    one-value list) of an analyzed filter's top-level conjuncts (``condition``: its JSON nodes; a
    ``BETWEEN`` reads as the two comparisons it analyzes to) that compare
    a zone-map column of a view, uncast, with a non-NULL literal.
    ``names`` maps the view's attributes (by exprId) to its columns, so a
    conjunct on another table's column, or on a column a subquery
    computes under the same name, is left out; so is every conjunct this
    cannot compile, which only loosens pruning. A column whose type
    differs between generations is left out too (its brackets hold the
    physical values, the filter compares the widened ones), and a
    timestamp unless the session zone is UTC (``utc``), the zone the
    brackets and ``dt=`` directories are in."""
    def column(node: dict) -> str:
        name = names.get(node["exprId"]["id"])
        if name is None or types[name] not in _SCALAR or node["dataType"] != types[name]:
            raise Declined("shape")
        return name

    stack, out = [_tree(condition)], []
    while stack:
        tree = stack.pop()
        try:
            cls = tree[0]["class"]
            if cls == _EXPR + "And":
                stack += tree[1]
                continue
            if cls == _EXPR + "Between":
                stack.append(_between(tree))
                continue
            p = _comparison(tree, column)
        except Declined:
            continue
        col, t = (p[2], p[3]) if p[0] == "cmp" else (p[1], p[2])
        if col not in zcols or t != types[col] or any(g.get(col, t) != t for g in gens) \
                or (t == "timestamp" and not utc):
            continue
        if p[0] == "in":
            if None not in p[3]:
                out.append((col, [_bracket_value(v, t) for v in p[3]]))
            continue
        _, op, _c, _t, v = p
        if v is None or (t == "double" and math.isnan(v)):
            continue
        v = _bracket_value(v, t)
        out.append((col, [v]) if op == "equal" else (col, *{
            "less": (None, True, v, False), "less_equal": (None, True, v, True),
            "greater": (v, False, None, True), "greater_equal": (v, True, None, True)}[op]))
    return out


# the nodes a Filter may reach a view through for its conjuncts to prune
# that view's files: each passes the view's rows, or NULL-extends them,
# unchanged (a NULL fails every compiled condition)
_THROUGH = {"Project", "Filter", "Join", "SubqueryAlias"}


def plan_conditions(engine, tables: list[str], sql: str) -> dict[str, list[tuple]]:
    """``{table: zone-map conditions}`` (:func:`prune_conditions`) for the
    Spark path's views of ``sql``, from its analyzed plan
    (:func:`analyze`). A table is pruned only when its view occurs in
    the plan exactly once, subqueries and CTE definitions included: one
    view serves every occurrence, and a conjunct constrains one. Its
    conditions come from the top-level conjuncts of every deterministic
    Filter that reaches the view through nothing but Project, Filter,
    Join and SubqueryAlias nodes. Each such conjunct drops every row of
    the Filter whose view row fails it, so a view that keeps only the
    files that can hold a passing row gives the query the same answer.
    Raises Declined."""
    views = {t: _View(engine, t) for t in tables}
    plan, names = analyze(engine, views, sql)
    counts: dict[str, int] = {}
    filters = []

    def visit(node) -> set:
        """The views ``node`` reaches through :data:`_THROUGH` nodes."""
        name = node.nodeName()
        subs = node.subqueries()
        for i in range(subs.size()):
            visit(subs.apply(i))
        if name == "View":
            view = node.desc().identifier().table().lower()
            counts[view] = counts.get(view, 0) + 1
            return {view}
        kids = node.children()
        reach = set()
        for i in range(kids.size()):
            reach |= visit(kids.apply(i))
        if name == "Filter" and reach:
            filters.append((node, reach))
        return reach if name in _THROUGH else set()

    visit(plan)
    utc = engine.spark.conf.get("spark.sql.session.timeZone") == "UTC"
    out: dict[str, list[tuple]] = {}
    for node, reach in filters:
        mine = [t for t in tables if t.lower() in reach and counts[t.lower()] == 1]
        if not mine or not node.deterministic():
            continue
        condition = json.loads(node.condition().toJSON())
        for t in mine:
            conds = prune_conditions(condition, names[t], views[t].types, views[t].gens,
                                     engine._zonemap_cols_for(t), utc)
            if conds:
                out.setdefault(t, []).extend(conds)
    return out


class _Plan:
    """An analyzed ``[Limit] → Aggregate → [Filter] → view`` (its limit
    and the expressions :func:`_analyzed` fetched) compiled
    against the view: the filter as a predicate tree, the grouping
    columns, the output columns and their types, and the zone-map
    conditions the filter's top-level conjuncts give."""

    def __init__(self, engine, table: str, view: _View, limit: int | None,
                 grouping: list, aggregates: list, condition: list | None,
                 names: dict[int, str]):
        self.limit, self.types = limit, view.types
        self.columns: set[str] = set()  # the view columns it reads
        self.pred = self._predicate(_tree(condition)) if condition else None
        self.compared = set(self.columns)  # ... of which the filter compares
        keys = {}  # exprId → grouping column
        for item in grouping:
            node, _kids = _tree(item)
            if node["class"] != _EXPR + "AttributeReference":
                raise Declined("shape")
            keys[node["exprId"]["id"]] = self._column(node)
        self.keys = list(dict.fromkeys(keys.values()))
        self.outputs: list[tuple[str, str, tuple]] = []  # (name, type, what)
        for item in aggregates:
            node, kids = _tree(item)
            name = node["name"]
            if node["class"] == _EXPR + "Alias":
                node, kids = kids[0]
            if node["class"] == _EXPR + "AttributeReference":
                if node["exprId"]["id"] not in keys:
                    raise Declined("shape")
                col = keys[node["exprId"]["id"]]
                self.outputs.append((name, self.types[col], ("key", col)))
            else:
                self.outputs.append((name, *self._aggregate(node, kids)))
        if len({o[0] for o in self.outputs}) != len(self.outputs):
            raise Declined("shape")
        self.conds = prune_conditions(
            condition, names, view.types, view.gens, engine._zonemap_cols_for(table),
            utc=True) if condition else []

    def _column(self, node: dict) -> str:
        name = node["name"]
        t = self.types.get(name)
        if t is not None and t not in _SCALAR:
            raise Declined("type")
        if t is None or node["dataType"] != t:
            raise Declined("shape")
        self.columns.add(name)
        return name

    def _predicate(self, tree):
        node, kids = tree
        cls = node["class"]
        if cls in (_EXPR + "And", _EXPR + "Or"):
            return (cls.rsplit(".", 1)[1].lower(),
                    self._predicate(kids[0]), self._predicate(kids[1]))
        if cls == _EXPR + "Not":
            return "not", self._predicate(kids[0])
        if cls in (_EXPR + "IsNull", _EXPR + "IsNotNull"):
            kind, name, _t = _operand(kids[0], self._column)
            if kind != "col":
                raise Declined("shape")
            return "is_null" if cls.endswith(".IsNull") else "is_valid", name
        if cls in _COMPARE or cls == _EXPR + "In":
            return _comparison(tree, self._column)
        if cls == _EXPR + "AttributeReference" and node["dataType"] == "boolean":
            return "col", self._column(node)
        if cls == _LITERAL and node["dataType"] == "boolean":
            return "lit", _literal(node, "boolean")
        raise Declined("shape")

    def _aggregate(self, node: dict, kids) -> tuple[str, tuple]:
        """``(type, ("agg", fn, operand))`` of an AggregateExpression."""
        if node["class"] != _EXPR + "aggregate.AggregateExpression" \
                or node["isDistinct"] or len(kids) != 1 \
                or not node["mode"]["object"].endswith(".Complete$"):
            raise Declined("shape")
        fn_node, args = kids[0]
        fn = _AGG_FNS.get(fn_node["class"])
        if fn is None or len(args) != 1:
            raise Declined("shape")
        if fn == "count" and args[0][0]["class"] == _LITERAL:
            if args[0][0]["value"] is None:
                raise Declined("shape")
            return "long", ("agg", "count_all", None)
        kind, name, t = _operand(args[0], self._column)
        if kind != "col":
            raise Declined("shape")
        if fn == "count":
            return "long", ("agg", fn, (name, t))
        if fn in ("sum", "avg") and t not in ("long", "double"):
            raise Declined("type")
        out = {"sum": t, "avg": "double"}.get(fn, t)
        return out, ("agg", fn, (name, t))

    def run(self, engine, table: str, view: _View) -> tuple[list[str], dict]:
        import pyarrow as pa

        conds = self.conds
        selected, report = engine._prune_live(
            table, tuple(dict.fromkeys(c[0] for c in conds)), engine._range_select(conds))
        entries = engine.catalog.live_entries(table) if selected else {}
        rows = len(view.brows) + sum(
            entries.get(gen, {}).get(rel, {}).get("rows", math.inf)
            for gen, sel in selected for rel, _dt in sel)
        if rows > MAX_ROWS:
            raise Declined("too_large")
        want = {c: self.types[c] for c in self.columns}
        stored = {c: t for c, t in want.items() if c != "dt"}  # dt: the path's
        parts = []
        for gen, sel in selected:
            gdir = engine._gen_dir(table, gen)
            gcols = view.gens[gen]
            cols = [c for c in want if c in gcols]
            for rel, dt in sel:
                tbl = _read(fsmod.join(gdir, rel), columns=cols)
                got = _project(tbl, gcols, stored)
                if "dt" in want:
                    got["dt"] = pa.array([dt] * tbl.num_rows, pa.string())
                parts.append(_table(got, tbl.num_rows))
        if view.brows:
            btbl = view.buffer_table()
            got = _project(btbl, view.btypes, stored)
            if "dt" in want:
                import pyarrow.compute as pc

                got["dt"] = pc.strftime(btbl.column("timestamp"), format="%Y-%m-%d")
            parts.append(_table(got, btbl.num_rows))
        data = pa.concat_tables(parts) if parts else _table(
            {c: pa.array([], _arrow_type(t)) for c, t in want.items()}, 0)
        out = self._evaluate(data)
        need = engine.max_result_rows + 1
        need = need if self.limit is None else min(self.limit, need)
        names = [o[0] for o in self.outputs]
        return render(engine.spark, out[:need], names,
                      {o[0]: o[1] for o in self.outputs}), report if conds else None

    def _evaluate(self, data) -> list[dict]:
        """The aggregate's result rows over ``data`` (the view's columns
        this plan reads), filtered, grouped and aggregated."""
        import pyarrow as pa
        import pyarrow.compute as pc

        aggregated = {what[2][0] for _n, _t, what in self.outputs
                      if what[0] == "agg" and what[2]}
        for c in self.compared | set(self.keys) | aggregated:
            if self.types[c] == "double" and data.num_rows \
                    and pc.any(pc.is_nan(data.column(c))).as_py():
                raise Declined("nan")
        if self.pred is not None:
            data = data.filter(_eval(self.pred, data, self.types))
        args, specs = {}, []
        for i, (_name, _t, what) in enumerate(self.outputs):
            if what[0] != "agg":
                continue
            _, fn, arg = what
            if arg is not None:
                col, t = arg
                a = data.column(col)
                if t != self.types[col] or fn == "avg":
                    a = a.cast(pa.float64(), safe=False)
                if fn == "sum" and t == "long":
                    _check_long_sum(a)
                args[f"a{i}"] = a
            specs.append((i, fn))
        keys = {f"k{j}": (pc.add(data.column(c), 0.0) if self.types[c] == "double"
                          else data.column(c))  # one group for -0.0 and 0.0
                for j, c in enumerate(self.keys)}
        # no key: one row, also over no input (counts 0, the rest NULL)
        res = _grouped(_table({**keys, **args}, data.num_rows), list(keys), specs)
        res = {k: (c.cast(pa.int64()) if pa.types.is_timestamp(c.type) else c).to_pylist()
               for k, c in res.items()}
        cols = [res[f"k{self.keys.index(what[1])}"] if what[0] == "key" else res[f"r{i}"]
                for i, (_name, _t, what) in enumerate(self.outputs)]
        names = [o[0] for o in self.outputs]
        return [dict(zip(names, vals)) for vals in zip(*cols)]


def _table(cols: dict, n: int):
    """``cols`` as a table of ``n`` rows; with no column (``count(*)``
    alone) a NULL placeholder carries the row count."""
    import pyarrow as pa

    return pa.table(cols or {"": pa.nulls(n)})


def _bracket_value(v, t: str):
    """A literal as the zone-map brackets compare it: timestamps as
    naive UTC datetimes."""
    if t == "timestamp":
        return _EPOCH + _dt.timedelta(microseconds=v)
    return v


def _check_long_sum(a) -> None:
    """Declined("overflow") unless no partial sum of ``a`` can leave
    int64: ANSI Spark raises where pyarrow would wrap."""
    import pyarrow.compute as pc

    mm = pc.min_max(a)
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    if lo is not None and pc.count(a).as_py() * max(-lo, hi) > _INT64_MAX:
        raise Declined("overflow")


def _grouped(tbl, keys: list[str], specs: list[tuple[int, str]]) -> dict:
    """``{"k<j>": key values, "r<i>": result values}`` of ``tbl``
    grouped by ``keys``."""
    import pyarrow.compute as pc

    aggs, names = [], {}
    for i, fn in specs:
        if fn == "count_all":
            if ("count_all",) not in names.values():
                aggs.append(([], "count_all"))
            names[i] = ("count_all",)
        elif fn == "count":
            aggs.append((f"a{i}", "count", pc.CountOptions(mode="only_valid")))
            names[i] = (f"a{i}_count",)
        elif fn == "avg":
            aggs += [(f"a{i}", "sum"), (f"a{i}", "count", pc.CountOptions(mode="only_valid"))]
            names[i] = (f"a{i}_sum", f"a{i}_count")
        else:
            aggs.append((f"a{i}", fn))
            names[i] = (f"a{i}_{fn}",)
    res = tbl.group_by(keys, use_threads=False).aggregate(aggs)
    out = {k: res.column(k) for k in keys}
    for i, cols in names.items():
        out[f"r{i}"] = pc.divide(res.column(cols[0]), res.column(cols[1]).cast("double")) \
            if len(cols) == 2 else res.column(cols[0])
    return out


def _eval(p, tbl, types: dict[str, str]):
    """Predicate ``p`` over ``tbl`` as a boolean array, with SQL's
    three-valued logic (NULL where Spark's is NULL)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    kind = p[0]
    if kind == "and":
        return pc.and_kleene(_eval(p[1], tbl, types), _eval(p[2], tbl, types))
    if kind == "or":
        return pc.or_kleene(_eval(p[1], tbl, types), _eval(p[2], tbl, types))
    if kind == "not":
        return pc.invert(_eval(p[1], tbl, types))
    if kind in ("is_null", "is_valid"):
        return getattr(pc, kind)(tbl.column(p[1]))
    if kind == "col":
        return tbl.column(p[1])
    if kind == "lit":
        return pa.array([p[1]] * tbl.num_rows, pa.bool_())
    if kind == "cmp":
        _, op, col, t, v = p
        a = _typed(tbl.column(col), types[col], t)
        if t == "double" and v is not None and math.isnan(v):
            raise Declined("nan")
        return getattr(pc, op)(a, pa.scalar(v, _arrow_type(t)))
    _, col, t, values = p  # "in"
    a = _typed(tbl.column(col), types[col], t)
    if t == "double" and any(v is not None and math.isnan(v) for v in values):
        raise Declined("nan")
    hit = pc.is_in(a, value_set=pa.array([v for v in values if v is not None],
                                         _arrow_type(t)))
    hit = pc.if_else(pc.is_valid(a), hit, pa.scalar(None, pa.bool_()))
    if None in values:  # no match against a NULL in the list is NULL
        hit = pc.if_else(hit, hit, pa.scalar(None, pa.bool_()))
    return hit


def _typed(a, have: str, want: str):
    import pyarrow as pa

    return a.cast(pa.float64(), safe=False) if have != want else a


# -- JSON text as Spark writes it -------------------------------------------


def render(spark, rows: list[dict], columns: list[str], types: dict[str, str]) -> list[str]:
    """Rows as Spark's ``toJSON`` writes them: fields in ``columns``
    order, NULLs omitted, timestamps in the UTC session format cut to
    milliseconds, doubles as Java's ``Double.toString``."""
    fmt = {"string": _string, "long": str, "boolean": lambda v: "true" if v else "false",
           "timestamp": _timestamp, "double": _double_of(spark)}
    fields = [(c, _string(c) + ":", fmt[types[c]]) for c in columns]
    return ["{" + ",".join(k + f(r[c]) for c, k, f in fields if r.get(c) is not None) + "}"
            for r in rows]


def _string(s: str) -> str:
    return '"' + s.translate(_ESCAPES) + '"'


def _timestamp(us: int) -> str:
    d = _EPOCH + _dt.timedelta(microseconds=us)
    return '"' + d.isoformat(timespec="milliseconds") + 'Z"'


def _double_of(spark):
    def text(v: float) -> str:
        if v != v:
            return '"NaN"'
        if v in _NON_FINITE:
            return _NON_FINITE[v]
        key = repr(v)
        out = _DOUBLE_TEXT.get(key)
        if out is None:
            gateway = spark.sparkContext._gateway
            if _TO_STRING[0] is not gateway:
                _TO_STRING[:] = [gateway, spark._jvm.java.lang.Double.toString]
            if len(_DOUBLE_TEXT) >= 65_536:
                _DOUBLE_TEXT.clear()
            out = _DOUBLE_TEXT[key] = _TO_STRING[1](v)
        return out

    return text
