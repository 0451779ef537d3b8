"""Key lookups answered in the driver, with no Spark job.

A key lookup — GetRecord, or ``SELECT <*|columns> FROM t WHERE id =
'<key>' [LIMIT n]`` — keeps only a handful of files after zone-map
pruning. Planning and running a Spark job over them costs far more than
reading them: this module reads those files with
``pyarrow.parquet.read_table(filters=...)``, filters the write buffer's
rows in place, and renders each row as the JSON text Spark's ``toJSON``
would write, byte for byte (SURVEY §0: the reference answers point reads
in-process over its pruned Parquet objects).

It takes the same inputs as the Spark path: the files come from
``Catalog.live_files``, pruned by the zone-map brackets their add
entries carry (:meth:`Engine._prune_live`), each generation is
projected onto the cumulative schema as ``Engine._gen_scan`` does, and
buffered rows are typed over the whole buffer as ``Engine.read_buffer``
types them, then cast to ``Engine._hybrid_targets``' merge types. The
view's columns are the unpruned hybrid view's, whether or not a file
survives pruning. Anything it cannot reproduce exactly raises
:class:`Declined`, and the caller runs the unchanged Spark path.
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

_SCALAR = {"string", "long", "double", "boolean", "timestamp"}
_CLS = "org.apache.spark.sql.catalyst."
_LIMITS = (_CLS + "plans.logical.GlobalLimit", _CLS + "plans.logical.LocalLimit")
_LITERAL = _CLS + "expressions.Literal"
_ATTR = _CLS + "analysis.UnresolvedAttribute"
_NAME_RE = re.compile(r"^\[([A-Za-z0-9_]+)\]$")
# before 1900 a Parquet timestamp may be calendar-rebased on read
_MIN_TS_US = -2_208_988_800_000_000
_EPOCH = _dt.datetime(1970, 1, 1)

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
    """The lookup is outside what this path reproduces; ``reason``
    names why (counted in ``query_stats["lookups"]["declined"]``)."""

    def __init__(self, reason: str):
        super().__init__(reason)
        self.reason = reason


def parse_lookup(spark, sql: str, table: str) -> tuple[list[str] | None, int | None, str]:
    """``(columns or None for *, limit or None, key)`` when Spark's
    parsed (unanalyzed) plan of ``sql`` is exactly ``[GlobalLimit/
    LocalLimit n] → Project(* | distinct column names) → Filter('id =
    <string literal>) → UnresolvedRelation(table)``; else Declined."""
    try:
        nodes = json.loads(spark._jsparkSession.sessionState().sqlParser()
                           .parsePlan(sql).toJSON())
    except Exception:
        raise Declined("shape") from None
    limit = None
    if len(nodes) == 5 and (nodes[0]["class"], nodes[1]["class"]) == _LIMITS \
            and nodes[0]["limitExpr"] == nodes[1]["limitExpr"]:
        lit = nodes[0]["limitExpr"]
        if len(lit) == 1 and lit[0]["class"] == _LITERAL \
                and lit[0]["dataType"] == "integer":
            limit = int(lit[0]["value"])
            nodes = nodes[2:]
    if len(nodes) != 3 or [n["class"] for n in nodes] != [
            _CLS + "plans.logical.Project", _CLS + "plans.logical.Filter",
            _CLS + "analysis.UnresolvedRelation"]:
        raise Declined("shape")
    proj, filt, rel = nodes
    if rel["multipartIdentifier"] != f"[{table}]" or rel.get("options") \
            or rel["isStreaming"]:
        raise Declined("shape")
    cond = filt["condition"]
    if len(cond) != 3 or cond[0]["class"] != _CLS + "expressions.EqualTo" \
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


def lookup(engine, table: str, keys: list[str], columns: list[str] | None = None,
           limit: int | None = None, with_gen: bool = False) -> tuple[list[str], dict]:
    """JSON texts of the rows whose ``id`` is in ``keys``, as the Spark
    path's view (``with_gen``: GetRecord's, which keeps ``gen``) yields
    them, projected onto ``columns`` (None: all) and cut to ``limit``;
    plus the pruning report. Like the Spark path's collect, it stops
    after one row past ``max_result_rows``. Raises Declined."""
    from .engine import _type_name

    spark = engine.spark
    if "://" in engine.root:
        raise Declined("hadoop_fs")
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        raise Declined("timezone")
    cat = engine.catalog
    gens, cum = cat.gen_schemas(table), cat.schema_of(table)
    if any(t not in _SCALAR for g in gens for t in g.values()):
        raise Declined("type")
    buf = engine._buffers.get(table)
    brows = [r.to_dict() for r in buf.rows_for(table)] if buf is not None else []
    btypes: dict[str, str] = {}
    if brows:
        struct, name_map = dyn_schema.infer_batch_schema(brows)
        btypes = {f.name: _type_name(f.dataType) for f in struct.fields}
        btypes["dt"] = "string"
    try:
        selected, report = engine._prune_live(
            table, ("id",), engine._key_select(table, keys))
    except Exception:
        raise Declined("prune_error") from None
    if sum(len(sel) for _g, sel in selected) > MAX_FILES:
        raise Declined("too_many_files")
    # the view's columns, in the order Spark's union yields them (the
    # buffer alone only while nothing is persisted)
    targets = engine._hybrid_targets(cum, btypes)
    types = {c: targets.get(c, t) for c, t in cum.items()}
    if cum:
        types["dt"] = "string"
        if with_gen:
            types["gen"] = "long"
    for c, t in btypes.items():
        types.setdefault(c, t)
    if not types or "gen" in cum or "gen" in btypes or any(
            c not in types for c in columns or ()) \
            or len({c.lower() for c in types}) != len(types):
        raise Declined("shape")
    need = engine.max_result_rows + 1
    need = need if limit is None else min(limit, need)
    rows: list[dict] = []
    for gen, sel in selected:
        gdir = engine._gen_dir(table, gen)
        for rel, dt in sel:
            if len(rows) >= need:
                break
            try:
                tbl = _read(fsmod.join(gdir, rel), keys)
            except FileNotFoundError:
                raise Declined("file_missing") from None
            if tbl.num_rows:
                rows += _rows(tbl, gens[gen], {c: types[c] for c in cum},
                              dict(dt=dt, gen=gen) if with_gen else dict(dt=dt))
    if brows and len(rows) < need:
        matched = [r for r in brows if (str(r["id"]) if r["id"] else "_") in keys]
        if matched:
            tbl = dyn_schema.batch_table(matched, struct, name_map)
            out = _rows(tbl, btypes, {c: types[c] for c in btypes if c != "dt"}, {})
            for r in out:
                r["dt"] = (_EPOCH + _dt.timedelta(microseconds=r["timestamp"])) \
                    .date().isoformat()
            rows += out
    return render(spark, rows[:need], columns or list(types), types), report


def _read(path: str, keys: list[str]):
    import pyarrow.parquet as pq

    pred = ("id", "=", keys[0]) if len(keys) == 1 else ("id", "in", keys)
    return pq.read_table(path, filters=[pred], partitioning=None, use_threads=False)


def _rows(tbl, src: dict[str, str], want: dict[str, str], extra: dict) -> list[dict]:
    """``tbl``'s rows as dicts over ``want``'s columns: each column read
    as its physical type ``src[c]`` (NULL where absent), then cast to
    ``want[c]`` — only the widening long → double is exact in both
    engines, so any other cast declines."""
    import pyarrow as pa

    n, cols = tbl.num_rows, {}
    for c, t in want.items():
        s = src.get(c)
        if s is None or c not in tbl.column_names:
            cols[c] = [None] * n
            continue
        if s != t and (s, t) != ("long", "double"):
            raise Declined("cast")
        arr = tbl.column(c)
        ok = {"string": pa.types.is_string(arr.type),
              "long": arr.type == pa.int64(), "double": arr.type == pa.float64(),
              "boolean": arr.type == pa.bool_(),
              "timestamp": pa.types.is_timestamp(arr.type)
              and arr.type.tz in ("UTC", "+00:00") and arr.type.unit in ("ms", "us")}
        if not ok[s]:
            raise Declined("type")
        if s == "timestamp":
            vals = arr.cast(pa.timestamp("us", tz="UTC")).cast(pa.int64()).to_pylist()
            if any(v is not None and v < _MIN_TS_US for v in vals):
                raise Declined("type")
        else:
            vals = arr.to_pylist()
        cols[c] = [None if v is None else float(v) for v in vals] if s != t else vals
    return [dict({c: v[i] for c, v in cols.items()}, **extra) for i in range(n)]


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
