"""In-memory span tracing for the traced benchmark run.

Spans are recorded from the benchmark's side only: :func:`Tracer.install`
wraps the public functions and methods of each engine module (and
``SparkSession.sql``), both on their defining object and wherever a
``miniodb_spark`` module imported the same function by name. Nothing in
the package is edited; :func:`Tracer.uninstall` puts every original back.

A span is ``(name, layer, start, end, parent, op, thread)``. Spans of one
benchmark operation share its op id; the op itself is the root span.
Self time is a span's duration minus the part of it its children cover.
Wrappers record only while ``Tracer.active`` is set, which the benchmark
sets for the ops it traces, so one run holds traced and untraced ops of
every kind and can compare the two.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics as st
import sys
import threading
import time
from collections import Counter, defaultdict

# (module[:Class], attributes, layer). Each layer name is the prefix of the
# per-layer metrics it feeds (see README.md, "Per-layer metrics").
TARGETS: list[tuple[str, tuple[str, ...], str]] = [
    ("miniodb_spark.gate", (
        "validate_query", "validate_table_name", "rewrite_legacy_from_table",
        "inject_limit", "extract_conjunctive_eq", "extract_conjunctive_keys",
        "extract_conjunctive_range", "extract_conjunctive_numeric_range",
        "extract_join_pruning_bindings"), "gate"),
    ("miniodb_spark.extractor", ("extract_tables", "analyze_complexity"), "extractor"),
    ("miniodb_spark.cache:QueryResultCache", ("get",), "cache.lookup"),
    ("miniodb_spark.cache:QueryResultCache", ("put", "snapshot_versions"), "cache.put"),
    ("miniodb_spark.cache:QueryResultCache", ("invalidate_table",), "cache.invalidate"),
    ("miniodb_spark.kv:FileKV", ("get", "put", "delete"), "kv"),
    ("miniodb_spark.kv:MutationLease", ("acquire", "release", "extend", "verify"), "kv.lease"),
    ("miniodb_spark.catalog:Catalog", ("refresh_if_changed",), "catalog.refresh"),
    ("miniodb_spark.catalog:Catalog", (
        "register_flush_schema", "touch", "commit_rewrite", "rollback_generation",
        "tombstone_generations"), "catalog.commit"),
    ("miniodb_spark.catalog:Catalog", (
        "get_table", "ensure_table", "gen_schemas", "schema_of", "excluded_parts",
        "added_files_index", "next_generation_index"), "catalog.read"),
    ("miniodb_spark.engine:Engine", ("query", "query_full"), "spark.exec"),
    ("miniodb_spark.engine:Engine", ("query_df",), "engine.view_build"),
    ("miniodb_spark.engine:Engine", ("read_table", "read_persisted"), "engine.read_table"),
    ("miniodb_spark.engine:Engine", ("read_buffer",), "engine.read_buffer"),
    ("miniodb_spark.engine:Engine", ("point_lookup_df", "multi_range_lookup_df"), "engine.pruned_scan"),
    ("miniodb_spark.engine:Engine", ("write", "write_batch"), "engine.write"),
    ("miniodb_spark.engine:Engine", ("flush",), "engine.parquet_write"),
    ("miniodb_spark.engine:Engine", ("ingest_dataframe",), "engine.bulk_write"),
    ("miniodb_spark.engine:Engine", ("update", "delete"), "engine.mutate"),
    ("miniodb_spark.engine:Engine", ("compact",), "compaction"),
    ("miniodb_spark.zonemap:ZoneMapStore", ("prune", "prune_range", "load"), "zonemap.prune"),
    ("miniodb_spark.zonemap:ZoneMapStore", ("build",), "zonemap.build"),
    ("miniodb_spark.fs:LocalFS", (
        "exists", "is_dir", "makedirs", "remove_file", "remove_dir", "move", "copy",
        "read_bytes", "write_bytes", "create_bytes_if_absent"), "fs"),
    ("miniodb_spark.fs:LocalFS", ("list_files", "list_dirs", "list_files_mtime"), "fs.list"),
    ("miniodb_spark.buffer:WriteBuffer", ("add", "add_many", "remove"), "buffer.add"),
    ("miniodb_spark.buffer:WriteBuffer", ("drain", "requeue", "mark_flushed"), "buffer.drain"),
    ("miniodb_spark.buffer:WriteBuffer", ("rows_for",), "buffer.read"),
    ("miniodb_spark.schema", ("infer_batch_schema",), "schema.infer"),
    ("miniodb_spark.schema", ("batch_dataframe",), "schema.to_spark"),
    ("miniodb_spark.mutations", ("delete_rows", "gc_superseded", "upsert_dataframe"), "mutations.rewrite"),
    ("miniodb_spark.compaction", ("compact_table", "plan_table", "execute_plan"), "compaction"),
    ("pyspark.sql.session:SparkSession", ("sql",), "spark.plan"),
]


class Tracer:
    def __init__(self) -> None:
        # [name, layer, start, end, parent index, op id, thread id]
        self.spans: list[list] = []
        self.active = False
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._next_op = 0
        # per-op facts the wrappers see in arguments or return values,
        # keyed by op id: {fact: amount}
        self.facts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.file_bytes = None  # (table, gen, rel) -> bytes, set by the workload

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current_op(self) -> int | None:
        st = self._stack()
        return self.spans[st[0]][5] if st else None

    def begin(self, name: str, layer: str, op: int | None = None) -> int | None:
        if not self.active:
            return None
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            if op is None:
                op = self.spans[parent][5] if parent is not None else -1
            idx = len(self.spans)
            self.spans.append([name, layer, time.perf_counter(), None, parent, op,
                               threading.get_ident()])
        st.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx][3] = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def new_op(self) -> int:
        with self._lock:
            self._next_op += 1
            return self._next_op

    def fact(self, key: str, amount: float = 1.0) -> None:
        op = self.current_op()
        if op is not None:
            self.facts[op][key] += amount

    # -- patching ----------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str):
        tracer = self
        post = _POST_HOOKS.get(name)

        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            idx = tracer.begin(name, layer)
            try:
                out = fn(*args, **kwargs)
                if post is not None:
                    post(tracer, args, kwargs, out)
                return out
            finally:
                tracer.end(idx)

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def install(self) -> None:
        """Wrap every target; also rebind module-level aliases of the same
        function object inside ``miniodb_spark`` (``from .x import f``)."""
        if self._patches:
            return
        for target, attrs, layer in TARGETS:
            mod_name, _, cls_name = target.partition(":")
            owner = importlib.import_module(mod_name)
            if cls_name:
                owner = getattr(owner, cls_name)
            for attr in attrs:
                fn = owner.__dict__[attr] if cls_name else getattr(owner, attr)
                name = f"{cls_name or mod_name.rsplit('.', 1)[-1]}.{attr}"
                wrapped = self._wrap(fn, name, layer)
                self._patch(owner, attr, wrapped)
                if not cls_name:
                    for m in list(sys.modules.values()):
                        if (m is not owner and getattr(m, "__name__", "").startswith("miniodb_spark")
                                and m.__dict__.get(attr) is fn):
                            self._patch(m, attr, wrapped)
        orig_fsync = os.fsync

        def fsync(fd):
            if self.active:
                self.fact("fsyncs")
            return orig_fsync(fd)

        self._patch(os, "fsync", fsync)

    def _patch(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type)
                              else getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        self.active = False

    # -- analysis ----------------------------------------------------------

    def self_times(self) -> list[float]:
        """Self time (s) of every span: its duration minus the union of
        its children's intervals clipped to it."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s[4] is not None and s[3] is not None:
                children[s[4]].append((s[2], s[3]))
        out = []
        for i, s in enumerate(self.spans):
            if s[3] is None:
                out.append(0.0)
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(i, ())):
                lo, hi = max(lo, s[2]), min(hi, s[3])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append(s[3] - s[2] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({"name": s[0], "layer": s[1], "start": s[2], "end": s[3],
                                     "parent": s[4], "op": s[5], "thread": s[6]}) + "\n")


# post-hooks: facts visible only in a wrapped call's arguments or result


def _lookup_report(tracer, args, kwargs, out) -> None:
    rep = out[1]
    tracer.fact("zonemap.files_listed", rep["files_total"])
    tracer.fact("zonemap.files_scanned", rep["files_scanned"])


def _invalidated(tracer, args, kwargs, out) -> None:
    tracer.fact("cache.entries_invalidated", out)


def _touched(tracer, args, kwargs, out) -> None:
    add = kwargs.get("add_files") or {}
    tracer.fact("files_added", sum(len(v) for v in add.values()))


def _rewrite_committed(tracer, args, kwargs, out) -> None:
    table = args[1]
    if tracer.file_bytes is None:
        return
    for gen, rels in (kwargs.get("add_files") or {}).items():
        for rel in rels:
            tracer.fact("mutations.bytes_rewritten", tracer.file_bytes(table, gen, rel))


def _compacted(tracer, args, kwargs, out) -> None:
    tracer.fact("compaction.files_merged", sum(s.get("inputs", 0) for s in out or []))


def _buffered(tracer, args, kwargs, out) -> None:
    rows = args[1]
    tracer.fact("rows_buffered", len(rows) if isinstance(rows, list) else 1)


def _cache_get(tracer, args, kwargs, out) -> None:
    tracer.fact("cache.gets")
    if out is not None:
        tracer.fact("cache.hits")


_POST_HOOKS = {
    "Engine.point_lookup_df": _lookup_report,
    "Engine.multi_range_lookup_df": _lookup_report,
    "QueryResultCache.invalidate_table": _invalidated,
    "QueryResultCache.get": _cache_get,
    "Catalog.touch": _touched,
    "Catalog.commit_rewrite": _rewrite_committed,
    "Engine.compact": _compacted,
    "WriteBuffer.add": _buffered,
    "WriteBuffer.add_many": _buffered,
}


def median_or_0(values: list[float]) -> float:
    return st.median(values) if values else 0.0


class JobCounter:
    """Spark jobs / stages / tasks per benchmark op, through a job group per
    op and the status tracker (the pattern of tools/profile_r18.py)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.groups: dict[int, str] = {}

    def start(self, op: int) -> None:
        group = f"perfbench-{op}"
        self.groups[op] = group
        self.sc.setJobGroup(group, group)

    def stop(self) -> None:
        self.sc.setJobGroup(None, None)

    def counts(self) -> dict[int, tuple[int, int]]:
        tracker = self.sc.statusTracker()
        out = {}
        for op, group in self.groups.items():
            jobs = tracker.getJobIdsForGroup(group)
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numTasks
            out[op] = (len(jobs), tasks)
        return out


# -- per-layer metrics -------------------------------------------------------

# layers whose self time is reported per op, as ``<layer>.ms`` or, for a
# dotted layer name, ``<layer>_ms`` (``gate.ms``, ``cache.lookup_ms``)
TIMED_LAYERS = (
    "gate", "extractor", "cache.lookup", "cache.put", "cache.invalidate", "kv", "kv.lease",
    "catalog.refresh", "catalog.commit", "catalog.read", "engine.view_build",
    "engine.read_table", "engine.read_buffer", "engine.pruned_scan", "engine.write",
    "engine.parquet_write", "engine.bulk_write", "engine.mutate", "zonemap.prune",
    "zonemap.build", "fs", "buffer.add", "buffer.drain", "buffer.read", "schema.infer",
    "schema.to_spark", "mutations.rewrite", "compaction", "spark.plan", "spark.exec",
)
# layers timed per op of their own kind; every other layer is timed per op
# of the workload's primary kinds
OWN_KINDS = {"engine.mutate": ("update",), "mutations.rewrite": ("update",),
             "compaction": ("compact",), "engine.bulk_write": ("bulk",)}
QUERY_KINDS = ("lookup", "range", "agg")
FLUSH_KINDS = ("flush",)
WRITE_KINDS = ("write_batch", "write")

COUNT_METRICS = {  # name -> unit
    "kv.reads_per_query": "count", "cache.hit_ratio": "ratio",
    "cache.invalidations_per_write": "count", "zonemap.files_scanned_per_query": "count",
    "zonemap.skip_ratio": "ratio", "fs.calls_per_query": "count",
    "fs.list_calls_per_query": "count", "fs.calls_per_flush": "count",
    "files_per_flush": "count", "buffer.fsyncs_per_1k_rows": "count",
    "mutations.bytes_rewritten_per_update": "B", "compaction.files_merged": "count",
    "spark.jobs_per_query": "count", "spark.tasks_per_query": "count",
    "spark.jobs_per_flush": "count", "spark.jobs_per_pass": "count",
    "spark.tasks_per_pass": "count", "spark.exchanges_per_pass": "count",
    "trace.overhead_pct": "%",
}


def layer_metric(layer: str) -> str:
    return f"{layer}_ms" if "." in layer else f"{layer}.ms"


def per_layer_names(entries: list[str]) -> dict[str, str]:
    """Every per-layer metric and its unit; ``entries`` are the analytics
    workload's registry entries."""
    out = {layer_metric(layer): "ms" for layer in TIMED_LAYERS}
    out.update({f"queries.{e}.s": "s" for e in entries})
    out.update(COUNT_METRICS)
    return out


def layer_report(tracer: Tracer, rec, jobs: JobCounter, prim: tuple[str, ...],
                 entries: list[str], extra: dict) -> tuple[dict, dict]:
    """(per-layer metrics, detail) from the traced ops of one run.
    ``entries`` are the analytics workload's registry entries; ``extra``
    supplies the workload's exchanges per pass.

    A layer's time is its self time in the traced ops of each kind, scaled
    by that kind's attempted over traced ops (an estimate of the layer's
    time over the whole window), divided by the window's ops of the
    primary kinds ``prim`` (or of the layer's own kinds, ``OWN_KINDS``)."""
    selfs = tracer.self_times()
    kind_of = {op: k for k, _lat, _ok, op, *_ in rec.ops if op is not None}
    n_ops = Counter(kind_of.values())  # traced ops per kind
    tried = rec.attempted  # window ops per kind
    scale = {k: tried[k] / n for k, n in n_ops.items()}
    scale_other = sum(tried.values()) / max(1, sum(n_ops.values()))
    est_ms: dict[str, float] = defaultdict(float)
    per_kind: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    calls: Counter = Counter()  # (op kind, layer or span name) -> spans
    flush_fs = flushes = 0
    in_flush: dict[int, bool] = {}
    for i, s in enumerate(tracer.spans):
        name, layer, _t0, _t1, parent, op = s[:6]
        kind = kind_of.get(op, "other")
        calls[kind, layer] += 1
        calls[kind, name] += 1
        in_flush[i] = name == "Engine.flush" or (parent is not None and in_flush.get(parent, False))
        if name == "Engine.flush":
            flushes += 1
        elif in_flush[i] and layer in ("fs", "fs.list"):
            flush_fs += 1
        if layer == "op":
            continue  # the benchmark's own root span
        layer = "fs" if layer == "fs.list" else layer
        est_ms[layer] += selfs[i] * 1000 * scale.get(kind, scale_other)
        per_kind[kind][layer] += selfs[i] * 1000
    facts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for op, f in tracer.facts.items():
        for key, v in f.items():
            facts[kind_of.get(op, "other")][key] += v
    job_counts = jobs.counts()

    def n(kinds):
        return sum(n_ops[k] for k in kinds)

    def fsum(kinds, key):
        return sum(facts[k][key] for k in kinds)

    def csum(kinds, keys):
        return sum(calls[k, key] for k in kinds for key in keys)

    def jsum(kinds, idx):
        return sum(c[idx] for op, c in job_counts.items() if kind_of.get(op) in kinds)

    def ratio(a, b):
        return a / b if b else 0.0

    all_kinds = tuple(n_ops)
    queries = QUERY_KINDS + ("repeat",)
    analytic = tuple(k for k in all_kinds if k.startswith("queries."))
    passes = ratio(n(analytic), len(entries))  # traced passes
    listed = fsum(queries, "zonemap.files_listed")
    scanned = fsum(queries, "zonemap.files_scanned")
    rows = fsum(all_kinds, "rows_buffered")
    # per op kind, so traced and untraced ops compare like with like
    overheads = {}
    for k in prim:
        on, off = rec.lat_ms(k, traced=True), rec.lat_ms(k, traced=False)
        if on and off:
            overheads[k] = st.median(on) / st.median(off) - 1
    metrics = {layer_metric(layer): ratio(est_ms.get(layer, 0.0),
                                          sum(tried[k] for k in OWN_KINDS.get(layer, prim)))
               for layer in TIMED_LAYERS}
    metrics.update({f"queries.{e}.s": median_or_0(rec.lat_ms(f"queries.{e}")) / 1000
                    for e in entries})
    metrics.update({
        "kv.reads_per_query": ratio(csum(queries, ("FileKV.get",)), n(queries)),
        "cache.hit_ratio": ratio(fsum(all_kinds, "cache.hits"), fsum(all_kinds, "cache.gets")),
        "cache.invalidations_per_write": ratio(fsum(WRITE_KINDS, "cache.entries_invalidated"),
                                               n(WRITE_KINDS)),
        "zonemap.files_scanned_per_query": ratio(scanned, n(QUERY_KINDS)),
        "zonemap.skip_ratio": ratio(listed - scanned, listed),
        "fs.calls_per_query": ratio(csum(queries, ("fs", "fs.list")), n(queries)),
        "fs.list_calls_per_query": ratio(csum(queries, ("fs.list",)), n(queries)),
        "fs.calls_per_flush": ratio(flush_fs, flushes),
        "files_per_flush": ratio(fsum(FLUSH_KINDS, "files_added"), n(FLUSH_KINDS)),
        "buffer.fsyncs_per_1k_rows": ratio(1000 * fsum(all_kinds, "fsyncs"), rows),
        "mutations.bytes_rewritten_per_update": ratio(
            fsum(("update",), "mutations.bytes_rewritten"), n(("update",))),
        "compaction.files_merged": ratio(fsum(("compact",), "compaction.files_merged"),
                                         n(("compact",))),
        "spark.jobs_per_query": ratio(jsum(QUERY_KINDS, 0), n(QUERY_KINDS)),
        "spark.tasks_per_query": ratio(jsum(QUERY_KINDS, 1), n(QUERY_KINDS)),
        "spark.jobs_per_flush": ratio(jsum(FLUSH_KINDS, 0), n(FLUSH_KINDS)),
        "spark.jobs_per_pass": ratio(jsum(analytic, 0), passes),
        "spark.tasks_per_pass": ratio(jsum(analytic, 1), passes),
        "spark.exchanges_per_pass": extra.get("exchanges_per_pass", 0.0),
        "trace.overhead_pct": 100 * st.median(overheads.values()) if overheads else 0.0,
    })
    detail = {
        "traced_ops": dict(n_ops),
        "spans": len(tracer.spans),
        "layer_ms_per_op": {k: {layer: v / max(1, n_ops.get(k, 0)) for layer, v in sorted(d.items())}
                            for k, d in per_kind.items()},
        "overhead_by_kind": overheads,
    }
    return metrics, detail
