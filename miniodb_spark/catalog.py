"""Table catalog: configs + cumulative schema registry, kept in each
table's commit log.

The reference persists per-table operational config (buffer size,
flush interval, retention, id strategy) in Redis with a MinIO JSON
fallback (reference internal/metadata/table_config.go:17-108). Here a
table is its commit log, ``<root>/_system/tables/_history/<table>.jsonl``:
its config, its schema generations and its live files are all the fold
of the log's lines, Delta Lake style, and the catalog keeps that fold
in memory. Each line is one commit and carries only what the commit
changed:

- ``doc``, ``{"config", "generations"}``: written by ``create_table``
  and ``import_metadata``; replaces the keys it holds. Every line of
  the older format (the full doc on every line, next to a
  ``<table>.json`` that is no longer read) has this form, so old logs
  replay as they are.
- ``gens``, ``{index: schema}``: the generations the commit opened,
  widened or tombstoned, in the same line as the files that need them
  (Delta's ``metaData`` action, written only on change). A write that
  fails before its commit leaves no generation behind.
- ``add`` / ``rm``, ``{gen: [entries]}``: the files the commit added
  and took out of the table.

The catalog tracks the table's **schema generations** and the derived
**cumulative schema**. This is the scale-critical design point from
SURVEY §7: at 100 TB / millions of files, ``mergeSchema`` over full
file listings is unaffordable, and Spark's parquet reader cannot read
an INT64 column through a DOUBLE/STRING schema — so per-file type
divergence (which the reference tolerates and delegates to DuckDB's
``union_by_name`` coercion) must be modeled explicitly:

- every flushed file lives under ``<table>/gen=<N>/dt=<day>/``;
- within a generation each column has exactly one physical type
  (additive new columns are fine — missing reads as NULL);
- an incompatible type change (rare) starts a new generation;
- reads scan each generation with its exact schema and cast/align to
  the cumulative schema (long+double → double, anything else → string,
  matching the reference's everything-else-is-UTF8 fallback), then
  union. Partition pruning on ``dt`` still applies inside every
  generation prefix.

A file is live from the commit that adds it until the commit that
removes it; :meth:`Catalog.live_files` answers for the head and for any
past version, and no reader lists data directories.

An add entry also records what the writer knew of the file: its size in
bytes, its row count and a ``[min, max]`` bracket per zone-map column
(``{"path", "size", "rows", "stats": {column: [min, max]}}``; see
:mod:`miniodb_spark.zonemap`). :meth:`Catalog.live_entries` returns
them. An entry that is a bare path (the format written before entries
carried stats) is a file with no known size and no brackets.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections.abc import Iterable
from dataclasses import asdict, dataclass, field
from typing import Any


@dataclass
class TableConfig:
    name: str
    buffer_size: int = 5000
    flush_interval_s: float = 15.0
    retention_days: int | None = None
    backup_enabled: bool = False
    id_strategy: str = "uuid"  # uuid | snowflake | custom | user_provided
    auto_generate_id: bool = True
    id_prefix: str = ""
    max_id_length: int = 255
    # parquet codec: snappy (default) | zstd | gzip | lz4 | uncompressed
    # (reference storage/parquet_writer.go:112-127, snappy on the flush path)
    compression: str = "snappy"
    # extra zone-map columns beyond the engine defaults (id, timestamp):
    # lets a numeric payload column carry min/max file-skipping brackets
    # — the reference's configurable multi-column index
    # (query/file_pruning.go:107-255 prunes on any indexed column's
    # stored min/max). Brackets are computed when a file is committed,
    # so a file committed before a column joined this list has none
    # for it and is scanned by that column's lookups.
    zonemap_columns: list[str] = field(default_factory=list)
    properties: dict[str, str] = field(default_factory=dict)


def merge_type(a: str, b: str) -> str:
    """Cumulative-schema type merge: numeric widening, else string —
    the reference's everything-else-is-UTF8 fallback."""
    if a == b:
        return a
    if {a, b} == {"long", "double"}:
        return "double"
    return "string"


def cumulative_schema(gens: list[dict[str, str]]) -> dict[str, str]:
    """The column union of generation schemas, merged with
    :func:`merge_type`."""
    cum: dict[str, str] = {}
    for gen in gens:
        for col, typ in gen.items():
            cum[col] = merge_type(cum[col], typ) if col in cum else typ
    return cum


def _entry(e: str | dict) -> dict:
    """A log entry as a dict: a bare relpath is ``{"path": relpath}``."""
    return {"path": e} if isinstance(e, str) else e


def _apply_doc(doc: dict[str, Any], rec: dict) -> None:
    """Fold one commit record's ``doc`` (the keys it holds replace
    ``doc``'s) and ``gens`` ({index: schema}; the index one past the
    end appends) into ``doc``, ``{"config", "generations"}``. Schemas
    are never changed in place, only replaced."""
    for key, value in (rec.get("doc") or {}).items():
        doc[key] = list(value) if key == "generations" else value
    if rec.get("gens"):
        gens = doc.setdefault("generations", [])
        for i, schema in sorted((int(i), s) for i, s in rec["gens"].items()):
            if i == len(gens):
                gens.append(schema)
            else:
                gens[i] = schema


def _apply_files(live: dict[int, dict[str, dict]], rec: dict) -> None:
    """Fold one commit record's remove and add entries into ``live``,
    ``{gen: {relpath: add entry}}``."""
    for g, entries in (rec.get("rm") or {}).items():
        files = live.get(int(g), {})
        for e in entries:
            files.pop(_entry(e)["path"], None)
    for g, entries in (rec.get("add") or {}).items():
        files = live.setdefault(int(g), {})
        for e in map(_entry, entries):
            files[e["path"]] = e


def _log_entries(files: Iterable[str]) -> list[str | dict]:
    """The sorted log entries of ``files``: relpaths, or a mapping
    {relpath: what is known of the file}. A file with nothing known is
    written as its bare path."""
    known = files if isinstance(files, dict) else {}
    return [{"path": rel, **known[rel]} if known.get(rel) else rel
            for rel in sorted(files)]


def _record(
    add_files: dict[int, Iterable[str]] | None = None,
    remove_files: dict[int, list[str]] | None = None,
    gens: dict[int, dict[str, str]] | None = None,
) -> dict[str, Any]:
    """The body of a data commit: the generations it changed and its
    Delta-style add and remove entries, ``{gen: [entries]}`` — the
    files it added, and the ones it took out of the table (compaction
    inputs, rewritten partitions, retention, restore; they stay live
    for earlier versions). A remove is a bare relpath; an add carries
    what the writer knew of its file, if anything. Empty parts are
    left out."""
    rec: dict[str, Any] = {}
    if gens:
        rec["gens"] = {str(i): s for i, s in sorted(gens.items())}
    for kind, files in (("add", add_files), ("rm", remove_files)):
        entries = {str(g): _log_entries(rels)
                   for g, rels in (files or {}).items() if rels}
        if entries:
            rec[kind] = entries
    return rec


class _TableLog:
    """One table's commit log as read so far: every record in file
    order, and the table after the last of them — its doc (config and
    generation schemas) and its live file set."""

    def __init__(self) -> None:
        self.offset = 0  # bytes consumed (complete lines only)
        self.first = b""  # the first line: identifies this file
        self.records: list[dict[str, Any]] = []
        self.doc: dict[str, Any] = {"generations": []}
        self.config: TableConfig | None = None
        self.live: dict[int, dict[str, dict]] = {}

    @property
    def gens(self) -> list[dict[str, str]]:
        return self.doc["generations"]

    def apply(self, rec: dict[str, Any]) -> None:
        self.records.append(rec)
        _apply_doc(self.doc, rec)
        if "config" in (rec.get("doc") or {}):
            self.config = TableConfig(**self.doc["config"])
        _apply_files(self.live, rec)


class Catalog:
    def __init__(self, root: str):
        self.root = root
        self._lock = threading.RLock()
        self._stream_commits: dict[str, int] | None = None  # lazy-loaded
        # table -> its commit log, parsed and read incrementally (_log)
        self._logs: dict[str, _TableLog] = {}
        self._hist_dir = os.path.join(root, "_system", "tables", "_history")
        os.makedirs(self._hist_dir, exist_ok=True)
        self._load_all()

    def _load_all(self) -> None:
        for fn in os.listdir(self._hist_dir):
            if fn.endswith(".jsonl"):
                self._log(fn[: -len(".jsonl")])

    def _table(self, name: str) -> _TableLog:
        """The table's log as last read — no file I/O: the per-write
        reads below use it, after the writer's refresh_if_changed."""
        return self._logs.get(name) or _TableLog()

    def _commit(self, name: str, log: _TableLog, rec: dict[str, Any]) -> int:
        """Append ``rec`` as the table's next commit-log line and read
        it back (the catalog's state is the fold of the file). Returns
        its version. Appends are O_APPEND-atomic for these line sizes.

        ``log`` must have just been brought up to date (:meth:`_log`):
        the version is the last one in the on-disk log plus one, so
        versions stay monotone when ANOTHER driver advanced the shared
        history since our last commit — a duplicated version number
        would pin a later batch's files onto an earlier snapshot
        (tests/test_multiprocess.py). Truly simultaneous commits to one
        table still require the flush-lock/lease serialization the
        writers already use."""
        v = (log.records[-1]["v"] if log.records else 0) + 1
        line = json.dumps({"v": v, "ts_us": int(time.time() * 1e6), **rec},
                          separators=(",", ":"))
        with open(self._hist_path(name), "a", encoding="utf-8") as fh:
            fh.write(line + "\n")
        self._log(name)
        return v

    # -- commit log (time travel / audit / file membership) --------------

    def _hist_path(self, name: str) -> str:
        return os.path.join(self._hist_dir, f"{name}.jsonl")

    def _log(self, name: str) -> _TableLog:
        """The table's commit log, brought up to date. Reads only the
        complete, newline-terminated lines appended since the last call
        (another driver may be mid-append); starts over when the file
        shrank or no longer begins with the first line read (drop →
        recreate, here or in another driver)."""
        with self._lock:
            log = self._logs.get(name)
            try:
                fh = open(self._hist_path(name), "rb")
            except FileNotFoundError:
                if log is None or log.offset:
                    log = self._logs[name] = _TableLog()
                return log
            with fh:
                size = os.fstat(fh.fileno()).st_size
                if log is None or size < log.offset or (
                        log.first and fh.read(len(log.first)) != log.first):
                    log = self._logs[name] = _TableLog()
                if size > log.offset:
                    fh.seek(log.offset)
                    data = fh.read()
                    end = data.rfind(b"\n") + 1
                    lines = [ln for ln in data[:end].split(b"\n")
                             if ln.strip()]
                    # parse every line before applying any: a corrupt
                    # line raises here on each call, never half-applied
                    for rec in [json.loads(ln) for ln in lines]:
                        log.apply(rec)
                    log.first = log.first or (lines[0] if lines else b"")
                    log.offset += end
            return log

    def log_version(self, name: str) -> tuple[_TableLog, int]:
        """An opaque token that changes whenever the table's commit log
        does — (the log read, records read so far); a log read anew
        after drop → recreate never equals an older one. Keys caches of
        anything derived from the live file set."""
        log = self._log(name)
        return (log, len(log.records))

    def live_entries(
        self, name: str, version: int | None = None,
    ) -> dict[int, dict[str, dict]]:
        """``{gen: {relpath: add entry}}`` of the files live at
        ``version`` (default: the latest commit). The add/remove log is
        the only membership record: a file is live from the commit that
        adds it until the commit that removes it (added <= v < removed;
        a restore may add it again). A file on disk that no commit added
        — a crashed writer's output, a leftover a commit already removed
        — is not part of the table."""
        with self._lock:
            log = self._log(name)
            if version is None:
                live = log.live
            else:
                live = {}
                for rec in log.records:
                    if rec["v"] <= version:
                        _apply_files(live, rec)
            return {g: dict(files) for g, files in sorted(live.items())
                    if files}

    def live_files(
        self, name: str, version: int | None = None,
    ) -> dict[int, list[tuple[str, str]]]:
        """``{gen: [(relpath, dt), ...]}`` (sorted) of the files live at
        ``version`` (default: the latest commit); see
        :meth:`live_entries`."""
        return {g: [(rel, rel.split("/", 1)[0][len("dt="):])
                    for rel in sorted(files)]
                for g, files in self.live_entries(name, version).items()}

    def touch(
        self, name: str,
        add_files: dict[int, Iterable[str]] | None = None,
        remove_files: dict[int, list[str]] | None = None,
        schema: dict[int, dict[str, str]] | None = None,
    ) -> int:
        """Append a data commit: the files a writer added (``add_files``:
        {gen: relpaths}, or {gen: {relpath: {"size", "rows", "stats"}}}
        to record what the writer knows of each file) and removed
        (``remove_files``, {gen: [relpaths]}), plus the schema it wrote
        them with (``schema``, {gen: columns}, the generation
        :meth:`register_flush_schema` picked) as one commit-log record.
        A generation the schema opens or widens is registered by this
        same record, so it exists exactly when its files do. Returns
        its version."""
        with self._lock:
            log = self._log(name)
            if log.config is None:
                return self.current_version(name)
            return self._commit(name, log, _record(
                add_files, remove_files, self._widened(log, schema)))

    def current_version(self, name: str) -> int:
        """Last committed catalog version for ``name`` (0 = never
        committed), including versions committed by another driver."""
        log = self._log(name)
        return log.records[-1]["v"] if log.records else 0

    def history(self, name: str) -> list[dict[str, Any]]:
        """The table's commit log, oldest first: one
        ``{"v": int, "ts_us": int}`` per catalog flip (docs omitted —
        use :meth:`doc_at`)."""
        return [{"v": r["v"], "ts_us": r["ts_us"]}
                for r in self._log(name).records]

    def record_at(self, name: str, version: int) -> dict[str, Any] | None:
        """The commit-log record of ``version`` as written — only what
        that commit changed (last-line-wins on a duplicated version
        number). None when the version was never committed."""
        found = None
        for rec in self._log(name).records:
            if rec["v"] == version:
                found = rec
        return found

    def doc_at(self, name: str, version: int) -> dict[str, Any] | None:
        """The table doc, ``{"config", "generations"}``, as of
        ``version``: the fold of every record up to it. None when the
        version was never committed."""
        records = self._log(name).records
        if not any(rec["v"] == version for rec in records):
            return None
        doc: dict[str, Any] = {}
        for rec in records:
            if rec["v"] <= version:
                _apply_doc(doc, rec)
        return doc

    def version_as_of(self, name: str, ts_us: int) -> int | None:
        """Largest version committed at or before ``ts_us`` (Delta's
        TIMESTAMP AS OF resolution). None when the table had no commit
        by then."""
        return max((r["v"] for r in self._log(name).records
                    if r["ts_us"] <= ts_us), default=None)

    def added_files_index(self, name: str) -> dict[tuple[int, str], int]:
        """``{(gen, relpath): first_version_that_added_it}`` over the
        whole commit log."""
        return self._first_versions(name, "add")

    def removed_files_index(self, name: str) -> dict[tuple[int, str], int]:
        """``{(gen, relpath): first_version_that_removed_it}`` — the
        remove-entry twin of :meth:`added_files_index`."""
        return self._first_versions(name, "rm")

    def _first_versions(self, name: str, kind: str) -> dict[tuple[int, str], int]:
        idx: dict[tuple[int, str], int] = {}
        for rec in self._log(name).records:
            for g, entries in (rec.get(kind) or {}).items():
                for e in entries:
                    key = (int(g), _entry(e)["path"])
                    if key not in idx or rec["v"] < idx[key]:
                        idx[key] = rec["v"]
        return idx

    def refresh_if_changed(self, name: str) -> bool:
        """Bring one table's log up to date — multi-driver serving
        support: another process may have created, committed to or
        dropped it. Reads only what was appended since the last look
        (the reference pays a Redis metadata read per query instead).
        Returns True when the table moved."""
        with self._lock:
            before = self._logs.get(name)
            n = len(before.records) if before else 0
            log = self._log(name)
            return len(log.records) != n or (log is not before and n > 0)

    def create_table(self, name: str, config: TableConfig | None = None) -> TableConfig:
        with self._lock:
            log = self._log(name)
            if log.config is None:
                cfg = config or TableConfig(name=name)
                cfg.name = name
                self._commit(name, log, {"doc": {
                    "config": asdict(cfg), "generations": []}})
            return self._logs[name].config

    def get_table(self, name: str) -> TableConfig | None:
        with self._lock:
            return self._table(name).config

    def ensure_table(self, name: str) -> TableConfig:
        """Auto-create on first write (reference miniodb_service.go:278)."""
        return self.get_table(name) or self.create_table(name)

    def list_tables(self) -> list[str]:
        with self._lock:
            return sorted(n for n, log in self._logs.items() if log.config)

    def drop_table(self, name: str) -> bool:
        with self._lock:
            if self.get_table(name) is None:
                return False
            del self._logs[name]
            try:
                os.remove(self._hist_path(name))
            except FileNotFoundError:
                pass
            return True

    # -- schema generations ---------------------------------------------

    def register_flush_schema(self, name: str, columns: dict[str, str]) -> int:
        """Pick (or open) the generation a write with ``columns`` physical
        types goes into. Every writer of table data picks here first: a
        flush, a bulk ingest, and a rewrite's survivors (typed to the
        cumulative schema). Nothing is recorded: the writer passes
        ``schema={gen: columns}`` to the commit of its files
        (:meth:`touch`, :meth:`commit_rewrite`), which registers new
        columns and a new generation in the same line.

        The latest generation absorbs the write when no existing column
        changes type (additive evolution is free). A type conflict on any
        column opens a new generation. Returns the generation index."""
        with self._lock:
            gens = self._table(name).gens
            if gens and all(gens[-1].get(c, t) == t for c, t in columns.items()):
                return len(gens) - 1
            return len(gens)

    def _widened(self, log: _TableLog,
                 schema: dict[int, dict[str, str]] | None) -> dict[int, dict]:
        """The generations a commit writing ``schema`` ({gen: columns})
        opens or widens, each as its whole new schema."""
        out = {}
        for g, cols in (schema or {}).items():
            cur = log.gens[g] if g < len(log.gens) else None
            new = {**(cur or {}), **cols}
            if new != cur:
                out[g] = new
        return out

    # -- streaming batch commit registry ---------------------------------
    # foreachBatch guarantees a stable batch_id per epoch across retries;
    # recording the high-water mark per stream makes the sink idempotent
    # against Structured Streaming's replay-after-restart.

    def _stream_commits_path(self) -> str:
        return os.path.join(self.root, "_system", "stream_commits.json")

    def _load_stream_commits(self) -> dict[str, int]:
        if self._stream_commits is None:
            try:
                with open(self._stream_commits_path(), encoding="utf-8") as fh:
                    self._stream_commits = {k: int(v) for k, v in json.load(fh).items()}
            except (FileNotFoundError, json.JSONDecodeError):
                self._stream_commits = {}
        return self._stream_commits

    def last_committed_batch(self, stream_id: str) -> int:
        with self._lock:
            return self._load_stream_commits().get(stream_id, -1)

    def commit_stream_batch(self, stream_id: str, batch_id: int) -> None:
        with self._lock:
            commits = self._load_stream_commits()
            commits[stream_id] = max(commits.get(stream_id, -1), int(batch_id))
            path = self._stream_commits_path()
            tmp = path + ".tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(commits, fh)
            os.replace(tmp, path)

    # -- rewrite commit ----------------------------------------------------
    # A rewrite (delete, update's sweep, merge, collapse) writes its
    # survivors into the generation register_flush_schema picks, under
    # fresh file names no commit has added yet (readers read only files
    # the log holds live), then commits with ONE commit-log record: the
    # survivors' adds and the removes of the files it read. On an object
    # store there is no rename anywhere on the data path — matching the
    # reference's upload-then-delete (internal/query/query.go:1252-1413),
    # but with an atomic log append instead of a visible delete window;
    # the removed files are deleted later by the table's collector
    # (mutations.gc_superseded).

    def commit_rewrite(
        self, name: str,
        add_files: dict[int, Iterable[str]] | None = None,
        remove_files: dict[int, list[str]] | None = None,
        schema: dict[int, dict[str, str]] | None = None,
    ) -> int:
        """Atomic commit of a rewrite: the files it wrote (``add_files``
        and ``schema``, as :meth:`touch` takes them) and the files it
        read and replaces (``remove_files``, {gen: [relpaths]}) as one
        commit-log record. Returns its version.

        The commit checks the *on-disk* log, not a possibly-stale
        in-memory one: it refreshes first, and raises, committing
        nothing, if any file it removes is no longer live — another
        commit (a compaction, another driver's rewrite while our lease
        was stolen) replaced it since the rewrite read it, and
        publishing would lose that commit's rows or resurrect rows it
        deleted (Delta Lake's conflict check on the files a writer
        read). The rewrite's own files stay unreferenced and the
        collector deletes them after the grace age."""
        with self._lock:
            log = self._log(name)
            gone = sorted((g, rel) for g, rels in (remove_files or {}).items()
                          for rel in rels if rel not in log.live.get(g, {}))
            if gone:
                raise RuntimeError(
                    f"stale rewrite commit for {name!r}: {len(gone)} file(s) "
                    f"it replaces are no longer live, e.g. gen={gone[0][0]}/"
                    f"{gone[0][1]} (concurrent commit — lease lost?)")
            return self._commit(name, log, _record(
                add_files, remove_files, self._widened(log, schema)))

    def excluded_parts(self, name: str) -> set[tuple[int, str]]:
        """Always empty: no partition is excluded outside the commit
        log. Kept, like :meth:`rollback_generation` and
        :meth:`next_generation_index`, only because the benchmark
        tracer's target list names it."""
        return set()

    def rollback_generation(self, name: str, gen_idx: int) -> bool:  # tracer target only
        return False

    def next_generation_index(self, name: str) -> int:  # tracer target only
        return len(self._table(name).gens)

    def gen_schemas(self, name: str) -> list[dict[str, str]]:
        with self._lock:
            return [dict(g) for g in self._table(name).gens]

    def tombstone_generations(self, name: str, indices: list[int]) -> None:
        """Mark generations as dead ({} schema) after collapse_generations
        folded their data away, in one ``gens`` commit. Indices must
        stay stable (they name the gen=N directories), so entries are
        emptied, never removed; an empty schema is skipped by readers
        without a directory stat, so scan metadata cost stays O(live
        generations)."""
        with self._lock:
            log = self._log(name)
            dead = {i: {} for i in indices
                    if 0 <= i < len(log.gens) and log.gens[i]}
            if dead:
                self._commit(name, log, _record(gens=dead))

    def schema_of(self, name: str) -> dict[str, str]:
        """Cumulative schema: column union across generations with
        widening merge (long+double → double, else → string)."""
        with self._lock:
            return cumulative_schema(self._table(name).gens)

    # -- metadata backup/restore (BackupMetadata / RestoreMetadata) ------

    def export_metadata(self) -> dict[str, Any]:
        with self._lock:
            tables = {n: log for n, log in self._logs.items() if log.config}
            return {
                "tables": {n: asdict(log.config) for n, log in tables.items()},
                "generations": {n: [dict(g) for g in log.gens]
                                for n, log in tables.items()},
            }

    def import_metadata(
        self, doc: dict[str, Any],
        add_files: dict[str, dict[int, Iterable[str]]] | None = None,
        remove_files: dict[str, dict[int, list[str]]] | None = None,
    ) -> int:
        """Restore table configs and generations, one full-doc commit
        per table; ``add_files`` / ``remove_files`` ({table: {gen:
        ...}}, as :meth:`touch` takes them) make the same commit set
        each table's files (a data restore)."""
        with self._lock:
            n = 0
            for name, cfg in doc.get("tables", {}).items():
                self._commit(name, self._log(name), {
                    "doc": {"config": asdict(TableConfig(**cfg)),
                            "generations": doc.get("generations", {}).get(name, [])},
                    **_record((add_files or {}).get(name),
                              (remove_files or {}).get(name))})
                n += 1
            return n
