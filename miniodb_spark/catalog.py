"""Table catalog: configs + cumulative schema registry.

The reference persists per-table operational config (buffer size,
flush interval, retention, id strategy) in Redis with a MinIO JSON
fallback (/root/reference/internal/metadata/table_config.go:17-108).
Here the catalog is a directory of JSON files under
``<root>/_system/tables/`` plus an in-process dict — the same
three-level resolution (memory → file → default) without the external
services.

The catalog additionally tracks the table's **schema generations** and
the derived **cumulative schema**. This is the scale-critical design
point from SURVEY §7: at 100 TB / millions of files, ``mergeSchema``
over full file listings is unaffordable, and Spark's parquet reader
cannot read an INT64 column through a DOUBLE/STRING schema — so
per-file type divergence (which the reference tolerates and delegates
to DuckDB's ``union_by_name`` coercion) must be modeled explicitly:

- every flushed file lives under ``<table>/gen=<N>/dt=<day>/``;
- within a generation each column has exactly one physical type
  (additive new columns are fine — missing reads as NULL);
- an incompatible type change (rare) starts a new generation;
- reads scan each generation with its exact schema and cast/align to
  the cumulative schema (long+double → double, anything else → string,
  matching the reference's everything-else-is-UTF8 fallback), then
  union. Partition pruning on ``dt`` still applies inside every
  generation prefix.

Which files belong to the table is kept only in the per-table commit
log (``_history/<table>.jsonl``): each commit's add and remove entries,
Delta Lake style. A file is live from the commit that adds it until the
commit that removes it; :meth:`Catalog.live_files` answers for the head
and for any past version, and no reader lists data directories.
"""

from __future__ import annotations

import json
import os
import threading
import time
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
    # stored min/max). Sidecars self-heal when this changes (the
    # column-set reconfiguration rebuild in zonemap.build).
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


def _apply_files(live: dict[tuple[int, str], None], rec: dict) -> None:
    """Fold one commit record's remove and add entries into ``live``
    (an insertion-ordered set of ``(gen, relpath)``)."""
    for g, rels in (rec.get("rm") or {}).items():
        for rel in rels:
            live.pop((int(g), rel), None)
    for g, rels in (rec.get("add") or {}).items():
        for rel in rels:
            live[(int(g), rel)] = None


class _TableLog:
    """One table's commit log as read so far: every record in file
    order and the live file set after the last of them."""

    def __init__(self) -> None:
        self.offset = 0  # bytes consumed (complete lines only)
        self.first = b""  # the first line: identifies this file
        self.records: list[dict[str, Any]] = []
        self.live: dict[tuple[int, str], None] = {}

    def apply(self, rec: dict[str, Any]) -> None:
        self.records.append(rec)
        _apply_files(self.live, rec)


class Catalog:
    def __init__(self, root: str):
        self.root = root
        self._dir = os.path.join(root, "_system", "tables")
        os.makedirs(self._dir, exist_ok=True)
        self._configs: dict[str, TableConfig] = {}
        # table -> list of generation schemas [{col: type}, ...]
        self._generations: dict[str, list[dict[str, str]]] = {}
        self._lock = threading.RLock()
        self._stream_commits: dict[str, int] | None = None  # lazy-loaded
        # table -> (mtime_ns, size) of its json at last load/persist;
        # lets refresh_if_changed detect cross-process commits with a stat
        self._sigs: dict[str, tuple | None] = {}
        # table -> last committed catalog version (the commit-log line
        # count); versions start at 1 with the table's first persist
        self._versions: dict[str, int] = {}
        # table -> its commit log, parsed and read incrementally (_log)
        self._logs: dict[str, _TableLog] = {}
        self._hist_dir = os.path.join(self._dir, "_history")
        os.makedirs(self._hist_dir, exist_ok=True)
        self._load_all()

    # -- config persistence (memory -> json file -> default) ------------

    def _path(self, name: str) -> str:
        return os.path.join(self._dir, f"{name}.json")

    def _sig_of(self, path: str) -> tuple | None:
        try:
            st = os.stat(path)
            return (st.st_mtime_ns, st.st_size)
        except OSError:
            return None

    def _load_one(self, path: str) -> None:
        with open(path, encoding="utf-8") as fh:
            doc = json.load(fh)
        cfg = TableConfig(**doc.get("config", {}))
        self._configs[cfg.name] = cfg
        self._generations[cfg.name] = doc.get("generations", [])
        self._sigs[cfg.name] = self._sig_of(path)

    def _load_all(self) -> None:
        for fn in os.listdir(self._dir):
            if not fn.endswith(".json"):
                continue
            self._load_one(os.path.join(self._dir, fn))

    def _persist(
        self, name: str,
        add_files: dict[int, list[str]] | None = None,
        remove_files: dict[int, list[str]] | None = None,
    ) -> None:
        doc = {
            "config": asdict(self._configs[name]),
            "generations": self._generations.get(name, []),
        }
        tmp = self._path(name) + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(doc, fh, indent=1)
        os.replace(tmp, self._path(name))
        self._sigs[name] = self._sig_of(self._path(name))
        # commit log: every catalog flip appends the full (small) doc as
        # one JSONL line, giving an ordered history of table states and
        # the table's file membership (add/rm entries). Appends are
        # O_APPEND-atomic for these line sizes. The version number is
        # max(in-memory counter, last version in the log) + 1, with the
        # log re-read first, so versions stay monotone when ANOTHER
        # driver advanced the shared history since our last persist: a
        # duplicated version number would pin a later batch's files
        # onto an earlier snapshot (tests/test_multiprocess.py). Truly
        # simultaneous persists to one table still require the
        # flush-lock/lease serialization the writers already use.
        log = self._log(name)
        v = max(self._versions.get(name, 0),
                log.records[-1]["v"] if log.records else 0) + 1
        self._versions[name] = v
        rec: dict = {"v": v, "ts_us": int(time.time() * 1e6), "doc": doc}
        # Delta-style add and remove entries, {gen: [relpaths]}: the
        # files this commit added, and the ones it took out of the
        # table (compaction inputs, rewritten partitions, retention,
        # restore; they stay live for earlier versions). Recorded only
        # on the log line, never in the current-state json: a
        # per-commit delta.
        for kind, files in (("add", add_files), ("rm", remove_files)):
            entries = {str(g): sorted(rels)
                       for g, rels in (files or {}).items() if rels}
            if entries:
                rec[kind] = entries
        line = json.dumps(rec, separators=(",", ":"))
        with open(self._hist_path(name), "a", encoding="utf-8") as fh:
            fh.write(line + "\n")

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

    def live_files(
        self, name: str, version: int | None = None,
    ) -> dict[int, list[tuple[str, str]]]:
        """``{gen: [(relpath, dt), ...]}`` (sorted) of the files live at
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
            out: dict[int, list[tuple[str, str]]] = {}
            for g, rel in sorted(live):
                out.setdefault(g, []).append(
                    (rel, rel.split("/", 1)[0][len("dt="):]))
            return out

    def touch(
        self, name: str,
        add_files: dict[int, list[str]] | None = None,
        remove_files: dict[int, list[str]] | None = None,
    ) -> int:
        """Append a data commit: re-persist the current doc with the
        files a writer added (``add_files``, {gen: [relpaths]}) and
        removed (``remove_files``) as one commit-log record. Schema
        registration persists BEFORE the writer runs (the rollback
        protocol needs that order), so the registration version never
        includes the in-flight files — this commit is the version whose
        snapshot does. Returns its version."""
        with self._lock:
            if name in self._configs:
                self._persist(name, add_files=add_files,
                              remove_files=remove_files)
            return self._versions.get(name, 0)

    def current_version(self, name: str) -> int:
        """Last committed catalog version for ``name`` (0 = never
        persisted), including versions committed by another driver
        since our last persist."""
        with self._lock:
            log = self._log(name)
            v = log.records[-1]["v"] if log.records else 0
            if v:
                self._versions[name] = v
            return v

    def history(self, name: str) -> list[dict[str, Any]]:
        """The table's commit log, oldest first: one
        ``{"v": int, "ts_us": int}`` per catalog flip (docs omitted —
        use :meth:`doc_at`)."""
        return [{"v": r["v"], "ts_us": r["ts_us"]}
                for r in self._log(name).records]

    def record_at(self, name: str, version: int) -> dict[str, Any] | None:
        """The full commit-log record ``{"v", "ts_us", "doc"}`` for
        ``version`` (last-line-wins on a duplicated version number,
        mirroring the json's last-writer semantics). None when the
        version was never committed."""
        found = None
        for rec in self._log(name).records:
            if rec["v"] == version:
                found = rec
        return found

    def doc_at(self, name: str, version: int) -> dict[str, Any] | None:
        rec = self.record_at(name, version)
        return rec["doc"] if rec else None

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
            for g, rels in (rec.get(kind) or {}).items():
                for rel in rels:
                    key = (int(g), rel)
                    if key not in idx or rec["v"] < idx[key]:
                        idx[key] = rec["v"]
        return idx

    def refresh_if_changed(self, name: str) -> bool:
        """Reload one table's metadata when another process changed it —
        multi-driver serving support. One os.stat when nothing changed
        (the reference pays a Redis metadata read per query instead).
        Handles remote create (file appears), remote commit (mtime/size
        moves) and remote delete (file gone). Returns True on reload."""
        path = self._path(name)
        with self._lock:
            sig = self._sig_of(path)
            if sig == self._sigs.get(name):
                return False
            if sig is None:  # deleted by another process
                self._configs.pop(name, None)
                self._generations.pop(name, None)
                self._sigs.pop(name, None)
                return True
            self._load_one(path)
            return True

    def create_table(self, name: str, config: TableConfig | None = None) -> TableConfig:
        with self._lock:
            if name in self._configs:
                return self._configs[name]
            cfg = config or TableConfig(name=name)
            cfg.name = name
            self._configs[name] = cfg
            self._generations.setdefault(name, [])
            self._persist(name)
            return cfg

    def get_table(self, name: str) -> TableConfig | None:
        with self._lock:
            return self._configs.get(name)

    def ensure_table(self, name: str) -> TableConfig:
        """Auto-create on first write (reference miniodb_service.go:278)."""
        return self.create_table(name)

    def list_tables(self) -> list[str]:
        with self._lock:
            return sorted(self._configs)

    def drop_table(self, name: str) -> bool:
        with self._lock:
            if name not in self._configs:
                return False
            del self._configs[name]
            self._generations.pop(name, None)
            self._versions.pop(name, None)
            self._logs.pop(name, None)
            for path in (self._path(name), self._hist_path(name)):
                try:
                    os.remove(path)
                except FileNotFoundError:
                    pass
            return True

    # -- schema generations ---------------------------------------------

    def register_flush_schema(self, name: str, columns: dict[str, str],
                              force_new: bool = False) -> int:
        """Pick (or open) the generation a flush with ``columns`` physical
        types writes into, and fold new columns into it.

        The latest generation absorbs the flush when no existing column
        changes type (additive evolution is free). A type conflict on any
        column opens a new generation. Returns the generation index.

        ``force_new`` always opens a fresh generation even for an
        identical schema — merge_upsert needs its batch in a generation
        no pre-existing row shares, because the old-version sweep
        discriminates fresh-vs-old by generation (lazy DataFrames make
        "rows that existed before the ingest" unexpressible otherwise)."""
        with self._lock:
            gens = self._generations.setdefault(name, [])
            if gens and not force_new:
                latest = gens[-1]
                if all(latest.get(c, t) == t for c, t in columns.items()):
                    latest.update(columns)
                    self._persist(name)
                    return len(gens) - 1
            gens.append(dict(columns))
            self._persist(name)
            return len(gens) - 1

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

    def rollback_generation(self, name: str, gen_idx: int) -> bool:
        """Remove a generation that a failed flush created and never wrote
        into. Only the *last* generation can be rolled back (a later flush
        may already have opened — and written — a newer one, in which case
        the empty generation is left behind; readers tolerate empty gen
        dirs). Returns True if removed."""
        with self._lock:
            gens = self._generations.get(name)
            if gens and len(gens) - 1 == gen_idx:
                gens.pop()
                if not gens:
                    del self._generations[name]
                self._persist(name)
                return True
            return False

    def generation_for(self, name: str, columns: dict[str, str]) -> int:
        """Generation whose schema can hold exactly ``columns`` (used by
        rewrites that re-materialize data in cumulative types)."""
        return self.register_flush_schema(name, columns)

    # -- rename-free rewrite commit ---------------------------------------
    # A copy-on-write rewrite lands its survivors in a brand-new generation
    # directory whose files no commit has added yet (readers read only
    # files the log holds live), then commits with ONE commit-log record:
    # the survivors' adds and the superseded partitions' removes. On an
    # object store there is no rename anywhere on the data path —
    # matching the reference's upload-then-delete
    # (internal/query/query.go:1252-1413), but with an atomic log append
    # instead of a visible delete window; the removed files are deleted
    # later by the table's collector (mutations.gc_superseded).

    def next_generation_index(self, name: str) -> int:
        with self._lock:
            return len(self._generations.get(name, []))

    def commit_rewrite(
        self, name: str, columns: dict[str, str],
        expected_gen: int | None = None,
        add_files: dict[int, list[str]] | None = None,
        remove_files: dict[int, list[str]] | None = None,
    ) -> int:
        """Atomic commit of a rewrite: append the survivors' generation
        (always a NEW generation — its files were invisible until this
        commit adds them) and remove the superseded partitions' files
        (``remove_files``). Returns the new generation index.

        The commit mutates the *on-disk* state, not a possibly-stale
        in-memory snapshot: it re-reads the catalog file first
        (refresh_if_changed), then appends on top.
        ``expected_gen`` is the generation index the rewrite wrote its
        survivor directory under (next_generation_index at reserve
        time); if the refreshed generation list no longer lines up —
        another driver committed while our lease was stolen — the commit
        raises instead of registering our schema under an index whose
        directory holds someone else's data (lost-write prevention; the
        orphan survivor dir stays unreferenced and harmless)."""
        with self._lock:
            self.refresh_if_changed(name)
            gens = self._generations.setdefault(name, [])
            if expected_gen is not None and len(gens) != expected_gen:
                raise RuntimeError(
                    f"stale rewrite commit for {name!r}: reserved gen="
                    f"{expected_gen} but catalog now has {len(gens)} "
                    "generations (concurrent commit — lease lost?)")
            gens.append(dict(columns))
            # the survivors' files are this commit's adds and every live
            # file of the superseded partitions its removes: from this
            # version on, the log alone says the old partitions are gone
            self._persist(name, add_files=add_files,
                          remove_files=remove_files)
            return len(gens) - 1

    def excluded_parts(self, name: str) -> set[tuple[int, str]]:
        """Always empty: no partition is excluded outside the commit
        log. Kept only because the benchmark tracer's target list names
        it."""
        return set()

    def gen_schemas(self, name: str) -> list[dict[str, str]]:
        with self._lock:
            return [dict(g) for g in self._generations.get(name, [])]

    def tombstone_generations(self, name: str, indices: list[int]) -> None:
        """Mark generations as dead ({} schema) after collapse_generations
        folded their data away. Indices must stay stable (they name the
        gen=N directories), so entries are emptied, never removed; an
        empty schema is skipped by readers without a directory stat, so
        scan metadata cost stays O(live generations)."""
        with self._lock:
            gens = self._generations.get(name, [])
            for i in indices:
                if 0 <= i < len(gens):
                    gens[i] = {}
            self._persist(name)

    def schema_of(self, name: str) -> dict[str, str]:
        """Cumulative schema: column union across generations with
        widening merge (long+double → double, else → string)."""
        with self._lock:
            cum: dict[str, str] = {}
            for gen in self._generations.get(name, []):
                for col, typ in gen.items():
                    cum[col] = merge_type(cum[col], typ) if col in cum else typ
            return cum

    # -- metadata backup/restore (BackupMetadata / RestoreMetadata) ------

    def export_metadata(self) -> dict[str, Any]:
        with self._lock:
            return {
                "tables": {n: asdict(c) for n, c in self._configs.items()},
                "generations": {n: g for n, g in self._generations.items()},
            }

    def import_metadata(
        self, doc: dict[str, Any],
        add_files: dict[str, dict[int, list[str]]] | None = None,
        remove_files: dict[str, dict[int, list[str]]] | None = None,
    ) -> int:
        """Restore table configs and generations; ``add_files`` /
        ``remove_files`` ({table: {gen: [relpaths]}}) make the same
        commit set each table's files (a data restore)."""
        with self._lock:
            n = 0
            for name, cfg in doc.get("tables", {}).items():
                self._configs[name] = TableConfig(**cfg)
                self._generations[name] = doc.get("generations", {}).get(name, [])
                self._persist(name, (add_files or {}).get(name),
                              (remove_files or {}).get(name))
                n += 1
            return n
