"""File-level zone maps: a min/max data-skipping index for point
lookups over the engine's generation layout.

The reference ships an (experimental) secondary index mapping ids to
the objects that contain them (/root/reference/internal/index,
``//go:build experimental``) so a point read does not open every
parquet object. Spark already gives us *row-group* skipping for free —
parquet footer min/max statistics serve a pushed ``id = 'x'`` filter
(plan-gated in tests/test_plans.py::test_id_pointlookup_pushdown) —
but at 100 TB a table is tens of thousands of files, and footer
skipping still costs one object GET per file. The zone map moves those
min/max brackets into ONE small JSON sidecar per generation, so a
point lookup prunes the file list driver-side and the scan opens only
the files whose bracket admits the key: the Delta/Iceberg
``add-file stats`` idea collapsed to the engine's own catalog scale.

Design constraints, in order:

1. **Never wrong.** The sidecar is an *optimization hint*, not truth.
   At lookup time the generation's live files come from the commit log
   (no LIST, no footer GET) and a file is scanned unless the sidecar
   provably excludes it: unindexed files (crashed build, foreign
   writer, older version) are always scanned. Files the sidecar knows
   but the live set no longer has (compacted or rewritten away) are
   never touched. A missing or corrupt sidecar degrades to the full
   generation scan ``read_persisted`` would do anyway.
2. **Amortized build.** ``build`` is incremental: it indexes ONLY files
   the sidecar has not seen yet — metadata-only parquet-footer reads on
   local roots (KBs per file), one distributed aggregation grouped by
   ``input_file_name()`` as the object-store / stats-less fallback —
   and runs right after each flush/ingest while the data is hot.
   Generations are copy-on-write everywhere else (mutations commit new
   generations), so an indexed file's stats can never go stale.
3. **Concurrency.** Each build appends its OWN shard file
   (``gen=N.<nonce>.json``, atomic write, never modified after) holding
   only the entries it just indexed; ``load`` merges the base sidecar
   plus every shard. Two drivers flushing one table therefore never
   overwrite each other's fresh entries. Shards are folded into the
   base file once enough accumulate (``COMPACT_SHARDS``); the fold
   re-lists the generation AFTER snapshotting the shards to fold, so
   a concurrent builder's files written between its shard and this
   fold are still seen live. The remaining races — two simultaneous
   compactions (the last-written base may miss a shard the other
   already deleted), or a shard whose data files land after the
   fold's re-list — lose HINTS only (the affected files are simply
   unindexed until the next build re-lists them), never rows, by
   invariant 1.
4. **fs-agnostic.** Stats come from a Spark job, not local footer
   reads, so the same code path works for file:// and s3a:// roots;
   sidecars live on the *shared* store root (``_meta/zonemaps``) so
   every driver over one object store sees them — the reference keeps
   its index in shared Redis for the same reason.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fs as fsmod

_MARKER = "gen="


def _rel(uri: str, gen: int) -> str:
    """Path of a data file relative to its generation directory,
    derived from the ``gen=N/`` segment so file://, s3a:// and bare
    paths all normalize identically."""
    key = f"{_MARKER}{gen}/"
    idx = uri.find(key)
    return uri[idx + len(key):] if idx >= 0 else uri


def _bracket_finite(*vals: Any) -> bool:
    """NaN/Inf min-max guard for numeric zone-map columns: a NaN
    bracket is untrustworthy (parquet/Spark NaN ordering differs from
    Python's, and NaN breaks strict-JSON sidecars), so a file whose
    stats contain a non-finite float stays UNINDEXED — always scanned
    under the hint-only contract, never mis-skipped."""
    import math

    return all(
        not (isinstance(v, float) and not math.isfinite(v)) for v in vals
    )


def _jsonable(v: Any) -> Any:
    if v is None or isinstance(v, (str, int, float, bool)):
        return v
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        # canonical naive-UTC "YYYY-MM-DD HH:MM:SS[.ffffff]" — the
        # session runs with spark.sql.session.timeZone=UTC AND the
        # Python process TZ is pinned to UTC (session._pin_process_utc:
        # TimestampType.fromInternal goes through the PROCESS-local
        # datetime.fromtimestamp, so session.timeZone alone would leave
        # collected datetimes local-tz naive on a non-UTC host — the
        # r14 ADVICE-high unsound-bracket bug),
        # so Spark-collected datetimes are naive UTC, while pyarrow
        # footer statistics for isAdjustedToUTC timestamps come back
        # tz-AWARE; without normalization the aware form's "+00:00"
        # suffix breaks lexicographic ordering against naive strings of
        # the same instant (an unsound skip at an equal-instant bound).
        # The format is prefix-ordered: a ".ffffff" suffix only ever
        # increases the value, so string compare == typed compare.
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    # dates/decimals: store a sortable string form; the pruner only
    # compares same-typed values it stored itself
    return str(v)


def list_generation_files(fs, gen_dir: str) -> list[tuple[str, str]]:
    """``(relative_path, dt)`` for every parquet data file in a
    generation: one directory LIST per dt partition."""
    out: list[tuple[str, str]] = []
    for dt_dir in fs.list_dirs(gen_dir, prefix="dt="):
        dt_name = dt_dir.rstrip("/").split("/")[-1]
        dt_val = dt_name.split("=", 1)[1]
        for path, _size in fs.list_files(
            fsmod.join(gen_dir, dt_name), suffix=".parquet"
        ):
            fname = path.rstrip("/").split("/")[-1]
            out.append((f"{dt_name}/{fname}", dt_val))
    return out


class ZoneMapStore:
    """Per-generation min/max sidecars under
    ``{store_root}/_meta/zonemaps/{table}/gen={g}.json``."""

    def __init__(self, fs, root: str):
        self.fs = fs
        self.root = root
        # files build() had to index with a Spark aggregation because
        # their footers lacked usable stats (object-store roots, NaN or
        # stats-less FLOAT/DOUBLE columns): the counted fallback
        self.spark_fallback_files = 0
        # (table, gen) -> (token, the merged view load() read under it)
        self._memo: dict[tuple[str, int], tuple[Any, dict]] = {}

    #: fold shards into the base sidecar once this many accumulate —
    #: keeps load() at O(1) small reads in the steady state while the
    #: append-only shards make concurrent builds lossless (docstring §3)
    COMPACT_SHARDS = 4

    def _path(self, table: str, gen: int) -> str:
        return fsmod.join(self.root, table, f"{_MARKER}{gen}.json")

    def _shard_paths(self, table: str, gen: int) -> list[str]:
        """Per-build shard sidecars ``gen=N.<nonce>.json`` (sorted for a
        deterministic merge order)."""
        tdir = fsmod.join(self.root, table)
        base = f"{_MARKER}{gen}."
        out = []
        try:
            for path, _size in self.fs.list_files(tdir, suffix=".json"):
                name = path.rstrip("/").split("/")[-1]
                if name.startswith(base) and name != f"{_MARKER}{gen}.json":
                    out.append(fsmod.join(tdir, name))
        except Exception:
            return []
        return sorted(out)

    def _read_doc(self, path: str) -> dict | None:
        try:
            if not self.fs.exists(path):
                return None
            doc = json.loads(self.fs.read_bytes(path).decode("utf-8"))
        except Exception:
            return None  # corrupt sidecar == no sidecar (hint only)
        if not isinstance(doc, dict) or "files" not in doc:
            return None
        return doc

    def load(self, table: str, gen: int,
             listing: list[tuple[str, str]] | None = None,
             token: Any = None) -> dict | None:
        """Merged view: base sidecar plus every per-build shard. A shard
        whose column set differs from the merged doc's is skipped
        (reconfiguration mid-flight — its files stay unindexed, hint
        loss only).

        With a ``token`` (the table's commit-log version) the view read
        under the same token is reused, with no store access, while it
        indexes every file of ``listing`` (the files a prune is about to
        filter): a commit changes the token, and a file the view lacks
        (its shard landed after the view was read) makes it re-read."""
        if token is not None:
            hit = self._memo.get((table, gen))
            if hit is not None and hit[0] == token and all(
                    rel in hit[1]["files"] for rel, _dt in listing or ()):
                return hit[1]
        merged = self._read_doc(self._path(table, gen))
        for sp in self._shard_paths(table, gen):
            doc = self._read_doc(sp)
            if doc is None:
                continue
            if merged is None:
                merged = {"columns": list(doc.get("columns", [])),
                          "files": dict(doc["files"])}
                continue
            if set(doc.get("columns", [])) != set(merged.get("columns", [])):
                continue
            merged["files"].update(doc["files"])
        if token is not None and merged is not None:
            self._memo[(table, gen)] = (token, merged)
        return merged

    def shard_counts(self) -> dict[str, int]:
        """Per-table count of un-folded shard sidecars — the ops signal
        that shard folding has stalled. Every ``load()`` re-lists and
        re-reads the table's shards, so while COMPACT_SHARDS bounds the
        steady state, a count well above it means builds keep dying
        before their fold (or racing compactors keep losing the base
        write) and point lookups are paying O(shards) small reads.
        One LIST per table directory; tables without shards are
        omitted."""
        out: dict[str, int] = {}
        try:
            if not self.fs.is_dir(self.root):
                return out
            for tdir in self.fs.list_dirs(self.root):
                table = tdir.rstrip("/").split("/")[-1]
                n = 0
                for path, _size in self.fs.list_files(
                    tdir, suffix=".json"
                ):
                    name = path.rstrip("/").split("/")[-1]
                    stem = name[: -len(".json")]
                    # base sidecars are gen=N.json; shards carry a
                    # nonce segment: gen=N.<nonce>.json
                    if stem.startswith(_MARKER) and "." in stem:
                        n += 1
                if n:
                    out[table] = n
        except Exception:
            return out
        return out

    def drop(self, table: str, gen: int | None = None) -> None:
        for key in [k for k in self._memo if k[0] == table
                    and gen in (None, k[1])]:
            self._memo.pop(key, None)
        if gen is not None:
            for path in [self._path(table, gen)] + self._shard_paths(
                table, gen
            ):
                if self.fs.exists(path):
                    self.fs.remove_file(path)
            return
        tdir = fsmod.join(self.root, table)
        if self.fs.is_dir(tdir):
            self.fs.remove_dir(tdir)

    # ------------------------------------------------------------------
    def build(
        self,
        spark: SparkSession,
        table: str,
        gen: int,
        gen_dir: str,
        schema: T.StructType,
        columns: tuple[str, ...],
        listing: list[tuple[str, str]] | None = None,
    ) -> int:
        """Index every not-yet-indexed file of the generation; returns
        how many files were added. Footer-metadata reads where the root
        is local; otherwise one Spark aggregation over only the new
        files — per-file min/max/count, map-side-combinable. A caller
        that just LISTed the generation (the engine's commit paths do,
        for the add-file delta) passes that ``listing`` so the build
        costs zero additional LISTs in the steady state."""
        cols = [c for c in columns if c in {f.name for f in schema.fields}]
        if not cols:
            return 0
        if listing is None:
            listing = list_generation_files(self.fs, gen_dir)
        existing = self.load(table, gen)
        if existing is not None and set(existing.get("columns", [])) != set(
            cols
        ):
            # column reconfiguration: old brackets are for the wrong
            # key set — rebuild from scratch (single-writer moment by
            # assumption; a racing old-column shard is skipped at load)
            self.drop(table, gen)
            existing = None
        indexed = existing["files"] if existing else {}
        live = {rel for rel, _dt in listing}
        # dead = indexed files the listing no longer has (engine
        # compaction swapped the partition's files under new names);
        # they force a fold so the base sidecar tracks the live set
        dead = any(rel not in live for rel in indexed)
        new = [rel for rel, _dt in listing if rel not in indexed]
        if not new:
            self._compact(table, gen, cols, gen_dir, force=dead)
            return 0
        dt_of = dict(listing)
        # fast path: the stats already sit in the parquet FOOTERS the
        # write just produced — for a local root read them metadata-only
        # via pyarrow (KBs per file, no data pass). Falls back to one
        # distributed Spark aggregation for object-store roots or any
        # footer without trustworthy min/max.
        footer = self._footer_stats(gen_dir, new, cols)
        spark_needed = [rel for rel in new if rel not in footer]
        fresh: dict[str, dict] = {}
        for rel, stats in footer.items():
            stats["dt"] = dt_of.get(rel)
            fresh[rel] = stats
        if spark_needed:
            self.spark_fallback_files += len(spark_needed)
            paths = [fsmod.join(gen_dir, rel) for rel in spark_needed]
            df = (
                spark.read.option("basePath", gen_dir)
                .schema(schema)
                .parquet(*paths)
            )
            aggs = [F.count(F.lit(1)).alias("_n")]
            for c in cols:
                aggs += [F.min(c).alias(f"_min_{c}"),
                         F.max(c).alias(f"_max_{c}")]
            rows = (
                df.groupBy(F.input_file_name().alias("_file"))
                .agg(*aggs)
                .collect()  # bounded: one row per freshly written file
            )
            for r in rows:
                rel = _rel(r["_file"], gen)
                stats: dict[str, Any] = {
                    "dt": dt_of.get(rel),
                    "n": int(r["_n"]),
                }
                usable = True
                for c in cols:
                    if not _bracket_finite(r[f"_min_{c}"],
                                           r[f"_max_{c}"]):
                        usable = False  # NaN bracket: leave unindexed
                        break
                    stats[c] = [
                        _jsonable(r[f"_min_{c}"]),
                        _jsonable(r[f"_max_{c}"]),
                    ]
                if usable:
                    fresh[rel] = stats
        if not fresh:
            # every new file was footer-unreadable AND 0-row under the
            # Spark agg (no group emitted) — nothing learned; they stay
            # unindexed and are always scanned (hint-only contract)
            return 0
        # append-only per-build shard (docstring §3): concurrent builds
        # never clobber each other's fresh entries — no read-modify-write
        import secrets

        shard = {"columns": list(cols), "files": fresh}
        self.fs.makedirs(fsmod.join(self.root, table))
        self.fs.write_bytes(
            fsmod.join(
                self.root, table,
                f"{_MARKER}{gen}.{secrets.token_hex(6)}.json",
            ),
            json.dumps(shard, sort_keys=True).encode("utf-8"),
        )
        self._compact(table, gen, cols, gen_dir, force=dead)
        return len(fresh)

    def _compact(
        self, table: str, gen: int, cols: list[str], gen_dir: str,
        force: bool = False,
    ) -> None:
        """Fold accumulated shards into the base sidecar (and drop
        entries for files the listing no longer has — compaction swaps
        a partition's files under new names; the replaced entries are
        harmless at prune time but would accumulate forever). Only the
        shards read into the merge are deleted, so a shard appearing
        mid-compaction survives untouched. The live set is RE-LISTED
        here, after the shards-to-fold snapshot, so a concurrent
        builder's shard whose data files landed after this builder's
        own build() listing is folded WITH its files visible — its
        fresh entries survive the live-filter instead of being dropped
        alongside its deleted shard (the one extra LIST happens only
        when a fold actually proceeds, every COMPACT_SHARDS builds)."""
        shards = self._shard_paths(table, gen)
        if len(shards) < self.COMPACT_SHARDS and not force:
            return
        merged = self.load(table, gen)
        if merged is None or set(merged.get("columns", [])) != set(cols):
            return
        live = {
            rel for rel, _dt in list_generation_files(self.fs, gen_dir)
        }
        merged["files"] = {
            rel: st for rel, st in merged["files"].items() if rel in live
        }
        self.fs.makedirs(fsmod.join(self.root, table))
        self.fs.write_bytes(
            self._path(table, gen),
            json.dumps(merged, sort_keys=True).encode("utf-8"),
        )
        for sp in shards:
            try:
                self.fs.remove_file(sp)
            except Exception:  # racing compactor already removed it
                continue

    def _footer_stats(
        self, gen_dir: str, rels: list[str], cols: tuple[str, ...]
    ) -> dict[str, dict]:
        """Metadata-only min/max from local parquet footers; {} entries
        are omitted (Spark fallback indexes them). Never raises.

        Truncated string statistics stay sound: the parquet spec
        requires a truncated min <= the true min and a truncated max
        >= the true max, so a footer bracket is always a superset of
        the file's value range — pruning with it can skip only files
        that provably cannot match."""
        if "://" in gen_dir:
            return {}  # object-store root: no local file access
        out: dict[str, dict] = {}
        try:
            import pyarrow.parquet as pq
        except Exception:  # pragma: no cover - pyarrow is baked in
            return {}
        for rel in rels:
            path = fsmod.join(gen_dir, rel)
            try:
                md = pq.ParquetFile(path).metadata
                names = {md.schema.column(i).name: i
                         for i in range(md.num_columns)}
                stats: dict[str, Any] = {"n": int(md.num_rows)}
                ok = True
                for c in cols:
                    if c not in names:
                        ok = False
                        break
                    # FLOAT/DOUBLE columns never take the footer path:
                    # parquet stats EXCLUDE NaN (measured: a file
                    # holding [10.0, NaN, 3.0] footers as [3, 10]),
                    # but Spark orders NaN GREATER than every number —
                    # `w > 50` matches the NaN row — so a footer
                    # bracket could skip a file Spark would return
                    # rows from. The Spark-agg fallback is NaN-sound:
                    # its max() propagates NaN, which _bracket_finite
                    # turns into "leave unindexed, always scan".
                    if md.schema.column(names[c]).physical_type in (
                        "FLOAT", "DOUBLE",
                    ):
                        ok = False
                        break
                    lo = hi = None
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(names[c]).statistics
                        if st is None or not st.has_min_max:
                            ok = False
                            break
                        mn, mx = st.min, st.max
                        if isinstance(mn, bytes):
                            mn = mn.decode("utf-8", "surrogateescape")
                        if isinstance(mx, bytes):
                            mx = mx.decode("utf-8", "surrogateescape")
                        lo = mn if lo is None or mn < lo else lo
                        hi = mx if hi is None or mx > hi else hi
                    if ok and not _bracket_finite(lo, hi):
                        ok = False
                    if not ok:
                        break
                    stats[c] = [_jsonable(lo), _jsonable(hi)]
                if ok:
                    out[rel] = stats
            except Exception:
                continue  # unreadable footer: Spark path covers it
        return out

    # ------------------------------------------------------------------
    def prune(
        self,
        table: str,
        gen: int,
        listing: list[tuple[str, str]],
        column: str,
        value: Any,
        token: Any = None,
    ) -> tuple[list[str], int]:
        """Select the files of ``listing`` a ``column = value`` lookup
        must scan. Returns ``(selected_rel_paths, n_skipped)``.
        Unindexed files are always selected (hint-only contract); an
        indexed file is skipped iff its [min, max] bracket excludes the
        key or either bound is unknown-NULL-free-provable. ``token``:
        see :meth:`load`."""
        doc = self.load(table, gen, listing, token)
        if doc is None or column not in doc.get("columns", []):
            return [rel for rel, _dt in listing], 0
        if value is None:
            # min/max statistics ignore NULLs, so a bracket can never
            # prove a file holds no NULL keys — scan everything
            return [rel for rel, _dt in listing], 0
        files = doc["files"]
        v = _jsonable(value)
        selected: list[str] = []
        skipped = 0
        for rel, _dt in listing:
            st = files.get(rel)
            if st is None:
                selected.append(rel)  # unindexed: must scan
                continue
            lo, hi = st.get(column, (None, None))
            if lo is None or hi is None:
                # all-null or 0-row file: min/max ignore NULLs, so a
                # None bracket proves the file holds no NON-NULL keys
                # (NULL keys are handled by the early return above)
                skipped += 1
                continue
            try:
                admit = (lo <= v) and (v <= hi)
            except TypeError:
                admit = True  # cross-type comparison: stay correct
            if admit:
                selected.append(rel)
            else:
                skipped += 1
        return selected, skipped

    def prune_range(
        self,
        table: str,
        gen: int,
        listing: list[tuple[str, str]],
        column: str,
        lo: Any = None,
        hi: Any = None,
        lo_incl: bool = True,
        hi_incl: bool = True,
        token: Any = None,
    ) -> tuple[list[str], int]:
        """Files a range predicate on ``column`` must scan — the
        key-range twin of :meth:`prune` (``id > 'cursor'`` keyset
        pagination, time-slice scans). A file is skipped iff its
        [min, max] bracket provably misses the half-open/closed range:
        ``max < lo`` (or ``== lo`` when exclusive) / ``min > hi`` (or
        ``== hi`` when exclusive). Range comparisons never match NULL
        keys, so an all-null file (None bracket) is skipped — unlike
        :meth:`prune`'s NULL-key early return, there is no NULL value
        to look for. Unindexed files are always scanned (hint-only
        contract). ``token``: see :meth:`load`."""
        doc = self.load(table, gen, listing, token)
        if doc is None or column not in doc.get("columns", []):
            return [rel for rel, _dt in listing], 0
        if lo is None and hi is None:
            return [rel for rel, _dt in listing], 0
        files = doc["files"]
        vlo = _jsonable(lo) if lo is not None else None
        vhi = _jsonable(hi) if hi is not None else None
        selected: list[str] = []
        skipped = 0
        for rel, _dt in listing:
            st = files.get(rel)
            if st is None:
                selected.append(rel)  # unindexed: must scan
                continue
            fmin, fmax = st.get(column, (None, None))
            if fmin is None or fmax is None:
                skipped += 1  # no non-NULL keys; range can't match NULL
                continue
            try:
                admit = True
                if vlo is not None and (
                    fmax < vlo or (fmax == vlo and not lo_incl)
                ):
                    admit = False
                if admit and vhi is not None and (
                    fmin > vhi or (fmin == vhi and not hi_incl)
                ):
                    admit = False
            except TypeError:
                admit = True  # cross-type comparison: stay correct
            if admit:
                selected.append(rel)
            else:
                skipped += 1
        return selected, skipped
