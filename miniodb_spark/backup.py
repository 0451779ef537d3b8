"""Backup subsystem: metadata snapshots + object-level data backups.

Parity target: the reference's backup RPCs (miniodb.proto:281-318 —
BackupMetadata, RestoreMetadata, ListBackups, GetMetadataStatus) and
``internal/backup/`` (executor writes timestamped metadata snapshots,
and the data-replication path copies the table's parquet objects into
a second MinIO pool — docs/SOLUTION.md:629). Metadata snapshots are
JSON files under ``{meta_root}/_system/backups/``; data backups are
manifest + object copies under ``{data_root}/_backups/<name>/`` via
the fs abstraction, so on an ``s3a://`` root the copies are
server-side object COPYs into the same store — the one-store analog
of the reference's second pool (pointing ``backup_root`` at a second
bucket gives the two-pool layout verbatim).
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from . import fs as fsmod
from .catalog import Catalog

# object-copy fan-out (guide §2.6): enough threads to hide per-object
# round-trip latency, few enough not to saturate an object store's
# per-prefix rate limits. Copies go through the fs abstraction, so on
# s3a these are server-side COPY requests — pure wait, ideal to overlap.
_COPY_WORKERS = 16


def _copy_all(fs, pairs: list[tuple[str, str]]) -> None:
    """Copy ``(src, dst)`` pairs concurrently; re-raises the first
    failure (executor.map surfaces it), so callers' write-manifest-last
    / metadata-last commit ordering keeps its crash semantics."""
    if not pairs:
        return
    if len(pairs) == 1:
        fs.copy(*pairs[0])
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(_COPY_WORKERS, len(pairs))) as ex:
        list(ex.map(lambda p: fs.copy(*p), pairs))


class BackupManager:
    def __init__(self, catalog: Catalog, node_id: int = 0,
                 interval_s: float = 3600.0, engine=None,
                 backup_root: str | None = None):
        self.catalog = catalog
        self.node_id = node_id
        self.interval_s = interval_s
        self._dir = os.path.join(catalog.root, "_system", "backups")
        os.makedirs(self._dir, exist_ok=True)
        # data-object backup needs the engine's fs + data root; without an
        # engine this manager is metadata-only (the pre-round-6 behavior)
        self.engine = engine
        self.backup_root = backup_root or (
            fsmod.join(engine.root, "_backups") if engine is not None else None
        )

    # -- create ----------------------------------------------------------

    def create_backup(self) -> dict[str, Any]:
        """Snapshot the catalog metadata to a timestamped object. Returns
        the BackupInfo shape (miniodb.proto:292-298)."""
        ts_us = int(time.time() * 1_000_000)
        name = f"metadata-node{self.node_id}-{ts_us}.json"
        path = os.path.join(self._dir, name)
        doc = {
            "node_id": str(self.node_id),
            "timestamp": ts_us,
            "metadata": self.catalog.export_metadata(),
        }
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
        os.replace(tmp, path)
        st = os.stat(path)
        return {
            "object_name": name,
            "node_id": str(self.node_id),
            "timestamp": ts_us,
            "size": st.st_size,
            "last_modified": int(st.st_mtime * 1_000_000),
        }

    # -- list / restore --------------------------------------------------

    def list_backups(self, days: int = 30) -> dict[str, Any]:
        """ListBackups RPC (miniodb.proto:287-304): backups from the last
        ``days`` days, newest first."""
        cutoff_us = int((time.time() - days * 86400) * 1_000_000)
        infos: list[dict[str, Any]] = []
        for fn in os.listdir(self._dir):
            if not (fn.startswith("metadata-") and fn.endswith(".json")):
                continue
            path = os.path.join(self._dir, fn)
            try:
                ts_us = int(fn.rsplit("-", 1)[-1].removesuffix(".json"))
            except ValueError:
                continue
            if ts_us < cutoff_us:
                continue
            st = os.stat(path)
            node = fn.split("-")[1].removeprefix("node")
            infos.append({
                "object_name": fn,
                "node_id": node,
                "timestamp": ts_us,
                "size": st.st_size,
                "last_modified": int(st.st_mtime * 1_000_000),
            })
        infos.sort(key=lambda b: b["timestamp"], reverse=True)
        return {"backups": infos, "total": len(infos)}

    def restore_backup(self, object_name: str) -> int:
        """Restore catalog metadata from a named backup object; returns
        tables restored."""
        path = os.path.join(self._dir, os.path.basename(object_name))
        with open(path, encoding="utf-8") as fh:
            doc = json.load(fh)
        return self.catalog.import_metadata(doc["metadata"])

    # -- object-level data backup/restore --------------------------------

    def _require_engine(self):
        if self.engine is None:
            raise ValueError("data backup requires a BackupManager bound "
                             "to an engine (BackupManager(..., engine=eng))")
        return self.engine

    def _table_objects(self, table: str) -> list[tuple[str, str, int]]:
        """(abs_path, relpath-under-table-dir, size) for every live data
        file of ``table`` — the commit log's live set, so an uncommitted
        orphan or a removed leftover is not backed up."""
        eng = self._require_engine()
        return [
            (path, f"gen={gen}/dt={dt}/" + path.rstrip("/").rsplit("/", 1)[-1],
             size)
            for (gen, dt), objs in sorted(eng.live_objects(table).items())
            for path, size in objs
        ]

    def create_data_backup(self, tables: list[str] | None = None) -> dict[str, Any]:
        """Copy every data object of the given tables (default: all) into
        ``{backup_root}/<name>/``, plus a manifest carrying the object
        list and the catalog metadata needed to restore. Object copies go
        through the fs abstraction — server-side COPY on object stores,
        never through the driver's memory."""
        eng = self._require_engine()
        ts_us = int(time.time() * 1_000_000)
        name = f"data-node{self.node_id}-{ts_us}"
        dest_root = fsmod.join(self.backup_root, name)
        tables = tables or self.catalog.list_tables()
        manifest: dict[str, Any] = {
            "name": name, "node_id": str(self.node_id), "timestamp": ts_us,
            "tables": {}, "metadata": self.catalog.export_metadata(),
        }
        total = 0
        for t in tables:
            objs = self._table_objects(t)
            # copies are independent objects — run them through a small
            # thread pool instead of one driver thread (r18, guide §2.6
            # overlap-independent-work; at 100 TB the sequential copy
            # loop IS the backup wall: each fs.copy is an object-store
            # round trip that spends its time waiting, not computing).
            # The manifest is still written only after every copy
            # returned — _copy_all re-raises the first failure, so a
            # crashed backup stays manifest-less and invisible, exactly
            # as before.
            _copy_all(
                eng.fs,
                [(path, fsmod.join(dest_root, t, rel))
                 for path, rel, _size in objs],
            )
            entries = [{"rel": rel, "size": size} for _p, rel, size in objs]
            total += sum(size for _p, _r, size in objs)
            manifest["tables"][t] = entries
        # the manifest is written LAST: its presence marks a complete
        # backup (a crashed copy leaves no manifest and is invisible to
        # list/restore — same sentinel ordering as the mutation commit)
        eng.fs.write_bytes(
            fsmod.join(dest_root, "MANIFEST.json"),
            json.dumps(manifest).encode("utf-8"),
        )
        return {"object_name": name, "node_id": str(self.node_id),
                "timestamp": ts_us, "size": total,
                "tables": {t: len(v) for t, v in manifest["tables"].items()}}

    def list_data_backups(self) -> list[dict[str, Any]]:
        eng = self._require_engine()
        out = []
        for d in eng.fs.list_dirs(self.backup_root, prefix="data-"):
            mpath = fsmod.join(d, "MANIFEST.json")
            if not eng.fs.exists(mpath):
                continue  # incomplete (crashed) backup — not restorable
            m = json.loads(eng.fs.read_bytes(mpath))
            out.append({"object_name": m["name"], "timestamp": m["timestamp"],
                        "tables": sorted(m["tables"])})
        out.sort(key=lambda b: b["timestamp"], reverse=True)
        return out

    def restore_data_backup(self, object_name: str,
                            tables: list[str] | None = None) -> dict[str, Any]:
        """Copy a backup's objects back into the data root and commit
        them as the restored tables' files — recovers *data*, not just
        table configs, for dropped or corrupted tables. One table at a
        time, in sorted order, copies and commits under its ``#rewrite``
        lease — a copied file a commit once removed is not live until
        this commit adds it, so the garbage collector must not run in
        between — then collects what the commit removed."""
        eng = self._require_engine()
        src_root = fsmod.join(self.backup_root, os.path.basename(object_name))
        mpath = fsmod.join(src_root, "MANIFEST.json")
        if not eng.fs.exists(mpath):
            raise ValueError(f"no complete data backup named {object_name!r}")
        manifest = json.loads(eng.fs.read_bytes(mpath))
        tables = sorted(tables or manifest["tables"])
        for t in tables:
            if t not in manifest["tables"]:
                raise ValueError(f"table {t!r} is not in backup {object_name!r}")
        meta = manifest["metadata"]
        restored: dict[str, int] = {}
        for t in tables:
            entries = manifest["tables"][t]
            with eng.lease.holding(f"{t}/#rewrite", timeout_s=120.0), \
                    eng.lease.keepalive(f"{t}/#rewrite"):
                # same thread-pooled copy as create_data_backup; the
                # metadata commits only after every object landed
                _copy_all(
                    eng.fs,
                    [(fsmod.join(src_root, t, e["rel"]),
                      fsmod.join(eng.root, t, e["rel"])) for e in entries],
                )
                adds: dict[int, list[str]] = {}
                for e in entries:
                    gen_part, rel = e["rel"].split("/", 1)
                    adds.setdefault(int(gen_part[len("gen="):]), []).append(rel)
                # the manifest's files are added and every other live
                # file removed: the restored table is exactly the backup
                keep = {(g, rel) for g, rels in adds.items() for rel in rels}
                rms = {g: [rel for rel, _dt in files if (g, rel) not in keep]
                       for g, files in self.catalog.live_files(t).items()}
                cfgs = meta.get("tables", {})
                subset = {
                    "tables": {t: cfgs[t]} if t in cfgs else {},
                    "generations": {t: meta.get("generations", {}).get(t, [])},
                }
                self.catalog.import_metadata(subset, add_files={t: adds},
                                             remove_files={t: rms})
                eng.cache.invalidate_table(t)
                eng._collect(t)
            restored[t] = len(entries)
        return {"success": True, "tables_restored": restored}

    # -- status ----------------------------------------------------------

    def status(self, healthy: bool = True) -> dict[str, Any]:
        """GetMetadataStatus RPC (miniodb.proto:306-318)."""
        listed = self.list_backups(days=36500)["backups"]
        last = listed[0]["timestamp"] if listed else None
        next_backup = (last or int(time.time() * 1_000_000)) + int(
            self.interval_s * 1_000_000
        )
        return {
            "node_id": str(self.node_id),
            "backup_status": {
                "backend": "catalog-json",
                "count": str(len(listed)),
                "interval_s": str(int(self.interval_s)),
            },
            "last_backup": last,
            "next_backup": next_backup,
            "health_status": "healthy" if healthy else "degraded",
        }
