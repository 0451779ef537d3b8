"""A table's data files on disk next to the ones its commit log holds
live, in one form (``gen=N/<dir>/<name>``), for the tests that check
the garbage collector: after a collection the two lists are equal.
Also the helpers of the fault sweeps, which boot a fresh Engine after
a faulted call."""

from __future__ import annotations

import glob
import os
import time


def data_files(eng, table: str) -> list[str]:
    """Every data file under the table directory, committed or not (a
    ``file://`` root is read through its local path)."""
    tdir = os.path.join(eng.root.removeprefix("file://"), table)
    return sorted(os.path.relpath(p, tdir) for p in
                  glob.glob(os.path.join(tdir, "gen=*", "*", "*.parquet")))


def live_files(eng, table: str, version: int | None = None) -> list[str]:
    """The files the commit log holds live at ``version`` (default: the
    head)."""
    return sorted(f"gen={g}/{rel}" for g, files
                  in eng.catalog.live_files(table, version).items()
                  for rel, _dt in files)


def never_added(eng, table: str) -> list[str]:
    """The data files on disk that no commit ever added (a faulted
    writer's output)."""
    added = {f"gen={g}/{rel}"
             for g, rel in eng.catalog.added_files_index(table)}
    return [f for f in data_files(eng, table) if f not in added]


def age_past_grace(root: str) -> None:
    """Back-date every file under ``root`` past the collector's grace
    age, as if the writer that left it had been gone for a day."""
    from miniodb_spark.mutations import GC_GRACE_S

    old = time.time() - GC_GRACE_S - 3600
    for d, _dirs, files in os.walk(root):
        for f in files:
            os.utime(os.path.join(d, f), (old, old))


def expire_leases(root: str) -> None:
    """Drop the lease markers a faulted call left behind: a crashed
    holder's lease frees once its TTL runs out, which a sweep does not
    wait for."""
    for p in glob.glob(os.path.join(root, "_meta", "locks", "lease.*")):
        os.remove(p)
