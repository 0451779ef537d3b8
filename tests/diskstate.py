"""A table's data files on disk next to the ones its commit log holds
live, in one form (``gen=N/<dir>/<name>``), for the tests that check
the garbage collector: after a collection the two lists are equal."""

from __future__ import annotations

import glob
import os


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
