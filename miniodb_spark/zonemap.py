"""File-level zone maps: a ``[min, max]`` bracket per file and zone-map
column, so a key or range lookup opens only the files that can hold a
match.

The reference keeps per-file min/max in a second metadata store (Redis,
query/file_pruning.go:107-255). Here the brackets ride the add entry
that commits each file to the table's commit log — Delta Lake's
add-file stats — so the live file set and its brackets are one read of
the log, with no LIST and no footer GET at lookup time
(:meth:`miniodb_spark.catalog.Catalog.live_entries`).

Every writer calls :meth:`ZoneMapStore.build` for the files it is
about to commit, before the commit: a flush brackets the Arrow tables
it holds; ingest, compaction and the rewrites read their outputs'
Parquet footers on a local root, and run one Spark aggregation grouped
by ``input_file_name()`` for a HadoopFS root and for float columns.
Files never change after their commit, so a bracket never goes stale.

**Never wrong.** A bracket is a hint, and pruning keeps every file it
cannot rule out: a file with no bracket for a column — committed before
the column joined ``TableConfig.zonemap_columns``, committed by a build
that failed, or holding a NaN or infinity in it — is scanned by that
column's lookups. A ``[None, None]`` bracket means the file holds no
non-NULL value there, which no comparison matches.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fs as fsmod


def _rel(uri: str, gen_dir: str) -> str:
    """Path of a data file relative to its generation directory,
    derived from the ``gen=N/`` segment so file://, s3a:// and bare
    paths all normalize identically."""
    key = gen_dir.rstrip("/").rsplit("/", 1)[-1] + "/"
    idx = uri.rfind(key)
    return uri[idx + len(key):] if idx >= 0 else uri


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
        # collected datetimes local-tz naive on a non-UTC host),
        # so Spark-collected datetimes are naive UTC, while pyarrow
        # statistics for isAdjustedToUTC timestamps come back tz-AWARE;
        # without normalization the aware form's "+00:00" suffix breaks
        # lexicographic ordering against naive strings of the same
        # instant (an unsound skip at an equal-instant bound).
        # The format is prefix-ordered: a ".ffffff" suffix only ever
        # increases the value, so string compare == typed compare.
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    # dates/decimals: store a sortable string form; the pruner only
    # compares same-typed values it stored itself
    return str(v)


class ZoneMapStore:
    """Builds the brackets a commit records and prunes with the ones
    the commit log holds."""

    def __init__(self, catalog):
        self.catalog = catalog
        # files build() had to bracket with a Spark aggregation because
        # their footers lacked usable stats (object-store roots, float
        # columns): the counted fallback
        self.spark_fallback_files = 0

    def build(
        self,
        spark: SparkSession,
        gen_dir: str,
        schema: T.StructType,
        columns: tuple[str, ...],
        files: dict[str, int],
        tables: dict | None = None,
    ) -> dict[str, dict]:
        """The add entries of ``files`` ({relpath: size}, new files of
        the generation directory ``gen_dir``, whose schema is
        ``schema``): ``{relpath: {"size", "rows", "stats": {column:
        [min, max]}}}`` over the zone-map ``columns`` the schema has.
        ``tables`` ({relpath: pyarrow.Table}) holds the rows of files
        the writer has in memory; the others are read from their
        footers on a local root, else by one Spark aggregation. A file
        the aggregation yields no row for (0 rows) gets no stats."""
        cols = [c for c in columns if c in schema.fieldNames()]
        entries = {rel: {"size": size} for rel, size in files.items()}
        found = {rel: _table_stats(tables[rel], cols) for rel in tables or ()}
        rest = [rel for rel in files if rel not in found]
        found.update(_footer_stats(gen_dir, rest, cols))
        need = [rel for rel in rest if rel not in found]
        if need and cols:
            self.spark_fallback_files += len(need)
            found.update(_spark_stats(spark, gen_dir, schema, need, cols))
        for rel, (rows, stats) in found.items():
            if rel in entries:
                entries[rel].update(rows=rows, stats=stats)
        return entries

    def load(self, table: str, gen: int) -> dict[str, dict]:
        """``{relpath: {column: [min, max]}}`` of the generation's live
        files, from their add entries (a file with none maps to {})."""
        files = self.catalog.live_entries(table).get(gen, {})
        return {rel: e.get("stats") or {} for rel, e in files.items()}

    def prune(
        self,
        brackets: dict[str, dict],
        listing: list[tuple[str, str]],
        column: str,
        value: Any,
    ) -> tuple[list[str], int]:
        """Select the files of ``listing`` a ``column = value`` lookup
        must scan, by the ``brackets`` :meth:`load` returned. Returns
        ``(selected_rel_paths, n_skipped)``. A NULL key scans every
        file: min/max ignore NULLs, so no bracket proves a file holds
        no NULL key."""
        if value is None:
            return [rel for rel, _dt in listing], 0
        return self.prune_range(brackets, listing, column, value, value)

    def prune_range(
        self,
        brackets: dict[str, dict],
        listing: list[tuple[str, str]],
        column: str,
        lo: Any = None,
        hi: Any = None,
        lo_incl: bool = True,
        hi_incl: bool = True,
    ) -> tuple[list[str], int]:
        """Files a range predicate on ``column`` must scan — the
        key-range twin of :meth:`prune` (``id > 'cursor'`` keyset
        pagination, time-slice scans). A file is skipped iff its
        [min, max] bracket provably misses the range: ``max < lo`` (or
        ``== lo`` when exclusive) / ``min > hi`` (or ``== hi`` when
        exclusive), or it holds no non-NULL value (a range never
        matches NULL). A file without a bracket is scanned."""
        if lo is None and hi is None:
            return [rel for rel, _dt in listing], 0
        vlo = _jsonable(lo) if lo is not None else None
        vhi = _jsonable(hi) if hi is not None else None
        selected: list[str] = []
        skipped = 0
        for rel, _dt in listing:
            bracket = brackets.get(rel, {}).get(column)
            if bracket is None:
                selected.append(rel)  # no bracket: must scan
                continue
            fmin, fmax = bracket
            if fmin is None or fmax is None:
                skipped += 1  # no non-NULL value
                continue
            try:
                admit = not (
                    vlo is not None
                    and (fmax < vlo or (fmax == vlo and not lo_incl))
                ) and not (
                    vhi is not None
                    and (fmin > vhi or (fmin == vhi and not hi_incl))
                )
            except TypeError:
                admit = True  # cross-type comparison: stay correct
            if admit:
                selected.append(rel)
            else:
                skipped += 1
        return selected, skipped


def _stats(pairs: dict[str, tuple[Any, Any]]) -> dict[str, list]:
    """``{column: [min, max]}`` as the log stores it, of ``{column:
    (min, max)}``. A column with a NaN or infinite bound gets none:
    parquet statistics and ``pyarrow.compute.min_max`` skip NaN while
    Spark orders NaN above every number (``w > 50`` matches a NaN row),
    and strict JSON holds neither."""
    return {c: [_jsonable(lo), _jsonable(hi)] for c, (lo, hi) in pairs.items()
            if not any(isinstance(v, float) and not math.isfinite(v)
                       for v in (lo, hi))}


def _table_stats(tbl, cols: list[str]) -> tuple[int, dict[str, list]]:
    """``(rows, brackets)`` of an Arrow table. ``min_max`` skips NaN as
    parquet statistics do, so a float column holding one gets no
    bracket; a column the table lacks is all NULL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    pairs: dict[str, tuple[Any, Any]] = {}
    for c in cols:
        if c not in tbl.column_names:
            pairs[c] = (None, None)
            continue
        col = tbl.column(c)
        if pa.types.is_floating(col.type) and pc.any(pc.is_nan(col)).as_py():
            continue
        mm = pc.min_max(col)
        pairs[c] = (mm["min"].as_py(), mm["max"].as_py())
    return tbl.num_rows, _stats(pairs)


def _footer_stats(gen_dir: str, rels: list[str],
                  cols: list[str]) -> dict[str, tuple[int, dict]]:
    """``{relpath: (rows, brackets)}`` from local parquet footers, for
    the files whose footers bracket every column; the others are
    omitted (the Spark aggregation brackets them). Never raises."""
    if "://" in gen_dir:
        return {}  # object-store root: no local file access
    import pyarrow.parquet as pq

    out: dict[str, tuple[int, dict]] = {}
    for rel in rels:
        try:
            md = pq.ParquetFile(fsmod.join(gen_dir, rel)).metadata
            names = {md.schema.column(i).name: i
                     for i in range(md.num_columns)}
            # a column absent from the file is all NULL
            pairs = {c: _footer_bracket(md, names[c]) if c in names
                     else (None, None) for c in cols}
        except Exception:
            continue  # unreadable footer: the Spark path covers it
        if all(p is not None for p in pairs.values()):
            out[rel] = (int(md.num_rows), _stats(pairs))
    return out


def _footer_bracket(md, i: int) -> tuple[Any, Any] | None:
    """Column ``i``'s (min, max) over every row group of a footer, or
    None where the footer cannot bracket it.

    FLOAT/DOUBLE columns never take this path: parquet statistics
    exclude NaN (a file holding [10.0, NaN, 3.0] footers as [3, 10]),
    and only the aggregation, whose max() propagates NaN, tells such a
    file apart. Truncated string statistics stay sound: the parquet
    spec requires a truncated min <= the true min and a truncated max
    >= the true max."""
    if md.schema.column(i).physical_type in ("FLOAT", "DOUBLE"):
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(i).statistics
        if st is None or not st.has_min_max:
            return None
        mn, mx = (v.decode("utf-8", "surrogateescape")
                  if isinstance(v, bytes) else v for v in (st.min, st.max))
        lo = mn if lo is None or mn < lo else lo
        hi = mx if hi is None or mx > hi else hi
    return lo, hi


def _spark_stats(spark: SparkSession, gen_dir: str, schema: T.StructType,
                 rels: list[str], cols: list[str]
                 ) -> dict[str, tuple[int, dict]]:
    """``{relpath: (rows, brackets)}`` by one distributed aggregation
    over ``rels`` — per-file count/min/max, map-side-combinable. A NaN
    makes a float column's max NaN, which leaves it unbracketed."""
    df = (spark.read.option("basePath", gen_dir).schema(schema)
          .parquet(*[fsmod.join(gen_dir, rel) for rel in rels]))
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    rows = (df.groupBy(F.input_file_name().alias("_file")).agg(*aggs)
            .collect())  # bounded: one row per file
    return {
        _rel(r["_file"], gen_dir): (int(r["_n"]), _stats(
            {c: (r[f"_min_{c}"], r[f"_max_{c}"]) for c in cols}))
        for r in rows
    }
