"""Catalog-style schema reuse for the STATIC testdata fixtures.

``spark.read.parquet(path)`` pays a file listing + parquet footer
schema inference on the DRIVER on every call — measured ~90 ms per
call at sf0.1 (a round-17 tools/spark_profile.py experiment), and at 100 TB
it is a per-query object-store footer fetch. Every registry query
re-opens its fixture tables on every invocation, so this constant was
multiplied by 1-6 tables × every query execution.

:func:`fixture_df` infers the schema ONCE per (process, path) from the
parquet footer — i.e. still computed from the parquet inputs, exactly
like the first read always has — and supplies it explicitly on
subsequent reads (~17 ms/call measured). This is precisely what a
table catalog does with a table definition (the reference keeps table
schemas in its catalog; Spark's own ``saveAsTable`` metastore path
never re-infers), scoped to one process: nothing is persisted across
runs, and a fresh bench/driver process always starts by reading the
footer again.

Scope guard: ONLY for the read-only fixture directories the registry
queries scan. Engine store directories mutate (flush / compaction /
schema evolution) and must keep re-reading their live schema — the
engine paths do not use this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# keyed on (path, file mtime_ns): a harness that regenerates a fixture
# at the same path inside one process (r17 ADVICE) invalidates the
# entry naturally instead of silently reading with a stale schema. The
# stat() is a single driver syscall (~µs) — noise next to the ~17 ms
# schema-supplied open it protects.
_SCHEMA_CACHE: dict[tuple[str, int], T.StructType] = {}


def _fingerprint(path: str) -> int:
    import os

    try:
        st = os.stat(path)
        if os.path.isdir(path):
            # directory-shaped parquet: fingerprint the newest entry
            # (regeneration rewrites part files)
            newest = max(
                (os.stat(os.path.join(path, f)).st_mtime_ns
                 for f in os.listdir(path)), default=st.st_mtime_ns)
            return max(st.st_mtime_ns, newest)
        return st.st_mtime_ns
    except OSError:
        return -1  # let the Spark read raise the real error


def fixture_df(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read ``{sf_dir}/{table}.parquet`` with the process-cached
    footer schema (first call infers and caches it)."""
    path = f"{sf_dir}/{table}.parquet"
    key = (path, _fingerprint(path))
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return spark.read.schema(sch).parquet(path)
