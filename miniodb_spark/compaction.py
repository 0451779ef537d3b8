"""Tiered small-file compaction.

Parity target: /root/reference/internal/compaction/manager.go:19-110,
298-553 — LSM-inspired tiers L0 <16 MB (merge ≥5), L1 <64 MB (≥3),
L2 <256 MB (≥2), L3 <1 GB (≥2), ≤20 files per run, ≤1M rows per
output file. The reference reads all rows through a flat GenericRecord
schema that collapses dynamic columns into a JSON payload string
(parquet_writer.go:19-24) — a lossy asymmetry; we compact losslessly
(same columns in, same columns out).

Spark-shaped: candidates are selected per ``dt`` partition (so
partition pruning is preserved) from the table's LIVE files — the
commit log's add/remove entries, never a directory listing — read as
one distributed job, written to a temp dir with ``maxRecordsPerFile``
and moved into the partition under fresh names. The outputs are
invisible until :meth:`Engine.compact` commits them in one add+remove
log record, so a crash at any point leaves either the inputs or the
outputs live, never both; nothing here deletes an input — the table's
garbage collector (``mutations.gc_superseded``) does, after the
commit. At 100 TB
this runs as a periodic job per table over only the partitions whose
small-file count crossed the threshold — never a full table rewrite.

All file listing/moving/removal goes through :mod:`miniodb_spark.fs`,
so compaction runs unchanged against a local root or an object store
(``s3a://``) — the reference compacts objects on MinIO the same
download/merge/reupload way (manager.go:298-553).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession

from . import fs as fsmod
from .fs import LocalFS

MB = 1024 * 1024

# (max_file_size, min_files_to_merge) per tier — reference manager.go:44-83
TIERS = [
    (16 * MB, 5),   # L0
    (64 * MB, 3),   # L1
    (256 * MB, 2),  # L2
    (1024 * MB, 2), # L3
]
MAX_FILES_PER_RUN = 20
MAX_ROWS_PER_FILE = 1_000_000


def file_tier(size: int) -> int:
    for level, (cap, _) in enumerate(TIERS):
        if size < cap:
            return level
    return len(TIERS)  # beyond L3: never compacted


@dataclass
class CompactionPlan:
    partition_dir: str
    files: list[str]
    tier: int
    total_bytes: int
    gen: int
    dt: str

    @property
    def rels(self) -> list[str]:
        """The inputs relative to the generation directory — the form
        the commit log records."""
        return [f"dt={self.dt}/" + p.rstrip("/").rsplit("/", 1)[-1]
                for p in self.files]

    def stats(self, outputs: int) -> dict:
        return {
            "inputs": len(self.files),
            "outputs": outputs,
            "tier": self.tier,
            "bytes": self.total_bytes,
            # write amplification stat, as the reference records
            # (manager.go:698-706)
            "write_amplification": 1.0,
        }


def plan_partition(partition_dir: str, files: list[tuple[str, int]],
                   gen: int, dt: str) -> list[CompactionPlan]:
    """Classify a partition's ``(path, size)`` files by tier and select
    candidate groups (≥ tier threshold files in the same tier, capped
    per run)."""
    by_tier: dict[int, list[tuple[str, int]]] = {}
    for path, size in files:
        by_tier.setdefault(file_tier(size), []).append((path, size))

    plans = []
    for tier, (cap, min_files) in enumerate(TIERS):
        group = sorted(by_tier.get(tier, []), key=lambda x: x[1])
        if len(group) >= min_files:
            chosen = group[:MAX_FILES_PER_RUN]
            plans.append(
                CompactionPlan(
                    partition_dir=partition_dir,
                    files=[p for p, _ in chosen],
                    tier=tier,
                    total_bytes=sum(s for _, s in chosen),
                    gen=gen,
                    dt=dt,
                )
            )
    return plans


def plan_table(table_dir: str,
               objects: dict[tuple[int, str], list[tuple[str, int]]]
               ) -> list[CompactionPlan]:
    """Plans over the table's live files, ``{(gen, dt): [(path, size)]}``
    (:meth:`Engine.live_objects`): a file no commit holds live — a
    crashed writer's output, a leftover a commit already removed — is
    never merged. Compaction stays inside one ``gen=N/dt=day``
    partition, so merged files keep a single physical schema."""
    plans: list[CompactionPlan] = []
    for (gen, dt), files in sorted(objects.items()):
        part_dir = fsmod.join(table_dir, f"gen={gen}", f"dt={dt}")
        plans.extend(plan_partition(part_dir, files, gen, dt))
    return plans


def _remove_outputs(fs, plan: CompactionPlan, rels: list[str]) -> None:
    for rel in rels:
        try:
            fs.remove_file(fsmod.join(plan.partition_dir,
                                      rel.rsplit("/", 1)[-1]))
        except FileNotFoundError:
            pass  # its move failed before creating it


def execute_plan(spark: SparkSession, plan: CompactionPlan, fs=None,
                 zorder_by: list[str] | None = None) -> list[str]:
    """Merge the plan's files: distributed read → coalesced write to a
    temp dir → outputs moved into the partition under fresh names.
    Lossless: no schema collapse. Returns the outputs' paths relative
    to the generation directory. The inputs are left alone: the
    outputs stay invisible until the caller's commit adds them and
    removes the inputs, and the garbage collector deletes the inputs
    after that commit. On failure every output already moved in is
    removed.

    ``zorder_by`` additionally Morton-clusters the rewritten partition
    (layout.zorder_value) — the OPTIMIZE-ZORDER analog: compaction is
    the natural moment to fix layout, since the rewrite is already paid
    for. Columns missing from this partition's schema are skipped."""
    fs = fs or LocalFS()
    df = spark.read.option("mergeSchema", "true").parquet(*plan.files)
    target_files = max(1, plan.total_bytes // (128 * MB))
    tmp = plan.partition_dir + f".compact_{uuid.uuid4().hex}"
    zcols = [c for c in (zorder_by or []) if c in df.columns]
    if zcols:
        from .layout import zorder_value

        # range-partition on the Morton key (coalesce would concatenate
        # sorted partitions and break the global clustering), then sort
        # within each output file
        out_df = (
            zorder_value(df, zcols)
            .repartitionByRange(int(target_files), "_zorder")
            .sortWithinPartitions("_zorder")
            .drop("_zorder")
        )
    else:
        out_df = df.coalesce(int(target_files))
    (
        out_df
        .write.option("maxRecordsPerFile", MAX_ROWS_PER_FILE)
        .mode("overwrite")
        .parquet(tmp)
    )
    moved: list[str] = []
    try:
        for i, (src, _size) in enumerate(
                fs.list_files(tmp, suffix=".parquet")):
            name = f"compacted_{uuid.uuid4().hex}_{i}.parquet"
            moved.append(f"dt={plan.dt}/{name}")
            fs.move(src, fsmod.join(plan.partition_dir, name))
    except BaseException:
        _remove_outputs(fs, plan, moved)
        raise
    finally:
        fs.remove_dir(tmp)
    return moved


def compact_table(spark: SparkSession, plans: list[CompactionPlan],
                  fs=None, zorder_by: list[str] | None = None
                  ) -> list[list[str]]:
    """Execute every plan; returns each plan's outputs (plan order).
    Nothing is committed or deleted here — see :func:`execute_plan`.
    If any plan fails, the outputs of the others are removed too and
    the first failure is raised.

    Plans target DISJOINT partition/file sets (one plan per (partition,
    tier), candidate files chosen within that partition), so they are
    independent jobs — a couple run concurrently from a small driver
    thread pool (r18, guide §2.6): each merge is a tiny read→write job
    whose tail would otherwise leave the cluster idle between plans.
    Spark's scheduler interleaves them FIFO. Output sizing audit (r18,
    guide §6): execute_plan targets ``total_bytes // 128 MB`` files
    under ``maxRecordsPerFile`` — files land in the advisory 128 MB–1 GB
    band, so the tier merge cannot recreate the one-giant-file-per-day
    layout the flush path avoids."""
    fs = fs or LocalFS()
    if len(plans) <= 1:
        return [execute_plan(spark, p, fs=fs, zorder_by=zorder_by)
                for p in plans]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(3, len(plans))) as ex:
        futures = [
            ex.submit(execute_plan, spark, p, fs=fs, zorder_by=zorder_by)
            for p in plans
        ]
    errors = [f.exception() for f in futures if f.exception() is not None]
    if errors:
        for plan, f in zip(plans, futures):
            if f.exception() is None:
                _remove_outputs(fs, plan, f.result())
        raise errors[0]
    return [f.result() for f in futures]
