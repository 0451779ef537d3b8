"""The benchmark workloads: serve, ingest and analytics.

Each workload builds its inputs from the seed, sets up (timed, several
times, median reported), then runs its timed loop for ``seconds`` through
the engine's public API or the registry's public query functions, checks
every answer it timed against an oracle built outside the timed path, and
returns the run's result line (``Context.finish`` in run.py). See README.md
for what each workload exercises and why.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import datagen
from tracing import JobCounter, Tracer

# sizes per scale; "tiny" is the self-check's sf0.001-sized variant
SIZES = {
    "full": {"base_rows": 10_000, "base_batch": 5_000, "ingest_batch": 500,
             "ingest_flush_rows": 5_000, "single_writes": 50, "preseed_rows": 200,
             "bulk_sf": 0.01, "warmup_queries": 20, "analytics_sf": 0.01, "setup_reps": 3},
    "tiny": {"base_rows": 1_000, "base_batch": 500, "ingest_batch": 100,
             "ingest_flush_rows": 500, "single_writes": 10, "preseed_rows": 20,
             "bulk_sf": 0.001, "warmup_queries": 2, "analytics_sf": 0.001, "setup_reps": 2},
}
TABLE = "events"
DAYS = 30
HOT_SET = 4  # repeated SQL texts; fits the engine's 1,024-entry result cache
CACHE_ENTRIES = 1_024
INGEST_DAYS = 2  # a live stream's timestamps: flushes pile files into the same days
L0_MERGE_FILES = 5  # compaction's L0 tier merges a day once it holds 5 files
UPDATE_ROUND = 2  # ingest: the round whose first step updates a flushed row
BULK_EVERY = 4  # ingest: ingest_dataframe in rounds 3, 7, ...
# the analytics workload times bench.py's headline set (BENCH_QUERIES), the
# registry entries rounds 17-18 optimised: every operator family of
# queries/ and operators/ that set exercises (README.md lists them)
ANALYTICS = [
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue", "agg_global",
    "agg_count_distinct", "filter_in_between_like", "join_inner_agg", "join_multiway_region",
    "join_left_count", "cte_revenue", "window_row_number_topn", "sessionize_30min",
    "sort_limit_topk", "date_trunc_month", "json_extract_props", "dedup_exact_groups",
    "dedup_minhash_lsh", "text_stats_by_lang", "embedding_cosine_topk",
]
# per-layer metrics each workload must drive above zero (the self-check
# asserts it); README.md maps them to the end-to-end numbers they move
EXERCISED = {
    "serve": ("gate.ms", "extractor.ms", "cache.lookup_ms", "catalog.refresh_ms",
              "engine.read_table_ms", "engine.view_build_ms", "zonemap.prune_ms",
              "spark.plan_ms", "spark.exec_ms", "cache.hit_ratio",
              "zonemap.files_scanned_per_query", "fs.calls_per_query",
              "spark.jobs_per_query", "spark.tasks_per_query"),
    "ingest": ("engine.write_ms", "buffer.add_ms", "buffer.drain_ms", "buffer.read_ms",
               "engine.read_buffer_ms", "schema.infer_ms", "schema.to_spark_ms",
               "engine.parquet_write_ms", "catalog.commit_ms", "zonemap.build_ms",
               "kv.lease_ms", "engine.mutate_ms", "mutations.rewrite_ms", "compaction.ms",
               "engine.bulk_write_ms", "cache.invalidations_per_write",
               "buffer.fsyncs_per_1k_rows", "fs.calls_per_flush", "files_per_flush",
               "spark.jobs_per_flush", "mutations.bytes_rewritten_per_update",
               "compaction.files_merged"),
    "analytics": tuple(f"queries.{n}.s" for n in ANALYTICS)
    + ("spark.jobs_per_pass", "spark.tasks_per_pass", "spark.exchanges_per_pass"),
}


class CheckFailed(AssertionError):
    pass


# -- timing, failures and tracing ------------------------------------------


class Recorder:
    """Times operations and counts failures against attempts. In a traced
    run it opens each traced op's root span and Spark job group. Which ops
    are traced is drawn per op from the seed, half of them, except that
    the first op of each kind is traced and the second is not, so every
    kind run more than once has traced and untraced samples in the same
    window (the tracing overhead compares the two). The kinds in
    ``ALWAYS_TRACED`` occur once or twice a run and are traced every time."""

    ALWAYS_TRACED = ("update", "compact", "bulk")

    def __init__(self, tracer: Tracer | None, jobs: JobCounter | None, cpu_clock, seed: int = 0):
        self.tracer, self.jobs = tracer, jobs
        self.cpu_clock = cpu_clock
        self.rng = random.Random(seed)
        # (kind, latency s, ok, traced op id or None, CPU s of driver + JVM,
        # host steal share) per op
        self.ops: list[tuple[str, float, bool, int | None, float, float]] = []
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.errors: list[str] = []

    def start_window(self) -> None:
        self._cpu0 = _cpu_times()

    def end_window(self) -> None:
        cpu = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        # host CPU time stolen by other guests while the window ran
        self.steal_share = cpu[7] / sum(cpu) if len(cpu) > 7 and sum(cpu) else 0.0

    def run(self, kind: str, fn):
        """Run one op; returns (ok, value)."""
        tr = self.tracer
        n = self.attempted[kind]
        traced = tr is not None and (kind in self.ALWAYS_TRACED or n == 0
                                     or (n > 1 and self.rng.random() < 0.5))
        op = idx = None
        if traced:
            tr.active = True
            op = tr.new_op()
            idx = tr.begin(f"op.{kind}", "op", op=op)
            self.jobs.start(op)
        c0 = self.cpu_clock()
        h0 = _cpu_times()
        t0 = time.perf_counter()
        ok, value = True, None
        try:
            value = fn()
        except Exception as exc:  # counted, logged, never swallowed silently
            ok = False
            msg = f"{kind}: {type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
            self.errors.append(msg[:300])
        finally:
            t1 = time.perf_counter()
            c1 = self.cpu_clock()
            h1 = [b - a for a, b in zip(h0, _cpu_times())]
            if traced:
                self.jobs.stop()
                tr.end(idx)
                tr.active = False
        self.attempted[kind] += 1
        if not ok:
            self.failed[kind] += 1
        self.ops.append((kind, t1 - t0, ok, op, c1 - c0, h1[7] / sum(h1) if sum(h1) else 0.0))
        return ok, value

    def lat_ms(self, *kinds: str, traced: bool | None = None) -> list[float]:
        """Latencies in ms; a failed op counts as missing every bound."""
        return [(lat * 1000 if ok else math.inf) for k, lat, ok, op, _c, _s in self.ops
                if k in kinds and (traced is None or (op is not None) == traced)]

    def cpu_ms(self, *kinds: str) -> list[float]:
        return [c * 1000 for k, _lat, _ok, _op, c, _s in self.ops if k in kinds]

    def wall_s(self, *kinds: str) -> float:
        return sum(lat for k, lat, *_ in self.ops if k in kinds)

    def totals(self) -> tuple[int, int]:
        return sum(self.attempted.values()), sum(self.failed.values())


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    if not values:
        return math.nan
    v = sorted(values)
    return v[max(0, min(len(v) - 1, math.ceil(q / 100 * len(v)) - 1))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def timed_setup(reps: int, fn) -> tuple[float, list[float], object]:
    """Run ``fn`` ``reps`` times; return (median s, all s, last result)."""
    walls, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls), walls, out


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs)


# -- serve: the events store and its oracle ----------------------------------


def iso(us: int) -> str:
    return datetime.fromtimestamp(us / 1e6, tz=timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


class EventsOracle:
    """Answers for the serve query mix from the generated columns: lookups
    from a per-id model, range and group-by aggregates with pyarrow compute."""

    def __init__(self, cols: dict, corrupt: bool = False):
        self.tbl = datagen.events_table(cols)
        self.model = {f"e{eid}": {"user_id": int(u), "event_type": str(et), "value": float(v),
                                  "props": str(p), "ts_ms": int(t) // 1000}
                      for eid, t, u, et, v, p in zip(cols["event_id"], cols["ts"], cols["user_id"],
                                                      cols["event_type"], cols["value"],
                                                      cols["props"])}
        self.corrupt = corrupt

    def _spoil(self, expected):
        """Self-check hook: the first answer checked is deliberately wrong."""
        if self.corrupt and expected:
            self.corrupt = False
            key = next(iter(expected))
            expected[key] = (expected[key][0] + 1,) + tuple(expected[key][1:])
        return expected

    def _grouped(self, mask, agg: str) -> dict:
        sub = self.tbl.filter(mask).group_by("event_type").aggregate(
            [("value", "count"), ("value", agg)])
        return {et: (n, v) for et, n, v in zip(sub["event_type"].to_pylist(),
                                                sub["value_count"].to_pylist(),
                                                sub[f"value_{agg}"].to_pylist())}

    def check(self, q: tuple, result: str) -> None:
        rows = json.loads(result)
        kind = q[0]
        if kind == "lookup":
            want = self.model[q[1]]
            if self.corrupt:
                self.corrupt = False
                want = dict(want, value=want["value"] + 1)
            if len(rows) != 1:
                raise CheckFailed(f"lookup {q[1]}: {len(rows)} rows")
            r = rows[0]
            got_ms = int(datetime.fromisoformat(r["timestamp"].replace("Z", "+00:00"))
                         .timestamp() * 1000 + 0.5)
            got = {"user_id": r["user_id"], "event_type": r["event_type"], "value": r["value"],
                   "props": r["props"], "ts_ms": got_ms}
            if r["id"] != q[1] or got != want:
                raise CheckFailed(f"lookup {q[1]}: got {got}, want {want}")
            return
        if kind == "range":
            ts = self.tbl["ts"].cast(pa.int64())
            mask = pc.and_(pc.greater_equal(ts, q[1]), pc.less(ts, q[2]))
            want = self._spoil(self._grouped(mask, "sum"))
            got = {r["event_type"]: (r["n"], r["s"]) for r in rows}
        else:
            want = self._spoil(self._grouped(pc.greater(self.tbl["value"], q[1]), "mean"))
            got = {r["event_type"]: (r["n"], r["a"]) for r in rows}
        if set(got) != set(want) or any(
                got[k][0] != want[k][0] or not math.isclose(got[k][1], want[k][1], rel_tol=1e-9)
                for k in want):
            raise CheckFailed(f"{kind} {q[1:]}: got {got}, want {want}")


def query_sql(q: tuple) -> str:
    kind = q[0]
    if kind == "lookup":
        return f"SELECT * FROM {TABLE} WHERE id = '{q[1]}'"
    if kind == "range":
        return (f"SELECT event_type, count(*) AS n, sum(value) AS s FROM {TABLE} "
                f"WHERE timestamp >= TIMESTAMP '{iso(q[1])}' AND timestamp < TIMESTAMP "
                f"'{iso(q[2])}' GROUP BY event_type")
    return (f"SELECT event_type, count(*) AS n, avg(value) AS a FROM {TABLE} "
            f"WHERE value > {q[1]} GROUP BY event_type")


class QueryMix:
    """40% point lookups on random ids, 20% 3-hour range aggregates, 20%
    group-bys with a varying predicate, 20% repeats of a hot set of
    ``HOT_SET`` SQL texts. The kinds cycle in a fixed order, so every
    window holds the same mix; ids, windows and predicates are random.
    Range windows start on whole seconds."""

    CYCLE = ("lookup", "range", "lookup", "agg", "repeat")

    def __init__(self, rng: np.random.Generator, ids: list[str]):
        self.rng, self.ids = rng, ids
        self.hot = [self._range() if i % 2 else self._agg() for i in range(HOT_SET)]
        self.n = 0

    def _range(self) -> tuple:
        start_s = int(self.rng.integers(0, DAYS * 86_400 - 3 * 3_600))
        lo = datagen.EVENTS_START_US + start_s * 1_000_000
        return ("range", lo, lo + 3 * 3_600 * 1_000_000)

    def _agg(self) -> tuple:
        return ("agg", round(float(self.rng.integers(1, 400)) * 0.25, 2))

    def next(self) -> tuple[str, tuple]:
        kind = self.CYCLE[self.n % len(self.CYCLE)]
        self.n += 1
        if kind == "lookup":
            return kind, ("lookup", self.ids[int(self.rng.integers(0, len(self.ids)))])
        if kind == "repeat":
            return kind, self.hot[int(self.rng.integers(0, len(self.hot)))]
        q = self._range() if kind == "range" else self._agg()
        while q in self.hot:  # a hot text would be a cache hit, not a miss
            q = self._range() if kind == "range" else self._agg()
        return kind, q


def build_events_store(spark, root: str, records: list[dict], batch: int):
    from miniodb_spark.engine import Engine

    if os.path.exists(root):
        shutil.rmtree(root)
    eng = Engine(spark, root)
    for i in range(0, len(records), batch):
        eng.write_batch(TABLE, records[i:i + batch])
    eng.flush(TABLE)
    return eng


def _data_files(root: str) -> int:
    return sum(f.endswith(".parquet") for _d, _s, fs in os.walk(root) for f in fs)


# -- workloads ---------------------------------------------------------------


def serve(ctx) -> dict:
    sz = ctx.sizes
    cols = datagen.events_arrays(np.random.default_rng([ctx.seed, 1]), sz["base_rows"], days=DAYS)
    records = datagen.event_records(cols)
    oracle = EventsOracle(cols, corrupt=ctx.corrupt)
    root = os.path.join(ctx.work, "store")
    setup_s, walls, eng = timed_setup(
        sz["setup_reps"], lambda: build_events_store(ctx.spark, root, records, sz["base_batch"]))
    mix = QueryMix(np.random.default_rng([ctx.seed, 2]), list(oracle.model))
    t0 = time.perf_counter()
    # warm-up: the hot set into the result cache, then the mix itself (its
    # own stream) until the JIT settles
    warm = QueryMix(np.random.default_rng([ctx.seed, 6]), mix.ids)
    for q in mix.hot + [warm.next()[1] for _ in range(sz["warmup_queries"])]:
        eng.query(query_sql(q))
    d = ctx.detail
    d["warmup_s"] = time.perf_counter() - t0
    d["setup_builds_s"] = walls
    d["sizes"] = {"rows": sz["base_rows"], "days": DAYS, "files": _data_files(root),
                  "write_batch_rows": sz["base_batch"], "lookup_working_set_ids": len(oracle.model),
                  "hot_set_texts": HOT_SET, "result_cache_entries": CACHE_ENTRIES}
    rec = ctx.recorder
    done: list[tuple] = []
    rec.start_window()
    t0 = time.perf_counter()
    t_end = t0 + ctx.seconds
    while time.perf_counter() < t_end:
        kind, q = mix.next()
        ok, out = rec.run(kind, lambda: eng.query(query_sql(q)))
        if ok:
            done.append((q, out))
    rec.end_window()
    wall = time.perf_counter() - t0
    for q, out in done:
        oracle.check(q, out)
    prim = ("lookup", "range", "agg")
    d["lookup_p50_ms"] = median(rec.lat_ms("lookup"))
    d["range_p50_ms"] = median(rec.lat_ms("range"))
    d["agg_p50_ms"] = median(rec.lat_ms("agg"))
    d["query_p90_ms"] = pct(rec.lat_ms(*prim), 90)
    d["repeat_p50_ms"] = median(rec.lat_ms("repeat"))
    d["queries_checked"] = len(done)
    # a query of the mix: two lookups, a range and a group-by in four
    return ctx.finish(setup_s + d["warmup_s"], prim,
                      cpu_weights={"lookup": 0.5, "range": 0.25, "agg": 0.25},
                      throughput=len(rec.lat_ms(*prim)) / wall, wall=wall)


def ingest(ctx) -> dict:
    from miniodb_spark.catalog import TableConfig
    from miniodb_spark.engine import Engine
    from pyspark.sql import functions as F

    sz = ctx.sizes
    per_round = sz["ingest_flush_rows"] + sz["single_writes"]
    cols = datagen.events_arrays(np.random.default_rng([ctx.seed, 3]), per_round * 20,
                                 days=INGEST_DAYS)
    records = datagen.event_records(cols)
    fx = datagen.fixture_dir(os.path.join(ctx.work, "fx"), ctx.seed, sz["bulk_sf"])
    root = os.path.join(ctx.work, "store")
    table = "ev_ingest"

    def boot():
        if os.path.exists(root):
            shutil.rmtree(root)
        eng = Engine(ctx.spark, root)
        for t in (table, "ev_warm"):  # the loop flushes explicitly, never the size trigger
            eng.create_table(t, TableConfig(name=t, buffer_size=1 << 40))
        return eng

    setup_s, walls, eng = timed_setup(sz["setup_reps"], boot)
    line = ctx.spark.read.parquet(f"{fx}/lineitem.parquet")
    bulk = line.select(
        F.concat_ws("-", F.lit("l"), "l_orderkey", "l_linenumber",
                    F.monotonically_increasing_id()).alias("id"),
        F.timestamp_micros(F.lit(datagen.EVENTS_START_US)
                           + (F.col("l_orderkey") % (DAYS * 86_400)) * 1_000_000).alias("timestamp"),
        *line.columns)
    n_bulk = line.count()
    state = {"written": 0, "bulk_rows": 0, "updated": {}}
    # (sql, answer, expected answer) of the reads each round makes while rows
    # are buffered
    reads: list[tuple[str, object, object]] = []

    def preseed(tbl: str) -> None:
        """Small flushes until some day holds one file short of the L0
        merge, so the window's first flush makes compaction merge."""
        i = 0
        while _max_day_files(os.path.join(root, tbl)) < L0_MERGE_FILES - 1:
            chunk = [dict(r, id=f"p{i}-{j}") for j, r in enumerate(records[:sz["preseed_rows"]])]
            eng.write_batch(tbl, chunk)
            eng.flush(tbl)
            state["written"] += len(chunk) if tbl == table else 0
            i += 1

    def one_round(tbl: str, bulk_tbl: str, rnd: int, run) -> None:
        """Rows written in the previous round (its single writes included)
        are flushed first; this round's single writes stay buffered. The
        reads run after the first batch, with its rows still buffered; the
        next batch invalidates the cached count."""
        main = tbl == table
        if rnd:
            run("flush", lambda: eng.flush(tbl))
        if rnd and _max_day_files(os.path.join(root, tbl)) >= L0_MERGE_FILES:
            run("compact", lambda: eng.compact(tbl))
        if rnd == UPDATE_ROUND:
            rid, r, props = "b0-0", records[0], f"upd{ctx.seed}"
            ok, _ = run("update", lambda: eng.update(
                tbl, rid, dict(r["payload"], props=props), timestamp_us=r["timestamp_us"]))
            if ok and main:
                state["updated"][rid] = props
        if rnd % BULK_EVERY == BULK_EVERY - 1:
            ok, _ = run("bulk", lambda: eng.ingest_dataframe(bulk_tbl, bulk))
            state["bulk_rows"] += n_bulk if ok and main else 0
        base = (rnd * per_round) % len(records)
        for i in range(0, sz["ingest_flush_rows"], sz["ingest_batch"]):
            chunk = [dict(r, id=f"b{rnd}-{i + j}") for j, r in
                     enumerate(records[base + i:base + i + sz["ingest_batch"]])]
            ok, _ = run("write_batch", lambda: eng.write_batch(tbl, chunk))
            state["written"] += len(chunk) if ok and main else 0
            if i == 0:
                r = chunk[len(chunk) // 2]
                sql = f"SELECT id, value FROM {tbl} WHERE id = '{r['id']}'"
                ok, out = run("buffered_lookup", lambda: eng.query(sql))
                if ok and main:
                    reads.append((sql, out, [{"id": r["id"], "value": r["payload"]["value"]}]))
                # two aggregates: complex enough for the engine to cache it
                sql = f"SELECT count(*) AS n, count(DISTINCT id) AS d FROM {tbl}"
                ok, out = run("count", lambda: eng.query(sql))
                if ok and main:
                    reads.append((sql, out, [{"n": state["written"], "d": state["written"]}]))
        for j in range(sz["single_writes"]):
            r = records[base + sz["ingest_flush_rows"] + j]
            ok, _ = run("write", lambda: eng.write(
                tbl, r["payload"], record_id=f"s{rnd}-{j}", timestamp_us=r["timestamp_us"]))
            state["written"] += 1 if ok and main else 0

    t0 = time.perf_counter()
    # warm-up on other tables through every op kind: JIT of the write,
    # read and rewrite paths (round 1 flushes, then compacts)
    preseed("ev_warm")
    for rnd in range(2):
        one_round("ev_warm", "li_warm", rnd, lambda kind, fn: (True, fn()))
    eng.update("ev_warm", "b0-0", records[0]["payload"], timestamp_us=records[0]["timestamp_us"])
    eng.ingest_dataframe("li_warm", bulk)
    preseed(table)
    d = ctx.detail
    d["warmup_s"] = time.perf_counter() - t0
    d["setup_builds_s"] = walls
    d["sizes"] = {"write_batch_rows": sz["ingest_batch"], "flush_every_rows": per_round,
                  "single_writes_per_round": sz["single_writes"], "days": INGEST_DAYS,
                  "compact_at_day_files": L0_MERGE_FILES, "update_round": UPDATE_ROUND,
                  "bulk_every_rounds": BULK_EVERY, "bulk_rows_per_ingest": n_bulk,
                  "bulk_days": DAYS, "preseeded_rows": state["written"]}
    rec = ctx.recorder
    rnd = 0
    rec.start_window()
    t0 = time.perf_counter()
    t_end = t0 + ctx.seconds
    while time.perf_counter() < t_end:
        one_round(table, "li_bulk", rnd, rec.run)
        rnd += 1
    rec.end_window()
    wall = time.perf_counter() - t0
    written, bulk_rows, updated = state["written"], state["bulk_rows"], state["updated"]
    corrupt = ctx.corrupt
    for sql, out, want in reads:
        got = json.loads(out)
        if corrupt:
            corrupt, want = False, []
        if got != want:
            raise CheckFailed(f"{sql}: got {got}, want {want}")

    def check_store(e):
        _expect(e, f"SELECT count(*) AS n, count(DISTINCT id) AS d FROM {table}",
                {"n": written, "d": written})
        got = {r["id"]: r["props"] for r in json.loads(
            e.query(f"SELECT id, props FROM {table} WHERE props LIKE 'upd%'"))}
        if got != updated:
            raise CheckFailed(f"updated rows: got {got}, want {updated}")

    check_store(eng)
    if bulk_rows:
        _expect(eng, "SELECT count(*) AS n FROM li_bulk", {"n": bulk_rows})
    d["stored_bytes_per_row"] = (dir_bytes(os.path.join(root, table))
                                 + dir_bytes(os.path.join(root, "li_bulk"))) / (written + bulk_rows)
    del eng
    check_store(Engine(ctx.spark, root))  # fresh boot: WAL replay of the buffered rows
    kinds = ("write_batch", "write", "flush")
    buffered_s = rec.wall_s(*kinds)
    bulk_s = rec.wall_s("bulk")
    d["write_ack_p50_ms"] = median(rec.lat_ms("write_batch"))
    d["single_write_ack_p50_ms"] = median(rec.lat_ms("write"))
    d["write_rows_per_s"] = (written - d["sizes"]["preseeded_rows"]) / buffered_s
    d["flush_p50_ms"] = median(rec.lat_ms("flush"))
    d["bulk_rows_per_s"] = bulk_rows / bulk_s if bulk_s else math.nan
    d["update_ms"] = median(rec.lat_ms("update"))
    d["compact_p50_ms"] = median(rec.lat_ms("compact"))
    d["buffered_lookup_p50_ms"] = median(rec.lat_ms("buffered_lookup"))
    d["count_p50_ms"] = median(rec.lat_ms("count"))
    d["rows_written"], d["bulk_rows"], d["rounds"] = written, bulk_rows, rnd
    # a round's buffered write path: its write_batch and write calls and
    # the flush of the previous round's rows
    return ctx.finish(setup_s + d["warmup_s"], ("flush",),
                      cpu_weights={"flush": 1, "write_batch": sz["ingest_flush_rows"] // sz["ingest_batch"],
                                   "write": sz["single_writes"]},
                      throughput=d["write_rows_per_s"], wall=wall)


def _max_day_files(table_dir: str) -> int:
    """Most parquet files in one ``dt=`` partition of the table."""
    return max((sum(f.endswith(".parquet") for f in fs) for d, _s, fs in os.walk(table_dir)
                if os.path.basename(d).startswith("dt=")), default=0)


def _expect(eng, sql: str, want: dict, corrupt: bool = False) -> None:
    rows = json.loads(eng.query(sql))
    if corrupt:
        want = {k: v + 1 for k, v in want.items()}
    if rows != [want]:
        raise CheckFailed(f"{sql}: got {rows}, want {[want]}")


def analytics(ctx) -> dict:
    import duckdb

    from miniodb_spark.queries import get_registry

    reg = get_registry()
    sz = ctx.sizes
    fx_root = os.path.join(ctx.work, "fx")
    setup_s, walls, fx = timed_setup(
        sz["setup_reps"], lambda: datagen.fixture_dir(fx_root, ctx.seed, sz["analytics_sf"]))
    t0 = time.perf_counter()
    # warm-up pass (codegen and JIT of every entry), on two client threads
    # to shorten set-up
    with ThreadPoolExecutor(2) as pool:
        list(pool.map(lambda name: reg[name].fn(ctx.spark, fx).collect(), ANALYTICS))
    ctx.detail["warmup_s"] = time.perf_counter() - t0
    setup_s += ctx.detail["warmup_s"]
    ctx.detail["setup_builds_s"] = walls
    ctx.detail["sizes"] = {"sf": sz["analytics_sf"], "entries": len(ANALYTICS),
                           "lineitem_rows": _rows(f"{fx}/lineitem.parquet")}
    rec = ctx.recorder
    first: dict[str, tuple] = {}  # entry -> (DataFrame, rows) of its first run

    def run_entry(name: str) -> tuple:
        df = reg[name].fn(ctx.spark, fx)
        return df, df.collect()

    rec.start_window()
    t0 = time.perf_counter()
    t_end = t0 + ctx.seconds
    i = 0
    # the window runs at least one whole pass, so every entry is timed
    while time.perf_counter() < t_end or i < len(ANALYTICS):
        name = ANALYTICS[i % len(ANALYTICS)]
        ok, out = rec.run(f"queries.{name}", lambda: run_entry(name))
        if ok and name not in first:
            first[name] = out
        i += 1
    rec.end_window()
    wall = time.perf_counter() - t0
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx}/{t}.parquet')")
    corrupt = ctx.corrupt
    for name in ANALYTICS:
        spec = reg[name]
        if name not in first:
            continue  # the op failed every time: counted in ``failed``
        res = con.execute(spec.oracle)
        want = res.fetchall()
        if corrupt and want:
            corrupt = False
            want = want[1:]
        df, rows = first[name]
        cols = df.columns
        if len(rows) != len(want) or _canon([tuple(r) for r in rows], cols) != _canon(
                want, [c[0] for c in res.description]):
            raise CheckFailed(f"{name}: Spark and DuckDB oracle disagree")
    d = ctx.detail
    per = {name: median(rec.lat_ms(f"queries.{name}")) for name in ANALYTICS}
    d["queries_ms"] = per
    d["analytics_pass_s"] = sum(per.values()) / 1000
    d["passes"] = i / len(ANALYTICS)
    if ctx.trace:
        ctx.extra["exchanges_per_pass"] = sum(_exchanges(df) for df, _rows in first.values())
    # a pass; p50 over the entries' own medians, so a window that ends
    # mid-pass does not shift the mix
    kinds = tuple(f"queries.{n}" for n in ANALYTICS)
    return ctx.finish(setup_s, kinds, cpu_weights=dict.fromkeys(kinds, 1), throughput=i / wall,
                      wall=wall, p50_ms=median(list(per.values())))


def _exchanges(df) -> int:
    """Exchanges in the formatted physical plan, reused ones not counted."""
    import re

    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    return len(re.findall(r"\bExchange\b", plan)) - len(re.findall(r"\bReusedExchange\b", plan))


def _rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _canon(rows, columns):
    """Order-insensitive, column-order-insensitive rows with floats to 9
    significant digits (the repo's oracle-parity normalisation)."""
    from datetime import date

    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else (0.0 if v == 0 else float(f"{v:.9g}"))
        if isinstance(v, (datetime, date)):
            return str(v)[:26]
        if hasattr(v, "item"):
            return cell(v.item())
        return v

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


WORKLOADS = {"serve": serve, "ingest": ingest, "analytics": analytics}
