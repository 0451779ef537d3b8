#!/usr/bin/env python3
"""Engine-level benchmark for miniodb_spark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Runs one workload (serve, ingest, analytics; see README.md) in one
process on a local Spark session with ``--cores`` cores (default: the
cores this process may use). Inputs come from ``--seed``. Every timed
answer is checked against an oracle; a wrong answer makes the run print
``"correct": false`` and exit 1.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it holds the
detail: the workload's own metrics, sizes, setup parts, host and
versions. Both, and with ``--trace 1`` the spans, are also written under
``.perfbench/results/``.

``--self-check`` runs every workload at sf0.001 scale for a few seconds,
asserts that every metric named in BENCHMARK.json is emitted, and that a
deliberately corrupted oracle answer fails the run.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import miniodb_spark  # noqa: E402,F401  (no package, no benchmark: exit non-zero)
import workloads  # noqa: E402
from tracing import JobCounter, Tracer, layer_report, per_layer_names  # noqa: E402

OUT = os.path.join(ROOT, ".perfbench")
_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Context:
    """What a workload needs, and how its result is assembled."""

    def __init__(self, spark, workload, seed, seconds, trace, scale, corrupt, session_start_s):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.trace, self.sizes, self.corrupt = trace, workloads.SIZES[scale], corrupt
        self.session_start_s = session_start_s
        self.work = os.path.join(OUT, "work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tracer = Tracer() if trace else None
        self.jobs = JobCounter(spark) if trace else None
        self.recorder = workloads.Recorder(self.tracer, self.jobs, self.cpu_s, seed=seed)
        self.detail: dict = {"workload": workload, "seed": seed, "seconds": seconds,
                             "trace": trace, "scale": scale,
                             "session_start_s": session_start_s}
        self.extra: dict = {}
        # the JVM the session launched (local mode: driver and executors)
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.jit_tids = jit_threads(self.jvm_pid)
        if self.tracer is not None:
            self.tracer.install()
            self.tracer.file_bytes = self._file_bytes

    def _file_bytes(self, table, gen, rel):
        path = os.path.join(self.work, "store", table, f"gen={gen}", rel)
        return os.path.getsize(path) if os.path.exists(path) else 0

    def cpu_s(self) -> float:
        """CPU seconds used so far by this Python driver and its JVM, less
        the JVM's JIT compiler threads; time stolen by other guests of the
        host is not in it. JIT compilation is a fresh JVM's warm-up: it
        fades in a long-running service, and from query to query it is
        the noisiest part of the JVM's CPU time."""
        jvm = _cpu_ticks(f"/proc/{self.jvm_pid}/stat") - sum(
            _cpu_ticks(f"/proc/{self.jvm_pid}/task/{tid}/stat") for tid in self.jit_tids)
        return time.process_time() + jvm / _CLK_TCK

    def peak_rss_mb(self) -> float:
        """Peak RSS of this Python driver plus its Spark JVM."""
        with open(f"/proc/{self.jvm_pid}/status", encoding="ascii") as fh:
            jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss + jvm_kb) / 1024

    def live_heap_mb(self) -> float:
        """JVM heap in use right after full collections: the live set.
        Python's collection runs first, so proxies it frees release their
        JVM objects; the pause between the JVM's two collections lets
        Spark's context cleaner drop the blocks (broadcasts, shuffles) the
        first one made unreachable."""
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        time.sleep(0.5)
        jvm.System.gc()
        rt = jvm.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def finish(self, setup_s, prim, cpu_weights, throughput, wall, p50_ms=None) -> dict:
        """Assemble the result; called by each workload after its checks.
        ``prim`` are the op kinds ``p50_ms`` times and the per-layer times
        are per op of. ``cpu_ms`` is the CPU of the workload's unit of work
        (a query of the mix, a flush round, a pass): each op kind's median
        CPU times its ``cpu_weights`` share of the unit, summed. Medians
        per kind keep a few ops hit by a collection or by the host out of
        it, and the fixed weights keep the mix the same on every run."""
        median, pct = workloads.median, workloads.pct
        rec = self.recorder
        lat = rec.lat_ms(*prim)
        attempted, failed = rec.totals()
        d = self.detail
        d["setup_s_parts"] = {"session_start_s": self.session_start_s,
                              "store_and_warmup_s": setup_s}
        d["samples"] = dict(rec.attempted)
        d["failed_by_kind"] = dict(rec.failed)
        d["errors"] = rec.errors[:20]
        d["error_rate"] = failed / attempted if attempted else 0.0
        d["window_s"] = wall
        d["ops"] = [(k, round(lat * 1000, 2), ok, round(cpu * 1000, 1), round(steal, 4))
                    for k, lat, ok, _op, cpu, steal in rec.ops]
        # wall-clock figures: reported, not gated (README.md, "host noise")
        d["p50_ms"] = median(lat) if p50_ms is None else p50_ms
        d["p90_ms"] = pct(lat, 90)
        d["throughput_per_s"] = throughput
        d["peak_rss_mb"] = self.peak_rss_mb()
        d["cpu_steal_share"] = rec.steal_share
        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        d["python_peak_rss_mb"], d["jvm_live_heap_mb"] = py_mb, self.live_heap_mb()
        e2e = {
            "setup_s": (self.session_start_s + setup_s, "s"),
            "cpu_ms": (sum(w * median(rec.cpu_ms(k)) for k, w in cpu_weights.items()), "ms"),
            "memory_mb": (py_mb + d["jvm_live_heap_mb"], "MB"),
        }
        d["end_to_end"] = {k: v for k, (v, _u) in e2e.items()}
        if self.tracer is not None:
            layers, tdetail = layer_report(self.tracer, rec, self.jobs, prim,
                                          workloads.ANALYTICS, self.extra)
            d["trace_detail"] = tdetail
            units = per_layer_names(workloads.ANALYTICS)
            metrics = {k: (layers[k], units[k]) for k in units}
        else:
            metrics = e2e
        return {"correct": True, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": _num(v), "unit": u} for k, (v, u) in metrics.items()}}


def _cpu_ticks(stat_path: str) -> int:
    """User plus system clock ticks of a process or thread."""
    with open(stat_path, encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def jit_threads(pid: int) -> list[str]:
    """Thread ids of the JVM's JIT compiler threads (a fixed set: the
    session starts the JVM with dynamic compiler threads off)."""
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{tid}/comm", encoding="ascii") as fh:
            if "CompilerThre" in fh.read():
                out.append(tid)
    return out


def _num(v: float) -> float:
    # a failed op counts as missing every bound: report it as a huge time
    return 1e12 if math.isinf(v) else (0.0 if math.isnan(v) else v)


def host_record(cores: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"host_cpus": os.cpu_count(), "usable_cpus": len(os.sched_getaffinity(0)),
            "spark_cores": cores, "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def start_spark(cores: int):
    """A local session through the package's own factory, with every
    temporary file kept under .perfbench/."""
    from miniodb_spark.session import get_spark

    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark("perfbench", cpus=cores, extra_conf={
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                         "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def run_workload(spark, workload, seed, seconds, trace, scale="full", corrupt=False,
                 session_start_s=0.0) -> tuple[dict, dict]:
    """One run; returns (result line, detail)."""
    ctx = Context(spark, workload, seed, seconds, trace, scale, corrupt, session_start_s)
    try:
        result = workloads.WORKLOADS[workload](ctx)
    except workloads.CheckFailed as exc:
        attempted, failed = ctx.recorder.totals()
        ctx.detail["check_failed"] = str(exc)[:2000]
        result = {"correct": False, "attempted": max(1, attempted), "failed": failed,
                  "metrics": {}}
    finally:
        if ctx.tracer is not None:
            ctx.tracer.uninstall()
            os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
            ctx.tracer.dump(os.path.join(OUT, "results", f"spans-{workload}-{seed}.jsonl"))
        shutil.rmtree(ctx.work, ignore_errors=True)
    return result, ctx.detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    os.makedirs(OUT, exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    os.makedirs(tempfile.tempdir, exist_ok=True)
    # the driver heap cap the benchmark runs under (a shared host)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    if args.self_check:
        import selfcheck

        return selfcheck.main(args.cores)
    if not args.workload:
        ap.error("--workload is required")
    t0 = time.perf_counter()
    spark = start_spark(args.cores)
    session_start_s = time.perf_counter() - t0
    try:
        result, detail = run_workload(spark, args.workload, args.seed, args.seconds,
                                      args.trace, session_start_s=session_start_s)
    finally:
        stop_spark(spark)
    detail["host"] = host_record(args.cores)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    name = f"{args.workload}-{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, "results", name), "w", encoding="utf-8") as fh:
        json.dump({"result": result, "detail": detail}, fh, indent=1, default=str)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
