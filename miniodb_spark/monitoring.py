"""Metrics registry + component health checker.

Parity target: the reference's Prometheus metrics and health subsystem
(/root/reference/internal/monitoring/metrics.go, health.go;
internal/metrics/metrics.go) — counters/gauges/histograms with a text
exposition, and per-component health (Redis / MinIO / DB / system)
rolled up into overall + readiness/liveness. The component list maps
to this engine's actual dependencies: Spark session, storage root
(local or object store), catalog, write buffers.

Pure stdlib; the text exposition follows the public Prometheus format
so any scraper can consume it — no client library required.
"""

from __future__ import annotations

import threading
import time
from bisect import bisect_right
from typing import Any

_DEFAULT_BUCKETS = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)


def _fmt_labels(labels: dict[str, str] | None) -> str:
    if not labels:
        return ""
    inner = ",".join(f'{k}="{v}"' for k, v in sorted(labels.items()))
    return "{" + inner + "}"


class Counter:
    """A monotonic counter per label set. With ``source`` the counts are
    kept elsewhere and read at each exposition: ``source()`` yields
    ``(labels, value)`` pairs."""

    def __init__(self, name: str, help_: str = "", source=None):
        self.name, self.help = name, help_
        self._vals: dict[tuple, float] = {}
        self._lock = threading.Lock()
        self._source = source

    def inc(self, amount: float = 1.0, **labels: str) -> None:
        key = tuple(sorted(labels.items()))
        with self._lock:
            self._vals[key] = self._vals.get(key, 0.0) + amount

    def values(self) -> dict[tuple, float]:
        if self._source is None:
            return dict(self._vals)
        return {tuple(sorted(labels.items())): float(v) for labels, v in self._source()}

    def value(self, **labels: str) -> float:
        return self.values().get(tuple(sorted(labels.items())), 0.0)

    def expose(self) -> list[str]:
        lines = [f"# HELP {self.name} {self.help}", f"# TYPE {self.name} counter"]
        for key, v in sorted(self.values().items()):
            lines.append(f"{self.name}{_fmt_labels(dict(key))} {v}")
        return lines


class Gauge:
    def __init__(self, name: str, help_: str = ""):
        self.name, self.help = name, help_
        self._vals: dict[tuple, float] = {}
        self._lock = threading.Lock()

    def set(self, value: float, **labels: str) -> None:
        with self._lock:
            self._vals[tuple(sorted(labels.items()))] = float(value)

    def value(self, **labels: str) -> float:
        return self._vals.get(tuple(sorted(labels.items())), 0.0)

    def expose(self) -> list[str]:
        lines = [f"# HELP {self.name} {self.help}", f"# TYPE {self.name} gauge"]
        for key, v in sorted(self._vals.items()):
            lines.append(f"{self.name}{_fmt_labels(dict(key))} {v}")
        return lines


class Histogram:
    """Cumulative-bucket histogram (Prometheus semantics: le buckets,
    +Inf, _sum, _count)."""

    def __init__(self, name: str, help_: str = "",
                 buckets: tuple[float, ...] = _DEFAULT_BUCKETS):
        self.name, self.help = name, help_
        self.buckets = tuple(sorted(buckets))
        self._counts = [0] * (len(self.buckets) + 1)
        self._sum = 0.0
        self._n = 0
        self._lock = threading.Lock()

    def observe(self, value: float) -> None:
        with self._lock:
            self._counts[bisect_right(self.buckets, value)] += 1
            self._sum += value
            self._n += 1

    def summary(self) -> dict[str, float]:
        with self._lock:
            if not self._n:
                return {"count": 0, "sum": 0.0, "avg": 0.0}
            return {"count": self._n, "sum": round(self._sum, 6),
                    "avg": round(self._sum / self._n, 6)}

    def quantile(self, q: float) -> float:
        """Bucket-upper-bound estimate (same resolution a Prometheus
        histogram_quantile gives)."""
        with self._lock:
            if not self._n:
                return 0.0
            target = q * self._n
            acc = 0
            for i, c in enumerate(self._counts[:-1]):
                acc += c
                if acc >= target:
                    return self.buckets[i]
            return float("inf")

    def expose(self) -> list[str]:
        lines = [f"# HELP {self.name} {self.help}", f"# TYPE {self.name} histogram"]
        acc = 0
        for i, b in enumerate(self.buckets):
            acc += self._counts[i]
            lines.append(f'{self.name}_bucket{{le="{b}"}} {acc}')
        lines.append(f'{self.name}_bucket{{le="+Inf"}} {self._n}')
        lines.append(f"{self.name}_sum {self._sum}")
        lines.append(f"{self.name}_count {self._n}")
        return lines


class MetricsRegistry:
    def __init__(self):
        self._metrics: dict[str, Any] = {}
        self._lock = threading.Lock()

    def counter(self, name: str, help_: str = "", source=None) -> Counter:
        return self._get(name, lambda: Counter(name, help_, source))

    def gauge(self, name: str, help_: str = "") -> Gauge:
        return self._get(name, lambda: Gauge(name, help_))

    def histogram(self, name: str, help_: str = "",
                  buckets: tuple[float, ...] = _DEFAULT_BUCKETS) -> Histogram:
        return self._get(name, lambda: Histogram(name, help_, buckets))

    def _get(self, name: str, factory):
        with self._lock:
            m = self._metrics.get(name)
            if m is None:
                m = self._metrics[name] = factory()
            return m

    def expose_text(self) -> str:
        """Prometheus text exposition format."""
        lines: list[str] = []
        for name in sorted(self._metrics):
            lines.extend(self._metrics[name].expose())
        return "\n".join(lines) + "\n"

    def snapshot(self) -> dict[str, Any]:
        out: dict[str, Any] = {}
        for name, m in self._metrics.items():
            if isinstance(m, Histogram):
                out[name] = m.summary() | {"p50": m.quantile(0.5),
                                           "p99": m.quantile(0.99)}
            elif isinstance(m, (Counter, Gauge)):
                vals = m.values() if isinstance(m, Counter) else m._vals
                out[name] = (vals.get((), 0.0) if set(vals) <= {()}
                             else {_fmt_labels(dict(k)): v for k, v in vals.items()})
        return out


class HealthChecker:
    """Component health rollup (health.go:64-300): each check returns
    status + latency; overall = healthy (all up) / degraded (non-core
    down) / unhealthy (core down). Core components: spark + storage."""

    CORE = {"spark", "storage"}

    def __init__(self, engine):
        self.engine = engine

    def _timed(self, fn) -> dict[str, Any]:
        t0 = time.perf_counter()
        try:
            fn()
            return {"status": "up",
                    "latency_ms": round((time.perf_counter() - t0) * 1000, 2)}
        except Exception as exc:
            return {"status": "down", "error": str(exc)[:200],
                    "latency_ms": round((time.perf_counter() - t0) * 1000, 2)}

    def check(self) -> dict[str, Any]:
        eng = self.engine
        components = {
            "spark": self._timed(lambda: eng.spark.sql("SELECT 1").collect()),
            "storage": self._timed(lambda: eng.fs.makedirs(eng.root)),
            "catalog": self._timed(eng.catalog.list_tables),
            "buffers": self._timed(lambda: [b.count for b in eng._buffers.values()]),
        }
        down = {n for n, c in components.items() if c["status"] == "down"}
        if down & self.CORE:
            overall = "unhealthy"
        elif down:
            overall = "degraded"
        else:
            overall = "healthy"
        return {"status": overall, "components": components,
                "timestamp_us": int(time.time() * 1_000_000)}

    def is_ready(self) -> bool:
        return self.check()["status"] != "unhealthy"

    def is_live(self) -> bool:
        # liveness is process-level: the driver can run Python and reach
        # the JVM at all
        try:
            self.engine.spark.sparkContext  # noqa: B018
            return True
        except Exception:
            return False


def streaming_state_metrics(spark) -> list[dict[str, Any]]:
    """State-store metrics for every active Structured Streaming query
    on the session, read from ``lastProgress`` (the engine's own
    instrumentation — rows in state, updates, evictions, state memory
    per stateful operator). The reference dashboard has no streaming
    jobs to show; here the overview covers them so a stateful stream's
    state growth is observable the same way buffer sizes are.

    Purely observational: no tracking registry to keep in sync —
    ``spark.streams.active`` IS the source of truth."""
    out: list[dict[str, Any]] = []
    for q in spark.streams.active:
        entry: dict[str, Any] = {
            "id": str(q.id),
            "run_id": str(q.runId),
            "name": q.name,
            "is_active": bool(q.isActive),
            "batch_id": None,
            "input_rows": None,
            "state_operators": [],
        }
        p = q.lastProgress  # dict in pyspark >= 3.5, None before batch 1
        if p:
            entry["batch_id"] = p.get("batchId")
            entry["input_rows"] = p.get("numInputRows")
            for op in p.get("stateOperators") or []:
                entry["state_operators"].append({
                    "operator": op.get("operatorName"),
                    "rows_in_state": op.get("numRowsTotal"),
                    "rows_updated": op.get("numRowsUpdated"),
                    "evictions": op.get("numRowsRemoved"),
                    "memory_used_bytes": op.get("memoryUsedBytes"),
                })
        out.append(entry)
    return out
