"""Fault-injecting wrapper over the ``miniodb_spark.fs`` interface.

``FaultFS(inner)`` forwards every call to ``inner`` (a ``LocalFS`` or
``HadoopFS``). While armed it records each mutating call
(``write_bytes``, ``move``, ``remove_file``, ``makedirs``) and raises
:class:`InjectedFault` instead of performing the ``fail_at``-th one —
the crash point of a sweep. The fault is one-shot: later calls go
through, so the code under test can run its own cleanup.

Typical sweep: arm with ``fail_at=None`` around one operation to count
its mutating calls, then repeat the operation on fresh state once per
``k`` in ``1..len(calls)`` and check the invariants after each fault.
"""

from __future__ import annotations

MUTATING = ("write_bytes", "move", "remove_file", "makedirs")


class InjectedFault(OSError):
    """The deliberate failure of one mutating filesystem call."""


class FaultFS:
    def __init__(self, inner):
        self.inner = inner
        self.armed = False
        self.fail_at: int | None = None
        self.calls: list[tuple[str, str]] = []  # (method, path) while armed

    def arm(self, fail_at: int | None = None) -> None:
        """Start recording; raise on the ``fail_at``-th mutating call
        (1-based; None records without failing)."""
        self.calls = []
        self.fail_at = fail_at
        self.armed = True

    def disarm(self) -> None:
        self.armed = False

    def __getattr__(self, name):
        attr = getattr(self.inner, name)
        if name not in MUTATING:
            return attr

        def call(path, *args, **kwargs):
            if self.armed:
                self.calls.append((name, path))
                if len(self.calls) == self.fail_at:
                    raise InjectedFault(
                        f"injected fault on call {self.fail_at}: "
                        f"{name}({path!r})")
            return attr(path, *args, **kwargs)

        return call
