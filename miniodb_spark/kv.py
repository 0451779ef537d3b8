"""Shared KV + table-version store for multi-driver serving.

The reference shares its query cache and invalidation state across
nodes through Redis (/root/reference/internal/query/query_cache.go:
``query_cache:*`` values, per-table invalidation sets). This engine's
Spark-native substitution keeps *results* in each driver's local LRU
(cheap, no serialization tax) and shares only the thing that must be
shared: a per-table **version nonce** on the store every driver already
mounts. A mutation bumps the table's nonce; any driver's cache entry
that recorded an older nonce is stale on its next read. That turns
cross-process invalidation into one tiny object GET per cache hit —
the S3-scale analog of the reference's Redis round-trip, with no extra
infrastructure.

The KV rides the same fs abstraction as the data path, so it works
unchanged on ``file://`` roots (os.replace atomicity) and ``s3a://``
roots (object PUT atomicity).
"""

from __future__ import annotations

import hashlib
import os
import re
import threading
import time

from . import fs as _fs

_UNSAFE_RE = re.compile(r"[^A-Za-z0-9.-]")


def _safe(key: str) -> str:
    """Injective filename encoding: every char outside [A-Za-z0-9.-]
    (including '_', the escape char itself) becomes _XX hex. A lossy
    substitution would collide distinct keys — e.g. 'sketch/hll/a_b/c'
    and 'sketch/hll/a/b_c' under a plain '/'→'_' mapping — and a
    colliding put would silently overwrite an unrelated key's value."""
    return _UNSAFE_RE.sub(lambda m: f"_{ord(m.group(0)):02x}", key)


class FileKV:
    """Minimal KV on a filesystem/object-store directory: last-writer-wins
    puts, torn-write-free reads (see fs.write_bytes). Not a lock service —
    callers that need read-modify-write atomicity must tolerate lost
    updates (the version store does: any write changes the nonce, which
    is all invalidation needs)."""

    def __init__(self, filesystem, root: str):
        self.fs = filesystem
        self.root = root
        self.fs.makedirs(root)

    def _path(self, key: str) -> str:
        return _fs.join(self.root, _safe(key))

    def get(self, key: str) -> bytes | None:
        path = self._path(key)
        try:
            if not self.fs.exists(path):
                return None
            return self.fs.read_bytes(path)
        except Exception:  # racing delete between exists and read
            return None

    def put(self, key: str, value: bytes) -> None:
        self.fs.write_bytes(self._path(key), value)

    def delete(self, key: str) -> None:
        path = self._path(key)
        if self.fs.exists(path):
            self.fs.remove_file(path)


class DriverRegistry:
    """Heartbeat registry of live serve processes on one store root.

    Each driver periodically writes ``driver/{id}`` with a wall-clock
    heartbeat; ``active_count`` counts heartbeats younger than the TTL.
    This is the coordination primitive for *static budget splitting* —
    the no-per-request-IO way to make N drivers jointly respect one
    rate limit (each enforces budget/N locally; the reference gets the
    same global bound from shared Redis token buckets at one round-trip
    per request). Stale entries age out via the TTL, so a crashed
    driver returns its budget share within ``ttl_s``.

    **Clock assumption**: liveness compares the *reader's* wall clock
    against the *writer's* heartbeat timestamp, so drivers must share a
    clock to within a fraction of ``ttl_s``. Same-host drivers (the
    primary multi-driver deployment) trivially satisfy this; across
    hosts, NTP-disciplined clocks (drift typically ≪1 s) are fine at
    the default 30 s TTL, while unsynchronized clocks skewed beyond
    the TTL would miscount the fleet — raise ``ttl_s`` or fix NTP
    rather than trusting such an environment. ``jitter_frac`` spreads
    each driver's heartbeat period by a deterministic per-driver ±10%
    so N drivers started together don't stat-storm the store in
    lockstep forever.
    """

    def __init__(self, kv: FileKV, driver_id: str, ttl_s: float = 30.0,
                 jitter_frac: float = 0.1):
        self.kv = kv
        self.driver_id = driver_id
        self.ttl_s = ttl_s
        # deterministic per-driver jitter in [-jitter_frac, +jitter_frac]:
        # hash the id rather than calling random() so a restarted driver
        # keeps the same phase offset (no re-roll flapping)
        h = int(hashlib.sha256(driver_id.encode("utf-8")).hexdigest()[:8], 16)
        self._jitter = (h / 0xFFFFFFFF * 2 - 1) * jitter_frac

    def heartbeat_interval_s(self, base_s: float | None = None) -> float:
        """Sleep period for the heartbeat loop: ``ttl_s / 3`` by default
        (3 beats per TTL tolerates 2 missed), spread by the per-driver
        jitter."""
        base = base_s if base_s is not None else self.ttl_s / 3
        return base * (1.0 + self._jitter)

    def heartbeat(self) -> None:
        self.kv.put(f"driver.{self.driver_id}", repr(time.time()).encode())

    def active_count(self) -> int:
        now = time.time()
        n = 0
        for _, ts in self._entries():
            if now - ts <= self.ttl_s:
                n += 1
        return max(1, n)

    def active_ids(self) -> list[str]:
        now = time.time()
        return sorted(
            key.split("driver.", 1)[-1]
            for key, ts in self._entries()
            if now - ts <= self.ttl_s
        )

    def _entries(self):
        for path, _ in self.kv.fs.list_files(self.kv.root):
            name = path.replace("\\", "/").rsplit("/", 1)[-1]
            # driver ids are hex, so 'driver.' + id round-trips _safe
            # unchanged ('.' is in the safe set)
            if not name.startswith("driver."):
                continue
            try:
                raw = self.kv.fs.read_bytes(path)
                yield name, float(raw.decode("ascii"))
            except Exception:
                continue  # racing delete / torn heartbeat


def _missing(exc: Exception) -> bool:
    """Whether ``exc`` says the file is gone (locally, or through the
    Hadoop FileSystem's FileNotFoundException)."""
    return isinstance(exc, FileNotFoundError) or "FileNotFoundException" in str(exc)


class MutationLease:
    """Cross-driver lease lock for the mutation path.

    The reference takes a distributed lock on ``(table, id)`` with a
    30 s TTL before UpdateData/DeleteData
    (/root/reference/internal/service/miniodb_service.go:720-722;
    /root/reference/pkg/lock/redis_lock.go:55-64 — SetNX of a random
    token, Lua compare-and-delete unlock, DefaultLockTTL = 30 s in
    pkg/lock/lock.go:49). This is the store-root equivalent over the
    same fs abstraction the data path already mounts:

    - **acquire** = atomic create-if-absent of a marker object whose
      payload is ``owner-token|expiry-wallclock`` — exactly one of N
      concurrent creators wins (O_EXCL locally, namenode-arbitrated
      create on HDFS; see fs.create_bytes_if_absent for the S3A
      caveat, which mirrors the reference's Redis-without-persistence
      fidelity class).
    - **TTL age-out** = a waiter that reads an expired payload atomically
      *moves* the marker aside to a unique steal path (rename is
      only-one-wins on POSIX/HDFS), then competes in a fresh
      create-if-absent round. A crashed holder's lock therefore frees
      within ``ttl_s`` without any daemon, same as Redis key expiry.
    - **release** = compare owner token, then delete — never deletes a
      lock stolen from us after our own expiry (the reference's Lua
      check-token-then-DEL, redis_lock.go:11).

    **Clock assumption**: identical to :class:`DriverRegistry` — the
    waiter's wall clock judges the holder's expiry stamp, so drivers
    must agree to well within ``ttl_s`` (same-host drivers trivially;
    NTP across hosts).

    Re-entrant per (owner, thread): ``Engine.update`` takes the
    ``(table, id)`` lease and internally calls ``Engine.delete``, which
    takes it again on the same thread — depth-counted, refreshed, and
    released only at depth 0.
    """

    def __init__(self, kv: FileKV, owner: str, ttl_s: float = 30.0):
        self.kv = kv
        self.owner = owner
        self.ttl_s = ttl_s
        self._depth: dict[tuple[int, str], int] = {}
        self._mu = threading.Lock()
        # monitoring counter: number of full-timeout acquire waits that
        # were retried by holding() rather than surfaced as TimeoutError.
        # Exposed through Engine.get_metrics so a deployment can see
        # lease contention building before it turns into busy errors.
        self.busy_retries = 0
        # releases whose marker removal failed twice: the next writer
        # of that key waits out the TTL (see release)
        self.release_errors = 0

    def _marker(self, key: str) -> str:
        return _fs.join(self.kv.root, "lease." + _safe(key))

    def _token(self, key: str) -> str:
        return f"{self.owner}.t{threading.get_ident()}"

    def acquire(self, key: str, timeout_s: float | None = None,
                poll_s: float = 0.02) -> bool:
        """Block (up to ``timeout_s``; None = ttl_s, like the reference's
        Lock() retry loop bounded by ctx) until the lease on ``key`` is
        held by this (owner, thread). Returns False on timeout."""
        token = self._token(key)
        ident = (threading.get_ident(), key)
        with self._mu:
            if self._depth.get(ident, 0) > 0:
                self._depth[ident] += 1
                return True
        deadline = time.time() + (timeout_s if timeout_s is not None else self.ttl_s)
        marker = self._marker(key)
        payload = lambda: f"{token}|{time.time() + self.ttl_s}".encode()
        while True:
            if self.kv.fs.create_bytes_if_absent(marker, payload()):
                with self._mu:
                    self._depth[ident] = 1
                return True
            raw = None
            try:
                if self.kv.fs.exists(marker):
                    raw = self.kv.fs.read_bytes(marker)
            except Exception:
                raw = None  # racing release between exists and read
            if raw:
                try:
                    _, expiry = raw.decode("ascii").rsplit("|", 1)
                    expired = time.time() > float(expiry)
                except Exception:
                    expired = True  # torn/corrupt marker: treat as dead
                if expired:
                    # atomic move-aside: exactly one stealer wins the
                    # rename; everyone then races a fresh create above
                    steal = f"{marker}.steal.{os.urandom(6).hex()}"
                    try:
                        self.kv.fs.move(marker, steal)
                        self.kv.fs.remove_file(steal)
                    except Exception:
                        pass  # someone else stole it first
                    continue
            if time.time() >= deadline:
                return False
            time.sleep(poll_s)

    def _guard_s(self) -> float:
        """Safety margin before expiry inside which extend/release refuse
        to touch the marker. The refresh and release paths are
        read-compare-then-write/delete, not the reference's atomic Lua
        check-token-then-DEL (pkg/lock/redis_lock.go:12-18): between our
        token read and our write, a thief that observed expiry could
        move the marker aside and create its own — our write would then
        clobber the thief's marker, yielding two holders. A thief only
        acts on *expired* payloads, so refusing to write once the stamp
        is within ``guard`` of expiry closes the race for any clock
        agreement better than ``guard`` (same NTP assumption the class
        already documents); a keepalive beats every ttl/3, so a healthy
        holder sits ~2·ttl/3 from expiry at each beat — never near the
        ttl/10 guard."""
        return self.ttl_s / 10.0

    def verify(self, key: str) -> bool:
        """True iff this (owner, thread) still holds a live, unexpired
        lease on ``key``. Commit points call this immediately before
        their atomic metadata write: a rewrite whose lease was stolen
        mid-job must abort rather than publish over the thief's work
        (its survivor files are unreferenced, so aborting is free)."""
        try:
            raw = self.kv.fs.read_bytes(self._marker(key))
            tok, expiry = raw.decode("ascii").rsplit("|", 1)
            return tok == self._token(key) and time.time() < float(expiry)
        except Exception:
            return False

    def extend(self, key: str, token: str | None = None) -> bool:
        """Push a held lease's expiry out by another ``ttl_s`` (the
        reference lock's Extend, pkg/lock/lock.go + redis_lock.go PEXPIRE
        path). Call before launching work that may outlast the TTL —
        e.g. a large rewrite job. No-op (False) if the lease was already
        stolen *or is within the steal guard of expiry* (see _guard_s:
        refreshing a nearly-expired marker could clobber a concurrent
        thief); the subsequent release is then also a no-op, so a stolen
        lease is never clobbered. ``token`` lets a helper thread extend
        on the holder's behalf (tokens are per (owner, thread), so the
        keepalive daemon must present the acquiring thread's token, not
        its own)."""
        marker = self._marker(key)
        token = token if token is not None else self._token(key)
        try:
            raw = self.kv.fs.read_bytes(marker)
            cur_tok, expiry = raw.decode("ascii").rsplit("|", 1)
            if cur_tok != token:
                return False
            if time.time() > float(expiry) - self._guard_s():
                return False  # too close to expiry: a thief may be mid-steal
        except Exception:
            return False
        # write-temp+replace keeps the refresh atomic for readers; only
        # the holder refreshes, so last-writer-wins cannot lose a
        # competing holder's stamp
        self.kv.fs.write_bytes(marker, f"{token}|{time.time() + self.ttl_s}".encode())
        return True

    def keepalive(self, key: str):
        """Context manager: a daemon thread extends the held lease every
        ``ttl_s / 3`` while the body runs — for work whose duration is
        unknown and can exceed the TTL (a partition-rewrite Spark job at
        100 TB runs minutes). One-shot :meth:`extend` covers known-short
        overruns; this covers the rest. The thread stops (and the final
        state is left to the caller's release) as soon as the body
        exits, and it halts early if the lease is observed stolen, so a
        zombie holder cannot fight the thief forever."""
        import contextlib

        holder_token = self._token(key)  # caller's thread, not the daemon's

        @contextlib.contextmanager
        def _cm():
            stop = threading.Event()

            def _beat():
                while not stop.wait(self.ttl_s / 3):
                    if not self.extend(key, token=holder_token):
                        return  # stolen: stop refreshing immediately

            t = threading.Thread(target=_beat, daemon=True)
            t.start()
            try:
                yield
            finally:
                stop.set()
                t.join(timeout=1.0)

        return _cm()

    def release(self, key: str) -> None:
        ident = (threading.get_ident(), key)
        with self._mu:
            d = self._depth.get(ident, 0)
            if d > 1:
                self._depth[ident] = d - 1
                return
            self._depth.pop(ident, None)
        marker = self._marker(key)
        try:
            tok, expiry = self.kv.fs.read_bytes(marker).decode("ascii").rsplit("|", 1)
            expiry = float(expiry)
        except Exception as exc:
            if not _missing(exc):  # else: stolen and released by its thief
                self._release_failed(key, exc)
            return
        # same steal-guard as extend(): deleting a marker that is within
        # the guard of expiry could remove a thief's fresh marker created
        # between our read and our delete. Inside the guard we simply
        # leave it — it ages out within guard seconds and the next
        # acquirer steals it, identical to Redis expiry.
        if tok != self._token(key) or time.time() >= expiry - self._guard_s():
            return  # stolen or expiring — never delete another's lock
        # a marker left behind makes the next writer wait out the TTL:
        # one retry, then the failure is counted and logged
        for attempt in (1, 2):
            try:
                self.kv.fs.remove_file(marker)
                return
            except Exception as exc:
                if _missing(exc):
                    return
                if attempt == 2:
                    self._release_failed(key, exc)

    def _release_failed(self, key: str, exc: Exception) -> None:
        import logging

        self.release_errors += 1
        logging.getLogger(__name__).warning(
            "lease release of %s failed; its marker ages out within "
            "%.0f s: %r", key, self.ttl_s, exc)

    def holding(self, key: str, timeout_s: float | None = None,
                retries: int = 0, backoff_s: float = 0.5):
        """``with lease.holding(f"{table}/{id}"): ...`` — raises
        TimeoutError if the lease cannot be acquired, mirroring the
        reference's lock-failed audit + error return path
        (miniodb_service.go:723-731).

        ``retries`` > 0 makes the wait budget load-proportional: each
        failed full-``timeout_s`` wait is followed by a jittered
        exponential backoff (``backoff_s``·2^attempt, capped at
        ``ttl_s``) and another full wait, up to ``retries`` extra
        rounds — total budget ≈ (retries+1)·ttl_s plus backoffs. The
        reference gives up after ONE lock wait and returns the failure
        to the caller (miniodb_service.go:720-722); we beat that
        because our row-API update holds ``#rewrite`` across two
        catalog commits plus a rewrite, so on a loaded host a single
        30 s wait is routinely not enough (round-13 storm-test
        finding). The jitter desynchronizes a thundering herd of
        waiters; every retry still goes through acquire()'s
        steal-on-expiry path, so a crashed holder never consumes more
        than one round."""
        import contextlib
        import random

        @contextlib.contextmanager
        def _cm():
            attempt = 0
            while not self.acquire(key, timeout_s=timeout_s):
                if attempt >= retries:
                    raise TimeoutError(
                        f"mutation lease busy: {key} "
                        f"(after {attempt + 1} full waits)")
                with self._mu:
                    self.busy_retries += 1
                delay = min(backoff_s * (2 ** attempt), self.ttl_s)
                time.sleep(delay * (0.5 + random.random()))
                attempt += 1
            try:
                yield
            finally:
                self.release(key)

        return _cm()


class TableVersionStore:
    """Per-table version nonces over a :class:`FileKV`.

    ``bump(table)`` writes a fresh random nonce; ``version(table)``
    returns the current nonce (None before the first bump). Concurrent
    bumps may overwrite each other — harmless, because *any* change of
    nonce invalidates every entry that recorded an older one.

    ``memo_ttl_s`` bounds staleness visible to readers: within the TTL a
    version() answer may come from a process-local memo instead of the
    store. 0 (the default) reads through every time — at one small
    object GET per cached-query hit, that is the Redis-equivalent cost
    the reference already pays.
    """

    def __init__(self, kv: FileKV, memo_ttl_s: float = 0.0):
        self.kv = kv
        self.memo_ttl_s = memo_ttl_s
        self._memo: dict[str, tuple[float, bytes | None]] = {}
        self._lock = threading.Lock()

    def version(self, table: str) -> bytes | None:
        if self.memo_ttl_s > 0:
            with self._lock:
                hit = self._memo.get(table)
                if hit is not None and time.monotonic() - hit[0] < self.memo_ttl_s:
                    return hit[1]
        v = self.kv.get(table)
        if self.memo_ttl_s > 0:
            with self._lock:
                self._memo[table] = (time.monotonic(), v)
        return v

    def bump(self, table: str) -> None:
        nonce = os.urandom(16)
        self.kv.put(table, nonce)
        with self._lock:
            self._memo[table] = (time.monotonic(), nonce)
