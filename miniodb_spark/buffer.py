"""WAL-backed in-memory write buffer.

The reference buffers writes per ``table/id/day`` key and flushes to
parquet at a row-count threshold or interval, with a binary WAL for
crash recovery (/root/reference/internal/buffer/concurrent_buffer.go:
1014-1209, internal/wal/wal.go). Here the WAL is JSON-lines (one
record per line, crc32 suffix) — durability semantics are equivalent:
append before acking, replay on boot, truncate after flush. Tombstone
records suppress resurrection of removed rows on replay
(concurrent_buffer.go:94-98,299-334).

At scale the buffer is a *driver-side* staging area only for the
low-latency write API; bulk ingest should go through
``Engine.ingest_dataframe`` (straight ``df.write`` — no driver
materialization).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import zlib
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Any, Callable


def _day_of_micros(us: int) -> str:
    return datetime.fromtimestamp(us / 1_000_000, tz=timezone.utc).strftime("%Y-%m-%d")


@dataclass
class BufferRow:
    id: str
    timestamp: int  # µs since epoch
    table_name: str
    fields: dict[str, Any]

    def key(self) -> str:
        return f"{self.table_name}/{self.id or '_'}/{_day_of_micros(self.timestamp)}"

    def to_dict(self) -> dict:
        return {
            "id": self.id,
            "timestamp": self.timestamp,
            "table_name": self.table_name,
            "fields": self.fields,
        }


class WAL:
    """Append-only JSON-lines log with CRC32 per record, replay, and
    size-based segment rotation (the reference rotates at 64 MB,
    wal.go:17-36). When the active file crosses ``max_segment_bytes``
    it is sealed as ``<path>.segNNNNNN`` and a fresh active file opens;
    replay reads sealed segments in order, then the active file.
    Rotation makes post-flush truncation cheap: a sealed segment whose
    max sequence is covered by the flush is *deleted whole* (O(1))
    instead of rewritten."""

    def __init__(self, path: str, max_segment_bytes: int = 64 * 1024 * 1024):
        self.path = path
        self.max_segment_bytes = max_segment_bytes
        os.makedirs(os.path.dirname(path), exist_ok=True)
        # resume the sequence from any surviving records so seq stays
        # monotonic across restarts (truncate_upto relies on it)
        existing = WAL.replay(path)
        self._fh = open(path, "a", encoding="utf-8")
        self._seq = existing[-1]["seq"] if existing else 0
        self._lock = threading.Lock()

    # -- segments --------------------------------------------------------

    _SEG_RE = re.compile(r"\.seg\d{6}$")

    @staticmethod
    def _segments(path: str) -> list[str]:
        d, base = os.path.dirname(path), os.path.basename(path)
        if not os.path.isdir(d):
            return []
        segs = [
            os.path.join(d, fn)
            for fn in os.listdir(d)
            if fn.startswith(base + ".seg") and WAL._SEG_RE.search(fn)
        ]
        return sorted(segs)

    def _maybe_rotate(self) -> None:
        """Called under the lock after a write+flush."""
        if self._fh.tell() < self.max_segment_bytes:
            return
        self._fh.close()
        existing = WAL._segments(self.path)
        nxt = (
            int(existing[-1].rsplit(".seg", 1)[-1]) + 1 if existing else 0
        )
        os.replace(self.path, f"{self.path}.seg{nxt:06d}")
        self._fh = open(self.path, "a", encoding="utf-8")

    def append(self, rec_type: str, payload: dict) -> int:
        """Append one record and flush it to the operating system
        before returning (the write's acknowledgement). There is no
        fsync: an acknowledged record survives a crash of this process,
        but not an OS crash or a power loss before the OS writes the
        page back."""
        with self._lock:
            self._write_record(rec_type, payload)
            self._fh.flush()
            self._maybe_rotate()
            return self._seq

    def append_many(self, rec_type: str, payloads: list[dict]) -> int:
        """Batch append with ONE flush at the end — the reference's WAL
        supports sync-on-write or interval sync (wal.go:118-155); this is
        the batched path StreamWrite-style ingestion uses. Records are
        framed identically to :meth:`append` (byte-for-byte), just
        handed to the file object in one write."""
        with self._lock:
            self._fh.write(
                "".join(self._format_record(rec_type, p) for p in payloads)
            )
            self._fh.flush()
            self._maybe_rotate()
            return self._seq

    def _format_record(self, rec_type: str, payload: dict) -> str:
        self._seq += 1
        body = json.dumps(
            {"seq": self._seq, "type": rec_type, "payload": payload},
            separators=(",", ":"),
            default=str,
        )
        crc = zlib.crc32(body.encode("utf-8"))
        return f"{body}\t{crc}\n"

    def _write_record(self, rec_type: str, payload: dict) -> None:
        self._fh.write(self._format_record(rec_type, payload))

    def truncate(self) -> None:
        with self._lock:
            self._fh.close()
            for seg in WAL._segments(self.path):
                os.remove(seg)
            self._fh = open(self.path, "w", encoding="utf-8")

    def truncate_upto(self, seq: int) -> None:
        """Drop records with seq ≤ ``seq``, keeping later ones. Runs under
        the append lock, so a record appended concurrently with a flush is
        never discarded (the flush only clears what it drained).

        The rewrite is atomic: kept records go to a temp file which is
        fsynced and ``os.replace``d over the log. A crash at any point
        leaves either the old log (some already-flushed records will be
        replayed and re-deduplicated by id-level upsert downstream) or
        the new one — never a truncated-then-unwritten log that would
        lose acked-durable records appended after the drained sequence."""
        with self._lock:
            self._fh.close()
            if seq >= self._seq:
                # fast path (r17): sequences are monotonic and assigned
                # under this lock, so seq >= the last assigned sequence
                # proves EVERY record — sealed segments and active file,
                # including any CRC-corrupt tail the slow path would
                # also discard — is covered by the flush. Drop it all
                # without re-parsing/re-CRCing 20k lines (~0.25 s per
                # full drain, measured); same atomic tmp+replace
                # contract for the active file.
                for seg in WAL._segments(self.path):
                    os.remove(seg)
                self._atomic_rewrite(self.path, [])
                self._fh = open(self.path, "a", encoding="utf-8")
                return
            # sealed segments: fully-covered ones are dropped whole (O(1)
            # unlink, no rewrite); a partially-covered one is rewritten in
            # place with the same atomic tmp+replace dance
            for seg in WAL._segments(self.path):
                recs = WAL._read_lines(seg)
                if not recs or all(r[1] <= seq for r in recs):
                    os.remove(seg)
                elif any(r[1] <= seq for r in recs):
                    self._atomic_rewrite(seg, [l for l, s in recs if s > seq])
            kept = [l for l, s in WAL._read_lines(self.path) if s > seq]
            self._atomic_rewrite(self.path, kept)
            self._fh = open(self.path, "a", encoding="utf-8")

    @staticmethod
    def _read_lines(path: str) -> list[tuple[str, int]]:
        """(line, seq) for every CRC-valid record; stops at corruption."""
        out: list[tuple[str, int]] = []
        if not os.path.exists(path):
            return out
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.rstrip("\n")
                if not line:
                    continue
                body, _, crc_s = line.rpartition("\t")
                try:
                    if zlib.crc32(body.encode("utf-8")) != int(crc_s):
                        break
                    out.append((line, json.loads(body)["seq"]))
                except (ValueError, json.JSONDecodeError):
                    break
        return out

    @staticmethod
    def _atomic_rewrite(path: str, lines: list[str]) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("".join(l + "\n" for l in lines))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)

    def close(self) -> None:
        with self._lock:
            self._fh.close()

    @staticmethod
    def replay(path: str) -> list[dict]:
        """Yield valid records (CRC-checked) across sealed segments (in
        order) then the active file; corrupt tail lines are dropped per
        file, matching the reference's recovery behavior."""
        records: list[dict] = []
        for p in [*WAL._segments(path), path]:
            if not os.path.exists(p):
                continue
            with open(p, encoding="utf-8") as fh:
                for line in fh:
                    line = line.rstrip("\n")
                    if not line:
                        continue
                    body, _, crc_s = line.rpartition("\t")
                    try:
                        if zlib.crc32(body.encode("utf-8")) != int(crc_s):
                            break  # corruption: stop this file's replay
                        records.append(json.loads(body))
                    except (ValueError, json.JSONDecodeError):
                        break
        return records


class WriteBuffer:
    """In-memory row buffer with WAL, size/interval flush triggers and
    (table, id) removal with tombstones."""

    def __init__(
        self,
        wal_path: str,
        buffer_size: int = 5000,
        flush_interval_s: float = 15.0,
        on_flush: Callable[[str, list[BufferRow]], None] | None = None,
    ):
        self.buffer_size = buffer_size
        self.flush_interval_s = flush_interval_s
        self.on_flush = on_flush
        self._rows: dict[str, list[BufferRow]] = {}  # table -> rows
        self._count = 0
        # (table, id) tombstones appended since the last drain(): a delete
        # racing a failed flush must not be undone by requeue()
        self._tombstones_since_drain: set[tuple[str, str]] = set()
        self._lock = threading.RLock()
        self._last_flush = time.monotonic()
        self.wal = WAL(wal_path)
        self._recover(wal_path)

    def _recover(self, wal_path: str) -> None:
        tombstones: set[tuple[str, str]] = set()
        rows: list[BufferRow] = []
        for rec in WAL.replay(wal_path):
            if rec["type"] == "insert":
                p = rec["payload"]
                rows.append(BufferRow(p["id"], p["timestamp"], p["table_name"], p["fields"]))
            elif rec["type"] == "tombstone":
                p = rec["payload"]
                tombstones.add((p["table_name"], p["id"]))
        for row in rows:
            if (row.table_name, row.id) in tombstones:
                continue
            self._rows.setdefault(row.table_name, []).append(row)
            self._count += 1

    def add(self, row: BufferRow) -> bool:
        """Append a row (WAL first). Returns True if a size-triggered
        flush should run."""
        with self._lock:
            self.wal.append("insert", row.to_dict())
            self._rows.setdefault(row.table_name, []).append(row)
            self._count += 1
            return self._count >= self.buffer_size

    def add_many(self, rows: list[BufferRow]) -> bool:
        """Batch append: one WAL flush for the whole batch (durability
        granularity = the batch, exactly like the reference's interval
        sync mode)."""
        with self._lock:
            self.wal.append_many("insert", [r.to_dict() for r in rows])
            for row in rows:
                self._rows.setdefault(row.table_name, []).append(row)
            self._count += len(rows)
            return self._count >= self.buffer_size

    def remove(self, table: str, row_id: str) -> int:
        """Remove matching (table,id) rows + WAL tombstone; returns count
        removed (reference concurrent_buffer.go:1472-1541)."""
        with self._lock:
            self.wal.append("tombstone", {"table_name": table, "id": row_id})
            self._tombstones_since_drain.add((table, row_id))
            rows = self._rows.get(table, [])
            keep = [r for r in rows if r.id != row_id]
            removed = len(rows) - len(keep)
            if removed:
                self._rows[table] = keep
                self._count -= removed
            return removed

    def rows_for(self, table: str) -> list[BufferRow]:
        with self._lock:
            return list(self._rows.get(table, []))

    def tables(self) -> list[str]:
        with self._lock:
            return [t for t, rows in self._rows.items() if rows]

    @property
    def count(self) -> int:
        with self._lock:
            return self._count

    def should_flush_by_time(self) -> bool:
        return (time.monotonic() - self._last_flush) >= self.flush_interval_s

    def drain(self) -> tuple[dict[str, list[BufferRow]], int]:
        """Atomically take all buffered rows (caller flushes them) along
        with the WAL sequence at drain time. The caller either persists
        the batch and calls ``mark_flushed(seq)`` — which truncates ONLY
        records up to that sequence, so concurrent appends keep their WAL
        records — or, on flush failure, calls ``requeue(batch)`` to
        restore the rows to the hybrid read path (their WAL records were
        never truncated, so durability holds either way)."""
        with self._lock:
            batch = self._rows
            self._rows = {}
            self._count = 0
            self._last_flush = time.monotonic()
            self._tombstones_since_drain = set()
            return batch, self.wal._seq

    def requeue(self, batch: dict[str, list[BufferRow]]) -> None:
        """Put drained-but-unflushed rows back (flush failure path).
        Prepends so original insert order is preserved for readers.
        Rows whose (table, id) was tombstoned after the drain are NOT
        restored — a delete that found nothing in the buffer (the rows
        were in the drained batch) wrote a WAL tombstone, and requeue
        resurrecting the row would undo that delete in the live read
        path (the WAL tombstone only protects crash recovery)."""
        with self._lock:
            dead = self._tombstones_since_drain
            for table, rows in batch.items():
                live = [r for r in rows if (table, r.id) not in dead]
                if not live:
                    continue
                self._rows[table] = live + self._rows.get(table, [])
                self._count += len(live)

    def mark_flushed(self, upto_seq: int) -> None:
        with self._lock:
            self.wal.truncate_upto(upto_seq)
