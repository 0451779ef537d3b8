"""Filesystem abstraction for the data path (mutations / compaction /
retention / table lifecycle).

The reference's whole identity is Parquet *on MinIO*: mutation and
compaction download, rewrite and re-upload objects
(/root/reference/internal/query/query.go:626-713, 1252-1413;
internal/storage/minio.go). The Spark-native equivalent of "talk to
the object store" is the Hadoop ``FileSystem`` API the JVM already
carries for every scheme Spark can read (``file://``, ``s3a://``,
``hdfs://``, ...). This module exposes the handful of operations the
data path needs behind one interface with two implementations:

- :class:`LocalFS` — ``os``/``shutil``; the fast path for local roots
  (no JVM round-trips).
- :class:`HadoopFS` — ``spark._jvm`` Hadoop FileSystem calls; works on
  any scheme Spark itself can write to, including ``s3a://``. On S3A a
  rename is server-side copy+delete — the same primitive the
  reference's rewrite-and-swap uses against MinIO.

Metadata (catalog JSON, WAL) deliberately stays on driver-local disk:
the reference keeps metadata in Redis, not MinIO — same split.

``get_fs(spark, root)`` picks the implementation from the root's
scheme. Paths are joined with "/" (valid for both URIs and POSIX).
"""

from __future__ import annotations

import os
import shutil


def join(*parts: str) -> str:
    return "/".join(p.rstrip("/") for p in parts if p != "")


class LocalFS:
    """os/shutil-backed implementation for plain local paths."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def list_files(self, path: str, suffix: str = "") -> list[tuple[str, int]]:
        """(path, size) for plain files under ``path`` (non-recursive)."""
        if not os.path.isdir(path):
            return []
        return [
            (e.path, e.stat().st_size)
            for e in os.scandir(path)
            if e.is_file() and e.name.endswith(suffix)
        ]

    def list_dirs(self, path: str, prefix: str = "") -> list[str]:
        if not os.path.isdir(path):
            return []
        return sorted(
            e.path
            for e in os.scandir(path)
            if e.is_dir() and e.name.startswith(prefix)
        )

    def list_files_mtime(
        self, path: str, suffix: str = ""
    ) -> list[tuple[str, int]]:
        """(path, mtime_us) for plain files under ``path``
        (non-recursive). Only the garbage collector reads mtimes: a file
        no commit added is deleted once it is old enough
        (mutations.gc_superseded); file membership is the commit
        log's."""
        if not os.path.isdir(path):
            return []
        return [
            (e.path, e.stat().st_mtime_ns // 1000)
            for e in os.scandir(path)
            if e.is_file() and e.name.endswith(suffix)
        ]

    def remove_file(self, path: str) -> None:
        os.remove(path)

    def remove_dir(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def move(self, src: str, dst: str) -> None:
        shutil.move(src, dst)

    def copy(self, src: str, dst: str) -> None:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy2(src, dst)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        """Atomic for readers: write-temp + os.replace, so a concurrent
        read_bytes never observes a torn write. The temp name must be
        unique per *call* (not just per process) — concurrent writers to
        the same key would otherwise replace each other's temp file —
        and starts with ``.``: Spark's directory scans skip ``.``/``_``
        names, so a scan of a ``dt=`` directory never opens an
        in-flight data file. A failed write removes its temp file."""
        import secrets

        parent, name = os.path.split(path)
        os.makedirs(parent, exist_ok=True)
        tmp = os.path.join(
            parent, f".{name}.tmp.{os.getpid()}.{secrets.token_hex(4)}")
        try:
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
        except BaseException:
            try:
                os.remove(tmp)
            except OSError:
                pass
            raise

    def create_bytes_if_absent(self, path: str, data: bytes) -> bool:
        """Atomic create-if-absent (the lock primitive): O_CREAT|O_EXCL
        guarantees exactly one of N concurrent callers wins. Returns
        False if the path already exists. The payload is written through
        the won descriptor, so a winner's marker is never empty for
        longer than one write syscall."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, data)
        finally:
            os.close(fd)
        return True


class HadoopFS:
    """Hadoop FileSystem-backed implementation (via the live session's
    JVM) — the object-store path. Every method resolves the FileSystem
    from the path's own scheme, so one instance serves mixed schemes."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, path: str):
        return self._p(path).getFileSystem(self._conf)

    def exists(self, path: str) -> bool:
        return bool(self._fs(path).exists(self._p(path)))

    def is_dir(self, path: str) -> bool:
        fs, p = self._fs(path), self._p(path)
        return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())

    def makedirs(self, path: str) -> None:
        self._fs(path).mkdirs(self._p(path))

    def list_files(self, path: str, suffix: str = "") -> list[tuple[str, int]]:
        fs, p = self._fs(path), self._p(path)
        if not fs.exists(p):
            return []
        out = []
        for st in fs.listStatus(p):
            if st.isFile() and st.getPath().getName().endswith(suffix):
                out.append((st.getPath().toString(), int(st.getLen())))
        return out

    def list_dirs(self, path: str, prefix: str = "") -> list[str]:
        fs, p = self._fs(path), self._p(path)
        if not fs.exists(p):
            return []
        return sorted(
            st.getPath().toString()
            for st in fs.listStatus(p)
            if st.isDirectory() and st.getPath().getName().startswith(prefix)
        )

    def list_files_mtime(
        self, path: str, suffix: str = ""
    ) -> list[tuple[str, int]]:
        """(path, mtime_us) for plain files under ``path``
        (non-recursive), from one LIST: ``FileStatus`` carries the
        modification time in ms."""
        fs, p = self._fs(path), self._p(path)
        if not fs.exists(p):
            return []
        return [
            (st.getPath().toString(), int(st.getModificationTime()) * 1000)
            for st in fs.listStatus(p)
            if st.isFile() and st.getPath().getName().endswith(suffix)
        ]

    def remove_file(self, path: str) -> None:
        self._fs(path).delete(self._p(path), False)

    def remove_dir(self, path: str) -> None:
        self._fs(path).delete(self._p(path), True)

    def move(self, src: str, dst: str) -> None:
        self._fs(src).rename(self._p(src), self._p(dst))

    def copy(self, src: str, dst: str) -> None:
        """Server-side object copy where the store supports it (S3A maps
        FileUtil.copy onto a COPY request per object)."""
        self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            self._fs(src), self._p(src), self._fs(dst), self._p(dst),
            False, True, self._conf,
        )

    def read_bytes(self, path: str) -> bytes:
        # NB: a read-into-buffer loop does NOT work over py4j — the
        # Python bytearray is copied to a JVM byte[] by value, so the
        # JVM-side writes never reach Python. Drain the stream entirely
        # on the JVM (commons-io ships with Hadoop) and let py4j convert
        # the returned byte[] once.
        fs, p = self._fs(path), self._p(path)
        stream = fs.open(p)
        try:
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            return bytes(data)
        finally:
            stream.close()

    def write_bytes(self, path: str, data: bytes) -> None:
        """Object PUT (create w/ overwrite) — atomic on S3-style stores:
        readers see either the old object or the new one, never a torn
        write."""
        fs, p = self._fs(path), self._p(path)
        stream = fs.create(p, True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def create_bytes_if_absent(self, path: str, data: bytes) -> bool:
        """create(overwrite=False): atomic on HDFS (namenode arbitration)
        and on conditional-write-capable object stores; on plain S3A it
        degrades to check-at-create — same fidelity class as the
        reference's Redis lock when Redis runs without persistence."""
        fs, p = self._fs(path), self._p(path)
        try:
            stream = fs.create(p, False)
        except Exception:
            return False
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()
        return True


def get_fs(spark, root: str):
    """Scheme-based dispatch: URIs (except file://) get the Hadoop path,
    plain and file:// paths get the os/shutil fast path... except that
    file:// URIs still need Hadoop (os.* can't open them verbatim)."""
    if "://" in root:
        return HadoopFS(spark)
    return LocalFS()
