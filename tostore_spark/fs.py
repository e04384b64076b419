"""Warehouse filesystem abstraction: POSIX fast path + Hadoop FileSystem.

The durable store (store.py) must run where the 100 TB deployment runs —
S3/HDFS/ABFS via ``warehouse="s3a://bucket/wh"`` — not only where the
driver can mount a POSIX path.  Every warehouse metadata primitive
(manifest read/atomic-replace, flush lock, version listing, size probes)
goes through this shim; table data always moves through Spark's own
distributed parquet reader/writer, which speaks every Hadoop scheme
natively.

Two implementations:

- ``LocalFS`` for scheme-less paths: ``os``-based, with fsync-on-replace
  so the manifest survives power loss, not just process crash.
- ``HadoopFS`` for any URI with a scheme (``file://``, ``hdfs://``,
  ``s3a://``, ...): py4j calls into ``org.apache.hadoop.fs.FileSystem``
  obtained from the live SparkSession's Hadoop configuration, so
  credentials/endpoints configured for Spark apply to the metadata path
  too.  ``file://`` URIs deliberately route here — that is how the test
  suite exercises the Hadoop code path without a cluster.

Atomicity notes (the honest contract): rename-replace is atomic on POSIX
and HDFS; on S3 the Hadoop connector implements rename as copy+delete, so
the manifest swap is last-writer-wins rather than torn — combined with
the CAS sequence check and the exclusive lock (create-no-overwrite, which
S3A implements with conditional writes on modern Hadoop) the flush
protocol holds everywhere, with a weaker (but still lost-update-safe)
guarantee on plain object stores.
"""

from __future__ import annotations

import os
import time
from urllib.parse import urlparse


def _scheme(path: str) -> str:
    s = urlparse(path).scheme
    # windows drive letters parse as a 1-char scheme; treat as local
    return s if len(s) > 1 else ""


def local_path(p: str) -> str:
    """The local filesystem form of a path or ``file:`` URI, as the
    Delta/Iceberg interop modules open it: ``file:///x``, ``file:/x``
    and ``/x`` all give ``/x`` (equality joins against
    ``_metadata.file_path``, which Spark reports as ``file:///...``,
    compare in this form)."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return p


class LocalFS:
    """POSIX implementation — the scheme-less fast path."""

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def read_text(self, path: str) -> str:
        with open(path) as fh:
            return fh.read()

    def write_atomic(self, path: str, text: str) -> None:
        """tmp + fsync + rename + dir fsync: survives power loss, not just
        process crash (a bare rename can land with torn content on common
        filesystems if power dies before the data blocks hit disk)."""
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def create_exclusive(self, path: str, text: str) -> None:
        """Create-no-overwrite; raises FileExistsError if present."""
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, text.encode())
        finally:
            os.close(fd)

    def delete(self, path: str, recursive: bool = False) -> None:
        if recursive and os.path.isdir(path):
            import shutil
            shutil.rmtree(path)
        else:
            os.unlink(path)

    def getmtime(self, path: str) -> float:
        return os.path.getmtime(path)

    def touch(self, path: str) -> None:
        os.utime(path, None)

    def getsize(self, path: str) -> int:
        return os.path.getsize(path)


class HadoopFS:
    """Any-scheme implementation over org.apache.hadoop.fs.FileSystem.

    One FileSystem handle per warehouse URI (Hadoop caches them
    internally); all calls are tiny driver-side metadata RPCs — table
    data never flows through here."""

    def __init__(self, spark, base_uri: str):
        self._jvm = spark._jvm
        self._jpath = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._jpath(base_uri).getFileSystem(
            spark._jsc.hadoopConfiguration())

    def _p(self, path: str):
        return self._jpath(path)

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._p(path)))

    def is_dir(self, path: str) -> bool:
        p = self._p(path)
        return bool(self._fs.exists(p)) and bool(self._fs.isDirectory(p))

    def listdir(self, path: str) -> list[str]:
        return [st.getPath().getName()
                for st in self._fs.listStatus(self._p(path))]

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._p(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8")
        finally:
            stream.close()

    def write_atomic(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        out = self._fs.create(self._p(tmp), True)
        try:
            out.write(bytearray(text.encode()))
            try:
                out.hsync()          # durable on HDFS; noop elsewhere
            except Exception:
                pass
        finally:
            out.close()
        # rename-replace: atomic on HDFS; copy+delete (last-writer-wins,
        # never torn) on object stores
        dst = self._p(path)
        if self._fs.exists(dst):
            self._fs.delete(dst, False)
        if not self._fs.rename(self._p(tmp), dst):
            raise OSError(f"rename {tmp} -> {path} failed")

    def create_exclusive(self, path: str, text: str) -> None:
        from py4j.protocol import Py4JJavaError
        try:
            out = self._fs.create(self._p(path), False)   # no overwrite
        except Py4JJavaError as e:
            raise FileExistsError(str(e.java_exception.getMessage())) from None
        try:
            out.write(bytearray(text.encode()))
        finally:
            out.close()

    def delete(self, path: str, recursive: bool = False) -> None:
        self._fs.delete(self._p(path), bool(recursive))

    def getmtime(self, path: str) -> float:
        return self._fs.getFileStatus(self._p(path)).getModificationTime() / 1000.0

    def touch(self, path: str) -> None:
        # setTimes(mtime_ms, atime_ms); -1 leaves atime unchanged
        self._fs.setTimes(self._p(path), int(time.time() * 1000), -1)

    def getsize(self, path: str) -> int:
        return int(self._fs.getFileStatus(self._p(path)).getLen())


def get_fs(warehouse: str, spark=None):
    """FS shim for a warehouse location: LocalFS for plain paths, HadoopFS
    for anything with a scheme (including ``file://`` — which is how tests
    drive the Hadoop path locally).  ``spark`` is required for HadoopFS."""
    if not _scheme(warehouse):
        return LocalFS()
    if spark is None:
        raise ValueError(
            f"warehouse {warehouse!r} has a URI scheme; a SparkSession is "
            "required to reach it through the Hadoop FileSystem API")
    return HadoopFS(spark, warehouse)


def join(base: str, *parts: str) -> str:
    """Path join that preserves URI schemes (os.path.join is fine on
    POSIX but this keeps intent explicit for s3a:// etc.)."""
    out = base.rstrip("/")
    for p in parts:
        out = f"{out}/{p}"
    return out


def file_size(spark, uri: str) -> int:
    """Size of one file by URI, local fast path first — used by split-count
    estimates (llmops.dedup._spread) so they work off-POSIX too."""
    parsed = urlparse(uri)
    if not _scheme(uri):
        return os.path.getsize(uri)
    if parsed.scheme == "file":
        return os.path.getsize(parsed.path)
    return get_fs(uri, spark).getsize(uri)
