"""Filesystem utilities over Spark's JVM Hadoop ``FileSystem`` —
the Spark-native counterpart of the reference's ``HadoopFileSystem``
C++ class (hadoopfs.hpp:143-252).

Parity map (reference method → here):

- ``Glob`` (hadoopfs.hpp:170)            → :meth:`HadoopFs.glob`
- ``ListFiles`` (hadoopfs.hpp:166)       → :meth:`HadoopFs.ls`
- ``FileExists`` / ``DirectoryExists``   → :meth:`HadoopFs.exists` /
  (hadoopfs.hpp:206/190)                   :meth:`HadoopFs.is_dir`
- ``CreateDirectory`` (hadoopfs.hpp:192) → :meth:`HadoopFs.mkdirs`
- ``RemoveDirectory``/``RemoveFile``     → :meth:`HadoopFs.rm`
- ``MoveFile`` (hadoopfs.hpp:196)        → :meth:`HadoopFs.mv`
- ``GetFileSize`` (hadoopfs.hpp:202)     → :meth:`HadoopFs.size`
- ``GetLastModifiedTime``                → :meth:`HadoopFs.mtime_ms`
- the three above in one status call     → :meth:`HadoopFs.stat`
- (no reference twin; pins replay order) → :meth:`HadoopFs.set_mtime_ms`
- ``OpenFile``+``Read`` (positional)     → :meth:`HadoopFs.read_bytes`
- ``Write``/``FileSync``                 → :meth:`HadoopFs.write_bytes`
- ``Truncate`` (hadoopfs.hpp:188)        → :meth:`HadoopFs.truncate`
- (no reference twin) scratch root       → :func:`scratch`

These go through the same ``org.apache.hadoop.fs.FileSystem`` API the
executors use, so they work identically for ``file://``, ``hdfs://``
(incl. HA nameservices from :mod:`duckdb_hdfs_spark.conf`),
``viewfs://`` and ``webhdfs://``.  Driver-side use is metadata-scale
only (listings, small control files) — bulk data always flows through
DataFrame readers, never through these byte helpers.

Scratch root.  Every staging, state, sink and checkpoint directory a
query writes lives under :func:`scratch`: one local temp directory per
process, named for its pid, so two processes never share a path, and
removed at interpreter exit.  A root whose process is dead (killed
before its exit hook ran) is removed when this module is imported —
this process's own name included, which at import can only be a
leftover of an earlier process with the same pid, so a directory
whose name is unique within the process (a run counter) starts
empty without a delete.  The root is a local directory by
definition, so its own lifecycle is the one place the package
touches files without Hadoop; everything below it goes through
:class:`HadoopFs`.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from dataclasses import dataclass

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession

_SCRATCH_PREFIX = "duckdb_hdfs_spark_scratch_"
_TMP = tempfile.gettempdir()
_SCRATCH = os.path.join(_TMP, f"{_SCRATCH_PREFIX}{os.getpid()}")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)  # signal 0: existence probe only
    except ProcessLookupError:
        return False
    except OSError:  # pragma: no cover - alive but not ours (EPERM)
        pass
    return True


def _prune_stale_scratch() -> None:
    """Remove the scratch roots of dead processes (module docstring)."""
    try:
        entries = os.listdir(_TMP)
    except OSError:  # pragma: no cover - unreadable tmp
        return
    for name in entries:
        pid = name.removeprefix(_SCRATCH_PREFIX)
        if pid == name or not pid.isdigit():
            continue
        if int(pid) == os.getpid() or not _alive(int(pid)):
            shutil.rmtree(os.path.join(_TMP, name), ignore_errors=True)


_prune_stale_scratch()
atexit.register(shutil.rmtree, _SCRATCH, ignore_errors=True)


def scratch(name: str) -> str:
    """The path of ``name`` under this process's scratch root."""
    return os.path.join(_SCRATCH, name)


@dataclass
class FileInfo:
    path: str
    size: int
    mtime_ms: int
    is_dir: bool


class HadoopFs:
    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        # a fully-qualified JavaClass builds a Path in one py4j round
        # trip; ``spark._jvm.org.apache.hadoop.fs.Path`` resolves each
        # package segment with a round trip of its own
        client = sc._gateway._gateway_client
        self._path = JavaClass("org.apache.hadoop.fs.Path", client)
        self._conf = sc._jsc.hadoopConfiguration()

    def _at(self, path: str):
        """The Hadoop ``(FileSystem, Path)`` pair for ``path``."""
        jp = self._path(path)
        return jp.getFileSystem(self._conf), jp

    @staticmethod
    def _info(st, path: str | None = None) -> FileInfo:
        return FileInfo(
            path=st.getPath().toString() if path is None else path,
            size=st.getLen(),
            mtime_ms=st.getModificationTime(),
            is_dir=st.isDirectory(),
        )

    #: maximum directory depth a ``**`` segment spans — each depth is
    #: one globStatus round-trip, so the cap bounds namenode load; a
    #: match deeper than this is NOT found (documented contract, was a
    #: silent magic 8 before the round-7 review)
    GLOB_RECURSIVE_MAX_DEPTH = 16

    def glob(self, pattern: str) -> list[FileInfo]:
        """Expand ``*``, ``?``, ``[...]`` and ``{a,b}`` glob segments.

        Hadoop's globStatus has no ``**``; emulate the reference's
        recursive match (hadoopfs.hpp:150-152) by fanning the ``**``
        out to ``*/`` chains of 0..GLOB_RECURSIVE_MAX_DEPTH levels.
        Exactly ONE ``**`` segment is supported — a second would be
        passed to globStatus as a literal ``**`` and silently match a
        single level, so it raises instead (round-7 review finding).
        """
        fs = self._at(pattern)[0]
        out: list[FileInfo] = []
        patterns = [pattern]
        if "**" in pattern:
            if pattern.count("**") > 1:
                raise NotImplementedError(
                    "glob supports a single '**' segment; "
                    f"got {pattern!r}"
                )
            head, _, tail = pattern.partition("**")
            tail = tail.lstrip("/")
            patterns = [
                head + ("*/" * d) + tail
                for d in range(self.GLOB_RECURSIVE_MAX_DEPTH + 1)
            ]
        for pat in patterns:
            statuses = fs.globStatus(self._path(pat))
            if statuses is not None:
                out.extend(self._info(s) for s in statuses)
        uniq = {fi.path: fi for fi in out}
        return [uniq[p] for p in sorted(uniq)]

    def ls(self, directory: str) -> list[FileInfo]:
        fs, jp = self._at(directory)
        infos = (self._info(s) for s in fs.listStatus(jp))
        return sorted(infos, key=lambda f: f.path)

    def stat(self, path: str) -> FileInfo:
        """Size, mtime and type of ``path`` (raises if it does not
        exist); ``FileInfo.path`` is ``path`` as given."""
        fs, jp = self._at(path)
        return self._info(fs.getFileStatus(jp), path)

    def exists(self, path: str) -> bool:
        fs, jp = self._at(path)
        return fs.exists(jp)

    def is_dir(self, path: str) -> bool:
        return self.exists(path) and self.stat(path).is_dir

    def mkdirs(self, path: str) -> bool:
        fs, jp = self._at(path)
        return fs.mkdirs(jp)

    def rm(self, path: str, recursive: bool = False) -> bool:
        fs, jp = self._at(path)
        return fs.delete(jp, recursive)

    def mv(self, src: str, dst: str) -> bool:
        fs, jp = self._at(src)
        return fs.rename(jp, self._path(dst))

    def size(self, path: str) -> int:
        return self.stat(path).size

    def mtime_ms(self, path: str) -> int:
        return self.stat(path).mtime_ms

    def set_mtime_ms(self, path: str, ms: int) -> None:
        """Set ``path``'s modification time (access time unchanged)."""
        fs, jp = self._at(path)
        fs.setTimes(jp, ms, -1)

    def read_bytes(self, path: str, offset: int = 0, length: int | None = None) -> bytes:
        """Positional read (reference: ``ReadFromHDFS``, hadoopfs.hpp:178).

        Buffer-based like the reference's ``hdfsPread`` loop: a single
        ``readNBytes`` fills a JVM-side buffer and returns byte[],
        which py4j ships back as Python bytes in ONE transfer — not
        one JVM round-trip per byte.  (py4j passes primitive arrays
        by VALUE, so readFully-into-a-Python-held-array silently reads
        into a copy — readNBytes' return-the-buffer shape is the only
        batched form visible from Python.)"""
        avail = self.size(path) - offset
        n = min(length, avail) if length is not None else avail
        if n <= 0:
            return b""
        fs, jp = self._at(path)
        stream = fs.open(jp)
        try:
            stream.seek(offset)
            return bytes(stream.readNBytes(n))
        finally:
            stream.close()

    def write_bytes(self, path: str, data: bytes) -> None:
        """Create/overwrite + hsync (reference: Write+FileSync,
        hadoopfs.hpp:182-186). Control-file scale only.

        py4j converts ``bytes`` to a JVM byte[] in one transfer;
        ``hsync`` (not ``hflush``) matches FileSync's durability —
        flush to the OS on every datanode, not just client buffers."""
        fs, jp = self._at(path)
        out = fs.create(jp, True)
        try:
            out.write(bytearray(data))
            out.hsync()
        finally:
            out.close()

    def truncate(self, path: str, new_length: int) -> bool:
        """Reference: ``HadoopFileSystem::Truncate`` (hadoopfs.hpp:188).

        Returns True if the file is immediately at ``new_length``;
        False means the truncate is in progress (HDFS crash-recovery
        path) — callers needing certainty poll ``size``.

        ``hdfs://`` (DistributedFileSystem) truncates natively.
        ``file://`` is a ChecksumFileSystem wrapper that rejects
        truncate — fall through to its raw filesystem and drop the
        now-stale checksum sidecar, preserving read-after-truncate."""
        fs, jp = self._at(path)
        try:
            return fs.truncate(jp, new_length)
        except Exception as err:
            # ChecksumFileSystem (file://): truncate the raw file,
            # remove the stale .crc so subsequent reads don't fail
            # checksum verification.  Only FilterFileSystem subclasses
            # HAVE getRawFileSystem — on hdfs:// a truncate failure
            # (open lease, new_length > size, ...) must surface as the
            # ORIGINAL exception, not a confusing py4j method-missing
            # error from the fallback (round-7 review finding; py4j
            # resolves methods at CALL time, so the probe is the call).
            try:
                raw = fs.getRawFileSystem()
            except Exception:
                raise err
            ok = raw.truncate(jp, new_length)
            crc = fs.getChecksumFile(jp)
            if raw.exists(crc):
                raw.delete(crc, False)
            return ok
