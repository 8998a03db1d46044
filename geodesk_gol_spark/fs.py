"""The engine's one storage layer: file operations on store, checkpoint
and epoch paths through Hadoop's ``FileSystem``.

Spark writes the data through Hadoop, so the engine's own commit
markers, renames, listings and links go the same way: a path is bare
(resolved against ``fs.defaultFS``, as Spark resolves it) or any URI
Spark can write (``file://``, ``hdfs://``, ``s3a://`` …).  Calls run on
the driver through the active SparkContext's JVM; none runs a Spark job.

The ``file`` scheme uses the raw local filesystem: the checksum layer
over it would carry a ``.<name>.crc`` side file along with every rename
into a store directory.
"""

from __future__ import annotations

import os
from urllib.parse import urlsplit

from pyspark import SparkContext


class _Hadoop:
    """One SparkContext's Hadoop handles, with a FileSystem per
    (scheme, authority) of the paths seen."""

    def __init__(self, sc: SparkContext):
        self.sc = sc
        self.Path = sc._jvm.org.apache.hadoop.fs.Path
        self.conf = sc._jsc.hadoopConfiguration()
        self.util = sc._jvm.org.apache.hadoop.fs.FileUtil
        self.wrap = sc._jvm.scala.Predef.genericWrapArray
        self.fs: dict[tuple[str, str], object] = {}
        self.local: set[tuple[str, str]] = set()


_h: _Hadoop | None = None


def _fs(path: str):
    """The FileSystem of ``path`` in the active context."""
    global _h
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError(f"no active SparkContext to resolve {path!r}")
    if _h is None or _h.sc is not sc:
        _h = _Hadoop(sc)
    key = urlsplit(path)[:2]
    if key not in _h.fs:
        fs = _h.Path(path).getFileSystem(_h.conf)
        if fs.getUri().getScheme() == "file":
            fs = fs.getRawFileSystem()
            _h.local.add(key)
        _h.fs[key] = fs
    return _h.fs[key]


def _resolve(path: str):
    """(FileSystem, hadoop Path) of ``path``."""
    fs = _fs(path)
    return fs, _h.Path(path)


def exists(path: str) -> bool:
    fs, p = _resolve(path)
    return fs.exists(p)


def _paths(statuses) -> list[str]:
    # the JVM joins the paths: one call, not one per entry
    text = _h.wrap(_h.util.stat2Paths(statuses)).mkString("\n")
    return text.split("\n") if text else []


def ls(path: str) -> list[str]:
    """Names of the entries of directory ``path``; [] if it is missing."""
    fs, p = _resolve(path)
    if not fs.exists(p):
        return []
    return [s.rsplit("/", 1)[-1] for s in _paths(fs.listStatus(p))]


def glob(pattern: str) -> list[str]:
    """Qualified paths matching the Hadoop glob ``pattern``."""
    fs, p = _resolve(pattern)
    found = fs.globStatus(p)
    return [] if found is None else _paths(found)


def rename(src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``, which must not exist."""
    fs, p = _resolve(src)
    if not fs.rename(p, _h.Path(dst)):
        raise OSError(f"rename {src} -> {dst} failed")


def delete(path: str) -> None:
    """Delete ``path`` and everything under it; a missing path is fine."""
    fs, p = _resolve(path)
    fs.delete(p, True)


def qualify(path: str) -> str:
    """``path`` as a fully qualified URI (scheme, authority, absolute)."""
    fs, p = _resolve(path)
    return fs.makeQualified(p).toString()


def read_bytes(path: str) -> bytes:
    fs, p = _resolve(path)
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def write_bytes(path: str, data: bytes) -> None:
    """Create or overwrite ``path`` (and its parent dirs) with ``data``."""
    fs, p = _resolve(path)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()


def read_text(path: str) -> str:
    return read_bytes(path).decode()


def write_text(path: str, text: str) -> None:
    write_bytes(path, text.encode())


def link(src: str, dst: str) -> None:
    """Make file ``dst`` (and its parent dirs) hold ``src``'s bytes
    without rewriting them: a hard link on the local filesystem, a copy
    on any other."""
    fs = _fs(src)
    if urlsplit(src)[:2] in _h.local:
        os.makedirs(os.path.dirname(_local(dst)), exist_ok=True)
        os.link(_local(src), _local(dst))
    else:
        dfs, q = _resolve(dst)
        if not _h.util.copy(fs, _h.Path(src), dfs, q, False, _h.conf):
            raise OSError(f"copy {src} -> {dst} failed")


def _local(path: str) -> str:
    """The OS path of a path on the local filesystem."""
    u = urlsplit(path)
    return u.path if u.scheme else path
