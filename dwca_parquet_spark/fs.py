"""Filesystem abstraction over Hadoop's FileSystem API (via py4j).

The reference writes its outputs to S3 (``/root/reference/src/dwca_parquet/
libs/parquet.py:48-51`` writes ``s3://bucket/...`` and probes existence with
fsspec at ``:33``). On a real cluster the output path is an object-store
URI and the driver's local filesystem is irrelevant.

This module routes every sink-side filesystem operation (existence probe,
commit-rename, copy, cleanup) through the JVM's ``org.apache.hadoop.fs.
FileSystem`` resolved FROM THE PATH'S OWN SCHEME, so the same sink code
works for ``/local/path``, ``file:///...``, ``hdfs://...``, and
``s3a://...`` (given the usual hadoop-aws jars on a real cluster). Local
paths and ``file://`` URIs exercise the exact same code path in tests.

Design notes for 100 TB:
- ``rename`` on S3A is a server-side copy+delete (not atomic, O(bytes)); the
  single-file commit-rename contract is therefore only offered for
  catalog-sized outputs — bulk data uses the normal committer's directory
  layout where Spark's own S3A-optimized committers apply.
- ``copy`` for the versioned→latest alias uses Hadoop ``FileUtil.copy``,
  which is a stream copy on the cluster-side filesystem — never through the
  driver's disk.
"""

from __future__ import annotations

from pathlib import Path
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession


def has_scheme(path: str) -> bool:
    # "s3a://...", "file:/tmp/x", "hdfs://nn/x" — but not "C:\" (not a
    # concern on the target platforms) and not plain "/local/path".
    head, sep, _ = path.partition(":")
    return (
        bool(sep)
        and len(head) > 1
        and head[0].isalpha()
        and all(c.isalnum() or c in "+-." for c in head)
    )


class FS:
    """Hadoop FileSystem bound to one path's scheme+authority.

    All arguments are path strings (URI or local). Operations mirror the
    small surface the sinks need; anything fancier should go through
    Spark's own readers/writers.
    """

    def __init__(self, spark: "SparkSession", path: str | Path):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._jpath(path).getFileSystem(self._conf)

    def _jpath(self, p: str | Path):
        return self._jvm.org.apache.hadoop.fs.Path(str(p))

    def exists(self, p: str | Path) -> bool:
        return bool(self._fs.exists(self._jpath(p)))

    def is_file(self, p: str | Path) -> bool:
        return bool(self._fs.getFileStatus(self._jpath(p)).isFile())

    def size(self, p: str | Path) -> int:
        """Byte length of a file (FS metadata, no data read)."""
        return int(self._fs.getFileStatus(self._jpath(p)).getLen())

    def delete(self, p: str | Path, recursive: bool = True) -> bool:
        return bool(self._fs.delete(self._jpath(p), recursive))

    def mkdirs(self, p: str | Path) -> bool:
        return bool(self._fs.mkdirs(self._jpath(p)))

    def rename(self, src: str | Path, dst: str | Path) -> None:
        """Move src to dst (dst must not exist). Raises on failure —
        Hadoop's rename returns False instead of throwing for several
        failure modes, which must not be silently ignored in a commit."""
        if not self._fs.rename(self._jpath(src), self._jpath(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def copy(self, src: str | Path, dst: str | Path) -> None:
        """Stream-copy src to dst on the filesystem side (FileUtil.copy),
        overwriting dst. Works file→file and dir→dir."""
        ok = self._jvm.org.apache.hadoop.fs.FileUtil.copy(
            self._fs, self._jpath(src), self._fs, self._jpath(dst),
            False, True, self._conf,
        )
        if not ok:
            raise IOError(f"copy failed: {src} -> {dst}")

    def glob(self, pattern: str | Path) -> list[str]:
        statuses = self._fs.globStatus(self._jpath(pattern))
        if statuses is None:
            return []
        return sorted(s.getPath().toString() for s in statuses)

    def copy_to_local(self, src: str | Path, local_dst: str | Path) -> None:
        """Stream a filesystem file to the driver's local disk
        (Hadoop ``copyToLocalFile`` — the FS-side read stream, not py4j
        byte shuttling). For bounded, catalog-sized artifacts only."""
        self._fs.copyToLocalFile(
            False, self._jpath(src), self._jpath(str(local_dst)), True
        )

    def copy_from_local(self, local_src: str | Path, dst: str | Path) -> None:
        """Stream a driver-local file back to the filesystem, overwriting
        dst (Hadoop ``copyFromLocalFile``)."""
        self._fs.copyFromLocalFile(
            False, True, self._jpath(str(local_src)), self._jpath(dst)
        )


def parent(path: str | Path) -> str:
    """Parent of a path string, URI-safe (no pathlib scheme mangling)."""
    s = str(path).rstrip("/")
    if has_scheme(s):
        scheme, _, rest = s.partition("://")
        base, _, _ = rest.rpartition("/")
        return f"{scheme}://{base}"
    return str(Path(s).parent)
