"""Filesystem shim for the table-maintenance surface (versioned sink,
compaction's file listing, partition DELETE): local-OS primitives for
plain paths, the Hadoop FileSystem API for URI-schemed paths
(``file://``, ``hdfs://``, ``s3a://``, ...).

The reference reads and writes S3 throughout
(`/root/reference/ranking_urls_ingestor.py:47-63`); rounds 1–7 shipped the
maintenance surface local-only with loud URI rejections. This shim closes
that gap: every control-plane file operation the maintenance code needs
(tiny pointer/manifest reads and writes, directory listings, recursive
deletes) routes through ``org.apache.hadoop.fs.FileSystem`` when the path
carries a scheme, so the same code serves an object-store table.

Scale notes: all operations here are control-plane — O(versions) or
O(partitions) metadata, never data-sized. The one semantic difference from
POSIX: ``FileSystem.rename`` does NOT overwrite an existing destination
(measured: LocalFileSystem returns False), so the atomic pointer swap falls
back to delete+rename on Hadoop paths. HDFS rename-into-place of a fresh
name IS atomic; on S3 a production deployment would use a conditional PUT
— the fallback is documented at the call site and the swap window is one
tiny file.
"""

from __future__ import annotations

import os
import shutil


def is_uri(path: str) -> bool:
    return "://" in path


class _LocalFS:
    """Plain-OS fast path: no JVM needed, callable without a SparkSession."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def listdir(self, path: str) -> list[str]:
        return sorted(os.listdir(path))

    def read_text(self, path: str) -> str:
        with open(path) as fh:
            return fh.read()

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = os.path.join(
            os.path.dirname(path), f".{os.path.basename(path)}.tmp"
        )
        with open(tmp, "w") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, path)  # POSIX rename: atomic, overwrites

    def write_text(self, path: str, text: str) -> None:
        with open(path, "w") as fh:
            fh.write(text)
            fh.flush()
            os.fsync(fh.fileno())

    def delete(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def getsize(self, path: str) -> int:
        return os.path.getsize(path)

    def getmtime(self, path: str) -> float:
        return os.path.getmtime(path)


class _HadoopFS:
    """URI-schemed paths via ``org.apache.hadoop.fs.FileSystem`` — needs an
    active SparkSession for the JVM gateway (raised loudly if absent; the
    maintenance surface is always driven next to a session)."""

    def __init__(self, sample_path: str):
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                f"URI path {sample_path!r} needs the Hadoop FileSystem API, "
                "which requires an active SparkSession (JVM gateway)."
            )
        self._jvm = spark._jvm
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(sample_path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._Path(path)))

    def isdir(self, path: str) -> bool:
        p = self._Path(path)
        return bool(self._fs.exists(p)) and bool(
            self._fs.getFileStatus(p).isDirectory()
        )

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._Path(path))

    def listdir(self, path: str) -> list[str]:
        return sorted(
            st.getPath().getName()
            for st in self._fs.listStatus(self._Path(path))
        )

    def read_text(self, path: str) -> str:
        p = self._Path(path)
        if not self._fs.exists(p):
            raise FileNotFoundError(path)
        stream = self._fs.open(p)
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        stream = self._fs.create(self._Path(path), True)
        try:
            stream.write(bytearray(text.encode("utf-8")))
            stream.hflush()
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        # Write-then-rename. Hadoop rename refuses an existing destination
        # (measured on LocalFileSystem), so swapping onto an existing
        # pointer PARKS the old file at <path>.bak and renames the fresh
        # one into place — never delete-then-rename: a crash between those
        # two steps would lose the pointer entirely (the versioned table
        # would read as uninitialized and its next commit would silently
        # restart history). A crash between the park and the final rename
        # leaves the backup as the sole copy; readers that miss <path>
        # fall back to <path>.bak (versioned._read_chain does). The
        # backup is retired only after the swap lands. HDFS deployments
        # get an atomic rename for fresh names; S3 production would swap
        # via conditional PUT instead.
        tmp, bak = path + ".tmp", path + ".bak"
        self.write_text(tmp, text)
        jsrc, jdst, jbak = self._Path(tmp), self._Path(path), self._Path(bak)
        if not self._fs.rename(jsrc, jdst):
            self._fs.delete(jbak, False)  # stale backup from an older crash
            if not self._fs.rename(jdst, jbak):
                raise OSError(f"park {path} -> {bak} failed")
            if not self._fs.rename(jsrc, jdst):
                raise OSError(f"rename {tmp} -> {path} failed")
        self._fs.delete(jbak, False)  # swap landed; retire the fallback

    def delete(self, path: str) -> None:
        self._fs.delete(self._Path(path), True)

    def getsize(self, path: str) -> int:
        return int(self._fs.getFileStatus(self._Path(path)).getLen())

    def getmtime(self, path: str) -> float:
        return (
            self._fs.getFileStatus(self._Path(path)).getModificationTime()
            / 1000.0
        )


def fs_for(path: str) -> _LocalFS | _HadoopFS:
    """Pick the filesystem for ``path``: Hadoop API when URI-schemed,
    plain OS otherwise."""
    return _HadoopFS(path) if is_uri(path) else _LocalFS()


def managed_table_location(spark, db: str, table: str) -> str:
    """The warehouse directory a MANAGED table ``db.table`` occupies,
    normalized for ``fs_for``: a ``file:`` scheme (Spark's default local
    warehouse URI form) is stripped down to the local OS path; any other
    scheme (``hdfs://``, ``s3a://``) is kept for the Hadoop FS shim."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").rstrip("/")
    loc = f"{wh}/{db}.db/{table}"
    if loc.startswith("file:") and not loc.startswith("file://"):
        return loc[len("file:"):]
    if loc.startswith("file://"):
        # file://<path> or file:///<path>: keep exactly one leading slash
        loc = loc[len("file://"):]
        while loc.startswith("//"):
            loc = loc[1:]
        return loc
    return loc


def delete_managed_location(spark, db: str, table: str) -> None:
    """Remove the warehouse directory of managed table ``db.table``.

    An in-memory catalog forgets its tables across sessions but their
    directories persist — ``saveAsTable`` then fails with
    LOCATION_ALREADY_EXISTS. Callers that (re)create a managed table
    pre-clean through here instead of hand-stripping URI schemes."""
    loc = managed_table_location(spark, db, table)
    fs_for(loc).delete(loc)
