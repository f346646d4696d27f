"""Hadoop FileSystem access from Python via the py4j JVM gateway.

The reference does raw HDFS file ops from the driver for the
empty-partition fast path and backup retention
(``/root/reference/.../deletion/DeletionExecutor.java:251-269``,
``/root/reference/.../backup/HDFSBackupStrategy.java:100-129,151-175``).

Sharp edge fixed here (SURVEY §7 risk 2): the reference uses
``FileSystem.get(conf)`` and *closes* the shared handle — which poisons the
JVM-wide FS cache. We resolve the filesystem from the path itself
(``path.getFileSystem(conf)``) and never close it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = ["HadoopFS"]


class HadoopFS:
    """Thin wrapper over org.apache.hadoop.fs.FileSystem for driver-side ops."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark.sparkContext._jvm
        self._jsc = spark.sparkContext._jsc
        self._conf = self._jsc.hadoopConfiguration()

    def _path(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def _fs(self, jpath):
        # resolve per-path; do NOT close (shared JVM cache)
        return jpath.getFileSystem(self._conf)

    def delete(self, path: str, recursive: bool = True) -> bool:
        """Recursive delete (DeletionExecutor.java:251-269)."""
        p = self._path(path)
        fs = self._fs(p)
        if not fs.exists(p):
            return False
        return fs.delete(p, recursive)

    def list_dirs(self, base: str) -> list[tuple[str, int]]:
        """List child directories of ``base`` → [(path, modification_time_ms)]
        (HDFSBackupStrategy.java:100-115)."""
        p = self._path(base)
        fs = self._fs(p)
        if not fs.exists(p):
            return []
        out = []
        for status in fs.listStatus(p):
            if status.isDirectory():
                out.append((status.getPath().toString(),
                            status.getModificationTime()))
        return out

    def list_files(self, base: str) -> list[str]:
        """Non-recursive data files under ``base`` (hidden ``_``/``.``
        names excluded) — the snapshot primitive for stores that must
        support concurrent appends (see operators/deletion_vectors.py)."""
        p = self._path(base)
        fs = self._fs(p)
        if not fs.exists(p):
            return []
        out = []
        for status in fs.listStatus(p):
            name = status.getPath().getName()
            if status.isFile() and not name.startswith(("_", ".")):
                out.append(status.getPath().toString())
        return sorted(out)

    def write_text(self, path: str, content: str) -> None:
        """Write a small driver-side text file (the backup ``_manifest.txt``,
        HDFSBackupStrategy.java:151-175)."""
        p = self._path(path)
        fs = self._fs(p)
        stream = fs.create(p, True)
        try:
            stream.write(bytearray(content, "utf-8"))
        finally:
            stream.close()

    def read_text(self, path: str) -> str:
        p = self._path(path)
        fs = self._fs(p)
        stream = fs.open(p)
        try:
            reader = self._jvm.java.io.BufferedReader(
                self._jvm.java.io.InputStreamReader(stream, "utf-8"))
            lines = []
            line = reader.readLine()
            while line is not None:
                lines.append(line)
                line = reader.readLine()
            return "\n".join(lines)
        finally:
            stream.close()
