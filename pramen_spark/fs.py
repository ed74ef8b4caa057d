"""Small files through the Hadoop ``FileSystem`` API of the Spark driver's JVM.

One code path serves plain paths and every URI scheme Hadoop knows
(``file://``, ``hdfs://``, ``s3a://``, ...): each call goes over py4j to
``org.apache.hadoop.fs.FileSystem``, with no Spark job. The file system
comes from ``Path.getFileSystem(hadoopConfiguration)``; Hadoop caches that
instance and Spark shares it, so it is never closed here. Every JVM stream
is closed before the call returns.

Reference: Pramen keeps its Hadoop-path bookkeeping, journal and token
locks on the file-system API (core/.../lock/TokenLockHadoopPath.scala,
core/.../journal/JournalHadoopCsv.scala).
"""

from __future__ import annotations

import contextlib
import posixpath
from typing import List

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


@contextlib.contextmanager
def _not_found_as_python():
    """Re-raise a JVM ``FileNotFoundException`` as ``FileNotFoundError``."""
    try:
        yield
    except Py4JJavaError as exc:
        if exc.java_exception.getClass().getName() == "java.io.FileNotFoundException":
            raise FileNotFoundError(str(exc.java_exception.getMessage())) from None
        raise


class HadoopFs:
    """The Hadoop file system that holds ``path``; every method takes a
    path on that same file system."""

    def __init__(self, spark: SparkSession, path: str):
        # py4j resolves each dotted step of a JVM name with a call of its
        # own: look the classes and static methods up once
        jvm = spark._jvm
        self._path = jvm.org.apache.hadoop.fs.Path
        self._stat2paths = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths
        self._array_to_string = jvm.org.apache.commons.lang3.ArrayUtils.toString
        self._fs = self._path(path).getFileSystem(spark._jsc.hadoopConfiguration())

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._path(path)))

    def list(self, path: str) -> List[str]:
        """Names of the entries directly under the directory ``path``;
        ``FileNotFoundError`` if it does not exist."""
        with _not_found_as_python():
            statuses = self._fs.listStatus(self._path(path))
        # All entry paths in one string, "{p1,p2,...}", built on the JVM
        # side: five py4j calls whatever the entry count, not three per
        # entry. (py4j passes a Path[] to no Object[] parameter, so
        # StringUtils.join is out of reach; ArrayUtils.toString takes Object.)
        joined = self._array_to_string(self._stat2paths(statuses))[1:-1]
        names = [p.rsplit("/", 1)[-1] for p in joined.split(",")] if joined else []
        if len(names) != len(statuses):
            # a path holds a comma: ask for each name on its own
            return [status.getPath().getName() for status in statuses]
        return names

    def read_bytes(self, path: str) -> bytes:
        """The whole file; ``FileNotFoundError`` if it does not exist."""
        with _not_found_as_python():
            stream = self._fs.open(self._path(path))
        try:
            return bytes(stream.readAllBytes())
        finally:
            stream.close()

    def write_atomic(self, path: str, data: bytes) -> None:
        """Write ``data`` to a hidden ``.<name>.tmp`` beside ``path``, then
        rename it to ``path``: readers see the whole file or none of it on a
        file system with atomic rename (local, HDFS), and a failed write
        leaves no visible file. Parent directories are created. Give each
        writer its own ``path``; two writers of one name collide."""
        parent, name = posixpath.split(path.rstrip("/"))
        tmp = self._path(posixpath.join(parent, f".{name}.tmp"))
        try:
            stream = self._fs.create(tmp, False)
            try:
                stream.write(data)
            finally:
                stream.close()
            if not self._fs.rename(tmp, self._path(path)):
                raise OSError(f"could not rename {tmp.toString()} to {path}")
        except BaseException:
            self._fs.delete(tmp, False)
            raise

    def delete(self, path: str) -> bool:
        """Delete the file ``path``; False if it did not exist."""
        return bool(self._fs.delete(self._path(path), False))
