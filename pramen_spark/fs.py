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
import json
import posixpath
from typing import List, NamedTuple, Optional

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


# Spark stores the schema of the frame it wrote under this footer key; its
# own schema inference reads it back from one file's footer
SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


class ParquetFooter(NamedTuple):
    rows: int
    spark_schema: Optional[dict]  # the JSON of the Spark schema; None if absent


class HadoopFs:
    """The Hadoop file system that holds ``path``; every method takes a
    path on that same file system."""

    def __init__(self, spark: SparkSession, path: str):
        # py4j resolves each dotted step of a JVM name with a call of its
        # own: look the classes and static methods up once
        jvm = self._jvm = spark._jvm
        self._path = jvm.org.apache.hadoop.fs.Path
        self._file_util = jvm.org.apache.hadoop.fs.FileUtil
        self._stat2paths = self._file_util.stat2Paths
        self._array_to_string = jvm.org.apache.commons.lang3.ArrayUtils.toString
        self._conf = spark._jsc.hadoopConfiguration()
        self._fs = self._path(path).getFileSystem(self._conf)
        self._parquet_reader = self._input_file = None  # looked up on first use

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
        writer its own ``path``; two writers of one name collide. An
        existing ``path`` is replaced: in one step where rename replaces a
        file (local); elsewhere (HDFS) it is deleted first, so a reader can
        briefly find no file."""
        parent, name = posixpath.split(path.rstrip("/"))
        tmp = self._path(posixpath.join(parent, f".{name}.tmp"))
        dst = self._path(path)
        try:
            stream = self._fs.create(tmp, False)
            try:
                stream.write(data)
            finally:
                stream.close()
            if not self._fs.rename(tmp, dst) and not (
                self._fs.delete(dst, False) and self._fs.rename(tmp, dst)
            ):
                raise OSError(f"could not rename {tmp.toString()} to {path}")
        except BaseException:
            self._fs.delete(tmp, False)
            raise

    def delete(self, path: str, recursive: bool = False) -> bool:
        """Delete the file ``path``, or with ``recursive`` the directory
        ``path`` and all it holds; False if it did not exist."""
        return bool(self._fs.delete(self._path(path), recursive))

    def mkdirs(self, path: str) -> None:
        """Create the directory ``path`` and its missing parents."""
        if not self._fs.mkdirs(self._path(path)):
            raise OSError(f"could not create {path}")

    def rename(self, src: str, dst: str) -> None:
        """Move the file or directory ``src`` to ``dst``, which must not
        exist (where it is a directory, file systems differ: some move
        ``src`` into it, some replace it). Atomic on the local file system
        and HDFS; a copy plus a delete on object stores."""
        if self._fs.exists(self._path(dst)):
            raise FileExistsError(dst)
        with _not_found_as_python():
            renamed = self._fs.rename(self._path(src), self._path(dst))
        if not renamed:
            raise OSError(f"could not rename {src} to {dst}")

    def copy_from(self, src: str, dst: str) -> None:
        """Copy the file ``src``, on any file system Hadoop knows, to the
        file ``dst`` on this one."""
        src_path = self._path(src)
        src_fs = src_path.getFileSystem(self._conf)
        if not self._file_util.copy(src_fs, src_path, self._fs, self._path(dst), False, self._conf):
            raise OSError(f"could not copy {src} to {dst}")

    def list_files(self, path: str) -> List[str]:
        """Names of the files (not directories) directly under ``path``;
        ``FileNotFoundError`` if it does not exist."""
        with _not_found_as_python():
            statuses = self._fs.listStatus(self._path(path))
        return [s.getPath().getName() for s in statuses if s.isFile()]

    def content_size(self, path: str) -> int:
        """Bytes in the file ``path``, or in all files under the directory
        ``path``; ``FileNotFoundError`` if it does not exist."""
        with _not_found_as_python():
            return int(self._fs.getContentSummary(self._path(path)).getLength())

    def parquet_footer(self, path: str) -> ParquetFooter:
        """The row count and the Spark schema in the footer of the parquet
        file ``path``, read on the driver: no Spark job, only the footer."""
        if self._parquet_reader is None:
            jvm = self._jvm
            self._parquet_reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open
            self._input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath
        with _not_found_as_python():
            reader = self._parquet_reader(self._input_file(self._path(path), self._conf))
        try:
            schema = reader.getFooter().getFileMetaData().getKeyValueMetaData().get(SPARK_SCHEMA_KEY)
            rows = int(reader.getRecordCount())
        finally:
            reader.close()
        try:
            spark_schema = json.loads(schema) if schema else None
        except ValueError:  # the pre-JSON schema string of old Spark versions
            spark_schema = None
        return ParquetFooter(rows, spark_schema)
