"""Append-only record stores under the bookkeeper, run journal and offset
ledger.

A store holds records of one dataclass type and offers ``append(record)``,
``read()`` and ``compact()``. Each backend is written once:

- :class:`MemoryStore` — a list (no persistence);
- :class:`JsonLinesStore` — one JSON object per line of a file;
- :class:`ParquetStore` — a parquet dataset, one file per append, written
  and read through the Hadoop file system (:mod:`pramen_spark.fs`);
- :class:`DeltaStore` — a delta table, one Spark write per append;
- :class:`DbApiStore` — a table behind any DBAPI 2.0 connection.

Every layout comes from the record's dataclass fields: their order is the
column order, their annotations (``str``, ``int``, ``float``, optionally
``Optional[...]``) the Spark, Arrow and SQL column types and their names the
JSON keys. A null read from storage, or a ``None`` written, stands for the
field's default; a field without a default must not be null.

``read()`` returns records in no guaranteed order; callers sort.
"""

from __future__ import annotations

import dataclasses
import json
import os
import threading
import typing
import uuid
from typing import Any, Callable, Dict, Generic, List, Mapping, Optional, Type, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pramen_spark.session import local_frame

R = TypeVar("R")

_SPARK_TYPES = {str: T.StringType(), int: T.LongType(), float: T.DoubleType()}
_SQL_TYPES = {str: "TEXT", int: "INTEGER", float: "REAL"}


def field_types(record_type: type) -> Dict[str, type]:
    """Field name -> column type (``str``, ``int`` or ``float``), in field
    order; ``Optional[X]`` maps to ``X``."""
    hints = typing.get_type_hints(record_type)
    out = {}
    for f in dataclasses.fields(record_type):
        args = [a for a in typing.get_args(hints[f.name]) if a is not type(None)]
        out[f.name] = args[0] if args else hints[f.name]
    return out


def spark_schema(record_type: type) -> T.StructType:
    return T.StructType(
        [T.StructField(name, _SPARK_TYPES[t]) for name, t in field_types(record_type).items()]
    )


def arrow_schema(record_type: type):
    """The ``pyarrow`` schema of ``spark_schema(record_type)``: explicit, so
    an all-null column is never inferred as another type."""
    import pyarrow as pa

    types = {str: pa.string(), int: pa.int64(), float: pa.float64()}
    return pa.schema([pa.field(name, types[t]) for name, t in field_types(record_type).items()])


def sql_columns(record_type: type) -> str:
    """Column definitions for ``CREATE TABLE``."""
    return ", ".join(f"{name} {_SQL_TYPES[t]}" for name, t in field_types(record_type).items())


# One lock per storage path, shared by every store in the process that
# opens it: a long JSON line may reach the file in several writes, Spark
# stages each delta write under the table's path, and two compactions of
# one parquet dataset at once would each keep its records.
_PATH_LOCKS: Dict[str, threading.Lock] = {}
_PATH_LOCKS_GUARD = threading.Lock()


def _path_lock(path: str) -> threading.Lock:
    with _PATH_LOCKS_GUARD:
        return _PATH_LOCKS.setdefault(path, threading.Lock())


class RecordStore(Generic[R]):
    """Append-only collection of ``record_type`` records."""

    def __init__(self, record_type: Type[R]):
        self.record_type = record_type
        self._types = field_types(record_type)
        self._defaults = {
            f.name: f.default for f in dataclasses.fields(record_type)
            if f.default is not dataclasses.MISSING
        }

    def _value(self, name: str, value: Any) -> Any:
        if value is None:
            if name not in self._defaults:
                raise ValueError(f"{self.record_type.__name__}.{name} is null")
            return self._defaults[name]
        return self._types[name](value)

    def _row(self, record: R) -> Dict[str, Any]:
        """Field name -> storable value, in field order."""
        return {name: self._value(name, getattr(record, name)) for name in self._types}

    def _record(self, row: Mapping[str, Any]) -> R:
        return self.record_type(**{name: self._value(name, row.get(name)) for name in self._types})

    def append(self, record: R) -> None:
        raise NotImplementedError

    def read(self) -> List[R]:
        raise NotImplementedError

    def compact(self) -> int:
        """Fold the stored records into as few files as the backend allows;
        returns the number of records kept. Unless the backend says
        otherwise, safe only when no other driver is mid-write."""
        return len(self.read())


class MemoryStore(RecordStore[R]):
    def __init__(self, record_type: Type[R]):
        super().__init__(record_type)
        self._records: List[R] = []

    def append(self, record: R) -> None:
        self._records.append(record)

    def read(self) -> List[R]:
        return list(self._records)


class JsonLinesStore(RecordStore[R]):
    """One JSON object per line, keyed by field name."""

    def __init__(self, path: str, record_type: Type[R]):
        super().__init__(record_type)
        self.path = path
        self._lock = _path_lock(os.path.abspath(path))
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def append(self, record: R) -> None:
        line = json.dumps(self._row(record)) + "\n"
        with self._lock, open(self.path, "a") as f:
            f.write(line)

    def read(self) -> List[R]:
        if not os.path.exists(self.path):
            return []
        with self._lock, open(self.path) as f:
            lines = f.readlines()
        return [self._record(json.loads(line)) for line in lines if line.strip()]


class ParquetStore(RecordStore[R]):
    """A parquet dataset kept in files through :mod:`pramen_spark.fs`, with
    no Spark job; ``pyarrow`` is imported on first use, not with this
    module.

    - Each append writes one ``part-<uuid>.parquet`` file (hidden temp file,
      then rename), so appends never share a staging directory.
    - ``read()`` is incremental: it keeps the records of every file it has
      read, keyed by file name, lists the directory and reads only names it
      has not seen; the records of names that have disappeared are dropped.
    - ``compact()`` writes one combined file that names the files it
      replaces in its parquet metadata, then deletes exactly those files.
      A reader that lists the directory between the two steps skips the
      replaced files, so a compaction by this driver or another one never
      duplicates or loses records.

    Files named ``_*`` or ``.*`` (``_SUCCESS``, checksums, temp files) are
    not data, so a dataset written by Spark opens as well. Only a missing
    directory reads as empty; a file that is not parquet raises.

    Appends and reads are safe across drivers on a file system with atomic
    rename (local, HDFS). On S3 (``s3a://``) a rename is a copy plus a
    delete: an object still appears only whole and S3 lists what was
    written, so no record is lost or seen twice, but each append costs
    more requests, and a driver that dies mid-append can leave a hidden
    temp object behind.
    """

    REPLACES_KEY = b"pramen.replaces"

    def __init__(self, spark: SparkSession, path: str, record_type: Type[R]):
        from pramen_spark.fs import HadoopFs

        super().__init__(record_type)
        self.path = path.rstrip("/")
        self.fs = HadoopFs(spark, self.path)
        self._parts: Dict[str, tuple] = {}  # file name -> (records, names it replaces)
        self._parts_lock = threading.Lock()
        self._compact_lock = _path_lock(self.path)

    def _write_file(self, records: List[R], replaces: frozenset = frozenset()) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = arrow_schema(self.record_type)
        if replaces:
            schema = schema.with_metadata({self.REPLACES_KEY: json.dumps(sorted(replaces))})
        table = pa.Table.from_pylist([self._row(r) for r in records], schema=schema)
        sink = pa.BufferOutputStream()
        pq.write_table(table, sink, compression="snappy")
        name = f"part-{uuid.uuid4()}.parquet"
        self.fs.write_atomic(f"{self.path}/{name}", sink.getvalue().to_pybytes())
        return name

    def _read_file(self, name: str) -> tuple:
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(pa.BufferReader(self.fs.read_bytes(f"{self.path}/{name}")))
        replaces = (table.schema.metadata or {}).get(self.REPLACES_KEY)
        records = [self._record(row) for row in table.to_pylist()]
        return records, frozenset(json.loads(replaces) if replaces else ())

    def _list(self) -> Dict[str, tuple]:
        """File name -> (records, names it replaces) for every data file
        in the directory now; ``{}`` if the directory does not exist."""
        while True:
            try:
                names = {
                    n for n in self.fs.list(self.path)
                    if n.endswith(".parquet") and not n.startswith((".", "_"))
                }
            except FileNotFoundError:
                return {}
            with self._parts_lock:
                known = {n: self._parts[n] for n in names if n in self._parts}
            try:
                parts = {n: known[n] if n in known else self._read_file(n) for n in names}
            except FileNotFoundError:
                continue  # a compaction replaced a listed file: list again
            with self._parts_lock:
                self._parts = dict(parts)
            return parts

    @staticmethod
    def _records(parts: Mapping[str, tuple]) -> List[R]:
        """The records of the files no other listed file replaces."""
        replaced = set().union(*(rep for _, rep in parts.values()))
        return [r for n, (recs, _) in parts.items() if n not in replaced for r in recs]

    def append(self, record: R) -> None:
        self._write_file([record])

    def read(self) -> List[R]:
        return self._records(self._list())

    def compact(self) -> int:
        """Rewrite the dataset as one file. Appends and reads by other
        drivers may go on meanwhile; two compactions of one dataset at once
        would each keep the records, so run it from one driver at a time
        (the threads of one process take turns)."""
        with self._compact_lock:
            parts = self._list()
            records = self._records(parts)
            if len(parts) > 1:
                replaces = frozenset(parts)
                name = self._write_file(records, replaces)
                with self._parts_lock:
                    self._parts[name] = (records, replaces)
                for old in replaces:
                    self.fs.delete(f"{self.path}/{old}")
        return len(records)


class DeltaStore(RecordStore[R]):
    """A delta table written through Spark; each append is one
    transaction, safe across drivers. Appends from one process are
    serialised per path."""

    def __init__(self, spark: SparkSession, path: str, record_type: Type[R]):
        super().__init__(record_type)
        self.spark = spark
        self.path = path.rstrip("/")
        self.schema = spark_schema(record_type)
        self._lock = _path_lock(self.path)

    def _frame(self, records: List[R]) -> DataFrame:
        return local_frame(self.spark, [tuple(self._row(r).values()) for r in records], self.schema)

    def _write(self, records: List[R], mode: str) -> None:
        self._frame(records).coalesce(1).write.format("delta").mode(mode).save(self.path)

    def append(self, record: R) -> None:
        with self._lock:
            self._write([record], "append")

    def read(self) -> List[R]:
        """``[]`` only when the table's directory does not exist; any other
        error, such as a directory that is not a loadable delta table,
        raises rather than reading as no records."""
        from pramen_spark.fs import HadoopFs

        if not HadoopFs(self.spark, self.path).exists(self.path):
            return []
        df = self.spark.read.format("delta").load(self.path)
        return [self._record(row.asDict()) for row in df.collect()]

    def compact(self) -> int:
        """Rewrite the table as one file."""
        with self._lock:
            records = self.read()
            if records:
                self._write(records, "overwrite")
        return len(records)


def dataset_store(spark: SparkSession, path: str, record_type: Type[R],
                  data_format: str = "parquet") -> RecordStore[R]:
    """The store for a ``parquet`` or ``delta`` dataset at ``path``."""
    if data_format == "parquet":
        return ParquetStore(spark, path, record_type)
    if data_format == "delta":
        return DeltaStore(spark, path, record_type)
    raise ValueError(f"Unsupported dataset store format '{data_format}'")


class DbApiConnection:
    """One shared DBAPI connection + lock. Stdlib ``sqlite3`` works out of
    the box (``sqlite_path``); any other driver via ``connection_factory``
    (a callable returning an open connection). SQL sticks to the portable
    core with positional ``?`` parameters — pass a paramstyle adapter in
    the factory for drivers that use ``%s``."""

    def __init__(
        self,
        sqlite_path: Optional[str] = None,
        connection_factory: Optional[Callable[[], Any]] = None,
    ):
        if connection_factory is not None:
            self.conn = connection_factory()
        elif sqlite_path:
            import sqlite3

            # worker threads write task results; serialize with self.lock
            self.conn = sqlite3.connect(sqlite_path, check_same_thread=False)
        else:
            raise ValueError("DbApiConnection needs sqlite_path or connection_factory")
        self.lock = threading.Lock()

    def execute(self, sql: str, params: tuple = ()) -> List[tuple]:
        rows, _ = self.execute_with_rowcount(sql, params)
        return rows

    def execute_with_rowcount(self, sql: str, params: tuple = ()) -> tuple:
        """(rows, rowcount) — the rowcount is captured inside the lock and
        returned, never stashed on the shared connection, so concurrent
        statements cannot read each other's counts."""
        with self.lock:
            cur = self.conn.cursor()
            cur.execute(sql, params)
            rows = cur.fetchall() if cur.description else []
            rowcount = cur.rowcount
            self.conn.commit()
            cur.close()
        return [tuple(r) for r in rows], rowcount

    def execute_atomic(self, statements: List[tuple]) -> None:
        """Run several (sql, params) statements in ONE database transaction:
        either all commit or none (a crash mid-sequence leaves the previous
        state intact)."""
        with self.lock:
            cur = self.conn.cursor()
            try:
                for sql, params in statements:
                    cur.execute(sql, params)
                self.conn.commit()
            except Exception:
                self.conn.rollback()
                raise
            finally:
                cur.close()

    def close(self) -> None:
        self.conn.close()


class DbApiStore(RecordStore[R]):
    """A table with one column per field; created on open if missing."""

    def __init__(self, db: DbApiConnection, table: str, record_type: Type[R]):
        super().__init__(record_type)
        self.db = db
        self.table = table
        self.columns = ", ".join(self._types)
        db.execute(f"CREATE TABLE IF NOT EXISTS {table} ({sql_columns(record_type)})")

    def insert(self, record: R) -> tuple:
        """The (sql, params) statement that appends ``record``."""
        marks = ", ".join("?" for _ in self._types)
        return (
            f"INSERT INTO {self.table} ({self.columns}) VALUES ({marks})",
            tuple(self._row(record).values()),
        )

    def append(self, record: R) -> None:
        self.db.execute(*self.insert(record))

    def read(self) -> List[R]:
        rows = self.db.execute(f"SELECT {self.columns} FROM {self.table}")
        return [self._record(dict(zip(self._types, r))) for r in rows]
