"""Append-only record stores under the bookkeeper, run journal and offset
ledger.

A store holds records of one dataclass type and offers ``append(record)``,
``read()`` and ``compact()``. Each backend is written once:

- :class:`MemoryStore` — a list (no persistence);
- :class:`JsonLinesStore` — one JSON object per line of a file;
- :class:`SparkStore` — a parquet or delta dataset, one append per record;
- :class:`DbApiStore` — a table behind any DBAPI 2.0 connection.

Every layout comes from the record's dataclass fields: their order is the
column order, their annotations (``str``, ``int``, ``float``, optionally
``Optional[...]``) the Spark and SQL column types and their names the JSON
keys. A null read from storage, or a ``None`` written, stands for the
field's default; a field without a default must not be null.

``read()`` returns records in no guaranteed order; callers sort.
"""

from __future__ import annotations

import dataclasses
import json
import os
import threading
import typing
from typing import Any, Callable, Dict, Generic, List, Mapping, Optional, Type, TypeVar

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import types as T

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


def sql_columns(record_type: type) -> str:
    """Column definitions for ``CREATE TABLE``."""
    return ", ".join(f"{name} {_SQL_TYPES[t]}" for name, t in field_types(record_type).items())


# One lock per storage path, shared by every store in the process that
# appends to it: Spark stages each append to a path under
# {path}/_temporary/0, so two concurrent appends delete each other's
# staging files, and a long JSON line may reach the file in several writes.
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
        returns the number of records kept. Safe only when no other driver
        is mid-write."""
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


class SparkStore(RecordStore[R]):
    """A parquet or delta dataset; each append writes one single-row part
    file (parquet) or transaction (delta).

    Appends from one process are serialised per path. Parquet appends from
    two driver processes can still collide in the shared ``_temporary/0``
    staging directory; only delta is safe across drivers.
    """

    def __init__(self, spark: SparkSession, path: str, record_type: Type[R],
                 data_format: str = "parquet"):
        if data_format not in ("parquet", "delta"):
            raise ValueError(f"Unsupported Spark store format '{data_format}'")
        super().__init__(record_type)
        self.spark = spark
        self.path = path.rstrip("/")
        self.data_format = data_format
        self.schema = spark_schema(record_type)
        self._lock = _path_lock(self.path)

    def _write(self, records: List[R], mode: str) -> None:
        rows = [tuple(self._row(r).values()) for r in records]
        df = self.spark.createDataFrame(rows, schema=self.schema)
        df.coalesce(1).write.format(self.data_format).mode(mode).save(self.path)

    def append(self, record: R) -> None:
        with self._lock:
            self._write([record], "append")

    def read(self) -> List[R]:
        try:
            df = self.spark.read.format(self.data_format).load(self.path)
        except AnalysisException:  # dataset not created yet
            return []
        return [self._record(row.asDict()) for row in df.collect()]

    def compact(self) -> int:
        """Rewrite the dataset as one file."""
        with self._lock:
            records = self.read()
            if records:
                self._write(records, "overwrite")
        return len(records)


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
