"""Metadata manager: per-(table, info_date) key-value metadata.

Reference: api/.../MetadataManager.scala (get/set/delete by table+date+key,
``MetadataValue(value, lastUpdated)``), backed by JDBC or DynamoDB in the
reference (core/.../metadata/MetadataManagerJdbc.scala); here a
thread-safe in-memory map with optional JSON-file persistence, read and
replaced whole through the Hadoop file system (``pramen_spark.fs``), so the
file may sit on any Hadoop path.

Scale note: metadata is control-plane only (a handful of keys per
partition), so a single JSON document is adequate at any data scale; the
store is keyed off-driver state, never shipped to executors.
"""

from __future__ import annotations

import datetime as _dt
import json
import threading
import time
from dataclasses import dataclass, field
from typing import Dict, Optional

from pyspark.sql import SparkSession

from pramen_spark.fs import HadoopFs


@dataclass
class MetadataValue:
    """api/.../MetadataValue.scala: value + last-updated instant."""

    value: str
    last_updated: float = field(default_factory=time.time)


class MetadataManager:
    """In-memory manager (``MetadataManagerNull`` persistence=False in the
    reference maps to ``is_persistent == False``)."""

    def __init__(self, path: Optional[str] = None, spark: Optional[SparkSession] = None):
        self._path = path
        self._lock = threading.Lock()
        self._data: Dict[str, Dict[str, MetadataValue]] = {}
        self._fs = None
        if path:
            self._fs = HadoopFs(spark or SparkSession.builder.getOrCreate(), path)
            try:
                raw = json.loads(self._fs.read_bytes(path))
            except FileNotFoundError:
                raw = {}
            self._data = {
                part: {k: MetadataValue(v["value"], v["last_updated"])
                       for k, v in entries.items()}
                for part, entries in raw.items()
            }

    @property
    def is_persistent(self) -> bool:
        return self._path is not None

    @staticmethod
    def _key(table_name: str, info_date: _dt.date) -> str:
        return f"{table_name.lower()}|{info_date.isoformat()}"

    def get_metadata(
        self, table_name: str, info_date: _dt.date, key: Optional[str] = None
    ):
        """Single value for ``key``, or the full dict when ``key`` is None
        (the two overloads of MetadataManager.getMetadata)."""
        with self._lock:
            entries = self._data.get(self._key(table_name, info_date), {})
            if key is None:
                return dict(entries)
            return entries.get(key)

    def set_metadata(
        self, table_name: str, info_date: _dt.date, key: str, value: str
    ) -> None:
        with self._lock:
            part = self._data.setdefault(self._key(table_name, info_date), {})
            part[key] = MetadataValue(str(value))
            self._flush()

    def delete_metadata(
        self, table_name: str, info_date: _dt.date, key: Optional[str] = None
    ) -> None:
        """Delete one key, or all metadata for the partition when key is
        None (MetadataManager.deleteMetadata overloads)."""
        with self._lock:
            part_key = self._key(table_name, info_date)
            if key is None:
                self._data.pop(part_key, None)
            else:
                self._data.get(part_key, {}).pop(key, None)
            self._flush()

    def _flush(self) -> None:
        if not self._path:
            return
        document = {
            part: {k: {"value": v.value, "last_updated": v.last_updated}
                   for k, v in entries.items()}
            for part, entries in self._data.items()
        }
        self._fs.write_atomic(self._path, json.dumps(document).encode())

    def close(self) -> None:
        pass
