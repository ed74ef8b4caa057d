"""Bookkeeping: which (table, info_date) chunks were processed, when, and
with how many records; plus the schema registry used for drift detection.

Reference surface (core/.../bookkeeper/Bookkeeper.scala and backends):
- ``getLatestProcessedDate(table, until)``
- ``getLatestDataChunk(table, info_date)`` / ``getDataChunks``
- ``getDataChunksCount(table, from, to)``
- ``getDataAvailability``
- ``setRecordCount`` on successful save
- schema get/save with drift history

One :class:`Bookkeeper` and one :class:`Journal` serve every backend; a
backend is the pair of :mod:`pramen_spark.store` record stores they are
given (memory by default, JSON-lines files for :class:`JsonBookkeeper`,
Spark datasets and DBAPI tables in ``spark_bookkeeper`` /
``dbapi_bookkeeper`` — the reference similarly ships text, Delta/Hadoop-path
and JDBC backends).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import threading
import time
from dataclasses import dataclass
from typing import Dict, List, Optional

from pramen_spark.store import JsonLinesStore, MemoryStore, RecordStore


@dataclass
class DataChunk:
    table_name: str
    info_date: str  # ISO yyyy-MM-dd
    input_record_count: int
    output_record_count: int
    job_started: float
    job_finished: float
    batch_id: int = 0

    @property
    def info_date_obj(self) -> _dt.date:
        return _dt.date.fromisoformat(self.info_date)


@dataclass
class SchemaVersion:
    table_name: str
    info_date: str  # ISO yyyy-MM-dd
    schema_json: str
    updated_at: float


class Bookkeeper:
    """Chunk and schema history over two record stores (in memory unless
    given). State is read from the stores at open; ``refresh()`` re-reads
    it to pick up other drivers' records."""

    def __init__(
        self,
        chunks: Optional[RecordStore[DataChunk]] = None,
        schemas: Optional[RecordStore[SchemaVersion]] = None,
    ) -> None:
        self._chunk_store = chunks or MemoryStore(DataChunk)
        self._schema_store = schemas or MemoryStore(SchemaVersion)
        self._chunks: List[DataChunk] = []
        self._schemas: Dict[str, List[SchemaVersion]] = {}  # sorted by info_date
        self._lock = threading.Lock()
        self.refresh()

    def refresh(self) -> None:
        """Re-read storage (picks up records written by other drivers)."""
        chunks = sorted(self._chunk_store.read(), key=lambda c: (c.info_date, c.job_finished))
        schemas: Dict[str, List[SchemaVersion]] = {}
        for v in sorted(self._schema_store.read(), key=lambda v: (v.info_date, v.updated_at)):
            schemas.setdefault(v.table_name, []).append(v)
        with self._lock:
            self._chunks = chunks
            self._schemas = schemas

    def compact(self) -> int:
        """Fold both stores' small files; returns the total records kept.
        Run it from one driver at a time (see the stores' ``compact``)."""
        return self._chunk_store.compact() + self._schema_store.compact()

    # --- chunks ---

    def get_latest_processed_date(
        self, table: str, until: Optional[_dt.date] = None
    ) -> Optional[_dt.date]:
        dates = [
            c.info_date_obj
            for c in self._chunks
            if c.table_name == table and (until is None or c.info_date_obj <= until)
        ]
        return max(dates) if dates else None

    def get_latest_data_chunk(self, table: str, info_date: _dt.date) -> Optional[DataChunk]:
        chunks = self.get_data_chunks(table, info_date, info_date)
        return chunks[-1] if chunks else None

    def get_data_chunks(
        self,
        table: str,
        date_from: Optional[_dt.date] = None,
        date_to: Optional[_dt.date] = None,
    ) -> List[DataChunk]:
        out = [
            c
            for c in self._chunks
            if c.table_name == table
            and (date_from is None or c.info_date_obj >= date_from)
            and (date_to is None or c.info_date_obj <= date_to)
        ]
        out.sort(key=lambda c: (c.info_date, c.job_finished))
        return out

    def get_data_chunks_count(
        self, table: str, date_from: Optional[_dt.date], date_to: Optional[_dt.date]
    ) -> int:
        return len(self.get_data_chunks(table, date_from, date_to))

    def get_data_availability(
        self, table: str, date_from: _dt.date, date_to: _dt.date
    ) -> Dict[_dt.date, int]:
        """info_date -> number of chunks recorded."""
        out: Dict[_dt.date, int] = {}
        for c in self.get_data_chunks(table, date_from, date_to):
            out[c.info_date_obj] = out.get(c.info_date_obj, 0) + 1
        return out

    def set_record_count(
        self,
        table: str,
        info_date: _dt.date,
        input_record_count: int,
        output_record_count: int,
        job_started: float,
        job_finished: float,
        batch_id: int = 0,
    ) -> DataChunk:
        chunk = DataChunk(
            table_name=table,
            info_date=info_date.isoformat(),
            input_record_count=input_record_count,
            output_record_count=output_record_count,
            job_started=job_started,
            job_finished=job_finished,
            batch_id=batch_id,
        )
        with self._lock:
            self._chunk_store.append(chunk)
            self._chunks.append(chunk)
        return chunk

    # --- schemas ---

    def get_latest_schema(self, table: str, until: Optional[_dt.date] = None) -> Optional[dict]:
        versions = self._schemas.get(table, [])
        if until is not None:
            versions = [v for v in versions if _dt.date.fromisoformat(v.info_date) <= until]
        if not versions:
            return None
        return json.loads(versions[-1].schema_json)

    def save_schema(self, table: str, info_date: _dt.date, schema_json: str) -> None:
        version = SchemaVersion(table, info_date.isoformat(), schema_json, time.time())
        with self._lock:
            self._schema_store.append(version)
            self._schemas.setdefault(table, []).append(version)
            self._schemas[table].sort(key=lambda v: v.info_date)


class JsonBookkeeper(Bookkeeper):
    """JSON-lines backend: chunks in ``path``, schema versions in
    ``{path}.schemas.jsonl``."""

    def __init__(self, path: str):
        super().__init__(
            JsonLinesStore(path, DataChunk), JsonLinesStore(f"{path}.schemas.jsonl", SchemaVersion)
        )


@dataclass
class JournalEntry:
    table_name: str
    info_date: str
    status: str
    started: float
    finished: float
    records: int = 0
    reason: str = ""
    error: str = ""


class Journal:
    """Run journal (core/.../journal/*): one entry per task attempt, kept in
    ``store`` (a JSON-lines file at ``path``, else memory).

    ``entries`` is this driver's view for its run report and starts empty:
    the journal never replays at open. ``get_entries`` reads the store, so
    it also sees other drivers' entries."""

    def __init__(self, path: Optional[str] = None, store: Optional[RecordStore[JournalEntry]] = None):
        if store is None:
            store = JsonLinesStore(path, JournalEntry) if path else MemoryStore(JournalEntry)
        self._store = store
        self.entries: List[JournalEntry] = []

    def add(self, entry: JournalEntry) -> None:
        self._store.append(entry)
        self.entries.append(entry)

    def get_entries(self, from_ts: float, to_ts: float) -> List[JournalEntry]:
        """Entries whose finish time falls in [from_ts, to_ts], by finish
        time (reference: Journal.getEntries(from, to))."""
        found = [e for e in self._store.read() if from_ts <= e.finished <= to_ts]
        return sorted(found, key=lambda e: e.finished)


class TokenLock:
    """In-process lock registry keyed on (table, info_date)
    (reference: core/.../lock/TokenLockHadoopPath.scala et al. — here a
    process-local registry; multi-driver deployments would use a
    path-based lock)."""

    _locks: Dict[str, threading.Lock] = {}
    _registry_lock = threading.Lock()

    @classmethod
    def acquire(cls, token: str, timeout: float = 600.0) -> bool:
        with cls._registry_lock:
            lock = cls._locks.setdefault(token, threading.Lock())
        deadline = time.time() + timeout
        # always make at least one attempt so timeout=0 means "try once,
        # don't wait" (used by --skip-locked) rather than "never acquire"
        while True:
            if lock.acquire(blocking=False):
                return True
            if time.time() >= deadline:
                return False
            time.sleep(0.05)

    @classmethod
    def release(cls, token: str) -> None:
        with cls._registry_lock:
            lock = cls._locks.get(token)
        if lock is not None and lock.locked():
            lock.release()


class FileTokenLock:
    """Cross-process token lock via atomic lock-file creation
    (reference: core/.../lock/TokenLockHadoopPath.scala — there a Hadoop
    path created atomically; here O_CREAT|O_EXCL on a shared filesystem).
    Stale locks older than ``ttl_sec`` are broken (crashed owner)."""

    def __init__(self, lock_dir: str, ttl_sec: float = 3600.0):
        self.lock_dir = lock_dir
        self.ttl_sec = ttl_sec
        # unique owner id: lock files carry it so release()/holders can
        # detect displacement (a broken-then-reacquired lock is not ours)
        self._owner = f"{os.getpid()}.{id(self)}.{int(time.time() * 1e6)}"
        self._held: Dict[str, str] = {}  # token -> owner line written
        os.makedirs(lock_dir, exist_ok=True)

    def _path(self, token: str) -> str:
        safe = "".join(c if c.isalnum() or c in "-_." else "_" for c in token)
        return os.path.join(self.lock_dir, f"{safe}.lock")

    def acquire(self, token: str, timeout: float = 600.0) -> bool:
        path = self._path(token)
        deadline = time.time() + timeout
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                owner_line = f"{self._owner} {token}"
                os.write(fd, owner_line.encode())
                os.close(fd)
                self._held[token] = owner_line
                return True
            except FileExistsError:
                try:
                    st = os.stat(path)
                except FileNotFoundError:
                    continue
                if time.time() - st.st_mtime > self.ttl_sec:
                    self._break_stale(path, st)
                    continue
                if time.time() >= deadline:
                    return False
                time.sleep(0.1)

    def _break_stale(self, path: str, observed: os.stat_result) -> None:
        """Break a stale lock atomically.

        rename(2) is atomic, so exactly one contender moves the lock file to
        a unique tombstone; losers see FileNotFoundError and go back to the
        O_EXCL create. The (inode, mtime_ns) check guards the stat->rename
        window: if the stale lock was released and a FRESH lock re-created in
        between, we moved somebody's live lock — restore it with link(2),
        which is atomic and fails if the path was re-created meanwhile.
        (mtime_ns defeats immediate inode reuse: a recycled inode still gets
        a fresh mtime.)  Residual window: if the restore races a third
        contender's O_EXCL create, the displaced holder's file is dropped and
        its release() becomes a no-op — it detects displacement through the
        owner token instead of silently unlinking the usurper's lock.
        """
        tombstone = f"{path}.stale.{os.getpid()}.{id(self)}"
        try:
            os.rename(path, tombstone)
        except FileNotFoundError:
            return  # another contender broke it first
        try:
            moved = os.stat(tombstone)
            if (moved.st_ino, moved.st_mtime_ns) != (
                observed.st_ino,
                observed.st_mtime_ns,
            ):
                try:
                    os.link(tombstone, path)  # restore the fresh lock
                except FileExistsError:
                    pass
        finally:
            try:
                os.unlink(tombstone)
            except FileNotFoundError:
                pass

    def release(self, token: str) -> None:
        """Unlink only if the lock file still carries OUR owner token — after
        a displacement (stale-break race) the path may hold someone else's
        live lock, which must not be removed."""
        owner_line = self._held.pop(token, None)
        path = self._path(token)
        if owner_line is None:
            return
        try:
            with open(path) as f:
                content = f.read()
        except FileNotFoundError:
            return
        if content == owner_line:
            try:
                os.unlink(path)
            except FileNotFoundError:
                pass
