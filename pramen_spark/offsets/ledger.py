"""Offset ledger for incremental (exactly-once-ish) processing.

Protocol (reference core/.../bookkeeper/OffsetManager.scala:36-91):

1. ``start_write(table, info_date, batch_id)`` opens an uncommitted
   transaction *before* any data is written.
2. After the write succeeds and min/max offsets of the written slice are
   known, ``commit(transaction, min, max)`` finalizes it.
3. On failure, ``rollback(transaction)`` removes it.
4. A later run finding uncommitted transactions must delete the orphan
   rows of that batch id from storage, then roll the transaction back
   (core/.../pipeline/IncrementalIngestionJob.scala:242-297) — see
   ``get_uncommitted``.

Offset types and their normalized string encodings follow
api/.../offset/OffsetType.scala:23-59 (datetime = epoch millis).
One :class:`OffsetLedger` serves the memory, JSON-lines and Spark backends,
which differ only in the :mod:`pramen_spark.store` record store that holds
the event log; the DBAPI ledger keeps one row per transaction instead
(``runner/dbapi_bookkeeper.py``).
"""

from __future__ import annotations

import datetime as _dt
import threading
import time
from dataclasses import asdict, dataclass, replace
from typing import List, Optional, Tuple

from pramen_spark.sql.generators import OffsetType, OffsetValue
from pramen_spark.store import JsonLinesStore, MemoryStore, RecordStore


def encode_offset(v: OffsetValue) -> str:
    if v.type == OffsetType.DATETIME:
        ts: _dt.datetime = v.value  # type: ignore[assignment]
        millis = int(ts.timestamp() * 1000)
        return str(millis)
    return str(v.value)


def decode_offset(offset_type: OffsetType, s: str) -> OffsetValue:
    if offset_type == OffsetType.DATETIME:
        return OffsetValue.datetime(
            _dt.datetime.fromtimestamp(int(s) / 1000.0, tz=_dt.timezone.utc)
        )
    if offset_type == OffsetType.INTEGRAL:
        return OffsetValue.integral(int(s))
    return OffsetValue.string(s)


@dataclass
class OffsetRecord:
    table_name: str
    info_date: str
    offset_type: str
    batch_id: int
    created_at: float
    committed_at: Optional[float] = None
    min_offset: Optional[str] = None
    max_offset: Optional[str] = None

    @property
    def is_committed(self) -> bool:
        return self.committed_at is not None


@dataclass(frozen=True)
class OffsetTransaction:
    table_name: str
    info_date: str
    batch_id: int


@dataclass(kw_only=True)
class OffsetEvent:
    """One start, commit or rollback of an offset transaction with the
    record's state after it: the row layout of the event-log ledgers.
    ``seq`` orders the events (nanoseconds, strictly increasing per ledger)."""

    op: str
    table_name: str
    info_date: str
    offset_type: Optional[str] = None
    batch_id: int
    created_at: Optional[float] = None
    committed_at: Optional[float] = None
    min_offset: Optional[str] = None
    max_offset: Optional[str] = None
    seq: int = 0


def _key(r) -> Tuple[str, str, int]:
    return (r.table_name, r.info_date, r.batch_id)


class OffsetLedger:
    """Offset transactions folded from an event log kept in ``store`` (a
    JSON-lines file at ``path``, else memory). Query methods re-read the
    store first, so a driver sees transactions other drivers committed
    after this ledger was opened."""

    def __init__(self, path: Optional[str] = None, store: Optional[RecordStore] = None):
        if store is None:
            store = JsonLinesStore(path, OffsetEvent) if path else MemoryStore(OffsetEvent)
        self._store = store
        self._records: List[OffsetRecord] = []
        self._lock = threading.Lock()
        self._seq = 0
        self.refresh()

    def _log(self, op: str, rec: OffsetRecord) -> None:
        """Append ``rec``'s new state as an ``op`` event; caller holds the lock."""
        self._seq = max(time.time_ns(), self._seq + 1)  # even if the clock steps back
        self._store.append(OffsetEvent(op=op, seq=self._seq, **asdict(rec)))

    def refresh(self) -> None:
        """Re-read the event log (picks up other drivers' transactions).

        Ours win: a commit this ledger has seen beats a stored copy of the
        same transaction that is still open, and an open transaction the
        store does not show yet is kept. Both cover writes that land while
        the store is being read, and stores whose reads may lag."""
        stored = _fold_events(sorted(self._store.read(), key=lambda e: e.seq))
        with self._lock:
            ours = {_key(r) + (r.created_at,): r for r in self._records}
            merged = []
            for rec in stored:
                mine = ours.pop(_key(rec) + (rec.created_at,), None)
                merged.append(mine if mine is not None and mine.is_committed else rec)
            self._records = merged + [r for r in ours.values() if not r.is_committed]

    def compact(self) -> int:
        """Fold the store's small files; returns the number of events kept.
        Run it from one driver at a time (see the store's ``compact``)."""
        return self._store.compact()

    # --- protocol ---

    def start_write(
        self, table: str, info_date: _dt.date, batch_id: int, offset_type: OffsetType
    ) -> OffsetTransaction:
        rec = OffsetRecord(
            table_name=table,
            info_date=info_date.isoformat(),
            offset_type=offset_type.value,
            batch_id=batch_id,
            created_at=time.time(),
        )
        with self._lock:
            self._log("start", rec)
            # a re-start of a never-finished tx supersedes the stale open
            # record: two open records for one key would double-repair
            self._records = [
                r for r in self._records if not (_key(r) == _key(rec) and not r.is_committed)
            ]
            self._records.append(rec)
        return OffsetTransaction(table, rec.info_date, batch_id)

    def _find(self, tx: OffsetTransaction) -> int:
        """Index of the newest OPEN (uncommitted) record of this transaction
        key. A committed record is final — commit/rollback must never touch
        it, even when a later transaction reuses the same (table, date,
        batch) key."""
        for i in reversed(range(len(self._records))):
            rec = self._records[i]
            if _key(rec) == _key(tx) and not rec.is_committed:
                return i
        raise KeyError(f"No open offset transaction for {tx}")

    def commit(self, tx: OffsetTransaction, min_offset: OffsetValue, max_offset: OffsetValue) -> None:
        with self._lock:
            i = self._find(tx)
            done = replace(
                self._records[i],
                committed_at=time.time(),
                min_offset=encode_offset(min_offset),
                max_offset=encode_offset(max_offset),
            )
            self._log("commit", done)
            self._records[i] = done

    def rollback(self, tx: OffsetTransaction) -> None:
        with self._lock:
            i = self._find(tx)
            self._log("rollback", self._records[i])
            del self._records[i]

    # --- queries (refresh-first so concurrent drivers are visible) ---

    def get_offsets(self, table: str, info_date: Optional[_dt.date] = None) -> List[OffsetRecord]:
        self.refresh()
        day = info_date.isoformat() if info_date is not None else None
        with self._lock:
            return [
                r for r in self._records
                if r.table_name == table and (day is None or r.info_date == day)
            ]

    def get_uncommitted(self, table: str) -> List[OffsetRecord]:
        """Orphan transactions from crashed runs; callers must delete the
        matching batch rows from storage before rolling these back."""
        return [r for r in self.get_offsets(table) if not r.is_committed]

    def get_max_info_date_and_offset(
        self, table: str, only_for_info_date: Optional[_dt.date] = None
    ) -> Optional[Tuple[_dt.date, OffsetValue, OffsetValue]]:
        """(max info date, min offset, max offset over that date's committed
        transactions)."""
        committed = [
            r
            for r in self.get_offsets(table, only_for_info_date)
            if r.is_committed
        ]
        if not committed:
            return None
        max_date = max(r.info_date for r in committed)
        todays = [r for r in committed if r.info_date == max_date]
        offset_type = OffsetType(todays[0].offset_type)
        decoded_min = min(
            (decode_offset(offset_type, r.min_offset) for r in todays), key=_offset_sort_key
        )
        decoded_max = max(
            (decode_offset(offset_type, r.max_offset) for r in todays), key=_offset_sort_key
        )
        return (_dt.date.fromisoformat(max_date), decoded_min, decoded_max)


def _offset_sort_key(v: OffsetValue):
    return v.value


def _fold_events(events: List[OffsetEvent]) -> List[OffsetRecord]:
    """Fold an ordered stream of start/commit/rollback events into the
    current set of offset records.

    Commit and rollback apply to the newest OPEN record of their key; a
    committed record is final and survives later events that reuse the
    same (table, date, batch) key — mirroring ``OffsetLedger._find``."""
    records: List[OffsetRecord] = []
    for e in events:
        target = next(
            (r for r in reversed(records) if _key(r) == _key(e) and not r.is_committed), None
        )
        if e.op == "start":
            if target is not None:  # re-start of a never-finished tx
                records.remove(target)
            records.append(
                OffsetRecord(e.table_name, e.info_date, e.offset_type, e.batch_id, e.created_at)
            )
        elif target is None:
            continue
        elif e.op == "commit":
            target.committed_at = e.committed_at
            target.min_offset = e.min_offset
            target.max_offset = e.max_offset
        elif e.op == "rollback":
            records.remove(target)
    return records
