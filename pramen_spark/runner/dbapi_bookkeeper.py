"""RDBMS-backed bookkeeping, journal, and offset ledger over DBAPI.

Reference: core/.../bookkeeper/BookkeeperJdbc.scala, journal/JournalJdbc.scala,
bookkeeper/OffsetManagerJdbc.scala — the relational backends every shared
production deployment uses. Tables (``bk_records``, ``bk_schemas``,
``journal``, ``offsets``) take their columns from the record dataclasses
and are created on open (:class:`pramen_spark.store.DbApiStore`).

Concurrency: one connection guarded by a process lock (DBAPI threadsafety
varies; the TaskRunner writes from worker threads), transactions delegated
to the database — commit/rollback of offset transactions are single
UPDATE/DELETE statements guarded by ``committed_at IS NULL``, so two
drivers sharing a database cannot double-commit a batch.
"""

from __future__ import annotations

import datetime as _dt
import time

from pramen_spark.offsets.ledger import OffsetLedger, OffsetRecord, OffsetTransaction, encode_offset
from pramen_spark.runner.bookkeeper import Bookkeeper, DataChunk, Journal, JournalEntry, SchemaVersion
from pramen_spark.sql.generators import OffsetType, OffsetValue
from pramen_spark.store import DbApiConnection, DbApiStore

__all__ = ["DbApiBookkeeper", "DbApiConnection", "DbApiJournal", "DbApiOffsetLedger"]


class DbApiBookkeeper(Bookkeeper):
    """Bookkeeper rows in ``bk_records`` / ``bk_schemas``
    (BookkeeperJdbc.scala)."""

    def __init__(self, db: DbApiConnection):
        super().__init__(
            DbApiStore(db, "bk_records", DataChunk), DbApiStore(db, "bk_schemas", SchemaVersion)
        )


class DbApiJournal(Journal):
    """Run journal in the ``journal`` table (JournalJdbc.scala)."""

    def __init__(self, db: DbApiConnection):
        super().__init__(store=DbApiStore(db, "journal", JournalEntry))


class DbApiOffsetLedger(OffsetLedger):
    """Offset ledger in the ``offsets`` table (OffsetManagerJdbc.scala:36-91).

    Unlike the event-log ledgers, the table holds one row per transaction
    and commit/rollback are conditional single statements (``committed_at
    IS NULL``): the database, not this process, decides which of two
    drivers commits a batch. Queries re-read the table, so concurrent
    drivers see each other's commits immediately."""

    _KEY = "table_name = ? AND info_date = ? AND batch_id = ?"

    def __init__(self, db: DbApiConnection):
        self.db = db
        super().__init__(store=DbApiStore(db, "offsets", OffsetRecord))

    def refresh(self) -> None:
        records = sorted(self._store.read(), key=lambda r: r.created_at)
        with self._lock:
            self._records = records

    def start_write(
        self, table: str, info_date: _dt.date, batch_id: int, offset_type: OffsetType
    ) -> OffsetTransaction:
        rec = OffsetRecord(table, info_date.isoformat(), offset_type.value, batch_id, time.time())
        # re-start supersedes a stale open tx with the same key (same
        # semantics as the event-log ledgers); committed rows are untouched.
        # One database transaction: a crash between the two statements
        # must not erase the orphan marker without replacing it (the
        # repair path finds orphan batches through these rows)
        self.db.execute_atomic(
            [
                (
                    f"DELETE FROM offsets WHERE {self._KEY} AND committed_at IS NULL",
                    (table, rec.info_date, batch_id),
                ),
                self._store.insert(rec),
            ]
        )
        return OffsetTransaction(table, rec.info_date, batch_id)

    def commit(self, tx: OffsetTransaction, min_offset: OffsetValue, max_offset: OffsetValue) -> None:
        _, rowcount = self.db.execute_with_rowcount(
            f"UPDATE offsets SET committed_at = ?, min_offset = ?, max_offset = ? "
            f"WHERE {self._KEY} AND committed_at IS NULL",
            (
                time.time(),
                encode_offset(min_offset),
                encode_offset(max_offset),
                tx.table_name,
                tx.info_date,
                tx.batch_id,
            ),
        )
        if rowcount == 0:
            raise KeyError(f"No open offset transaction for {tx}")

    def rollback(self, tx: OffsetTransaction) -> None:
        _, rowcount = self.db.execute_with_rowcount(
            f"DELETE FROM offsets WHERE {self._KEY} AND committed_at IS NULL",
            (tx.table_name, tx.info_date, tx.batch_id),
        )
        if rowcount == 0:
            raise KeyError(f"No open offset transaction for {tx}")
