"""Read-through cache decorator over any offset ledger.

Port of the reference's offset-manager caching decorator
(core/.../bookkeeper/OffsetManagerCached.scala:30-82): only the aggregated
min/max query is cached — it is the query incremental scheduling issues
repeatedly for the same (table, info_date) within one run, and for the
persistent ledgers each call goes to storage: a directory listing plus
the files not read before (parquet), a Spark scan (delta) or a query
(DBAPI).
Raw-record queries (``get_offsets``/``get_uncommitted``) stay uncached,
matching the reference: they are issued once per task and must always see
live state (uncommitted-transaction repair depends on it).

Invalidation: any write that can change a table's committed offsets
(``commit``) drops every cache entry for that table; ``start_write`` and
``rollback`` only touch uncommitted records, which the cached query
ignores, but rollback entries are dropped too for belt-and-braces parity
with the reference's rerun path.
"""

from __future__ import annotations

import datetime as _dt
import threading
from typing import Dict, List, Optional, Tuple

from pramen_spark.offsets.ledger import (
    OffsetLedger,
    OffsetRecord,
    OffsetTransaction,
)
from pramen_spark.sql.generators import OffsetType, OffsetValue


class CachedOffsetLedger(OffsetLedger):
    """Wrap any ``OffsetLedger``-shaped backend (JSONL, Spark parquet/delta,
    DBAPI) with a per-run read-through cache of the min/max offset query."""

    def __init__(self, inner: OffsetLedger):
        # deliberately no super().__init__: every call delegates to inner
        self._inner = inner
        self._cache: Dict[
            Tuple[str, Optional[str]],
            Optional[Tuple[_dt.date, OffsetValue, OffsetValue]],
        ] = {}
        self._cache_lock = threading.Lock()
        # Per-table invalidation generation. The reference's synchronized
        # method holds its monitor across miss-check + inner read + fill;
        # doing that here would serialize every cache-miss storage read,
        # so instead the fill is guarded by a generation snapshot: a
        # commit/rollback that lands between the miss and the fill bumps
        # the generation and the stale fill is skipped (jobs run in a
        # ThreadPoolExecutor, so this interleaving is real).
        self._gen: Dict[str, int] = {}

    def _invalidate(self, table: str) -> None:
        with self._cache_lock:
            self._gen[table] = self._gen.get(table, 0) + 1
            for key in [k for k in self._cache if k[0] == table]:
                del self._cache[key]

    # --- writes: delegate, invalidate on state change ---

    def start_write(
        self, table: str, info_date: _dt.date, batch_id: int, offset_type: OffsetType
    ) -> OffsetTransaction:
        return self._inner.start_write(table, info_date, batch_id, offset_type)

    def commit(
        self, tx: OffsetTransaction, min_offset: OffsetValue, max_offset: OffsetValue
    ) -> None:
        self._inner.commit(tx, min_offset, max_offset)
        self._invalidate(tx.table_name)

    def rollback(self, tx: OffsetTransaction) -> None:
        self._inner.rollback(tx)
        self._invalidate(tx.table_name)

    # --- queries ---

    def get_offsets(
        self, table: str, info_date: Optional[_dt.date] = None
    ) -> List[OffsetRecord]:
        return self._inner.get_offsets(table, info_date)

    def get_uncommitted(self, table: str) -> List[OffsetRecord]:
        return self._inner.get_uncommitted(table)

    def get_max_info_date_and_offset(
        self, table: str, only_for_info_date: Optional[_dt.date] = None
    ) -> Optional[Tuple[_dt.date, OffsetValue, OffsetValue]]:
        key = (table, only_for_info_date.isoformat() if only_for_info_date else None)
        with self._cache_lock:
            if key in self._cache:
                return self._cache[key]
            gen = self._gen.get(table, 0)
        value = self._inner.get_max_info_date_and_offset(table, only_for_info_date)
        with self._cache_lock:
            # fill only if no invalidation landed since the miss — a value
            # read concurrently with a commit may predate it, and caching
            # it would feed incremental scheduling a stale max offset
            if self._gen.get(table, 0) == gen:
                self._cache[key] = value
        return value
