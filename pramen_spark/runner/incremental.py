"""Incremental ingestion: offset-tracked, exactly-once-ish batch ingestion.

Reference: core/.../pipeline/IncrementalIngestionJob.scala:60-300.

Protocol per task:
1. validate: offset info must be configured; any uncommitted offset
   transactions from crashed runs are repaired first
   (handleUncommittedOffsets:242-297): if the stored partition has data,
   recompute min/max from storage and commit a fresh record; either way the
   stale uncommitted transactions are rolled back.
2. run: read the source slice according to (source has info date, rerun):
   - no info date + normal: everything after the last committed max offset
   - no info date + rerun: re-read exactly the last committed [min, max]
   - info date + normal: offset > max for that date (or whole day if first)
   - info date + rerun: the whole day
3. save: start a ledger transaction, append the batch (stamped with the
   batch id) while observing the written slice's min/max offsets in the
   same write job, commit.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pramen_spark.api import Reason, Source
from pramen_spark.config.models import OperationDef, TableConfig
from pramen_spark.metastore.metastore import Metastore
from pramen_spark.offsets.ledger import OffsetLedger, decode_offset
from pramen_spark.runner.bookkeeper import Bookkeeper
from pramen_spark.runner.jobs import Job
from pramen_spark.sql.generators import OffsetType, OffsetValue


# names of the slice's offset range among a write's metrics
OFFSET_MIN, OFFSET_MAX = "#offset_min", "#offset_max"


def offset_range(mn, mx, offset_type: OffsetType):
    """(min, max) OffsetValue of a slice whose raw min/max are ``mn`` and
    ``mx``; None for an empty slice (OffsetManagerUtils)."""
    if mn is None:
        return None

    def wrap(v):
        if offset_type == OffsetType.DATETIME:
            return OffsetValue.datetime(v)
        if offset_type == OffsetType.INTEGRAL:
            return OffsetValue.integral(int(v))
        return OffsetValue.string(str(v))

    return wrap(mn), wrap(mx)


def min_max_from_df(df: DataFrame, offset_column: str, offset_type: OffsetType):
    """Compute (min, max) OffsetValue of a slice (OffsetManagerUtils)."""
    row = df.agg(
        F.min(offset_column).alias("mn"), F.max(offset_column).alias("mx")
    ).collect()[0]
    return offset_range(row["mn"], row["mx"], offset_type)


class IncrementalIngestionJob(Job):
    def __init__(
        self,
        operation: OperationDef,
        metastore: Metastore,
        bookkeeper: Bookkeeper,
        output_table: TableConfig,
        source: Source,
        source_query: Any,
        ledger: OffsetLedger,
        offset_column: str,
        offset_type: OffsetType = OffsetType.INTEGRAL,
    ):
        super().__init__(operation, metastore, bookkeeper, output_table)
        self.source = source
        self.source_query = source_query
        self.ledger = ledger
        self.offset_column = offset_column
        self.offset_type = offset_type
        self._rerun = False  # set by validate/run caller via task reason

    # --- recovery (handleUncommittedOffsets) ---

    def repair_uncommitted(self) -> int:
        """Repair orphan transactions; returns how many were handled."""
        uncommitted = self.ledger.get_uncommitted(self.output_table.name)
        handled = 0
        for dates in sorted({u.info_date for u in uncommitted}):
            day = _dt.date.fromisoformat(dates)
            day_txs = [u for u in uncommitted if u.info_date == dates]
            try:
                df = self.metastore.get_table(self.output_table.name, day, day)
                has_data = len(df.take(1)) > 0
            except Exception:
                has_data = False
                df = None
            if has_data and df is not None:
                if self.offset_column not in df.columns:
                    raise ValueError(
                        f"Offset column '{self.offset_column}' not found in the output "
                        f"table '{self.output_table.name}'. Cannot update uncommitted offsets."
                    )
                mm = min_max_from_df(df, self.offset_column, self.offset_type)
            else:
                mm = None
            from pramen_spark.offsets.ledger import OffsetTransaction

            # adopt the stored rows by committing the NEWEST orphan tx with
            # the storage min/max (reference handleUncommittedOffsets
            # commits the original request rather than inventing a new
            # batch id, which could collide with a runner batch id); roll
            # the remaining orphans back
            day_txs.sort(key=lambda u: u.batch_id)
            for i, u in enumerate(day_txs):
                tx = OffsetTransaction(u.table_name, u.info_date, u.batch_id)
                if mm is not None and i == len(day_txs) - 1:
                    self.ledger.commit(tx, mm[0], mm[1])
                else:
                    self.ledger.rollback(tx)
                handled += 1
        return handled

    # --- job protocol ---

    def validate(self, info_date: _dt.date) -> Reason:
        if not self.offset_column:
            return Reason.not_ready(
                f"Offset column is not configured for '{self.operation.name}'"
            )
        self.repair_uncommitted()
        return Reason.ready()

    def run(self, info_date: _dt.date) -> DataFrame:
        has_info_date = self.source.has_info_date_column()
        latest = self.ledger.get_max_info_date_and_offset(
            self.output_table.name, info_date if has_info_date else None
        )
        if has_info_date:
            if self._rerun:
                return self.source.get_data(self.source_query, info_date, info_date)
            if latest is not None:
                return self.source.get_data_incremental(
                    self.source_query, info_date, latest[2], None
                )
            return self.source.get_data(self.source_query, info_date, info_date)
        else:
            if self._rerun:
                if latest is None:
                    raise RuntimeError(
                        f"No offsets for '{self.output_table.name}' for '{info_date}'. Cannot rerun."
                    )
                return self.source.get_data_incremental(
                    self.source_query, None, latest[1], latest[2]
                )
            if latest is not None:
                return self.source.get_data_incremental(
                    self.source_query, None, latest[2], None
                )
            return self.source.get_data(self.source_query, info_date, info_date)

    def save(self, df: DataFrame, info_date: _dt.date, observe=(), decide=None):
        batch_id = getattr(self, "current_batch_id", 0)
        tx = self.ledger.start_write(
            self.output_table.name, info_date, batch_id, self.offset_type
        )
        # The slice's offset range rides on the write job, so it describes
        # exactly the rows stored: a second action over the plan could see
        # other rows from a non-deterministic source (JDBC / Kafka rows
        # arriving in between) and commit offsets that do not match them ->
        # duplicates or gaps on the next incremental read.
        offsets = [
            F.min(self.offset_column).alias(OFFSET_MIN),
            F.max(self.offset_column).alias(OFFSET_MAX),
        ]
        try:
            result = super().save(df, info_date, [*observe, *offsets], decide)
        except Exception:
            # the write itself failed -> nothing stored, safe to roll back
            self.ledger.rollback(tx)
            raise
        written = (
            result.records_appended
            if result.records_appended is not None
            else result.records
        )
        if not written:
            self.ledger.rollback(tx)  # empty batch: nothing to commit
            return result
        # If anything below raises, rows WERE written but their offsets
        # were not committed. Do NOT roll back: a rolled-back tx looks
        # committed-less forever, so the next incremental read would start
        # from the OLD max offset and re-append the same source rows
        # (duplicates). Leaving the tx uncommitted and failing the task
        # means the next run's repair_uncommitted adopts the stored rows
        # (commits their actual min/max) before reading — exactly the
        # crash-mid-write path.
        if OFFSET_MIN in result.metrics:
            mm = offset_range(result.metrics[OFFSET_MIN], result.metrics[OFFSET_MAX], self.offset_type)
        else:
            mm = self._min_max_from_storage(info_date, batch_id)
        if mm is None:
            self.ledger.rollback(tx)
        else:
            self.ledger.commit(tx, mm[0], mm[1])
        return result

    def _min_max_from_storage(self, info_date: _dt.date, batch_id: int):
        """Min/max offsets of the rows of ``batch_id``, read back from the
        metastore table, for targets that cannot observe their write
        (transient, Delta, Iceberg). The reference likewise derives offsets
        from the data (core/.../bookkeeper/OffsetManagerUtils.scala:27-57,
        IncrementalIngestionJob.scala:242-297).

        Raises on read failure — the caller decides (a failed read-back
        after a successful write must NOT roll the transaction back)."""
        stored = self.metastore.get_table(self.output_table.name, info_date, info_date)
        bcol = self.output_table.batch_id_column
        if bcol and bcol in stored.columns:
            stored = stored.filter(F.col(bcol) == F.lit(batch_id))
        return min_max_from_df(stored, self.offset_column, self.offset_type)
