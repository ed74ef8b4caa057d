"""Jobs: one unit of (operation x output table) work.

Reference mapping (core/.../pipeline/*):
- ``IngestionJob``        <- IngestionJob.scala (source -> metastore, pre-run
  record-count checks, skip-if-unchanged, minimum-records)
- ``TransformationJob``   <- TransformationJob.scala:60-80
- ``SinkJob``             <- SinkJob.scala:63-180 (date-range select,
  transformations, filters, projection, sink.send)
- pre-run check outcomes  <- IngestionJob.scala:71-140

Jobs return lazy DataFrames; the single Spark action happens in ``save``
(metastore write) — the Catalyst plan covers source-to-storage.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass
from enum import Enum
from typing import Any, Callable, Dict, Optional, Sequence

from pyspark.sql import DataFrame

from pramen_spark.api import Reason, Sink, Source, Transformer
from pramen_spark.config.models import OperationDef, TableConfig
from pramen_spark.dsl.dateexpr import DateExprEvaluator
from pramen_spark.metastore.metastore import Metastore
from pramen_spark.runner.bookkeeper import Bookkeeper


class JobPreRunStatus(str, Enum):
    READY = "ready"
    NEEDS_UPDATE = "needs_update"
    ALREADY_RAN = "already_ran"
    NO_DATA = "no_data"
    INSUFFICIENT_DATA = "insufficient_data"
    SKIP = "skip"


@dataclass
class JobPreRunResult:
    status: JobPreRunStatus
    input_record_count: Optional[int] = None
    message: str = ""


class Job:
    """Base job: schedule strategy inputs + run/save protocol."""

    def __init__(
        self,
        operation: OperationDef,
        metastore: Metastore,
        bookkeeper: Bookkeeper,
        output_table: TableConfig,
    ):
        self.operation = operation
        self.metastore = metastore
        self.bookkeeper = bookkeeper
        self.output_table = output_table

    @property
    def name(self) -> str:
        return self.operation.name

    def get_info_date_range(self, info_date: _dt.date) -> tuple[_dt.date, _dt.date]:
        """date.from / date.to expressions, default @infoDate..@infoDate
        (core/.../pipeline/JobBase.scala getInfoDateRange)."""
        ev = DateExprEvaluator({"infoDate": info_date, "date": info_date})
        date_from_expr = self.operation.options.get("date.from", "@infoDate")
        date_to_expr = self.operation.options.get("date.to", "@infoDate")
        return ev.eval_date(date_from_expr), ev.eval_date(date_to_expr)

    def pre_run_check(self, info_date: _dt.date, run_reason=None) -> JobPreRunResult:
        return JobPreRunResult(JobPreRunStatus.READY)

    def validate(self, info_date: _dt.date) -> Reason:
        return Reason.ready()

    def run(self, info_date: _dt.date) -> DataFrame:
        raise NotImplementedError

    @property
    def stages_output(self) -> bool:
        """Whether ``save`` stages its write, so it takes ``observe`` and
        ``decide`` (``Metastore.save_table``)."""
        return self.metastore.stages_writes(self.output_table.name)

    def save(self, df: DataFrame, info_date: _dt.date, observe=(), decide=None):
        return self.metastore.save_table(
            self.output_table.name, df, info_date, observe=observe, decide=decide
        )


class SourceCacheMixin:
    """disable.count.query support shared by ingestion and transfer jobs
    (the reference's TransferJob wraps an IngestionJob and inherits it —
    TransferJob.scala:46-57)."""

    def _count_query_disabled(self) -> bool:
        """``disable.count.query`` (README.md:713-718, IngestionJob.scala
        :214-246): for sources where COUNT(*) is as expensive as the read
        (e.g. map-reduce Hive), fetch the data ONCE into a temp-dir cache
        and count the cache instead of issuing a count query. The source
        option takes precedence; the operation may also set it."""
        v = self.operation.options.get(
            "disable.count.query",
            getattr(self.source, "options", {}).get("disable.count.query", "false"),
        )
        return str(v).lower() == "true"

    def _cached_source_data(self, date_from: _dt.date, date_to: _dt.date) -> DataFrame:
        """Read-through cache keyed by (job, query, date range), persisted
        to the metastore temp dir so the count and the subsequent save
        share ONE source read (IngestionJob.scala:231-246
        getCachedDataFrame + TransientTableManager)."""
        import hashlib

        from pramen_spark.config.models import CachePolicy

        tm = self.metastore.transient
        if not tm.temp_dir:
            raise ValueError(
                "disable.count.query needs 'pramen.temporary.directory' set: "
                "the source data is cached there instead of being counted "
                "(IngestionJob.scala:232-235)"
            )
        digest = hashlib.md5(
            f"{self.source_query}|{date_from}|{date_to}".encode()
        ).hexdigest()[:12]
        name = f"source_cache_{self.operation.name}_{digest}"
        if not tm.has_table(name, date_from):
            df = self.source.get_data(self.source_query, date_from, date_to)
            tm.add_table(name, date_from, df, CachePolicy.PERSIST)
        return tm.get_table(name, date_from)


class IngestionJob(SourceCacheMixin, Job):
    """Source -> metastore table, with record-count pre-run checks
    (IngestionJob.scala:71-160)."""

    def __init__(
        self,
        operation: OperationDef,
        metastore: Metastore,
        bookkeeper: Bookkeeper,
        output_table: TableConfig,
        source: Source,
        source_query: Any = None,
    ):
        super().__init__(operation, metastore, bookkeeper, output_table)
        self.source = source
        self.source_query = source_query

    def _channel_flag(self, key: str) -> bool:
        """Boolean flag read like the reference: source-level config with
        an operation-level override allowed."""
        v = self.operation.options.get(
            key, getattr(self.source, "options", {}).get(key, "false")
        )
        return str(v).lower() == "true"

    def pre_run_check(
        self, info_date: _dt.date, run_reason=None
    ) -> JobPreRunResult:
        from pramen_spark.scheduling.strategies import TaskRunReason

        date_from, date_to = self.get_info_date_range(info_date)
        minimum_records = int(self.operation.options.get("minimum.records", 0))
        # IngestionJob.scala:74-83: the any-data flag ORs with the
        # late/new-specific one depending on why this task runs
        fail_if_no_data = (
            str(self.operation.options.get("fail.if.no.data", "false")).lower()
            == "true"
            or self._channel_flag("fail.if.no.data")
        )
        if run_reason == TaskRunReason.LATE:
            fail_if_no_data = fail_if_no_data or self._channel_flag(
                "fail.if.no.late.data"
            )
        elif run_reason is not None:
            fail_if_no_data = fail_if_no_data or self._channel_flag(
                "fail.if.no.new.data"
            )
        try:
            if self._count_query_disabled():
                count = self._cached_source_data(date_from, date_to).count()
            else:
                count = self.source.get_record_count(
                    self.source_query, date_from, date_to
                )
        except NotImplementedError:
            return JobPreRunResult(JobPreRunStatus.READY)

        chunk = self.bookkeeper.get_latest_data_chunk(self.output_table.name, info_date)
        if chunk is not None and chunk.input_record_count == count and count > 0:
            # Skip-if-unchanged (IngestionJob.scala:115-127)
            return JobPreRunResult(JobPreRunStatus.ALREADY_RAN, count)
        if count == 0:
            status = JobPreRunStatus.NO_DATA if fail_if_no_data else JobPreRunStatus.SKIP
            return JobPreRunResult(status, 0, "No data at the source")
        if count < minimum_records:
            return JobPreRunResult(
                JobPreRunStatus.INSUFFICIENT_DATA,
                count,
                f"Source returned {count} records, minimum required is {minimum_records}",
            )
        if chunk is not None:
            return JobPreRunResult(JobPreRunStatus.NEEDS_UPDATE, count)
        return JobPreRunResult(JobPreRunStatus.READY, count)

    def run(self, info_date: _dt.date) -> DataFrame:
        date_from, date_to = self.get_info_date_range(info_date)
        if self._count_query_disabled():
            # reuse the pre-run cache: the source is hit exactly once
            # (IngestionJob.scala:274-280 getSourcingResult)
            return self._cached_source_data(date_from, date_to)
        return self.source.get_data(self.source_query, date_from, date_to)


class TransformationJob(Job):
    """User transformer -> metastore table (TransformationJob.scala:60-80)."""

    def __init__(
        self,
        operation: OperationDef,
        metastore: Metastore,
        bookkeeper: Bookkeeper,
        output_table: TableConfig,
        transformer: Transformer,
    ):
        super().__init__(operation, metastore, bookkeeper, output_table)
        self.transformer = transformer

    def _reader(self, info_date: _dt.date):
        return self.metastore.get_reader(self.operation.input_tables, info_date)

    def validate(self, info_date: _dt.date) -> Reason:
        return self.transformer.validate(
            self._reader(info_date), info_date, self.operation.options
        )

    def run(self, info_date: _dt.date) -> DataFrame:
        return self.transformer.run(self._reader(info_date), info_date, self.operation.options)

    def save(self, df: DataFrame, info_date: _dt.date, observe=(), decide=None):
        result = super().save(df, info_date, observe, decide)
        self.transformer.post_process(self._reader(info_date), info_date, self.operation.options)
        return result


class SinkJob(Job):
    """Metastore table -> sink (SinkJob.scala:63-180). The row-level
    decorations (transformations/filters/projection) are applied by the
    task runner before ``save``/``send``."""

    stages_output = False

    def __init__(
        self,
        operation: OperationDef,
        metastore: Metastore,
        bookkeeper: Bookkeeper,
        output_table: TableConfig,
        sink: Sink,
        input_table: str,
    ):
        super().__init__(operation, metastore, bookkeeper, output_table)
        self.sink = sink
        self.input_table = input_table

    def run(self, info_date: _dt.date) -> DataFrame:
        date_from, date_to = self.get_info_date_range(info_date)
        return self.metastore.get_table(self.input_table, date_from, date_to)

    def save(self, df: DataFrame, info_date: _dt.date):
        self.sink.connect()
        try:
            sent = self.sink.send(df, self.input_table, info_date, self.operation.options)
        finally:
            self.sink.close()

        from pramen_spark.metastore.persistence import WriteResult

        return WriteResult(records=sent)


class PythonFunctionJob(Job):
    """Convenience: a plain callable (metastore_reader, info_date) -> DataFrame."""

    def __init__(
        self,
        operation: OperationDef,
        metastore: Metastore,
        bookkeeper: Bookkeeper,
        output_table: TableConfig,
        fn: Callable[..., DataFrame],
    ):
        super().__init__(operation, metastore, bookkeeper, output_table)
        self.fn = fn

    def run(self, info_date: _dt.date) -> DataFrame:
        reader = self.metastore.get_reader(self.operation.input_tables, info_date)
        return self.fn(reader, info_date)


class TransferJob(SourceCacheMixin, Job):
    """Source -> sink directly, without persisting in the metastore
    (core/.../pipeline/TransferJob.scala). The output table is a virtual
    name used only for bookkeeping/locking. disable.count.query behaves
    as in ingestion (the reference builds TransferJob ON an IngestionJob
    and passes the flag through — TransferJob.scala:46-57)."""

    stages_output = False

    def __init__(
        self,
        operation: OperationDef,
        metastore: Metastore,
        bookkeeper: Bookkeeper,
        output_table: TableConfig,
        source: Source,
        source_query: Any,
        sink: Sink,
    ):
        super().__init__(operation, metastore, bookkeeper, output_table)
        self.source = source
        self.source_query = source_query
        self.sink = sink

    def pre_run_check(
        self, info_date: _dt.date, run_reason=None
    ) -> JobPreRunResult:
        date_from, date_to = self.get_info_date_range(info_date)
        try:
            if self._count_query_disabled():
                count = self._cached_source_data(date_from, date_to).count()
            else:
                count = self.source.get_record_count(
                    self.source_query, date_from, date_to
                )
        except NotImplementedError:
            return JobPreRunResult(JobPreRunStatus.READY)
        if count == 0:
            fail = str(self.operation.options.get("fail.if.no.data", "false")).lower() == "true"
            return JobPreRunResult(
                JobPreRunStatus.NO_DATA if fail else JobPreRunStatus.SKIP, 0,
                "No data at the source",
            )
        return JobPreRunResult(JobPreRunStatus.READY, count)

    def run(self, info_date: _dt.date) -> DataFrame:
        date_from, date_to = self.get_info_date_range(info_date)
        if self._count_query_disabled():
            return self._cached_source_data(date_from, date_to)
        return self.source.get_data(self.source_query, date_from, date_to)

    def save(self, df: DataFrame, info_date: _dt.date):
        self.sink.connect()
        try:
            sent = self.sink.send(df, self.output_table.name, info_date, self.operation.options)
        finally:
            self.sink.close()

        from pramen_spark.metastore.persistence import WriteResult

        return WriteResult(records=sent)
