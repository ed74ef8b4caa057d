"""Core configuration model.

Dataclass equivalents of the reference's table / operation / schedule
definitions (see SURVEY.md §1, §2.7):

- ``DataFormat``       <- api/.../DataFormat.scala:20-101
- ``PartitionScheme``  <- api/.../PartitionScheme.scala:19-35
- ``PartitionInfo``    <- api/.../PartitionInfo.scala:19-28
- ``CachePolicy``      <- api/.../CachePolicy.scala:19-35
- ``TableConfig``      <- api/.../MetaTableDef.scala:38-52 + core MetaTable.scala:53-75
- ``Schedule``         <- api/.../jobdef/Schedule.scala:22-56
- ``MetastoreDependency`` <- api/.../status/MetastoreDependency.scala:19-26
- ``OperationDef``     <- core/.../pipeline/OperationDef.scala

Configs load from plain dicts (JSON / YAML-parsed); HOCON is optional via
pyhocon when available.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Dict, List, Optional, Sequence

DEFAULT_INFO_DATE_COLUMN = "pramen_info_date"
DEFAULT_INFO_DATE_FORMAT = "yyyy-MM-dd"
DEFAULT_BATCH_ID_COLUMN = "pramen_batchid"


class FormatKind(str, Enum):
    PARQUET = "parquet"
    DELTA = "delta"
    ICEBERG = "iceberg"
    RAW = "raw"
    TRANSIENT_EAGER = "transient_eager"
    TRANSIENT = "transient"
    NULL = "null"


class CachePolicy(str, Enum):
    NO_CACHE = "no_cache"
    CACHE = "cache"
    PERSIST = "persist"  # materialize to temp parquet


@dataclass(frozen=True)
class PartitionInfo:
    """Output repartitioning before write (api/.../PartitionInfo.scala:19-28)."""

    kind: str = "default"  # default | explicit | per_record_count
    num_partitions: Optional[int] = None
    records_per_partition: Optional[int] = None
    prefer_coalesce: bool = False

    @staticmethod
    def default() -> "PartitionInfo":
        return PartitionInfo()

    @staticmethod
    def explicit(n: int) -> "PartitionInfo":
        return PartitionInfo(kind="explicit", num_partitions=n)

    @staticmethod
    def per_record_count(rpp: int, prefer_coalesce: bool = False) -> "PartitionInfo":
        return PartitionInfo(
            kind="per_record_count", records_per_partition=rpp, prefer_coalesce=prefer_coalesce
        )

    @property
    def sized_by_count(self) -> bool:
        """True when the partition count derives from the row count, which
        must then be known before the write."""
        return self.kind == "per_record_count" and bool(self.records_per_partition)


class PartitionScheme(str, Enum):
    """api/.../PartitionScheme.scala:19-35."""

    BY_DAY = "partition_by_day"
    BY_MONTH = "partition_by_month"  # adds year + month generated columns
    BY_YEAR_MONTH = "partition_by_year_month"  # yyyy-MM generated column
    BY_YEAR = "partition_by_year"
    NOT_PARTITIONED = "not_partitioned"
    OVERWRITE = "overwrite"  # full-table replace, no info date column


@dataclass(frozen=True)
class DataFormat:
    """Storage format for a metastore table (api/.../DataFormat.scala:20-101)."""

    kind: FormatKind
    path: Optional[str] = None  # parquet / delta-path / raw
    table: Optional[str] = None  # delta/iceberg catalog table
    partition_info: PartitionInfo = field(default_factory=PartitionInfo)
    cache_policy: CachePolicy = CachePolicy.NO_CACHE

    @property
    def is_transient(self) -> bool:
        return self.kind in (FormatKind.TRANSIENT, FormatKind.TRANSIENT_EAGER)

    @property
    def is_lazy(self) -> bool:
        return self.kind == FormatKind.TRANSIENT

    @property
    def is_raw(self) -> bool:
        return self.kind == FormatKind.RAW

    @staticmethod
    def parquet(path: str, partition_info: PartitionInfo | None = None) -> "DataFormat":
        return DataFormat(
            FormatKind.PARQUET, path=path, partition_info=partition_info or PartitionInfo()
        )

    @staticmethod
    def delta(
        path: str | None = None,
        table: str | None = None,
        partition_info: PartitionInfo | None = None,
    ) -> "DataFormat":
        return DataFormat(
            FormatKind.DELTA,
            path=path,
            table=table,
            partition_info=partition_info or PartitionInfo(),
        )

    @staticmethod
    def iceberg(table: str, location: str | None = None) -> "DataFormat":
        return DataFormat(FormatKind.ICEBERG, table=table, path=location)

    @staticmethod
    def raw(path: str) -> "DataFormat":
        return DataFormat(FormatKind.RAW, path=path)

    @staticmethod
    def transient(cache_policy: CachePolicy = CachePolicy.NO_CACHE, lazy: bool = False) -> "DataFormat":
        return DataFormat(
            FormatKind.TRANSIENT if lazy else FormatKind.TRANSIENT_EAGER,
            cache_policy=cache_policy,
        )

    @staticmethod
    def null() -> "DataFormat":
        return DataFormat(FormatKind.NULL)


@dataclass
class TableConfig:
    """A metastore table definition (api/.../MetaTableDef.scala:38-52)."""

    name: str
    format: DataFormat
    description: str = ""
    info_date_column: str = DEFAULT_INFO_DATE_COLUMN
    info_date_format: str = DEFAULT_INFO_DATE_FORMAT
    info_date_expression: Optional[str] = None
    info_date_start: _dt.date = _dt.date(2020, 1, 1)
    partition_scheme: PartitionScheme = PartitionScheme.BY_DAY
    batch_id_column: str = DEFAULT_BATCH_ID_COLUMN
    track_days: int = 0
    backfill_days: int = 0
    save_mode: Optional[str] = None  # None -> format default (overwrite partition)
    read_options: Dict[str, str] = field(default_factory=dict)
    write_options: Dict[str, str] = field(default_factory=dict)
    spark_config: Dict[str, str] = field(default_factory=dict)
    table_properties: Dict[str, str] = field(default_factory=dict)
    # Hive/catalog exposure (MetaTableDef.hiveTable/hiveDatabase): when set,
    # the table is registered in the Spark/Hive catalog after writes
    hive_table: Optional[str] = None
    hive_database: Optional[str] = None


class ScheduleKind(str, Enum):
    INCREMENTAL = "incremental"
    DAILY = "daily"
    WEEKLY = "weekly"
    MONTHLY = "monthly"


@dataclass(frozen=True)
class Schedule:
    """Run-day predicate (api/.../jobdef/Schedule.scala:22-56).

    - daily: every day
    - weekly: days_of_week = ISO weekday numbers (1=Mon .. 7=Sun)
    - monthly: days_of_month; negative = from end of month (-1 = last day);
      parser also accepts "last"/"L" as -1 (core/.../schedule/ScheduleParser.scala:26-74)
    - incremental: every invocation
    """

    kind: ScheduleKind = ScheduleKind.DAILY
    days_of_week: Sequence[int] = ()
    days_of_month: Sequence[int] = ()

    def is_enabled(self, run_date: _dt.date) -> bool:
        if self.kind in (ScheduleKind.DAILY, ScheduleKind.INCREMENTAL):
            return True
        if self.kind == ScheduleKind.WEEKLY:
            return run_date.isoweekday() in self.days_of_week
        if self.kind == ScheduleKind.MONTHLY:
            dom = run_date.day
            last_dom = (
                run_date.replace(day=28) + _dt.timedelta(days=4)
            ).replace(day=1) - _dt.timedelta(days=1)
            days_in_month = last_dom.day
            for d in self.days_of_month:
                if d > 0 and dom == d:
                    return True
                if d < 0 and dom == days_in_month + 1 + d:
                    return True
            return False
        raise ValueError(f"Unknown schedule kind {self.kind}")

    @staticmethod
    def parse(spec: Any) -> "Schedule":
        """Parse a schedule from config: ``{"type": "weekly", "days.of.week": [7]}``
        or string shorthands ``"daily"``, ``"incremental"``."""
        if isinstance(spec, Schedule):
            return spec
        if isinstance(spec, str):
            return Schedule(kind=ScheduleKind(spec.lower()))
        t = str(spec.get("type", "daily")).lower()
        if t in ("daily", "everyday", "incremental"):
            return Schedule(kind=ScheduleKind.INCREMENTAL if t == "incremental" else ScheduleKind.DAILY)
        if t == "weekly":
            days = spec.get("days.of.week", spec.get("days_of_week", []))
            return Schedule(kind=ScheduleKind.WEEKLY, days_of_week=tuple(int(d) for d in days))
        if t == "monthly":
            raw = spec.get("days.of.month", spec.get("days_of_month", []))
            days: List[int] = []
            for d in raw:
                if isinstance(d, str) and d.strip().lower() in ("last", "l"):
                    days.append(-1)
                else:
                    days.append(int(d))
            return Schedule(kind=ScheduleKind.MONTHLY, days_of_month=tuple(days))
        raise ValueError(f"Unknown schedule type: {t}")


@dataclass(frozen=True)
class MetastoreDependency:
    """api/.../status/MetastoreDependency.scala:19-26."""

    tables: Sequence[str]
    date_from_expr: str = "@infoDate"
    date_until_expr: Optional[str] = None
    trigger_updates: bool = False
    is_optional: bool = False
    is_passive: bool = False


@dataclass
class TransformExpr:
    """One entry of ``transformations = [{col, expr}]``.

    Empty expr or the literal "drop" drops the column
    (core/.../utils/SparkUtils.scala:280-304)."""

    column: str
    expression: Optional[str] = None
    comment: Optional[str] = None


@dataclass
class OperationDef:
    """One pipeline operation (core/.../pipeline/OperationDef.scala)."""

    name: str
    kind: str  # ingestion | transformation | python_transformation | sink | transfer
    schedule: Schedule = field(default_factory=Schedule)
    output_table: Optional[str] = None
    input_tables: Sequence[str] = ()
    dependencies: Sequence[MetastoreDependency] = ()
    info_date_expression: Optional[str] = None
    transformations: Sequence[TransformExpr] = ()
    filters: Sequence[str] = ()
    columns: Sequence[str] = ()  # projection
    options: Dict[str, Any] = field(default_factory=dict)
    spark_config: Dict[str, str] = field(default_factory=dict)
    allow_parallel: bool = True
    consume_threads: int = 1
    processing_timestamp_column: Optional[str] = None
    # Names of notification targets this operation reports to
    # (OperationDef.scala:52 notificationTargets / NOTIFICATION_TARGETS_KEY)
    notification_targets: Sequence[str] = ()
    # Data-quality gate evaluated on the decorated output BEFORE the save:
    # ``expectations = [{name, kind, ...params}]`` (see
    # operators/validation.py for kinds). ``expectation.action`` is
    # "fail" (default: violations fail the task, nothing is written) or
    # "warn" (violations land in the task result's warnings).
    expectations: Sequence[Dict[str, Any]] = ()
    expectations_action: str = "fail"
    # Skew ACTION wired to config (beyond the reference, which only
    # exposes throughput thresholds as an ops WARNING — Keys.scala:27-28):
    # ``skew_guard = {key, threshold, max_salts, action, ...}`` profiles
    # the declared shuffle key on the operation's output at run time and
    # applies salted_agg/salted_join exactly when the decision rule
    # fires (see operators/skew.py::apply_skew_guard for the shape); the
    # decision lands in the task result warnings. action=join resolves
    # ``right_table`` through the operation's metastore reader.
    skew_guard: Optional[Dict[str, Any]] = None


class FieldChangeKind(str, Enum):
    NEW = "new"
    DELETED = "deleted"
    CHANGED_TYPE = "changed_type"


@dataclass(frozen=True)
class FieldChange:
    """Schema drift element (api/.../FieldChange.scala)."""

    kind: FieldChangeKind
    column: str
    old_type: Optional[str] = None
    new_type: Optional[str] = None

    def __str__(self) -> str:
        if self.kind == FieldChangeKind.NEW:
            return f"New column: {self.column} ({self.new_type})"
        if self.kind == FieldChangeKind.DELETED:
            return f"Deleted column: {self.column} ({self.old_type})"
        return f"Changed type: {self.column} ({self.old_type} -> {self.new_type})"
