"""Metastore persistence backends.

Each metastore table is a date-partitioned dataset; a chunk for one info
date is an immutable atomic batch. Persistence semantics per format follow
the reference (SURVEY.md §1.2, §2.2):

- Parquet: one directory per info date ``path/{col}={date}``; overwrite or
  append a single partition dir; partition-direct read fast-path
  (core/.../metastore/persistence/MetastorePersistenceParquet.scala:55-207).
- Delta: ``replaceWhere``-scoped overwrite (MetastorePersistenceDelta.scala:68-160)
  — enabled only when delta-spark is importable.
- Raw: files copied verbatim per date dir; reads list file paths
  (MetastorePersistenceRaw.scala:57-134).
- Transient: in-memory / cached / temp-parquet intermediates
  (core/.../metastore/peristence/TransientTableManager.scala:26-90).

Scale notes: reads of a date range are expressed as a filter on the
partition column so Catalyst prunes partitions; single-date reads go
straight to the partition directory (skips listing + schema merge of the
full dataset). Writes repartition by PartitionInfo so output file count is
controlled (records-per-partition sizing rather than task-count artifacts).
Parquet writes count their rows inside the write job (``counted``), so the
source plan runs once per save; only records-per-partition sizing counts
before the write.
"""

from __future__ import annotations

import datetime as _dt
import logging
import math
import os
import shutil
import time
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pramen_spark.config.models import (
    CachePolicy,
    DataFormat,
    FormatKind,
    PartitionInfo,
    PartitionScheme,
    TableConfig,
)
from pramen_spark.session import local_frame


_log = logging.getLogger(__name__)

# Spark completes an Observation from a query listener on its asynchronous
# listener bus, so the count lands a moment after the write returns. A bus
# that drops events never completes it; past this wait the frame is counted.
OBSERVED_COUNT_WAIT_S = 60.0


@dataclass
class WriteResult:
    records: int
    records_appended: Optional[int] = None
    size_bytes: Optional[int] = None


def counted(df: DataFrame) -> Tuple[DataFrame, Callable[[], int]]:
    """``df`` with its rows counted by whichever action runs it first, and
    a callable that returns that count.

    The count rides on the write job as an ``Observation``, so the plan
    runs once instead of once for ``count()`` and again for the write.
    Call ``get_count`` only after an action on the returned frame has
    returned: before that the count does not exist, and after a failed
    action it is partial. Take a new pair for each write attempt; an
    ``Observation`` serves one action. Observe the frame as written, after
    any repartition: Spark applies a count gathered in the action's last
    stage once per task, but one gathered in an earlier shuffle stage
    again whenever that stage is retried."""
    observation = Observation()
    observed = df.observe(observation, F.count(F.lit(1)).alias("records"))

    def get_count() -> int:
        future = observation._jo.future()
        deadline = time.monotonic() + OBSERVED_COUNT_WAIT_S
        while not future.isCompleted():
            if time.monotonic() > deadline:
                _log.warning(
                    "No observed row count %.0f s after the write; counting the frame",
                    OBSERVED_COUNT_WAIT_S,
                )
                return df.count()
            time.sleep(0.005)
        return int(observation.get["records"])

    return observed, get_count


def apply_repartitioning(df: DataFrame, info: PartitionInfo, record_count: int) -> DataFrame:
    """PartitionInfo -> repartition/coalesce
    (MetastorePersistenceParquet companion applyPartitioning;
    pramen-py/src/pramen_py/metastore/writer.py:108-119).
    ``record_count`` is read only when ``info.sized_by_count``."""
    if info.kind == "explicit" and info.num_partitions:
        return df.repartition(info.num_partitions)
    if info.sized_by_count:
        n = max(1, math.ceil(record_count / info.records_per_partition))
        if info.prefer_coalesce:
            return df.coalesce(n)
        return df.repartition(n)
    return df


def _dir_size(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class MetastorePersistence:
    """Interface: load a date range / save one info date."""

    def __init__(self, spark: SparkSession, table: TableConfig):
        self.spark = spark
        self.table = table

    def load_table(
        self, info_date_from: Optional[_dt.date], info_date_to: Optional[_dt.date]
    ) -> DataFrame:
        raise NotImplementedError

    def save_table(self, df: DataFrame, info_date: _dt.date) -> WriteResult:
        raise NotImplementedError

    def get_available_dates(self) -> List[_dt.date]:
        raise NotImplementedError

    # --- shared helpers ---

    def _range_filter(self, df: DataFrame, date_from: Optional[_dt.date], date_to: Optional[_dt.date]) -> DataFrame:
        col = self.table.info_date_column
        if date_from is not None and date_to is not None:
            if date_from == date_to:
                return df.filter(F.col(col) == F.lit(date_from.isoformat()).cast("date"))
            return df.filter(
                F.col(col).between(
                    F.lit(date_from.isoformat()).cast("date"),
                    F.lit(date_to.isoformat()).cast("date"),
                )
            )
        if date_from is not None:
            return df.filter(F.col(col) >= F.lit(date_from.isoformat()).cast("date"))
        if date_to is not None:
            return df.filter(F.col(col) <= F.lit(date_to.isoformat()).cast("date"))
        return df


class ParquetPersistence(MetastorePersistence):
    """Directory-per-info-date parquet dataset."""

    @property
    def path(self) -> str:
        assert self.table.format.path, f"Table {self.table.name} has no path"
        return self.table.format.path

    def partition_dir(self, info_date: _dt.date) -> str:
        return os.path.join(self.path, f"{self.table.info_date_column}={info_date.isoformat()}")

    def load_table(
        self, info_date_from: Optional[_dt.date], info_date_to: Optional[_dt.date]
    ) -> DataFrame:
        # Partition-direct fast path: a single-date range with an existing
        # partition dir reads just that directory and re-adds the date
        # column (MetastorePersistenceParquet.scala:152-176,55-65).
        if (
            info_date_from is not None
            and info_date_from == info_date_to
            and os.path.isdir(self.partition_dir(info_date_from))
        ):
            df = self.spark.read.parquet(self.partition_dir(info_date_from))
            return df.withColumn(
                self.table.info_date_column,
                F.lit(info_date_from.isoformat()).cast(T.DateType()),
            )
        df = self.spark.read.option("basePath", self.path).parquet(self.path)
        return self._range_filter(df, info_date_from, info_date_to)

    def save_table(self, df: DataFrame, info_date: _dt.date) -> WriteResult:
        # Overwrite one partition dir; the info date column is excluded
        # from the stored files (it is encoded in the dir name).
        out_dir = self.partition_dir(info_date)
        save_mode = self.table.save_mode or "overwrite"
        if self.table.info_date_column in df.columns:
            df = df.drop(self.table.info_date_column)
        info = self.table.format.partition_info
        count = df.count() if info.sized_by_count else None
        df = apply_repartitioning(df, info, count or 0)
        df, get_count = counted(df) if count is None else (df, lambda: count)
        writer = df.write.mode(save_mode)
        for k, v in self.table.write_options.items():
            writer = writer.option(k, v)
        writer.parquet(out_dir)
        written = get_count()
        total = written
        if save_mode == "append":
            # the known schema spares the footer-reading schema inference job
            total = self.spark.read.schema(df.schema).parquet(out_dir).count()
        return WriteResult(records=total, records_appended=written, size_bytes=_dir_size(out_dir))

    def get_available_dates(self) -> List[_dt.date]:
        prefix = f"{self.table.info_date_column}="
        dates: List[_dt.date] = []
        if not os.path.isdir(self.path):
            return dates
        for entry in os.listdir(self.path):
            if entry.startswith(prefix):
                try:
                    dates.append(_dt.date.fromisoformat(entry[len(prefix) :]))
                except ValueError:
                    pass
        return sorted(dates)

    def delete_partition(self, info_date: _dt.date) -> None:
        d = self.partition_dir(info_date)
        if os.path.isdir(d):
            shutil.rmtree(d)


class DeltaPersistence(MetastorePersistence):
    """Delta-format persistence via ``replaceWhere``; requires delta-spark.

    Partition schemes add generated month/year columns before partitioning
    (MetastorePersistenceDelta.scala:91-115)."""

    @property
    def path(self) -> str:
        assert self.table.format.path, f"Table {self.table.name} has no path"
        return self.table.format.path

    def _with_generated_partitions(self, df: DataFrame) -> Tuple[DataFrame, List[str]]:
        col = self.table.info_date_column
        scheme = self.table.partition_scheme
        if scheme == PartitionScheme.BY_MONTH:
            df = df.withColumn("info_year", F.year(col)).withColumn("info_month", F.month(col))
            return df, ["info_year", "info_month"]
        if scheme == PartitionScheme.BY_YEAR_MONTH:
            df = df.withColumn("info_year_month", F.date_format(col, "yyyy-MM"))
            return df, ["info_year_month"]
        if scheme == PartitionScheme.BY_YEAR:
            df = df.withColumn("info_year", F.year(col))
            return df, ["info_year"]
        if scheme in (PartitionScheme.NOT_PARTITIONED, PartitionScheme.OVERWRITE):
            return df, []
        return df, [col]

    def load_table(
        self, info_date_from: Optional[_dt.date], info_date_to: Optional[_dt.date]
    ) -> DataFrame:
        df = self.spark.read.format("delta").load(self.path)
        return self._range_filter(df, info_date_from, info_date_to)

    def save_table(self, df: DataFrame, info_date: _dt.date) -> WriteResult:
        col = self.table.info_date_column
        df = df.withColumn(col, F.lit(info_date.isoformat()).cast(T.DateType()))
        # Counts before the write, unlike parquet (``counted``): without
        # delta-spark the observed count cannot be tested on this backend.
        count = df.count()
        df = apply_repartitioning(df, self.table.format.partition_info, count)
        df, part_cols = self._with_generated_partitions(df)
        save_mode = (self.table.save_mode or "overwrite").lower()
        writer = (
            df.write.format("delta")
            .mode(save_mode)
            .option("mergeSchema", "true")
        )
        # replaceWhere only combines with overwrite mode; Delta rejects it on
        # append (MetastorePersistenceDelta.scala:128-129 gates the same way).
        if save_mode == "overwrite" and self.table.partition_scheme != PartitionScheme.OVERWRITE:
            writer = writer.option("replaceWhere", f"{col} = '{info_date.isoformat()}'")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        for k, v in self.table.write_options.items():
            writer = writer.option(k, v)
        writer.save(self.path)
        return WriteResult(records=count, records_appended=count)

    def get_available_dates(self) -> List[_dt.date]:
        col = self.table.info_date_column
        rows = (
            self.spark.read.format("delta")
            .load(self.path)
            .select(col)
            .distinct()
            .collect()
        )
        return sorted(r[0] for r in rows if r[0] is not None)


class IcebergPersistence(MetastorePersistence):
    """Iceberg catalog-table persistence via DataFrameWriterV2
    (MetastorePersistenceIceberg.scala:52-100): create-if-absent with a
    partition transform on the info date, then append /
    overwritePartitions / full overwrite per save mode. Requires an
    Iceberg catalog on the session (iceberg-spark-runtime + catalog
    conf); ``iceberg_available`` gates it."""

    @property
    def table_name(self) -> str:
        assert self.table.format.table, f"Table {self.table.name} has no catalog table"
        return self.table.format.table

    def _ensure_table(self, df: DataFrame) -> None:
        col = self.table.info_date_column
        writer = df.writeTo(self.table_name)
        for k, v in self.table.table_properties.items():
            writer = writer.tableProperty(k, str(v))
        if self.table.partition_scheme == PartitionScheme.BY_MONTH:
            writer = writer.partitionedBy(F.months(F.col(col)))
        elif self.table.partition_scheme == PartitionScheme.BY_YEAR:
            writer = writer.partitionedBy(F.years(F.col(col)))
        elif self.table.partition_scheme not in (
            PartitionScheme.NOT_PARTITIONED,
            PartitionScheme.OVERWRITE,
        ):
            writer = writer.partitionedBy(F.days(F.col(col)))
        writer.createOrReplace() if self.table.save_mode == "overwrite_table" else writer.create()

    def load_table(
        self, info_date_from: Optional[_dt.date], info_date_to: Optional[_dt.date]
    ) -> DataFrame:
        df = self.spark.table(self.table_name)
        return self._range_filter(df, info_date_from, info_date_to)

    def save_table(self, df: DataFrame, info_date: _dt.date) -> WriteResult:
        col = self.table.info_date_column
        df = df.withColumn(col, F.lit(info_date.isoformat()).cast(T.DateType()))
        # Counts before the write, unlike parquet (``counted``): without an
        # Iceberg runtime the observed count cannot be tested on this backend.
        count = df.count()
        df = apply_repartitioning(df, self.table.format.partition_info, count)
        exists = self.spark.catalog.tableExists(self.table_name)
        if not exists:
            self._ensure_table(df)
            return WriteResult(records=count, records_appended=count)
        if self.table.save_mode == "append":
            df.writeTo(self.table_name).append()
        elif self.table.partition_scheme == PartitionScheme.OVERWRITE:
            df.writeTo(self.table_name).replace()
        else:
            # overwrite exactly this info date's partition
            df.writeTo(self.table_name).overwrite(
                F.col(col) == F.lit(info_date.isoformat()).cast(T.DateType())
            )
        return WriteResult(records=count, records_appended=count)

    def get_available_dates(self) -> List[_dt.date]:
        col = self.table.info_date_column
        rows = self.spark.table(self.table_name).select(col).distinct().collect()
        return sorted(r[0] for r in rows if r[0] is not None)


class RawPersistence(MetastorePersistence):
    """Files copied verbatim into per-date dirs; reads return a DataFrame of
    ``[path, file_name]`` (MetastorePersistenceRaw.scala:57-134)."""

    @property
    def path(self) -> str:
        assert self.table.format.path, f"Table {self.table.name} has no path"
        return self.table.format.path

    def partition_dir(self, info_date: _dt.date) -> str:
        return os.path.join(self.path, f"{self.table.info_date_column}={info_date.isoformat()}")

    def _list_files(self, d: str) -> List[Tuple[str, str]]:
        if not os.path.isdir(d):
            return []
        return [
            (os.path.join(d, f), f)
            for f in sorted(os.listdir(d))
            if os.path.isfile(os.path.join(d, f))
        ]

    def load_table(
        self, info_date_from: Optional[_dt.date], info_date_to: Optional[_dt.date]
    ) -> DataFrame:
        files: List[Tuple[str, str]] = []
        for d in self.get_available_dates():
            if info_date_from is not None and d < info_date_from:
                continue
            if info_date_to is not None and d > info_date_to:
                continue
            files.extend(self._list_files(self.partition_dir(d)))
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("file_name", T.StringType()),
            ]
        )
        return local_frame(self.spark, files, schema)

    def save_table(self, df: DataFrame, info_date: _dt.date) -> WriteResult:
        # df is a list of source file paths (column ``path``)
        out_dir = self.partition_dir(info_date)
        if os.path.isdir(out_dir):
            shutil.rmtree(out_dir)
        os.makedirs(out_dir, exist_ok=True)
        paths = [r["path"] for r in df.select("path").collect()]
        total = 0
        for p in paths:
            shutil.copy2(p, os.path.join(out_dir, os.path.basename(p)))
            total += 1
        return WriteResult(records=total, size_bytes=_dir_size(out_dir))

    def get_available_dates(self) -> List[_dt.date]:
        prefix = f"{self.table.info_date_column}="
        dates: List[_dt.date] = []
        if not os.path.isdir(self.path):
            return dates
        for entry in os.listdir(self.path):
            if entry.startswith(prefix):
                try:
                    dates.append(_dt.date.fromisoformat(entry[len(prefix) :]))
                except ValueError:
                    pass
        return sorted(dates)


class TransientTableManager:
    """Holds intermediate (transient) tables for the duration of a run
    (core/.../metastore/peristence/TransientTableManager.scala:26-90).

    Cache policies: NO_CACHE keeps the DataFrame reference (lazy plan),
    CACHE calls ``df.cache()``, PERSIST materializes to a temp parquet dir.
    """

    def __init__(self, spark: SparkSession, temp_dir: Optional[str] = None):
        self.spark = spark
        self.temp_dir = temp_dir
        self._tables: Dict[Tuple[str, str], DataFrame] = {}

    @staticmethod
    def _key(name: str, info_date: _dt.date) -> Tuple[str, str]:
        return (name.lower(), info_date.isoformat())

    def add_table(
        self, name: str, info_date: _dt.date, df: DataFrame, policy: CachePolicy
    ) -> None:
        if policy == CachePolicy.CACHE:
            df = df.cache()
        elif policy == CachePolicy.PERSIST:
            assert self.temp_dir, "PERSIST cache policy needs a temp dir"
            path = os.path.join(self.temp_dir, f"transient_{name}_{info_date.isoformat()}")
            df.write.mode("overwrite").parquet(path)
            df = self.spark.read.parquet(path)
        self._tables[self._key(name, info_date)] = df

    def has_table(self, name: str, info_date: _dt.date) -> bool:
        return self._key(name, info_date) in self._tables

    def get_table(self, name: str, info_date: _dt.date) -> DataFrame:
        key = self._key(name, info_date)
        if key not in self._tables:
            raise KeyError(f"Transient table {name} for {info_date} not materialized")
        return self._tables[key]

    def get_range(
        self, name: str, date_from: Optional[_dt.date], date_to: Optional[_dt.date]
    ) -> Optional[DataFrame]:
        dfs = []
        for (n, d), df in self._tables.items():
            if n != name.lower():
                continue
            d_date = _dt.date.fromisoformat(d)
            if date_from is not None and d_date < date_from:
                continue
            if date_to is not None and d_date > date_to:
                continue
            dfs.append(df)
        if not dfs:
            return None
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out

    def clear(self) -> None:
        for df in self._tables.values():
            try:
                df.unpersist()
            except Exception:
                pass
        self._tables.clear()


def _delta_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.io.delta.tables.DeltaTable  # noqa: B018
        return True
    except Exception:
        return False


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.spark.SparkCatalog  # noqa: B018
        return True
    except Exception:
        return False


def persistence_for(spark: SparkSession, table: TableConfig) -> MetastorePersistence:
    kind = table.format.kind
    if kind == FormatKind.PARQUET:
        return ParquetPersistence(spark, table)
    if kind == FormatKind.DELTA:
        if not _delta_available(spark):
            raise RuntimeError(
                f"Table '{table.name}' uses the delta format but delta-spark is not "
                "on the classpath (add io.delta:delta-spark to spark.jars.packages)"
            )
        return DeltaPersistence(spark, table)
    if kind == FormatKind.ICEBERG:
        if not iceberg_available(spark):
            raise RuntimeError(
                f"Table '{table.name}' uses the iceberg format but the Iceberg "
                "runtime is not on the classpath (add "
                "org.apache.iceberg:iceberg-spark-runtime and a catalog config)"
            )
        return IcebergPersistence(spark, table)
    if kind == FormatKind.RAW:
        return RawPersistence(spark, table)
    raise ValueError(f"No persistence for format {kind} (table {table.name})")
