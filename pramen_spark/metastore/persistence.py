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
full dataset) with the schema taken from a data file's footer on the
driver. Writes repartition by PartitionInfo so output file count is
controlled (records-per-partition sizing rather than task-count artifacts).

Parquet and raw writes are staged: the files go to a hidden
``<table>/.staging/<partition>-<uuid>`` directory and are swapped into the
partition only once the write (and any check on it) has succeeded, so a
failed write leaves the partition as it was. A parquet write observes its
row count and any aggregates the caller asks for inside the write job
(``observed``), so the source plan runs once per save; only
records-per-partition sizing counts before the write. Every file-system
call goes through ``pramen_spark.fs``, so any Hadoop path serves.
"""

from __future__ import annotations

import datetime as _dt
import logging
import math
import posixpath
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
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
from pramen_spark.fs import HadoopFs
from pramen_spark.session import local_frame


_log = logging.getLogger(__name__)

# Spark completes an Observation from a query listener on its asynchronous
# listener bus, so the metrics land a moment after the write returns. A bus
# that drops events never completes it; past this wait the caller computes
# them another way.
OBSERVED_COUNT_WAIT_S = 60.0

# name of the row count among a write's metrics; rule and offset names are
# identifiers, so none can take it
RECORDS = "#records"

STAGING_DIR = ".staging"

# a write's metrics (observed aggregates by name, RECORDS included) and its
# staged rows; raising discards the write and leaves the partition as it was
WriteDecision = Callable[[Dict[str, Any], DataFrame], None]


@dataclass
class WriteResult:
    records: int
    records_appended: Optional[int] = None
    size_bytes: Optional[int] = None
    # the aggregates observed on the write, by name; empty where the target
    # cannot observe its write
    metrics: Dict[str, Any] = field(default_factory=dict)


def observed(
    df: DataFrame, aggregates: Sequence[Column]
) -> Tuple[DataFrame, Callable[[], Optional[Dict[str, Any]]]]:
    """``df`` with the named ``aggregates`` gathered by whichever action
    runs it first, and a callable that returns them by name, or None if
    they have not arrived ``OBSERVED_COUNT_WAIT_S`` after the action.

    The aggregates ride on that action as an ``Observation``, so the plan
    runs once instead of once per fact. Spark rejects DISTINCT aggregates
    here. Call the getter only after an action on the returned frame has
    returned: before that the metrics do not exist, and after a failed
    action they are partial. Take a new pair for each write attempt; an
    ``Observation`` serves one action. Observe the frame as written, after
    any repartition: Spark applies metrics gathered in the action's last
    stage once per task, but those gathered in an earlier shuffle stage
    again whenever that stage is retried."""
    observation = Observation()
    observed_df = df.observe(observation, *aggregates)

    def get_metrics() -> Optional[Dict[str, Any]]:
        future = observation._jo.future()
        deadline = time.monotonic() + OBSERVED_COUNT_WAIT_S
        while not future.isCompleted():
            if time.monotonic() > deadline:
                _log.warning(
                    "No observed metrics %.0f s after the write", OBSERVED_COUNT_WAIT_S
                )
                return None
            time.sleep(0.005)
        return dict(observation.get)

    return observed_df, get_metrics


def counted(df: DataFrame) -> Tuple[DataFrame, Callable[[], int]]:
    """``df`` with its rows counted by whichever action runs it first, and
    a callable that returns that count (``observed`` with the row count
    alone). If the count never arrives, the frame is counted."""
    observed_df, get_metrics = observed(df, [F.count(F.lit(1)).alias(RECORDS)])

    def get_count() -> int:
        metrics = get_metrics()
        return df.count() if metrics is None else int(metrics[RECORDS])

    return observed_df, get_count


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


def _is_data_file(name: str) -> bool:
    # the names Spark's file index and pyarrow's dataset discovery skip
    return not name.startswith((".", "_"))


class MetastorePersistence:
    """Interface: load a date range / save one info date.

    A backend that ``stages_writes`` takes ``observe`` and ``decide`` in
    ``save_table`` (see ``ParquetPersistence.save_table``)."""

    stages_writes = False

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


class DirectoryPersistence(MetastorePersistence):
    """A directory per info date under the table's path, ``{col}={date}``,
    written through a hidden staging directory and swapped in whole."""

    _fs: Optional[HadoopFs] = None

    @property
    def path(self) -> str:
        assert self.table.format.path, f"Table {self.table.name} has no path"
        return self.table.format.path

    @property
    def fs(self) -> HadoopFs:
        if self._fs is None:
            self._fs = HadoopFs(self.spark, self.path)
        return self._fs

    def partition_name(self, info_date: _dt.date) -> str:
        return f"{self.table.info_date_column}={info_date.isoformat()}"

    def partition_dir(self, info_date: _dt.date) -> str:
        return posixpath.join(self.path, self.partition_name(info_date))

    def get_available_dates(self) -> List[_dt.date]:
        prefix = f"{self.table.info_date_column}="
        try:
            entries = self.fs.list(self.path)
        except FileNotFoundError:
            return []
        dates: List[_dt.date] = []
        for entry in entries:
            if entry.startswith(prefix):
                try:
                    dates.append(_dt.date.fromisoformat(entry[len(prefix) :]))
                except ValueError:
                    pass
        return sorted(dates)

    def delete_partition(self, info_date: _dt.date) -> None:
        self.fs.delete(self.partition_dir(info_date), recursive=True)

    def _staging_dir(self, info_date: _dt.date, replaces: bool) -> str:
        """A new staging directory name for a write of ``info_date``. A
        write that ``replaces`` the partition first deletes what earlier
        writes of it left in the staging area: it owns the partition, and
        a staging directory outlives its write only when the driver died.
        Appends to one partition may run at once, so an append deletes
        nothing but its own."""
        root = posixpath.join(self.path, STAGING_DIR)
        prefix = f"{self.partition_name(info_date)}-"
        if replaces:
            try:
                leftovers = [n for n in self.fs.list(root) if n.startswith(prefix)]
            except FileNotFoundError:
                leftovers = []
            for name in leftovers:
                self.fs.delete(posixpath.join(root, name), recursive=True)
        return posixpath.join(root, prefix + uuid.uuid4().hex)

    def _commit(self, staging: str, out_dir: str, append: bool) -> None:
        """Swap the staged directory in as the partition (``append``: move
        its data files into the partition), then delete what it replaced.
        Readers see the old partition or the new one: between the two
        renames the partition is briefly absent, never half-written."""
        fs = self.fs
        if append:
            fs.mkdirs(out_dir)
            for name in fs.list(staging):
                if _is_data_file(name):
                    fs.rename(posixpath.join(staging, name), posixpath.join(out_dir, name))
            fs.delete(staging, recursive=True)
            return
        old = staging + ".old"
        replaces = fs.exists(out_dir)
        if replaces:
            fs.rename(out_dir, old)
        try:
            fs.rename(staging, out_dir)
        except BaseException:
            if replaces:
                fs.rename(old, out_dir)
            raise
        if replaces:
            fs.delete(old, recursive=True)


class ParquetPersistence(DirectoryPersistence):
    """Directory-per-info-date parquet dataset."""

    stages_writes = True

    def load_table(
        self, info_date_from: Optional[_dt.date], info_date_to: Optional[_dt.date]
    ) -> DataFrame:
        # Partition-direct fast path: a single-date range with an existing
        # partition dir reads just that directory and re-adds the date
        # column (MetastorePersistenceParquet.scala:152-176,55-65).
        if info_date_from is not None and info_date_from == info_date_to:
            part = self.partition_dir(info_date_from)
            try:
                names = [n for n in self.fs.list(part) if _is_data_file(n)]
            except FileNotFoundError:
                names = None
            if names is not None:
                return self._read_dir(part, self._footer_schema(part, names), info_date_from)
        df = self.spark.read.option("basePath", self.path).parquet(self.path)
        return self._range_filter(df, info_date_from, info_date_to)

    def _read_dir(self, d: str, schema: Optional[T.StructType], info_date: _dt.date) -> DataFrame:
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(d).withColumn(
            self.table.info_date_column, F.lit(info_date.isoformat()).cast(T.DateType())
        )

    def _footer_schema(self, d: str, names: List[str]) -> Optional[T.StructType]:
        """The schema Spark's own inference would read, without its Spark
        job: Spark, not merging schemas, takes the Spark schema from the
        footer of the first data file it lists. None where that file has no
        Spark schema (not written by Spark), so that inference decides."""
        if not names:
            return None
        footer = self.fs.parquet_footer(posixpath.join(d, names[0]))
        return T.StructType.fromJson(footer.spark_schema) if footer.spark_schema else None

    def save_table(
        self,
        df: DataFrame,
        info_date: _dt.date,
        observe: Sequence[Column] = (),
        decide: Optional[WriteDecision] = None,
    ) -> WriteResult:
        """Write ``df`` as the partition of ``info_date`` (or append to it),
        gathering the row count and the named ``observe`` aggregates inside
        the write job. The files land in a staging directory; ``decide``,
        if given, sees the metrics and the staged rows and may raise, which
        discards the write. Only then is the partition swapped."""
        append = self.table.save_mode == "append"
        out_dir = self.partition_dir(info_date)
        staging = self._staging_dir(info_date, replaces=not append)
        info = self.table.format.partition_info
        count = df.count() if info.sized_by_count else None
        df = apply_repartitioning(df, info, count or 0)
        aggregates = [F.count(F.lit(1)).alias(RECORDS), *observe]
        df, get_metrics = observed(df, aggregates)
        if self.table.info_date_column in df.columns:
            # the info date is encoded in the directory name, not stored
            df = df.drop(self.table.info_date_column)
        writer = df.write
        for k, v in self.table.write_options.items():
            writer = writer.option(k, v)
        try:
            writer.parquet(staging)
            metrics = get_metrics()
            if metrics is None or decide is not None:
                staged = self._read_dir(staging, df.schema, info_date)
            if metrics is None:
                # the staged files, not the upstream plan, give the facts
                metrics = staged.agg(*aggregates).first().asDict()
            if decide is not None:
                decide(metrics, staged)
            self._commit(staging, out_dir, append)
        except BaseException:
            self.fs.delete(staging, recursive=True)
            raise
        written = int(metrics[RECORDS])
        total = self._footer_rows(out_dir) if append else written
        return WriteResult(
            records=total,
            records_appended=written,
            size_bytes=self.fs.content_size(out_dir),
            metrics=metrics,
        )

    def _footer_rows(self, d: str) -> int:
        """Rows in the data files of ``d``, from their footers."""
        return sum(
            self.fs.parquet_footer(posixpath.join(d, n)).rows
            for n in self.fs.list(d)
            if _is_data_file(n)
        )


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


class RawPersistence(DirectoryPersistence):
    """Files copied verbatim into per-date dirs; reads return a DataFrame of
    ``[path, file_name]`` (MetastorePersistenceRaw.scala:57-134)."""

    def _list_files(self, d: str) -> List[Tuple[str, str]]:
        try:
            names = sorted(self.fs.list_files(d))
        except FileNotFoundError:
            return []
        return [(posixpath.join(d, n), n) for n in names]

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
        # df is a list of source file paths (column ``path``); the copies are
        # staged and swapped in like a parquet write
        out_dir = self.partition_dir(info_date)
        staging = self._staging_dir(info_date, replaces=True)
        paths = [r["path"] for r in df.select("path").collect()]
        try:
            self.fs.mkdirs(staging)
            for p in paths:
                self.fs.copy_from(p, posixpath.join(staging, posixpath.basename(p)))
            self._commit(staging, out_dir, append=False)
        except BaseException:
            self.fs.delete(staging, recursive=True)
            raise
        return WriteResult(records=len(paths), size_bytes=self.fs.content_size(out_dir))


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
            path = posixpath.join(self.temp_dir, f"transient_{name}_{info_date.isoformat()}")
            df.write.mode("overwrite").parquet(path)
            # the known schema spares the footer-reading schema inference job
            df = self.spark.read.schema(df.schema).parquet(path)
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
