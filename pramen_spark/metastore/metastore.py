"""Metastore: the registry of tables and the scoped reader given to
transformers.

Reference behavior:
- ``MetastoreReader.getTable(name, from, to)`` — api/.../MetastoreReader.scala:42-45,
  impl core/.../metastore/MetastoreImpl.scala:92-115.
- ``getLatest(table, until)`` — MetastoreImpl.scala:116-129: max available
  info date <= until, then scan exactly that date.
- Reader scoping: a transformer may only read its declared input tables
  (MetastoreImpl.getMetastoreReader:251-264).
- Incremental read mode: ``getCurrentBatch`` returns only rows of the
  current batch (core/.../metastore/MetastoreReaderIncrementalImpl.scala).
"""

from __future__ import annotations

import datetime as _dt
from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pramen_spark.config.models import CachePolicy, TableConfig
from pramen_spark.metastore.persistence import (
    MetastorePersistence,
    TransientTableManager,
    WriteDecision,
    WriteResult,
    persistence_for,
)


class Metastore:
    def __init__(
        self,
        spark: SparkSession,
        tables: Sequence[TableConfig],
        temp_dir: str | None = None,
        metadata_manager=None,
    ):
        from pramen_spark.metastore.metadata import MetadataManager
        from pramen_spark.metastore.transient_jobs import TransientJobManager

        self.spark = spark
        self.tables: Dict[str, TableConfig] = {t.name.lower(): t for t in tables}
        self.transient = TransientTableManager(spark, temp_dir)
        self.transient_jobs = TransientJobManager(self)
        self.metadata_manager = metadata_manager or MetadataManager()
        self._persistence: Dict[str, MetastorePersistence] = {}

    def add_table(self, table: TableConfig) -> None:
        self.tables[table.name.lower()] = table

    def table_config(self, name: str) -> TableConfig:
        key = name.lower()
        if key not in self.tables:
            raise KeyError(f"Table '{name}' is not registered in the metastore")
        return self.tables[key]

    def _persistence_for(self, name: str) -> MetastorePersistence:
        key = name.lower()
        if key not in self._persistence:
            self._persistence[key] = persistence_for(self.spark, self.table_config(name))
        return self._persistence[key]

    # --- reads ---

    def get_table(
        self,
        name: str,
        info_date_from: Optional[_dt.date] = None,
        info_date_to: Optional[_dt.date] = None,
    ) -> DataFrame:
        cfg = self.table_config(name)
        if cfg.format.is_transient:
            df = self.transient.get_range(name, info_date_from, info_date_to)
            if df is None and cfg.format.is_lazy and self.transient_jobs.has_job(name):
                # lazy transient: run the producing job on demand
                self.transient_jobs.materialize_range(name, info_date_from, info_date_to)
                df = self.transient.get_range(name, info_date_from, info_date_to)
            if df is None:
                raise KeyError(f"Transient table '{name}' has no data in range")
            return df
        return self._persistence_for(name).load_table(info_date_from, info_date_to)

    def get_latest(self, name: str, until: Optional[_dt.date] = None) -> DataFrame:
        latest = self.get_latest_available_date(name, until)
        if latest is None:
            raise ValueError(f"No data for table '{name}' until {until}")
        return self.get_table(name, latest, latest)

    def get_latest_available_date(
        self, name: str, until: Optional[_dt.date] = None
    ) -> Optional[_dt.date]:
        dates = self._persistence_for(name).get_available_dates()
        if until is not None:
            dates = [d for d in dates if d <= until]
        return max(dates) if dates else None

    def is_data_available(
        self, name: str, date_from: Optional[_dt.date], date_until: Optional[_dt.date]
    ) -> bool:
        dates = self._persistence_for(name).get_available_dates()
        for d in dates:
            if (date_from is None or d >= date_from) and (date_until is None or d <= date_until):
                return True
        return False

    # --- writes ---

    def stages_writes(self, name: str) -> bool:
        """Whether writes of ``name`` are staged, so ``save_table`` can
        observe aggregates on them and decide before they commit."""
        cfg = self.table_config(name)
        return not cfg.format.is_transient and self._persistence_for(name).stages_writes

    def save_table(
        self,
        name: str,
        df: DataFrame,
        info_date: _dt.date,
        cache_policy: CachePolicy | None = None,
        observe: Sequence[Column] = (),
        decide: Optional[WriteDecision] = None,
    ) -> WriteResult:
        """Write one info date of ``name``. Where the table
        ``stages_writes``, the named ``observe`` aggregates come back in
        ``WriteResult.metrics`` and ``decide`` runs before the commit (see
        ``ParquetPersistence.save_table``); elsewhere ``observe`` is
        ignored and ``decide`` is an error."""
        if not self.stages_writes(name):
            if decide is not None:
                raise ValueError(f"Writes of table '{name}' are not staged: nothing to decide on")
            cfg = self.table_config(name)
            if cfg.format.is_transient:
                policy = cache_policy or cfg.format.cache_policy
                self.transient.add_table(name, info_date, df, policy)
                return WriteResult(records=-1)
            return self._persistence_for(name).save_table(df, info_date)
        return self._persistence_for(name).save_table(df, info_date, observe, decide)

    def get_reader(
        self,
        input_tables: Sequence[str],
        info_date: _dt.date,
        batch_id: Optional[int] = None,
    ) -> "MetastoreReader":
        return MetastoreReader(self, input_tables, info_date, batch_id)


class MetastoreReader:
    """Scoped read-only view handed to transformers: only declared input
    tables are readable; default date range is (-inf, infoDate]."""

    def __init__(
        self,
        metastore: Metastore,
        allowed_tables: Sequence[str],
        info_date: _dt.date,
        batch_id: Optional[int] = None,
    ):
        self._metastore = metastore
        self._allowed = {t.lower() for t in allowed_tables}
        self.info_date = info_date
        self.batch_id = batch_id

    @property
    def spark(self) -> SparkSession:
        return self._metastore.spark

    @property
    def metadata_manager(self):
        """Key-value metadata store scoped to (table, info_date) — the
        reference exposes this on MetastoreReader
        (api/.../MetastoreReader.scala ``metadataManager``)."""
        return self._metastore.metadata_manager

    def _check(self, name: str) -> None:
        if name.lower() not in self._allowed:
            raise PermissionError(
                f"Table '{name}' is not among the declared input tables: {sorted(self._allowed)}"
            )

    def get_table(
        self,
        name: str,
        info_date_from: Optional[_dt.date] = None,
        info_date_to: Optional[_dt.date] = None,
    ) -> DataFrame:
        self._check(name)
        # default until = info date (no peeking into the future)
        if info_date_to is None:
            info_date_to = self.info_date
        return self._metastore.get_table(name, info_date_from, info_date_to)

    def get_latest(self, name: str, until: Optional[_dt.date] = None) -> DataFrame:
        self._check(name)
        return self._metastore.get_latest(name, until or self.info_date)

    def get_latest_available_date(
        self, name: str, until: Optional[_dt.date] = None
    ) -> Optional[_dt.date]:
        self._check(name)
        return self._metastore.get_latest_available_date(name, until or self.info_date)

    def get_current_batch(self, name: str) -> DataFrame:
        """Incremental mode: rows of the current batch only
        (core/.../metastore/MetastoreReaderIncrementalImpl.scala)."""
        self._check(name)
        cfg = self._metastore.table_config(name)
        df = self._metastore.get_table(name, self.info_date, self.info_date)
        if self.batch_id is not None and cfg.batch_id_column in df.columns:
            return df.filter(F.col(cfg.batch_id_column) == F.lit(self.batch_id))
        return df

    def is_data_available(
        self, name: str, date_from: Optional[_dt.date] = None, date_until: Optional[_dt.date] = None
    ) -> bool:
        self._check(name)
        return self._metastore.is_data_available(name, date_from, date_until or self.info_date)
