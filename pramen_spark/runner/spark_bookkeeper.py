"""Spark-dataset-backed bookkeeper and run journal (Parquet or Delta).

Reference: core/.../bookkeeper/BookkeeperDeltaBase.scala:29-120,
BookkeeperDeltaPath.scala and journal/JournalHadoopDeltaPath.scala.

Layout under the bookkeeping location::

    {path}/records/   one row per processed (table, info_date, run)
    {path}/schemas/   one row per captured schema version
    {path}/journal/   one row per task attempt

Each dataset is append-only: each save appends a uniquely-named part file
(Parquet) or an ACID transaction (Delta). Appends from the threads of one
driver are serialised per dataset (see :class:`pramen_spark.store.SparkStore`);
parquet appends from two drivers at once can abort each other in the shared
``_temporary/0`` staging directory, so only ``delta`` is safe for concurrent
drivers. Bookkeeping state is replayed into memory at open — a few rows per
task run, small even after years of daily pipelines — and ``refresh()``
re-reads it to pick up other drivers' writes. ``compact()`` folds the
accumulated small files.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from pramen_spark.runner.bookkeeper import Bookkeeper, DataChunk, Journal, JournalEntry, SchemaVersion
from pramen_spark.store import SparkStore


class SparkBookkeeper(Bookkeeper):
    """Bookkeeper persisted as append-only Spark datasets.

    ``data_format`` is ``"parquet"`` (default) or ``"delta"`` (requires the
    delta-spark runtime, like the metastore's Delta format).  Selected via
    ``pramen.bookkeeping.hadoop.format`` in the workflow config.
    """

    def __init__(self, spark: SparkSession, path: str, data_format: str = "parquet"):
        base = path.rstrip("/")
        super().__init__(
            SparkStore(spark, f"{base}/records", DataChunk, data_format),
            SparkStore(spark, f"{base}/schemas", SchemaVersion, data_format),
        )


class SparkJournal(Journal):
    """Run journal persisted as an append-only Spark dataset (Parquet or
    Delta), the counterpart of the reference's JournalHadoopDeltaPath /
    JournalHadoopCsv. The dataset shares the bookkeeping location
    (``{bookkeeping.location}/journal``) and format, as in the reference.
    """

    def __init__(self, spark: SparkSession, path: str, data_format: str = "parquet"):
        super().__init__(store=SparkStore(spark, path, JournalEntry, data_format))
