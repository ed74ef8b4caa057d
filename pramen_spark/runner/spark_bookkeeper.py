"""Spark-dataset-backed bookkeeper and run journal (Parquet or Delta).

Reference: core/.../bookkeeper/BookkeeperDeltaBase.scala:29-120,
BookkeeperDeltaPath.scala and journal/JournalHadoopDeltaPath.scala.

Layout under the bookkeeping location::

    {path}/records/   one row per processed (table, info_date, run)
    {path}/schemas/   one row per captured schema version
    {path}/journal/   one row per task attempt

Each dataset is append-only. With ``parquet`` each save writes one
uniquely-named file through the Hadoop file system (a hidden temp file,
then a rename) and runs no Spark job; with ``delta`` it is one ACID
transaction written by Spark. Both are safe across drivers on a file
system with atomic rename (local, HDFS); for S3 see
:class:`pramen_spark.store.ParquetStore`. Bookkeeping state is replayed into memory at open — a few rows per
task run, small even after years of daily pipelines — and ``refresh()``
re-reads only the files added since. ``compact()`` folds the accumulated
small files.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from pramen_spark.runner.bookkeeper import Bookkeeper, DataChunk, Journal, JournalEntry, SchemaVersion
from pramen_spark.store import dataset_store


class SparkBookkeeper(Bookkeeper):
    """Bookkeeper persisted as append-only Spark datasets.

    ``data_format`` is ``"parquet"`` (default) or ``"delta"`` (requires the
    delta-spark runtime, like the metastore's Delta format).  Selected via
    ``pramen.bookkeeping.hadoop.format`` in the workflow config.
    """

    def __init__(self, spark: SparkSession, path: str, data_format: str = "parquet"):
        base = path.rstrip("/")
        super().__init__(
            dataset_store(spark, f"{base}/records", DataChunk, data_format),
            dataset_store(spark, f"{base}/schemas", SchemaVersion, data_format),
        )


class SparkJournal(Journal):
    """Run journal persisted as an append-only Spark dataset (Parquet or
    Delta), the counterpart of the reference's JournalHadoopDeltaPath /
    JournalHadoopCsv. The dataset shares the bookkeeping location
    (``{bookkeeping.location}/journal``) and format, as in the reference.
    """

    def __init__(self, spark: SparkSession, path: str, data_format: str = "parquet"):
        super().__init__(store=dataset_store(spark, path, JournalEntry, data_format))
