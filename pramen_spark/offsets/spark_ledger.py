"""Spark-dataset-backed offset ledger (Parquet or Delta).

Reference: core/.../bookkeeper/OffsetManagerJdbc.scala:36-91 — there a JDBC
table with uncommitted-row cleanup; here an append-only event dataset:

- Every ledger operation (start / commit / rollback) is appended as ONE event
  row, folded in ``seq`` order into the current records (see
  :class:`pramen_spark.offsets.ledger.OffsetLedger`). Cross-driver clock
  skew only matters for events of the SAME (table, info_date, batch_id)
  transaction, which are always produced by one driver sequentially.
- With ``parquet`` each event is one uniquely-named file written through
  the Hadoop file system (hidden temp file, then rename), with no Spark
  job; with ``delta`` each append is an ACID transaction written by Spark.
  Both are safe across drivers on a file system with atomic rename (local,
  HDFS); for S3 see :class:`pramen_spark.store.ParquetStore`.
- Query methods re-read the dataset first, so a driver sees transactions
  committed by other drivers after this ledger was opened.

The event dataset is tiny (a few rows per task run, not per data row). A
parquet refresh lists the directory and reads only the files it has not
read before; ``compact()`` folds the event log into a single file when the
file count grows.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from pramen_spark.offsets.ledger import OffsetEvent, OffsetLedger
from pramen_spark.store import dataset_store


class SparkOffsetLedger(OffsetLedger):
    """Offset ledger persisted as an append-only Spark dataset.

    ``data_format`` is ``"parquet"`` (default) or ``"delta"`` (requires the
    delta-spark runtime on the cluster, like the metastore's Delta format).
    """

    def __init__(self, spark: SparkSession, path: str, data_format: str = "parquet"):
        super().__init__(store=dataset_store(spark, path, OffsetEvent, data_format))
