"""SparkSession builder tuned for the engine.

Scale posture: AQE on (runtime re-plan + skew-join handling), shuffle
partitions sized to the local core count (on a real cluster this is set per
deployment or left to AQE coalescing), Arrow enabled for the Pandas-UDF
paths, UTC session timezone for deterministic date semantics.

``local_frame`` turns rows held by the driver into a frame through Arrow
batches, so no Python worker starts for them.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def build_session(
    app_name: str = "pramen_spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Split small files across cores at scan time (no shuffle): the
        # default 4 MiB openCostInBytes makes Spark lump a sub-128MB file
        # into ONE scan partition, serializing CPU-heavy per-row work
        # (shingling, tokenization) on a single core. maxSplitBytes =
        # min(maxPartitionBytes, max(openCostInBytes, totalBytes/cores)), so
        # a small openCost lets the per-core math win; at cluster scale the
        # many-files case dominates and this setting is neutral.
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: Sequence[tuple], schema: T.StructType) -> DataFrame:
    """A frame of ``rows`` (tuples in ``schema``'s field order) built on the
    driver.

    The rows go to the JVM as Arrow record batches and Spark plans them as a
    ``LocalRelation``, so running the frame starts no Python worker, unlike
    ``createDataFrame(rows, schema)``, which parallelizes pickled rows behind
    a Python ``map``. Neither ``spark.sql.execution.arrow.pyspark.enabled``
    nor any other setting changes this path.

    Values land as that row path puts them: each row passes the same
    verifier, so what it rejects (a string in a long column, an int beyond
    the long range) still raises here, and a naive ``datetime`` in a
    ``TimestampType`` column is read in the process's local zone, as
    ``TimestampType.toInternal`` does, not as UTC. One difference: the row
    path stores any value in a string column as the JVM's ``toString`` of
    it (``True`` as ``'true'``), while here a value that is not a ``str``
    raises.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for field, arrow_field, values in zip(schema.fields, arrow_schema, columns):
        if isinstance(field.dataType, T.TimestampType):
            # epoch microseconds, as the row path computes them
            values = [field.dataType.toInternal(v) for v in values]
        arrays.append(pa.array(values, type=arrow_field.type))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)
