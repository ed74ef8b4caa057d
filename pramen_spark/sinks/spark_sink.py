"""Generic Spark sink: ``df.write.format(F).mode(M).partitionBy(...)``
with output repartitioning.

Reference: core/.../sink/SparkSink.scala:127-180 (records.per.partition
sizing at SparkSink.scala:53-54).
"""

from __future__ import annotations

import datetime as _dt
import math
from typing import Any, Dict

from pyspark.sql import DataFrame

from pramen_spark.api import Sink
from pramen_spark.metastore.persistence import counted


class SparkSink(Sink):
    """Options:
    - ``format`` (default parquet), ``mode`` (default overwrite)
    - ``path`` or ``table``
    - ``partition.by``: comma-separated partition columns
    - ``number.of.partitions`` or ``records.per.partition``
    - ``save.empty`` (default true)
    - any ``option.*``: writer options
    """

    def send(self, df: DataFrame, table_name: str, info_date: _dt.date, options: Dict[str, Any]) -> int:
        opts = {**self.options, **options}
        fmt = opts.get("format", "parquet")
        mode = opts.get("mode", "overwrite")
        n_partitions = opts.get("number.of.partitions")
        rpp = opts.get("records.per.partition")
        save_empty = str(opts.get("save.empty", "true")).lower() == "true"

        # Records-per-partition sizing and skipping empty output need the
        # count before the write; otherwise the write job counts the rows.
        count = None
        if not save_empty or (rpp is not None and n_partitions is None):
            count = df.count()
            if count == 0 and not save_empty:
                return 0

        if n_partitions is not None:
            df = df.repartition(int(n_partitions))
        elif rpp is not None:
            df = df.repartition(max(1, math.ceil(count / int(rpp))))
        df, get_count = counted(df) if count is None else (df, lambda: count)

        writer = df.write.format(fmt).mode(mode)
        if opts.get("partition.by"):
            cols = [c.strip() for c in str(opts["partition.by"]).split(",") if c.strip()]
            writer = writer.partitionBy(*cols)
        for k, v in opts.items():
            if k.startswith("option."):
                writer = writer.option(k[len("option.") :], v)

        if "path" in opts:
            path = opts["path"]
            if str(opts.get("partition.by.info.date", "false")).lower() == "true":
                path = f"{path}/{info_date.isoformat()}"
            writer.save(path)
        elif "table" in opts:
            writer.saveAsTable(opts["table"])
        else:
            raise ValueError("SparkSink requires 'path' or 'table' option")
        return get_count()
