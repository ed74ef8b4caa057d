"""Local CSV sink: single-file CSV with formatting options and a templated
file name copied to a local directory.

Reference: core/.../sink/LocalCsvSink.scala:153,254 and
CsvConversionParams.scala:22-68. File name template supports
``@tableName``, ``@infoDate``, ``@timestamp`` (reference default
``@tableName_@infoDate_@timestamp``).
"""

from __future__ import annotations

import datetime as _dt
import glob
import os
import shutil
import tempfile
import time
from typing import Any, Dict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pramen_spark.api import Sink
from pramen_spark.metastore.persistence import counted


class LocalCsvSink(Sink):
    """Options:
    - ``path``: local output directory (required)
    - ``file.name.pattern``: default ``@tableName_@infoDate_@timestamp``
    - ``date.format`` / ``timestamp.format``: CSV value formatting
    - ``column.name.transform``: no_change | make_upper | make_lower
    - ``csv.*``: passed through to the Spark csv writer (header, sep, ...)
    """

    def send(self, df: DataFrame, table_name: str, info_date: _dt.date, options: Dict[str, Any]) -> int:
        opts = {**self.options, **options}
        out_dir = opts["path"]
        os.makedirs(out_dir, exist_ok=True)

        date_format = opts.get("date.format", "yyyy-MM-dd")
        ts_format = opts.get("timestamp.format", "yyyy-MM-dd HH:mm:ss Z")
        transform = opts.get("column.name.transform", "no_change")

        for f_name, f_type in df.dtypes:
            if f_type == "date":
                df = df.withColumn(f_name, F.date_format(F.col(f_name), date_format))
            elif f_type == "timestamp":
                df = df.withColumn(f_name, F.date_format(F.col(f_name), ts_format))
        if transform == "make_upper":
            df = df.toDF(*[c.upper() for c in df.columns])
        elif transform == "make_lower":
            df = df.toDF(*[c.lower() for c in df.columns])

        # the CSV write job counts the rows: the plan runs once
        df, get_count = counted(df.coalesce(1))

        tmp = tempfile.mkdtemp(prefix="csv_sink_")
        try:
            writer = df.write.mode("overwrite")
            for k, v in opts.items():
                if k.startswith("csv."):
                    writer = writer.option(k[len("csv.") :], v)
            writer.csv(tmp)
            count = get_count()
            parts = glob.glob(os.path.join(tmp, "part-*"))
            if not parts:
                return 0
            pattern = opts.get("file.name.pattern", "@tableName_@infoDate_@timestamp")
            file_name = (
                pattern.replace("@tableName", table_name)
                .replace("@infoDate", info_date.isoformat())
                .replace("@timestamp", str(int(time.time())))
                + ".csv"
            )
            shutil.copy2(parts[0], os.path.join(out_dir, file_name))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return count
