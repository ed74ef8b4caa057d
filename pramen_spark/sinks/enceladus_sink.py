"""Enceladus-style data-lake sink: versioned date folder layout + _INFO
metadata file.

Reference: extras/.../sink/EnceladusSink.scala:151-330 — writes raw
CSV/parquet into ``{basePath}/{year}/{month}/{day}/v{version}``, generates
a ``_INFO`` JSON control file (extras/.../infofile/InfoFileGeneration.scala)
with record counts and checkpoint metadata, and optionally copies to a
publish folder. The version is auto-detected as max existing version + 1
when not pinned.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
import shutil
from typing import Any, Dict, Optional

from pyspark.sql import DataFrame

from pramen_spark.api import Sink
from pramen_spark.metastore.persistence import counted


def partition_path(
    base_path: str,
    info_date: _dt.date,
    version: int,
    pattern: str = "{year}/{month}/{day}/v{version}",
) -> str:
    rendered = pattern.format(
        year=info_date.year,
        month=f"{info_date.month:02d}",
        day=f"{info_date.day:02d}",
        version=version,
    )
    return os.path.join(base_path, rendered)


def detect_next_version(base_path: str, info_date: _dt.date, pattern: str) -> int:
    """max existing v{n} for the date + 1 (EnceladusSink version detection)."""
    day_dir = os.path.dirname(partition_path(base_path, info_date, 1, pattern))
    if not os.path.isdir(day_dir):
        return 1
    versions = [
        int(m.group(1))
        for name in os.listdir(day_dir)
        if (m := re.fullmatch(r"v(\d+)", name))
    ]
    return max(versions, default=0) + 1


def build_info_file(
    table_name: str,
    info_date: _dt.date,
    version: int,
    record_count: int,
    source_application: str = "pramen_spark",
    country: str = "",
    history_type: str = "Snapshot",
) -> Dict[str, Any]:
    """_INFO control file content (InfoFileGeneration.scala): source +
    raw checkpoints with identical counts at sink time."""
    now = _dt.datetime.now().strftime("%d-%m-%Y %H:%M:%S %z").strip()
    checkpoint = lambda name: {  # noqa: E731
        "name": name,
        "software": source_application,
        "processStartTime": now,
        "processEndTime": now,
        "controls": [
            {
                "controlName": "recordCount",
                "controlType": "controlValue",
                "controlCol": "*",
                "controlValue": str(record_count),
            }
        ],
    }
    return {
        "metadata": {
            "sourceApplication": source_application,
            "country": country,
            "historyType": history_type,
            "dataFilename": "",
            "sourceType": "",
            "version": version,
            "informationDate": info_date.strftime("%d-%m-%Y"),
            "additionalInfo": {"table": table_name},
        },
        "checkpoints": [checkpoint("Source"), checkpoint("Raw")],
    }


class EnceladusSink(Sink):
    """Options:
    - ``path`` (required): base data-lake path
    - ``format``: csv | parquet | json (default csv)
    - ``partition.pattern``: default ``{year}/{month}/{day}/v{version}``
    - ``version``: pin the version (default: auto-detect max+1)
    - ``info.file.generate``: bool (default True)
    - ``publish.base.path``: optional second copy location
    - ``save.empty``: write even when the DataFrame is empty (default True)
    - any ``option.*`` entries pass to the Spark writer
    """

    def send(
        self,
        df: DataFrame,
        table_name: str,
        info_date: _dt.date,
        options: Dict[str, Any],
    ) -> int:
        merged = {**self.options, **options}
        base_path = merged["path"]
        fmt = merged.get("format", "csv")
        pattern = merged.get("partition.pattern", "{year}/{month}/{day}/v{version}")
        version = int(merged.get("version", 0)) or detect_next_version(
            base_path, info_date, pattern
        )
        # save.empty = false needs the count before the write; otherwise
        # the write job counts the rows: the plan runs once
        count = None
        if not merged.get("save.empty", True):
            count = df.count()
            if count == 0:
                return 0
        df, get_count = counted(df) if count is None else (df, lambda: count)
        out_path = partition_path(base_path, info_date, version, pattern)
        writer = df.write.mode("overwrite").format(fmt)
        for k, v in merged.items():
            if k.startswith("option."):
                writer = writer.option(k[len("option.") :], v)
        writer.save(out_path)
        count = get_count()
        if merged.get("info.file.generate", True):
            info = build_info_file(table_name, info_date, version, count)
            with open(os.path.join(out_path, "_INFO"), "w") as f:
                json.dump(info, f, indent=2)
        publish = merged.get("publish.base.path")
        if publish:
            pub_path = partition_path(publish, info_date, version, pattern)
            if os.path.isdir(pub_path):
                shutil.rmtree(pub_path)
            shutil.copytree(out_path, pub_path)
        return count
