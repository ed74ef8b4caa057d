"""Raw file source: lists files matching a path or glob pattern with
``{{yyyy-MM-dd}}``-style date tokens; returns a DataFrame of
``[path, file_name]``.

Reference: core/.../source/RawFileSource.scala:86-271
(``getGlobPattern:261`` renders date tokens per day in the range).
"""

from __future__ import annotations

import datetime as _dt
import glob as _glob
import os
import re
from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pramen_spark.api import Source
from pramen_spark.dsl.interpolate import format_date_java
from pramen_spark.session import local_frame

_TOKEN_RE = re.compile(r"\{\{([^}]+)\}\}")

FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("file_name", T.StringType()),
    ]
)


def render_date_pattern(pattern: str, date: _dt.date) -> str:
    """Replace ``{{yyyy-MM-dd}}``-style tokens with the formatted date."""
    return _TOKEN_RE.sub(lambda m: format_date_java(date, m.group(1)), pattern)


class RawFileSource(Source):
    """Query is a path or glob pattern, possibly containing date tokens."""

    def has_info_date_column(self) -> bool:
        return False

    def _list_for_date(self, pattern: str, date: _dt.date) -> List[Tuple[str, str]]:
        rendered = render_date_pattern(pattern, date)
        if os.path.isdir(rendered):
            return [
                (os.path.join(rendered, f), f)
                for f in sorted(os.listdir(rendered))
                if os.path.isfile(os.path.join(rendered, f))
            ]
        return [(p, os.path.basename(p)) for p in sorted(_glob.glob(rendered)) if os.path.isfile(p)]

    def _list_files(self, query: Any, date_from: _dt.date, date_to: _dt.date) -> List[Tuple[str, str]]:
        """``(path, file_name)`` of every file in the range; with date tokens,
        each path once, however many days list it."""
        pattern = query["path"] if isinstance(query, dict) else str(query)
        if not _TOKEN_RE.search(pattern):
            return self._list_for_date(pattern, date_from)
        files: List[Tuple[str, str]] = []
        seen = set()
        d = date_from
        while d <= date_to:
            for item in self._list_for_date(pattern, d):
                if item[0] not in seen:
                    seen.add(item[0])
                    files.append(item)
            d += _dt.timedelta(days=1)
        return files

    def get_data(self, query: Any, date_from: _dt.date, date_to: _dt.date) -> DataFrame:
        return local_frame(self.spark, self._list_files(query, date_from, date_to), FILE_SCHEMA)

    def get_record_count(self, query: Any, date_from: _dt.date, date_to: _dt.date) -> int:
        return len(self._list_files(query, date_from, date_to))
