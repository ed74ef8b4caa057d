"""Command-line sink: optionally materialize data, then run a templated
shell command; non-zero exit fails the task.

Reference: core/.../sink/CmdLineSink.scala:118-267. Template variables:
``@infoDate``, ``@infoMonth``, ``@tableName``, ``@dataPath``, ``@bucket``
(subset: the local-FS relevant ones).
"""

from __future__ import annotations

import datetime as _dt
import shlex
import subprocess
import tempfile
from typing import Any, Dict

from pyspark.sql import DataFrame

from pramen_spark.api import Sink
from pramen_spark.metastore.persistence import counted


class CmdLineSink(Sink):
    """Options:
    - ``cmd.line``: the command template (required)
    - ``format``: if set, data is written to a temp dir first and
      ``@dataPath`` points at it
    - ``include.log.lines``: how many output lines to retain (default 1000)
    """

    def __init__(self, spark, options=None):
        super().__init__(spark, options)
        self.last_output: str = ""

    def send(self, df: DataFrame, table_name: str, info_date: _dt.date, options: Dict[str, Any]) -> int:
        opts = {**self.options, **options}
        cmd_template = opts.get("cmd.line", opts.get("cmd"))
        if not cmd_template:
            raise ValueError("CmdLineSink requires the 'cmd.line' option")

        data_path = ""
        if opts.get("format"):
            # the write job counts the rows: the plan runs once
            df, get_count = counted(df)
            data_path = tempfile.mkdtemp(prefix="cmd_sink_")
            df.write.mode("overwrite").format(opts["format"]).save(data_path)
            count = get_count()
        else:
            count = df.count()

        cmd = (
            cmd_template.replace("@infoDate", info_date.isoformat())
            .replace("@infoMonth", info_date.strftime("%Y-%m"))
            .replace("@tableName", table_name)
            .replace("@dataPath", data_path)
        )
        max_lines = int(opts.get("include.log.lines", 1000))
        proc = subprocess.run(
            shlex.split(cmd), capture_output=True, text=True, timeout=int(opts.get("timeout", 600))
        )
        self.last_output = "\n".join(
            (proc.stdout + "\n" + proc.stderr).strip().splitlines()[-max_lines:]
        )
        if proc.returncode != 0:
            raise RuntimeError(
                f"Command exited with {proc.returncode}: {cmd}\n{self.last_output}"
            )
        return count
