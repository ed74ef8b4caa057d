"""Spans around calls into the program's layers, for the traced run only.

``Tracer.install()`` wraps public functions and methods of the pipeline
modules (scheduling, runner, bookkeeping, sources, metastore, offsets,
sinks, operators, config) so each call records a span: layer, name, start,
end, parent span and thread. The workloads add their own spans (one per
catalog query phase or pipeline phase) through ``Tracer.span``. Spans stay
in memory until ``write`` dumps them as JSON at exit. ``uninstall`` restores
every wrapped attribute.

A layer's busy time counts only its outermost spans, so a bookkeeper method
that calls another bookkeeper method is not counted twice.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict

from workloads import FAILED_STATUSES


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.trace_id = ""  # the query or pipeline phase being measured
        self.spark_context = None  # set to tag each pipeline task's jobs

    # --- spans ---

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": stack[-1]["id"] if stack else None,
            "trace": self.trace_id,
            "layer": layer,
            "name": name,
            "thread": threading.get_ident(),
            "outermost": all(s["layer"] != layer for s in stack),
            "start": time.perf_counter(),
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def count(self, key: str) -> None:
        with self._lock:
            self.counts[key] += 1

    def busy_s(self, layer: str) -> float:
        """Time covered by the outermost spans of ``layer``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["layer"] == layer and s["outermost"])

    def calls(self, layer: str) -> int:
        return sum(1 for s in self.spans if s["layer"] == layer and s["outermost"])

    # --- wrappers ---

    def wrap(self, owner, attr: str, layer: str, on_result=None, on_call=None) -> None:
        """Replace the function ``owner.attr`` (a module function or a plain
        method) with a span-recording wrapper."""
        fn = getattr(owner, attr) if not isinstance(owner, type) else vars(owner)[attr]
        label = f"{owner.__name__}.{attr}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if on_call is not None:
                on_call()
            with tracer.span(layer, label):
                out = fn(*args, **kwargs)
            if on_result is not None:
                out = on_result(out)
            return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, fn))

    def wrap_public(self, cls, layer: str, names=None) -> None:
        """Wrap every public function defined on ``cls`` itself."""
        for attr, value in list(vars(cls).items()):
            if not attr.startswith("_") and callable(value) and (names is None or attr in names):
                self.wrap(cls, attr, layer)

    def install(self) -> None:
        from pramen_spark import cli
        from pramen_spark.metastore.metastore import Metastore
        from pramen_spark.offsets.cached import CachedOffsetLedger
        from pramen_spark.operators import validation
        from pramen_spark.runner import task_runner
        from pramen_spark.runner.bookkeeper import Bookkeeper
        from pramen_spark.runner.runner import ResourcePool
        from pramen_spark.runner.spark_bookkeeper import SparkBookkeeper, SparkJournal
        from pramen_spark.scheduling.strategies import (
            ScheduleStrategyIncremental,
            ScheduleStrategySourcing,
        )
        from pramen_spark.sinks.local_csv_sink import LocalCsvSink
        from pramen_spark.api import Source
        from pramen_spark.sources.jdbc_native_source import JdbcNativeSource
        from pramen_spark.sources.spark_source import SparkSource

        self.wrap(cli, "load_workflow", "config")
        self.wrap(cli, "build_jobs", "config")
        self.wrap(ScheduleStrategySourcing, "get_days_to_run", "scheduling")
        self.wrap(ScheduleStrategyIncremental, "get_days_to_run", "scheduling")
        self.wrap(task_runner.TaskRunner, "run_task", "runner",
                  on_call=self._tag_jobs, on_result=self._task_result)
        self.wrap(ResourcePool, "acquire", "runner.pool")
        self.wrap_public(Bookkeeper, "bookkeeper")
        self.wrap_public(SparkBookkeeper, "bookkeeper")
        self.wrap_public(SparkJournal, "journal")
        self.wrap(Source, "get_record_count", "sources.count")
        self.wrap(JdbcNativeSource, "get_record_count", "sources.count")
        for cls in (SparkSource, JdbcNativeSource):
            self.wrap(cls, "get_data", "sources.get_data")
            self.wrap(cls, "get_data_incremental", "sources.get_data")
        self.wrap(Metastore, "save_table", "metastore.save")
        self.wrap(Metastore, "get_table", "metastore.read")
        self.wrap(Metastore, "get_latest", "metastore.read")
        self.wrap_public(CachedOffsetLedger, "offsets",
                         names={"start_write", "commit", "get_offsets",
                                "get_max_info_date_and_offset", "get_uncommitted"})
        self.wrap(LocalCsvSink, "send", "sinks")
        self.wrap(task_runner, "apply_decorations", "operators.decorate")
        # the gate's report is lazy: time its collect() as part of the gate
        self.wrap(validation, "validate_expectations", "operators.expectations",
                  on_result=self._timed_collect)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def _tag_jobs(self) -> None:
        # runner worker threads do not inherit the caller's job group, so
        # each task sets the phase's group on its own thread
        if self.spark_context is not None:
            self.spark_context.setJobGroup(self.trace_id, self.trace_id)

    def _task_result(self, res):
        self.count("runner.tasks")
        status = getattr(res.status, "value", str(res.status))
        if status in FAILED_STATUSES:
            self.count("runner.tasks_failed")
        elif status == "skipped":
            self.count("runner.tasks_skipped")
        return res

    def _timed_collect(self, df):
        collect = df.collect

        def timed():
            with self.span("operators.expectations", "report.collect"):
                return collect()

        df.collect = timed
        return df

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)
