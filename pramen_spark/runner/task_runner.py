"""Task runner: executes one (job, info_date) task through the reference's
state machine and decoration order.

Reference (core/.../runner/task/TaskRunnerBase.scala:137-490):

    acquire lock(table, infoDate) -> preRunCheck -> validate -> run ->
    [schema-check, processing-timestamp, info-date column, batch-id column,
     transformations, filters, projection] -> save -> bookkeeping
    (record count, schema drift) -> journal -> release lock

Statuses follow api/.../status/RunStatus.scala.
"""

from __future__ import annotations

import datetime as _dt
import json
import time
import traceback
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Dict, List, Optional

from pramen_spark.config.models import FieldChange
from pramen_spark.operators.rowlevel import apply_decorations, compare_schemas
from pramen_spark.operators.validation import DISTINCT_KINDS, expectation_aggregates
from pramen_spark.runner.bookkeeper import Bookkeeper, Journal, JournalEntry, TokenLock
from pramen_spark.runner.jobs import Job, JobPreRunStatus
from pramen_spark.scheduling.strategies import TaskPreDef, TaskRunReason


def _clear_job_group(sc) -> None:
    """Detach the current thread from its Spark job group.

    ``SparkContext.clearJobGroup()`` was removed in PySpark 4
    (SPARK-44101); clearing the thread-local properties that
    ``setJobGroup`` sets is the documented replacement.  Without this,
    every watchdog worker thread died on ``AttributeError`` after boxing
    its result (silent in normal runs, visible as
    PytestUnhandledThreadExceptionWarning in test runs)."""
    if hasattr(sc, "clearJobGroup"):  # PySpark < 4
        sc.clearJobGroup()
    else:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


class RunStatus(str, Enum):
    SUCCEEDED = "succeeded"
    FAILED = "failed"
    SKIPPED = "skipped"
    NO_DATA = "no_data"
    INSUFFICIENT_DATA = "insufficient_data"
    VALIDATION_FAILED = "validation_failed"
    NOT_RAN = "not_ran"


@dataclass
class TaskResult:
    job_name: str
    table_name: str
    info_date: _dt.date
    status: RunStatus
    reason: TaskRunReason
    records: int = 0
    elapsed_sec: float = 0.0
    error: str = ""
    warnings: List[str] = field(default_factory=list)
    schema_changes: List[FieldChange] = field(default_factory=list)

    @property
    def is_failure(self) -> bool:
        return self.status in (
            RunStatus.FAILED,
            RunStatus.NO_DATA,
            RunStatus.INSUFFICIENT_DATA,
            RunStatus.VALIDATION_FAILED,
        )


class TaskRunner:
    def __init__(
        self,
        bookkeeper: Bookkeeper,
        journal: Optional[Journal] = None,
        batch_id: Optional[int] = None,
        lock_timeout_sec: float = 600.0,
        skip_locked: bool = False,
        undercover: bool = False,
        lock=None,
    ):
        self.bookkeeper = bookkeeper
        self.journal = journal or Journal()
        self.batch_id = batch_id if batch_id is not None else int(time.time() * 1000)
        self.lock_timeout_sec = lock_timeout_sec
        # lock provider with acquire(token, timeout) / release(token):
        # in-process TokenLock by default; FileTokenLock when the pipeline
        # configures pramen.lock.dir (multi-driver deployments, reference
        # core/.../lock/TokenLockHadoopPath.scala)
        self.lock = lock if lock is not None else TokenLock
        # --skip-locked: a held lock means another process is already working
        # on (table, infoDate) -> skip instead of fail (CmdLineConfig.scala)
        self.skip_locked = skip_locked
        # --undercover: run without recording to bookkeeping/journal
        # (RuntimeConfig.isUndercover)
        self.undercover = undercover

    def run_task(self, job: Job, task: TaskPreDef) -> TaskResult:
        info_date = task.info_date
        table = job.output_table.name
        started = time.time()

        def result(status: RunStatus, **kw) -> TaskResult:
            res = TaskResult(
                job_name=job.name,
                table_name=table,
                info_date=info_date,
                status=status,
                reason=task.reason,
                elapsed_sec=time.time() - started,
                **kw,
            )
            if not self.undercover:
                self.journal.add(
                    JournalEntry(
                        table_name=table,
                        info_date=info_date.isoformat(),
                        status=status.value,
                        started=started,
                        finished=time.time(),
                        records=res.records,
                        reason=task.reason.value,
                        error=res.error,
                    )
                )
            return res

        if task.reason == TaskRunReason.SKIP:
            return result(RunStatus.SKIPPED, error=task.skip_note)

        token = f"{table}:{info_date.isoformat()}"
        if not self.lock.acquire(token, 0.0 if self.skip_locked else self.lock_timeout_sec):
            if self.skip_locked:
                return result(
                    RunStatus.SKIPPED, error=f"Skipped: {token} is locked by another run"
                )
            return result(RunStatus.FAILED, error=f"Could not acquire lock for {token}")
        try:
            return self._run_locked(job, task, started, result)
        finally:
            self.lock.release(token)

    def _run_locked(self, job: Job, task: TaskPreDef, started: float, result) -> TaskResult:
        info_date = task.info_date
        table = job.output_table.name

        # 1. pre-run check (IngestionJob.scala:71-140)
        try:
            pre = job.pre_run_check(info_date, task.reason)
        except Exception as e:
            return result(RunStatus.FAILED, error=f"Pre-run check failed: {e}")
        if pre.status == JobPreRunStatus.ALREADY_RAN and task.reason not in (
            TaskRunReason.RERUN,
            TaskRunReason.UPDATE,
        ):
            return result(RunStatus.SKIPPED, error="Data has not changed since the last run")
        if pre.status == JobPreRunStatus.SKIP:
            return result(RunStatus.SKIPPED, error=pre.message)
        if pre.status == JobPreRunStatus.NO_DATA:
            return result(RunStatus.NO_DATA, error=pre.message)
        if pre.status == JobPreRunStatus.INSUFFICIENT_DATA:
            return result(RunStatus.INSUFFICIENT_DATA, error=pre.message)

        # 2. validate
        try:
            reason = job.validate(info_date)
        except Exception as e:
            return result(RunStatus.VALIDATION_FAILED, error=str(e))
        if reason.kind == "skip":
            return result(RunStatus.SKIPPED, error=reason.message)
        if not reason.is_ready:
            return result(RunStatus.VALIDATION_FAILED, error=reason.message)
        warnings = list(reason.warnings)

        # 3. run + decorate + save, with retries
        # (pramen.runtime.max.attempts, core/.../RuntimeConfig.scala:80)
        max_attempts = max(1, int(job.operation.options.get("max.attempts", 1)))
        warn_sec = float(job.operation.options.get("warn.maximum.execution.time.seconds", 0) or 0)
        kill_sec = float(job.operation.options.get("kill.maximum.execution.time.seconds", 0) or 0)
        for attempt in range(1, max_attempts + 1):
            res = self._attempt_watched(
                job, task, started, result, pre, warnings, warn_sec, kill_sec
            )
            if res.status != RunStatus.FAILED or attempt == max_attempts:
                if attempt > 1 and res.status == RunStatus.SUCCEEDED:
                    res.warnings.append(f"Succeeded on attempt {attempt}/{max_attempts}")
                return res
        return res  # unreachable

    def _attempt_watched(
        self, job, task, started, result, pre, warnings, warn_sec: float, kill_sec: float
    ) -> TaskResult:
        """Execution-time watchdog around one attempt
        (``warn.maximum.execution.time.seconds`` /
        ``kill.maximum.execution.time.seconds``, reference
        core/.../pipeline/OperationDef.scala:48-49 + utils/ThreadUtils.scala).

        warn: a task exceeding the warn threshold gets a warning in its
        result (surfaces in the notification report).  kill: the attempt
        runs in a worker thread under its own Spark job group; on timeout
        the job group is CANCELLED (Python threads cannot be interrupted,
        but cancelling the group aborts the in-flight Spark actions, so
        the worker raises and exits instead of continuing to write
        concurrently with a retry or another driver), then the task is
        FAILED."""
        import threading
        import uuid

        attempt_start = time.time()
        if kill_sec <= 0:
            res = self._attempt(job, task, started, result, pre, warnings)
        else:
            box: dict = {}
            spark = getattr(getattr(job, "metastore", None), "spark", None)
            group_id = f"pramen-kill-{job.name}-{uuid.uuid4().hex[:8]}"

            def work():
                # job groups are thread-local: tag this attempt's Spark
                # actions so the watchdog can abort exactly these
                if spark is not None:
                    spark.sparkContext.setJobGroup(group_id, f"attempt {job.name}", True)
                try:
                    box["res"] = self._attempt(job, task, started, result, pre, warnings)
                finally:
                    if spark is not None:
                        _clear_job_group(spark.sparkContext)

            t = threading.Thread(target=work, daemon=True, name=f"attempt-{job.name}")
            t.start()
            t.join(timeout=kill_sec)
            if t.is_alive():
                if spark is not None:
                    spark.sparkContext.cancelJobGroup(group_id)
                    # short grace so the aborted Spark action can unwind
                    # before a retry or lock release; a worker stuck in
                    # plain Python (not a Spark action) stays abandoned,
                    # but its Spark writes are already cancelled
                    t.join(timeout=5.0)
                return result(
                    RunStatus.FAILED,
                    error=(
                        f"Killed: execution time exceeded "
                        f"kill.maximum.execution.time.seconds={kill_sec:g} "
                        f"(ran {time.time() - attempt_start:.1f}s)"
                    ),
                )
            res = box.get("res") or result(RunStatus.FAILED, error="Attempt thread died")
        # warn clock is per-attempt: lock waiting and earlier failed
        # attempts must not tag a fast attempt with the warning
        attempt_sec = time.time() - attempt_start
        if warn_sec > 0 and attempt_sec > warn_sec:
            res.warnings.append(
                f"Execution time {attempt_sec:.1f}s exceeded "
                f"warn.maximum.execution.time.seconds={warn_sec:g}"
            )
        return res

    def _attempt(self, job: Job, task: TaskPreDef, started, result, pre, warnings) -> TaskResult:
        info_date = task.info_date
        table = job.output_table.name
        persisted_df = None
        try:
            # context for jobs that need it (incremental ingestion)
            job.current_batch_id = self.batch_id
            job._rerun = task.reason == TaskRunReason.RERUN
            df = job.run(info_date)

            op = job.operation

            # 3a. config-declared skew guard: profile -> decide -> act
            # (salted plan only when the key histogram is actually hot);
            # the decision note lands in the task result warnings so
            # every run documents which plan shape executed.
            if op.skew_guard:
                from pramen_spark.operators.skew import apply_skew_guard

                right_df = None
                right_table = op.skew_guard.get("right_table")
                if op.skew_guard.get("action") == "join" and right_table:
                    right_df = job.metastore.get_reader(
                        [right_table], info_date
                    ).get_table(right_table)
                df, note = apply_skew_guard(df, op.skew_guard, right_df)
                warnings = list(warnings) + [note]

            incremental = op.schedule.kind.value == "incremental"
            df = apply_decorations(
                df,
                info_date=info_date,
                info_date_column=(
                    job.output_table.info_date_column
                    if job.output_table.info_date_column not in ("", None)
                    else None
                ),
                batch_id_column=(job.output_table.batch_id_column if incremental else None),
                batch_id=self.batch_id,
                processing_timestamp_column=op.processing_timestamp_column,
                transformations=op.transformations,
                filters=op.filters,
                columns=op.columns,
                sanitize_columns=True,
            )

            # 3b. data-quality expectations gate (beyond the reference: a
            # failing table never reaches the metastore). Where the output
            # is staged, the rule aggregates ride on the write job and the
            # gate decides before the commit; elsewhere the decorated plan
            # is persisted across gate + save, so the upstream input is
            # computed once per publish either way.
            gate = _ExpectationGate(op.expectations, op.expectations_action) if op.expectations else None
            staged = gate is not None and job.stages_output
            if gate is not None and not staged:
                from pyspark.storagelevel import StorageLevel

                df = persisted_df = df.persist(StorageLevel.MEMORY_AND_DISK)
                gate.check(df)

            # 4. schema drift tracking (TaskRunnerBase.scala:601-625)
            schema_changes: List[FieldChange] = []
            old_schema_json = self.bookkeeper.get_latest_schema(table, info_date)
            new_schema = df.schema
            if old_schema_json is not None:
                from pyspark.sql import types as T

                old_schema = T.StructType.fromJson(old_schema_json)
                schema_changes = compare_schemas(old_schema, new_schema)
            save_schema = old_schema_json is None or bool(schema_changes)

            # 5. save (the Spark action happens here)
            if staged:
                write_result = job.save(df, info_date, observe=gate.observed, decide=gate.decide)
            else:
                write_result = job.save(df, info_date)

            if not self.undercover:
                if save_schema:
                    self.bookkeeper.save_schema(table, info_date, json.dumps(new_schema.jsonValue()))
                self.bookkeeper.set_record_count(
                    table,
                    info_date,
                    input_record_count=pre.input_record_count or write_result.records,
                    output_record_count=write_result.records,
                    job_started=started,
                    job_finished=time.time(),
                    batch_id=self.batch_id,
                )
            return result(
                RunStatus.SUCCEEDED,
                records=write_result.records,
                warnings=warnings + (gate.warnings if gate is not None else []),
                schema_changes=schema_changes,
            )
        except ExpectationsFailed as e:
            return result(RunStatus.FAILED, error=str(e))
        except Exception:
            return result(RunStatus.FAILED, error=traceback.format_exc(limit=20))
        finally:
            if persisted_df is not None:
                try:
                    persisted_df.unpersist()
                except Exception:
                    pass


class ExpectationsFailed(Exception):
    """A ``fail``-action expectations gate rejected the task's output."""


class _ExpectationGate:
    """One task's data-quality expectations (``validate_expectations``
    rules) and what a failure does: ``fail`` raises ``ExpectationsFailed``,
    ``warn`` adds the message to ``warnings``."""

    def __init__(self, expectations: List[dict], action: str):
        self.rules = [
            (
                str(e.get("name", f"rule_{i}")),
                str(e.get("kind", "predicate")),
                {k: v for k, v in e.items() if k not in ("name", "kind")},
            )
            for i, e in enumerate(expectations)
        ]
        self.fail = action != "warn"
        self.warnings: List[str] = []
        self._distinct = [r for r in self.rules if r[1] in DISTINCT_KINDS]
        aggregates = expectation_aggregates(self.rules)
        self.observed = [a for r, a in zip(self.rules, aggregates) if r[1] not in DISTINCT_KINDS]

    def check(self, df) -> None:
        """Gate ``df`` before it is written: every rule in one job."""
        self._judge(self._report(df, self.rules))

    def decide(self, metrics: Dict[str, Any], staged) -> None:
        """Gate a staged write: ``observed`` rules from the write's
        metrics, the rules that count distinct values (which cannot be
        observed) in one job over the ``staged`` files."""
        violations = {name: metrics[name] for name, kind, _ in self.rules if kind not in DISTINCT_KINDS}
        if self._distinct:
            violations.update(self._report(staged, self._distinct))
        self._judge(violations)

    @staticmethod
    def _report(df, rules) -> Dict[str, int]:
        from pramen_spark.operators import validation

        return {r.rule: r.violations for r in validation.validate_expectations(df, rules).collect()}

    def _judge(self, violations: Dict[str, Optional[int]]) -> None:
        failed = [f"{name} ({violations[name]} violations)" for name, _, _ in self.rules if violations[name]]
        if not failed:
            return
        msg = "Expectations failed: " + "; ".join(failed)
        if self.fail:
            raise ExpectationsFailed(msg)
        self.warnings.append(msg)
