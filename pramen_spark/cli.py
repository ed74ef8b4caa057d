"""Command-line pipeline runner.

Reference: the Runner main + CmdLineConfig
(core/.../cmd/CmdLineConfig.scala:150-265) with the same flags:
``--workflow, --date, --rerun, --date-from/--date-to, --run-mode
fill_gaps|check_updates|force, --ops, --dry-run, --parallel-tasks,
--skip-locked, --undercover``.

Run: ``python -m pramen_spark --workflow pipeline.conf --date 2024-01-10``
"""

from __future__ import annotations

import argparse
import datetime as _dt
import sys
import time
from typing import List, Optional, Sequence, Tuple

from pramen_spark.config.loader import build_jobs, load_workflow
from pramen_spark.metastore.metastore import Metastore
from pramen_spark.notify import NotificationConfig, PipelineNotificationBuilder
from pramen_spark.offsets.cached import CachedOffsetLedger
from pramen_spark.offsets.ledger import OffsetLedger
from pramen_spark.runner.bookkeeper import Bookkeeper, Journal, JsonBookkeeper
from pramen_spark.runner.runner import PipelineRunner
from pramen_spark.scheduling.strategies import RunMode, ScheduleParams


def parse_args(argv: Optional[Sequence[str]] = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="pramen_spark", description="Run a pipeline workflow")
    p.add_argument("--workflow", required=True, help="workflow config file (HOCON/JSON)")
    p.add_argument("--date", help="run date yyyy-MM-dd (default: today)")
    p.add_argument("--rerun", action="store_true", help="force rerun for --date")
    p.add_argument("--date-from", dest="date_from", help="historical run start date")
    p.add_argument("--date-to", dest="date_to", help="historical run end date")
    p.add_argument(
        "--run-mode",
        dest="run_mode",
        choices=[m.value for m in RunMode],
        default=RunMode.CHECK_UPDATES.value,
        help="historical mode: fill_gaps | check_updates | force",
    )
    p.add_argument("--ops", nargs="*", help="run only these operation names")
    p.add_argument("--dry-run", dest="dry_run", action="store_true")
    p.add_argument("--parallel-tasks", dest="parallel_tasks", type=int)
    p.add_argument("--check-late-only", dest="late_only", action="store_true")
    p.add_argument("--check-new-only", dest="new_only", action="store_true")
    p.add_argument("--notification-file", dest="notification_file",
                   help="write the HTML run report here")
    p.add_argument("--skip-locked", dest="skip_locked", action="store_true",
                   help="skip tasks whose (table, infoDate) lock is held by another run")
    p.add_argument("--undercover", action="store_true",
                   help="run without updating bookkeeping or the journal")
    p.add_argument("--force-recreate-hive-tables", dest="force_recreate_hive_tables",
                   action="store_true",
                   help="drop and recreate Hive/catalog tables instead of repairing "
                        "them in place (use after a schema change)")
    return p.parse_args(argv)


def schedule_params(args: argparse.Namespace) -> ScheduleParams:
    run_date = _dt.date.fromisoformat(args.date) if args.date else _dt.date.today()
    if args.date_from and args.date_to:
        return ScheduleParams.historical(
            _dt.date.fromisoformat(args.date_from),
            _dt.date.fromisoformat(args.date_to),
            mode=RunMode(args.run_mode),
        )
    if args.rerun:
        return ScheduleParams.rerun(run_date)
    return ScheduleParams.normal(
        run_date, new_only=args.new_only, late_only=args.late_only
    )


def open_stores(spark, wf) -> Tuple[Bookkeeper, Journal, Optional[CachedOffsetLedger]]:
    """The bookkeeper, run journal and offset ledger the workflow's
    bookkeeping settings name (reference: BookkeeperJdbc /
    BookkeeperDeltaPath / BookkeeperText). The journal and ledger follow
    the bookkeeping backend, as in the reference: JournalJdbc and
    OffsetManagerJdbc share the JDBC config, JournalHadoopDeltaPath shares
    ``pramen.bookkeeping.location``. Without a location nothing persists
    and there is no ledger."""
    if wf.bookkeeping_jdbc_sqlite or wf.bookkeeping_jdbc_factory:
        from pramen_spark.runner.dbapi_bookkeeper import (
            DbApiBookkeeper,
            DbApiConnection,
            DbApiJournal,
            DbApiOffsetLedger,
        )

        factory = None
        if wf.bookkeeping_jdbc_factory:
            from pramen_spark.api import load_class

            factory = load_class(wf.bookkeeping_jdbc_factory)
        db = DbApiConnection(wf.bookkeeping_jdbc_sqlite, factory)
        bookkeeper, journal, ledger = DbApiBookkeeper(db), DbApiJournal(db), DbApiOffsetLedger(db)
    elif wf.bookkeeping_path and wf.bookkeeping_format in ("parquet", "delta"):
        from pramen_spark.offsets.spark_ledger import SparkOffsetLedger
        from pramen_spark.runner.spark_bookkeeper import SparkBookkeeper, SparkJournal

        base = wf.bookkeeping_path.rstrip("/")
        bookkeeper, journal, ledger = (
            SparkBookkeeper(spark, base, wf.bookkeeping_format),
            SparkJournal(spark, f"{base}/journal", wf.bookkeeping_format),
            SparkOffsetLedger(spark, f"{base}/offsets", wf.bookkeeping_format),
        )
    elif wf.bookkeeping_path:
        bookkeeper, journal, ledger = (
            JsonBookkeeper(wf.bookkeeping_path),
            Journal(path=wf.bookkeeping_path + ".journal.jsonl"),
            OffsetLedger(wf.bookkeeping_path + ".offsets.jsonl"),
        )
    else:
        return Bookkeeper(), Journal(), None
    # per-run read-through cache of the min/max offset query (reference
    # core/.../bookkeeper/OffsetManagerCached.scala) — one storage read
    # per (table, info_date) per run for the Spark/DBAPI backends
    return bookkeeper, journal, CachedOffsetLedger(ledger)


def main(argv: Optional[Sequence[str]] = None) -> int:
    args = parse_args(argv)
    wf = load_workflow(args.workflow)

    from pramen_spark.session import build_session

    spark = build_session(app_name=wf.pipeline_name, extra_conf=wf.spark_conf)
    bookkeeper, journal, ledger = open_stores(spark, wf)
    metastore = Metastore(spark, wf.tables, temp_dir=wf.temp_dir)
    jobs = build_jobs(spark, wf, metastore, bookkeeper, ledger=ledger)
    if args.ops:
        wanted = {o.lower() for o in args.ops}
        jobs = [j for j in jobs if j.operation.name.split(":")[0].lower() in wanted]
    params = schedule_params(args)

    if args.dry_run:
        for job in jobs:
            print(f"DRY RUN: would consider {job.name} -> {job.output_table.name}")
        return 0

    batch_id = int(time.time())
    from pramen_spark.notify.targets import HookConfig, PipelineInfo, split_targets

    unnamed_targets, named_targets = split_targets(wf.notification_targets)
    lock = None
    if wf.lock_dir:
        from pramen_spark.runner.bookkeeper import FileTokenLock

        lock = FileTokenLock(wf.lock_dir)
    runner = PipelineRunner(
        metastore,
        bookkeeper,
        journal,
        parallel_tasks=args.parallel_tasks or wf.parallel_tasks,
        batch_id=batch_id,
        skip_locked=args.skip_locked,
        undercover=args.undercover,
        notification_targets=unnamed_targets,
        named_targets=named_targets,
        hook_config=HookConfig(wf.startup_hook_class, wf.shutdown_hook_class),
        pipeline_info=PipelineInfo(
            pipeline_name=wf.pipeline_name,
            environment=wf.environment,
            run_date=params.run_date,
        ),
        lock=lock,
    )
    result = runner.run(jobs, params)

    # register/refresh Hive-exposed tables (MetaTableDef.hiveTable) after the
    # run; --force-recreate-hive-tables drops + recreates instead of repairing
    for tbl in wf.tables:
        if tbl.hive_table:
            from pramen_spark.config.models import FormatKind
            from pramen_spark.metastore.hive import sync_catalog

            if tbl.format.kind != FormatKind.PARQUET or not tbl.format.path:
                # sync_catalog registers the path as raw parquet; pointing it
                # at a Delta/Iceberg root would expose tombstoned files.
                # Those formats are already catalog tables via their own
                # runtime (persistence.py), so path-registration is wrong
                # AND unnecessary for them.
                print(
                    f"WARNING: hive.table on '{tbl.name}' ignored: catalog sync "
                    f"supports parquet path tables, not {tbl.format.kind.value}",
                    file=sys.stderr,
                )
                continue
            try:
                sync_catalog(
                    spark,
                    tbl,
                    database=tbl.hive_database,
                    hive_table=tbl.hive_table,
                    force_recreate=args.force_recreate_hive_tables,
                )
            except Exception as exc:  # hive exposure must not fail the pipeline
                print(f"WARNING: hive sync failed for {tbl.name}: {exc}", file=sys.stderr)

    builder = PipelineNotificationBuilder(
        NotificationConfig(pipeline_name=wf.pipeline_name, environment=wf.environment)
    )
    print(builder.build_text(result.results))
    if args.notification_file:
        builder.write_html(result.results, args.notification_file)
    if wf.mail_config:
        from pramen_spark.notify.email import EmailConfig, EmailSender

        sender = EmailSender(EmailConfig.from_flat(wf.mail_config))
        failed = result.exit_code != 0
        status_word = "FAILED" if failed else "succeeded"
        sender.send(
            subject=f"Pramen pipeline '{wf.pipeline_name}' ({wf.environment}) {status_word}",
            body_html=builder.build_html(result.results),
            pipeline_failed=failed,
        )
    return result.exit_code


if __name__ == "__main__":
    sys.exit(main())
