"""End-to-end pipeline runs on local Spark + real testdata, mirroring the
reference's integration suites (IncrementalPipelineLongFixture et al.)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from pramen_spark.api import IdentityTransformer, Reason, Transformer
from pramen_spark.config.models import (
    DataFormat,
    MetastoreDependency,
    OperationDef,
    Schedule,
    TableConfig,
    TransformExpr,
)
from pramen_spark.metastore.metastore import Metastore
from pramen_spark.runner.bookkeeper import Bookkeeper, Journal
from pramen_spark.runner.jobs import IngestionJob, SinkJob, TransformationJob
from pramen_spark.runner.runner import DependencyResolver, PipelineRunner
from pramen_spark.runner.task_runner import RunStatus, TaskRunner
from pramen_spark.scheduling.strategies import ScheduleParams, TaskPreDef, TaskRunReason
from pramen_spark.sinks.local_csv_sink import LocalCsvSink
from pramen_spark.sources.spark_source import SparkSource

D = dt.date
RUN_DATE = D(2024, 3, 10)


class OrdersDailyRevenue(Transformer):
    """Joins orders x customer, aggregates revenue per mktsegment."""

    def validate(self, metastore, info_date, options):
        if not metastore.is_data_available("orders_bronze"):
            return Reason.not_ready("orders_bronze has no data")
        return Reason.ready()

    def run(self, metastore, info_date, options):
        orders = metastore.get_table("orders_bronze", info_date, info_date)
        customers = metastore.get_table("customer_bronze", info_date, info_date)
        return (
            orders.join(F.broadcast(customers), orders.o_custkey == customers.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
            )
        )


@pytest.fixture()
def pipeline_env(spark, tmp_path, sf_dir):
    ms = Metastore(
        spark,
        [
            TableConfig(name="orders_bronze", format=DataFormat.parquet(str(tmp_path / "orders")),
                        info_date_start=D(2024, 3, 1)),
            TableConfig(name="customer_bronze", format=DataFormat.parquet(str(tmp_path / "customer")),
                        info_date_start=D(2024, 3, 1)),
            TableConfig(name="revenue_gold", format=DataFormat.parquet(str(tmp_path / "revenue")),
                        info_date_start=D(2024, 3, 1)),
            TableConfig(name="csv_out", format=DataFormat.null(), info_date_start=D(2024, 3, 1)),
        ],
        temp_dir=str(tmp_path / "tmp"),
    )
    bk = Bookkeeper()
    return ms, bk, tmp_path


def make_jobs(spark, ms, bk, sf_dir, tmp_path):
    src = SparkSource(spark, {"format": "parquet"})
    ingest_orders = IngestionJob(
        OperationDef(name="ingest_orders", kind="ingestion", output_table="orders_bronze"),
        ms, bk, ms.table_config("orders_bronze"),
        src, {"path": f"{sf_dir}/orders.parquet"},
    )
    ingest_customer = IngestionJob(
        OperationDef(name="ingest_customer", kind="ingestion", output_table="customer_bronze"),
        ms, bk, ms.table_config("customer_bronze"),
        src, {"path": f"{sf_dir}/customer.parquet"},
    )
    transform = TransformationJob(
        OperationDef(
            name="revenue",
            kind="transformation",
            output_table="revenue_gold",
            input_tables=["orders_bronze", "customer_bronze"],
            dependencies=[MetastoreDependency(tables=["orders_bronze", "customer_bronze"])],
        ),
        ms, bk, ms.table_config("revenue_gold"),
        OrdersDailyRevenue(),
    )
    sink = SinkJob(
        OperationDef(
            name="csv_export",
            kind="sink",
            output_table="csv_out",
            input_tables=["revenue_gold"],
            dependencies=[MetastoreDependency(tables=["revenue_gold"])],
        ),
        ms, bk, ms.table_config("csv_out"),
        LocalCsvSink(spark, {"path": str(tmp_path / "csv"), "csv.header": "true"}),
        "revenue_gold",
    )
    return [ingest_orders, ingest_customer, transform, sink]


class TestPipelineEndToEnd:
    def test_full_pipeline(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env
        jobs = make_jobs(spark, ms, bk, sf_dir, tmp_path)
        runner = PipelineRunner(ms, bk, parallel_tasks=4)
        result = runner.run(jobs, ScheduleParams.normal(RUN_DATE))

        assert result.failed == 0, [(r.table_name, r.status, r.error) for r in result.results]
        assert result.exit_code == 0

        # metastore content is correct
        gold = ms.get_table("revenue_gold", RUN_DATE, RUN_DATE)
        rows = {r["c_mktsegment"]: r["n_orders"] for r in gold.collect()}
        assert len(rows) == 5
        assert sum(rows.values()) == 1500  # sf0.001 orders

        # CSV sink produced a file
        csv_files = os.listdir(str(tmp_path / "csv"))
        assert len(csv_files) == 1
        assert csv_files[0].startswith("revenue_gold_2024-03-10_")

        # bookkeeping has chunks for all tables
        assert bk.get_latest_processed_date("orders_bronze") == RUN_DATE
        assert bk.get_latest_processed_date("revenue_gold") == RUN_DATE

    def test_full_pipeline_on_file_uris(self, spark, tmp_path, sf_dir):
        """Metastore, bookkeeping and journal at ``file:///`` URIs, the form
        ``hdfs://`` and ``s3a://`` locations take: every file-system call
        goes through Hadoop, so dates are found, not silently missed."""
        from pramen_spark.runner.spark_bookkeeper import SparkBookkeeper, SparkJournal

        root = tmp_path.as_uri()
        ms = Metastore(
            spark,
            [
                TableConfig(name=n, format=DataFormat.parquet(f"{root}/{d}"), info_date_start=D(2024, 3, 1))
                for n, d in (("orders_bronze", "orders"), ("customer_bronze", "customer"),
                             ("revenue_gold", "revenue"))
            ] + [TableConfig(name="csv_out", format=DataFormat.null(), info_date_start=D(2024, 3, 1))],
            temp_dir=f"{root}/tmp",
        )
        bk = SparkBookkeeper(spark, f"{root}/bookkeeping")
        journal = SparkJournal(spark, f"{root}/journal")
        jobs = make_jobs(spark, ms, bk, sf_dir, tmp_path)
        result = PipelineRunner(ms, bk, journal=journal, parallel_tasks=4).run(
            jobs, ScheduleParams.normal(RUN_DATE))
        assert result.failed == 0, [(r.table_name, r.status, r.error) for r in result.results]

        for table in ("orders_bronze", "customer_bronze", "revenue_gold"):
            assert ms.get_latest_available_date(table) == RUN_DATE
            assert ms.is_data_available(table, RUN_DATE, RUN_DATE)
        gold = ms.get_table("revenue_gold", RUN_DATE, RUN_DATE)
        assert sum(r["n_orders"] for r in gold.collect()) == 1500
        # a fresh bookkeeper on the same location sees the run
        assert SparkBookkeeper(spark, f"{root}/bookkeeping").get_latest_processed_date(
            "revenue_gold") == RUN_DATE
        assert {e.table_name for e in journal.get_entries(0, 2e9)} >= {"orders_bronze", "revenue_gold"}

    def test_notification_targets_and_hooks(self, spark, pipeline_env, sf_dir, tmp_path):
        import json as _json
        import sys

        from pramen_spark.notify.targets import (
            FileNotificationTarget,
            HookConfig,
            PipelineInfo,
        )

        ms, bk, env_tmp = pipeline_env
        jobs = make_jobs(spark, ms, bk, sf_dir, env_tmp)
        notif_path = str(tmp_path / "notifications.jsonl")
        marker = tmp_path / "hooks.out"
        (tmp_path / "hookmod.py").write_text(
            "class StartHook:\n"
            f"    def run(self): open({str(marker)!r}, 'a').write('start\\n')\n"
            "class StopHook:\n"
            f"    def run(self): open({str(marker)!r}, 'a').write('stop\\n')\n"
        )
        sys.path.insert(0, str(tmp_path))
        try:
            runner = PipelineRunner(
                ms, bk, parallel_tasks=4,
                notification_targets=[FileNotificationTarget({"path": notif_path})],
                hook_config=HookConfig("hookmod.StartHook", "hookmod.StopHook"),
                pipeline_info=PipelineInfo(pipeline_name="e2e", run_date=RUN_DATE),
            )
            result = runner.run(jobs, ScheduleParams.normal(RUN_DATE))
        finally:
            sys.path.remove(str(tmp_path))

        assert result.failed == 0
        assert marker.read_text() == "start\nstop\n"
        recs = [_json.loads(l) for l in open(notif_path)]
        kinds = [r["kind"] for r in recs]
        assert kinds.count("task") == len(result.results)
        assert kinds[-1] == "pipeline"
        pipe = recs[-1]
        assert pipe["pipeline"] == "e2e" and pipe["exit_code"] == 0
        assert len(pipe["tasks"]) == len(result.results)
        assert all(t["status"] == "succeeded" for t in pipe["tasks"])

    def test_named_targets_route_per_operation(self, spark, pipeline_env, sf_dir, tmp_path):
        import json as _json

        from pramen_spark.notify.targets import FileNotificationTarget

        ms, bk, env_tmp = pipeline_env
        jobs = make_jobs(spark, ms, bk, sf_dir, env_tmp)
        # only the transform operation names the target
        for job in jobs:
            if job.operation.name == "revenue":
                job.operation.notification_targets = ("audit",)
        path = str(tmp_path / "audit.jsonl")
        runner = PipelineRunner(
            ms, bk, parallel_tasks=4,
            named_targets={"audit": FileNotificationTarget({"path": path})},
        )
        result = runner.run(jobs, ScheduleParams.normal(RUN_DATE))
        assert result.failed == 0
        recs = [_json.loads(l) for l in open(path)]
        tasks = [r for r in recs if r["kind"] == "task"]
        assert len(tasks) == 1 and tasks[0]["table"] == "revenue_gold"
        # named targets still get the pipeline summary
        assert [r["kind"] for r in recs].count("pipeline") == 1

    def test_notification_target_config_loading(self, tmp_path):
        from pramen_spark.config.loader import load_workflow
        from pramen_spark.notify.targets import (
            FileNotificationTarget,
            load_notification_targets,
        )

        wf = load_workflow({"pramen": {
            "pipeline": {"name": "p"},
            "hook": {"startup": {"class": "a.B"}, "shutdown": {"class": "c.D"}},
            "notification": {"targets": [{
                "factory.class":
                    "pramen_spark.notify.targets.FileNotificationTarget",
                "path": str(tmp_path / "n.jsonl"),
            }]},
        }})
        assert wf.startup_hook_class == "a.B"
        assert wf.shutdown_hook_class == "c.D"
        targets = load_notification_targets(wf.notification_targets)
        assert len(targets) == 1 and isinstance(targets[0], FileNotificationTarget)
        assert targets[0].options["path"].endswith("n.jsonl")

    def test_rerun_is_idempotent(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env
        jobs = make_jobs(spark, ms, bk, sf_dir, tmp_path)
        runner = PipelineRunner(ms, bk, parallel_tasks=2)
        r1 = runner.run(jobs, ScheduleParams.normal(RUN_DATE))
        assert r1.failed == 0
        r2 = runner.run(jobs[:3], ScheduleParams.rerun(RUN_DATE))
        assert r2.failed == 0
        gold = ms.get_table("revenue_gold", RUN_DATE, RUN_DATE)
        assert gold.groupBy("c_mktsegment").count().count() == 5  # no duplicates

    def test_dependency_order_and_failure_propagation(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env

        class Exploding(Transformer):
            def run(self, metastore, info_date, options):
                raise RuntimeError("boom")

        jobs = make_jobs(spark, ms, bk, sf_dir, tmp_path)
        jobs[2] = TransformationJob(
            jobs[2].operation, ms, bk, ms.table_config("revenue_gold"), Exploding()
        )
        runner = PipelineRunner(ms, bk, parallel_tasks=4)
        result = runner.run(jobs, ScheduleParams.normal(RUN_DATE))
        by_table = {r.table_name: r.status for r in result.results}
        assert by_table["revenue_gold"] == RunStatus.FAILED
        assert by_table["csv_out"] == RunStatus.NOT_RAN  # downstream skipped
        assert by_table["orders_bronze"] == RunStatus.SUCCEEDED

    def test_cycle_detection(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env
        op_a = OperationDef(name="a", kind="transformation", output_table="orders_bronze",
                            input_tables=["revenue_gold"])
        op_b = OperationDef(name="b", kind="transformation", output_table="revenue_gold",
                            input_tables=["orders_bronze"])
        job_a = TransformationJob(op_a, ms, bk, ms.table_config("orders_bronze"), IdentityTransformer())
        job_b = TransformationJob(op_b, ms, bk, ms.table_config("revenue_gold"), IdentityTransformer())
        with pytest.raises(ValueError, match="cycle"):
            DependencyResolver([job_a, job_b])


class TestTaskRunnerStateMachine:
    def test_skip_if_unchanged(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env
        jobs = make_jobs(spark, ms, bk, sf_dir, tmp_path)
        tr = TaskRunner(bk)
        t = TaskPreDef(RUN_DATE, TaskRunReason.NEW)
        r1 = tr.run_task(jobs[0], t)
        assert r1.status == RunStatus.SUCCEEDED
        # same source count -> ALREADY_RAN -> skipped
        r2 = tr.run_task(jobs[0], t)
        assert r2.status == RunStatus.SKIPPED
        # but a rerun forces it
        r3 = tr.run_task(jobs[0], TaskPreDef(RUN_DATE, TaskRunReason.RERUN))
        assert r3.status == RunStatus.SUCCEEDED

    def test_validation_failure(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env

        class NeverReady(Transformer):
            def validate(self, metastore, info_date, options):
                return Reason.not_ready("nope")

            def run(self, metastore, info_date, options):
                raise AssertionError("must not run")

        job = TransformationJob(
            OperationDef(name="x", kind="transformation", output_table="revenue_gold"),
            ms, bk, ms.table_config("revenue_gold"), NeverReady(),
        )
        r = TaskRunner(bk).run_task(job, TaskPreDef(RUN_DATE, TaskRunReason.NEW))
        assert r.status == RunStatus.VALIDATION_FAILED
        assert "nope" in r.error

    def test_expectations_gate_blocks_bad_output(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env
        src = SparkSource(spark, {"format": "parquet"})
        # o_totalprice <= 100 is violated by real data -> the gate must
        # fail the task BEFORE anything lands in the metastore
        job = IngestionJob(
            OperationDef(
                name="gated",
                kind="ingestion",
                output_table="orders_bronze",
                expectations=[
                    {"name": "price_cap", "kind": "in_range",
                     "col": "o_totalprice", "lo": 0, "hi": 100},
                ],
            ),
            ms, bk, ms.table_config("orders_bronze"),
            src, {"path": f"{sf_dir}/orders.parquet"},
        )
        r = TaskRunner(bk).run_task(job, TaskPreDef(RUN_DATE, TaskRunReason.NEW))
        assert r.status == RunStatus.FAILED
        assert "price_cap" in r.error and "violations" in r.error
        assert not ms.is_data_available("orders_bronze", RUN_DATE, RUN_DATE)

    def test_expectations_warn_mode_writes_with_warning(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env
        src = SparkSource(spark, {"format": "parquet"})
        job = IngestionJob(
            OperationDef(
                name="gated_warn",
                kind="ingestion",
                output_table="orders_bronze",
                expectations=[
                    {"name": "price_cap", "kind": "in_range",
                     "col": "o_totalprice", "lo": 0, "hi": 100},
                    {"name": "key_not_null", "kind": "not_null",
                     "col": "o_orderkey"},
                ],
                expectations_action="warn",
            ),
            ms, bk, ms.table_config("orders_bronze"),
            src, {"path": f"{sf_dir}/orders.parquet"},
        )
        r = TaskRunner(bk).run_task(job, TaskPreDef(RUN_DATE, TaskRunReason.NEW))
        assert r.status == RunStatus.SUCCEEDED
        assert any("price_cap" in w for w in r.warnings)
        # the passing rule does not warn
        assert not any("key_not_null" in w for w in r.warnings)
        assert ms.is_data_available("orders_bronze", RUN_DATE, RUN_DATE)

    def test_expectations_gate_is_one_pass(self, spark, pipeline_env, sf_dir):
        """The gated publish must compute the decorated output ONCE: the
        gate persists the plan, validation materializes it, and the save
        reads from cache.  At 100 TB an unpersisted gate doubles every
        publish (VERDICT r6)."""
        acc = spark.sparkContext.accumulator(0)

        class CountedRows(Transformer):
            def run(self, metastore, info_date, options):
                def bump(v):
                    acc.add(1)
                    return v

                bump_udf = F.udf(bump, "long")
                return spark.range(100).select(bump_udf(F.col("id")).alias("v"))

        ms, bk, tmp_path = pipeline_env
        job = TransformationJob(
            OperationDef(
                name="one_pass",
                kind="transformation",
                output_table="revenue_gold",
                expectations=[
                    {"name": "v_ok", "kind": "in_range", "col": "v", "lo": 0, "hi": 1000},
                ],
            ),
            ms, bk, ms.table_config("revenue_gold"), CountedRows(),
        )
        r = TaskRunner(bk).run_task(job, TaskPreDef(RUN_DATE, TaskRunReason.NEW))
        assert r.status == RunStatus.SUCCEEDED, r.error
        assert acc.value == 100, (
            f"decorated output computed {acc.value / 100:.0f}x; gate must be one-pass"
        )

    def test_decorations_applied(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env
        src = SparkSource(spark, {"format": "parquet"})
        job = IngestionJob(
            OperationDef(
                name="ing", kind="ingestion", output_table="orders_bronze",
                transformations=[TransformExpr("price_band", "CASE WHEN o_totalprice > 200000 THEN 'HIGH' ELSE 'LOW' END")],
                filters=["o_orderstatus = 'O'"],
                columns=["o_orderkey", "price_band", "pramen_info_date"],
            ),
            ms, bk, ms.table_config("orders_bronze"),
            src, {"path": f"{sf_dir}/orders.parquet"},
        )
        r = TaskRunner(bk).run_task(job, TaskPreDef(RUN_DATE, TaskRunReason.NEW))
        assert r.status == RunStatus.SUCCEEDED
        df = ms.get_table("orders_bronze", RUN_DATE, RUN_DATE)
        assert set(df.columns) == {"o_orderkey", "price_band", "pramen_info_date"}
        assert df.filter(F.col("price_band") == "HIGH").count() > 0

    def test_schema_drift_detected(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env
        src = SparkSource(spark, {"format": "parquet"})

        def mk_job(cols):
            return IngestionJob(
                OperationDef(name="ing", kind="ingestion", output_table="orders_bronze",
                             columns=cols),
                ms, bk, ms.table_config("orders_bronze"),
                src, {"path": f"{sf_dir}/orders.parquet"},
            )

        tr = TaskRunner(bk)
        r1 = tr.run_task(mk_job(["o_orderkey", "o_custkey"]), TaskPreDef(D(2024, 3, 10), TaskRunReason.NEW))
        assert r1.status == RunStatus.SUCCEEDED and r1.schema_changes == []
        r2 = tr.run_task(mk_job(["o_orderkey", "o_totalprice"]), TaskPreDef(D(2024, 3, 11), TaskRunReason.NEW))
        assert r2.status == RunStatus.SUCCEEDED
        kinds = {(c.kind.value, c.column.lower()) for c in r2.schema_changes}
        assert ("new", "o_totalprice") in kinds
        assert ("deleted", "o_custkey") in kinds


class TestSkewGuardConfig:
    """Config-declared skew ACTION (OperationDef.skew_guard): the task
    runner profiles the declared key at run time and executes the salted
    two-phase plan exactly when the key histogram is hot — demonstrated
    end-to-end through a config-driven pipeline run, with the plan shape
    asserted on both decision branches."""

    def _env(self, spark, tmp_path, skewed: bool):
        ms = Metastore(
            spark,
            [
                TableConfig(name="skew_bronze",
                            format=DataFormat.parquet(str(tmp_path / "sb")),
                            info_date_start=D(2024, 3, 1)),
                TableConfig(name="dim_bronze",
                            format=DataFormat.parquet(str(tmp_path / "db")),
                            info_date_start=D(2024, 3, 1)),
                TableConfig(name="skew_gold",
                            format=DataFormat.parquet(str(tmp_path / "sg")),
                            info_date_start=D(2024, 3, 1)),
            ],
            temp_dir=str(tmp_path / "tmp"),
        )
        if skewed:
            # one key holds ~98% of the rows
            rows = [(0, i) for i in range(5000)] + [
                (k, k) for k in range(1, 11) for _ in range(10)
            ]
        else:
            rows = [(k % 50, k) for k in range(5000)]
        df = spark.createDataFrame(rows, ["k", "v"])
        ms.save_table("skew_bronze", df, RUN_DATE)
        ms.save_table(
            "dim_bronze",
            spark.createDataFrame([(k, f"name{k}") for k in range(51)], ["k", "k_name"]),
            RUN_DATE,
        )
        return ms, Bookkeeper(), df

    def _agg_job(self, ms, bk):
        op = OperationDef(
            name="skew_agg",
            kind="transformation",
            output_table="skew_gold",
            input_tables=["skew_bronze"],
            options={"input.table": "skew_bronze"},
            skew_guard={
                "key": "k",
                "action": "agg",
                "group_cols": ["k"],
                "sum_cols": ["v"],
                "max_salts": 8,
            },
        )
        return TransformationJob(
            op, ms, bk, ms.table_config("skew_gold"), IdentityTransformer()
        )

    def test_skewed_input_gets_two_phase_plan(self, spark, tmp_path):
        import re

        from pramen_spark.operators.skew import apply_skew_guard

        ms, bk, df = self._env(spark, tmp_path, skewed=True)
        r = TaskRunner(bk).run_task(
            self._agg_job(ms, bk), TaskPreDef(RUN_DATE, TaskRunReason.NEW)
        )
        assert r.status == RunStatus.SUCCEEDED, r.error
        notes = [w for w in r.warnings if w.startswith("skew.guard:")]
        assert notes and "salted two-phase" in notes[0], r.warnings
        # values identical to the plain aggregation
        gold = ms.get_table("skew_gold", RUN_DATE, RUN_DATE)
        got = {row["k"]: (row["n_rows"], row["sum_v"]) for row in gold.collect()}
        exp = {
            row["k"]: (row["n"], row["s"])
            for row in df.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .collect()
        }
        assert got == exp
        # plan shape: two exchanges (partial on (k, salt), merge on k)
        out, note = apply_skew_guard(
            df, {"key": "k", "action": "agg", "group_cols": ["k"],
                 "sum_cols": ["v"], "max_salts": 8}
        )
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "salted" in note
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan

    def test_uniform_input_keeps_plain_plan(self, spark, tmp_path):
        import re

        from pramen_spark.operators.skew import apply_skew_guard

        ms, bk, df = self._env(spark, tmp_path, skewed=False)
        r = TaskRunner(bk).run_task(
            self._agg_job(ms, bk), TaskPreDef(RUN_DATE, TaskRunReason.NEW)
        )
        assert r.status == RunStatus.SUCCEEDED, r.error
        notes = [w for w in r.warnings if w.startswith("skew.guard:")]
        assert notes and "plain (no skew)" in notes[0], r.warnings
        out, note = apply_skew_guard(
            df, {"key": "k", "action": "agg", "group_cols": ["k"],
                 "sum_cols": ["v"], "max_salts": 8}
        )
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "plain" in note
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan

    def test_join_guard_resolves_right_table_from_metastore(self, spark, tmp_path):
        ms, bk, df = self._env(spark, tmp_path, skewed=True)
        op = OperationDef(
            name="skew_join",
            kind="transformation",
            output_table="skew_gold",
            input_tables=["skew_bronze", "dim_bronze"],
            options={"input.table": "skew_bronze"},
            skew_guard={
                "key": "k",
                "action": "join",
                "right_table": "dim_bronze",
                "on": ["k"],
                "max_salts": 8,
            },
        )
        job = TransformationJob(
            op, ms, bk, ms.table_config("skew_gold"), IdentityTransformer()
        )
        r = TaskRunner(bk).run_task(job, TaskPreDef(RUN_DATE, TaskRunReason.NEW))
        assert r.status == RunStatus.SUCCEEDED, r.error
        notes = [w for w in r.warnings if w.startswith("skew.guard:")]
        assert notes and "action=join" in notes[0] and "salted" in notes[0]
        gold = ms.get_table("skew_gold", RUN_DATE, RUN_DATE)
        # every row kept its enrichment; hot key joined correctly
        assert gold.count() == df.count()
        assert gold.where(F.col("k_name").isNull()).count() == 0


class TestDisableCountQuery:
    """``disable.count.query`` (README.md:713-718, IngestionJob.scala:
    214-280): for sources where COUNT(*) is as expensive as the read, the
    pre-run check fetches the data ONCE into a temp-dir cache, counts the
    cache, and run() reuses it — the source sees zero count queries and
    exactly one data read."""

    class CountingSource(SparkSource):
        def __init__(self, spark, options=None):
            super().__init__(spark, options)
            self.count_calls = 0
            self.data_calls = 0

        def get_record_count(self, query, date_from, date_to):
            self.count_calls += 1
            return super().get_record_count(query, date_from, date_to)

        def get_data(self, query, date_from, date_to):
            self.data_calls += 1
            return super().get_data(query, date_from, date_to)

    def _job(self, spark, ms, bk, sf_dir, options):
        src = self.CountingSource(spark, {"format": "parquet"})
        job = IngestionJob(
            OperationDef(
                name="no_count", kind="ingestion", output_table="orders_bronze",
                options=options,
            ),
            ms, bk, ms.table_config("orders_bronze"),
            src, {"path": f"{sf_dir}/orders.parquet"},
        )
        return job, src

    def test_no_count_sql_issued_and_single_read(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env
        job, src = self._job(
            spark, ms, bk, sf_dir, {"disable.count.query": "true"}
        )
        pre = job.pre_run_check(RUN_DATE)
        assert src.count_calls == 0 and src.data_calls == 1
        assert pre.input_record_count and pre.input_record_count > 0
        df = job.run(RUN_DATE)
        # run() reuses the persisted cache: still only one source read
        assert src.data_calls == 1
        assert df.count() == pre.input_record_count
        # and the cache is real temp-dir parquet, not a live source plan
        assert any(
            name.startswith("source_cache_no_count")
            for name, _ in ms.transient._tables
        )

    def test_default_still_counts_at_source(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env
        job, src = self._job(spark, ms, bk, sf_dir, {})
        job.pre_run_check(RUN_DATE)
        # the default path issues the source's count (the base Source
        # counts via a get_data plan — the point is it is NOT cached and
        # run() will hit the source again)
        assert src.count_calls == 1
        job.run(RUN_DATE)
        assert src.data_calls >= 2

    def test_requires_temp_dir(self, spark, sf_dir, tmp_path):
        ms = Metastore(
            spark,
            [TableConfig(name="orders_bronze",
                         format=DataFormat.parquet(str(tmp_path / "o")),
                         info_date_start=D(2024, 3, 1))],
        )
        job, src = self._job(
            spark, ms, Bookkeeper(), sf_dir, {"disable.count.query": "true"}
        )
        with pytest.raises(ValueError, match="temporary.directory"):
            job.pre_run_check(RUN_DATE)

    def test_source_level_option_respected(self, spark, pipeline_env, sf_dir):
        ms, bk, tmp_path = pipeline_env
        src = self.CountingSource(
            spark, {"format": "parquet", "disable.count.query": "true"}
        )
        job = IngestionJob(
            OperationDef(name="no_count_src", kind="ingestion",
                         output_table="orders_bronze"),
            ms, bk, ms.table_config("orders_bronze"),
            src, {"path": f"{sf_dir}/orders.parquet"},
        )
        job.pre_run_check(RUN_DATE)
        assert src.count_calls == 0 and src.data_calls == 1


class TestFailIfNoLateNewData:
    """fail.if.no.late.data / fail.if.no.new.data (IngestionJob.scala:
    74-83): the any-data flag ORs with the reason-specific one, so an
    empty source fails the LATE catch-up run but only skips the NEW run
    (or vice versa), per source-level config."""

    class EmptySource(SparkSource):
        def get_record_count(self, query, date_from, date_to):
            return 0

    def _job(self, spark, ms, bk, source_opts):
        src = self.EmptySource(spark, {"format": "parquet", **source_opts})
        return IngestionJob(
            OperationDef(name="e", kind="ingestion", output_table="orders_bronze"),
            ms, bk, ms.table_config("orders_bronze"), src, {"path": "/nope"},
        )

    def test_late_flag_fails_only_late_runs(self, spark, pipeline_env):
        from pramen_spark.runner.jobs import JobPreRunStatus

        ms, bk, _ = pipeline_env
        job = self._job(spark, ms, bk, {"fail.if.no.late.data": "true"})
        late = job.pre_run_check(RUN_DATE, TaskRunReason.LATE)
        new = job.pre_run_check(RUN_DATE, TaskRunReason.NEW)
        assert late.status == JobPreRunStatus.NO_DATA
        assert new.status == JobPreRunStatus.SKIP

    def test_new_flag_fails_only_new_runs(self, spark, pipeline_env):
        from pramen_spark.runner.jobs import JobPreRunStatus

        ms, bk, _ = pipeline_env
        job = self._job(spark, ms, bk, {"fail.if.no.new.data": "true"})
        assert job.pre_run_check(RUN_DATE, TaskRunReason.NEW).status \
            == JobPreRunStatus.NO_DATA
        assert job.pre_run_check(RUN_DATE, TaskRunReason.LATE).status \
            == JobPreRunStatus.SKIP

    def test_source_level_any_data_flag(self, spark, pipeline_env):
        from pramen_spark.runner.jobs import JobPreRunStatus

        ms, bk, _ = pipeline_env
        job = self._job(spark, ms, bk, {"fail.if.no.data": "true"})
        # any-data flag applies regardless of reason, even with none given
        assert job.pre_run_check(RUN_DATE).status == JobPreRunStatus.NO_DATA
        assert job.pre_run_check(RUN_DATE, TaskRunReason.LATE).status \
            == JobPreRunStatus.NO_DATA


class TestTransferDisableCountQuery:
    """TransferJob honors disable.count.query like ingestion (the
    reference builds a TransferJob on an IngestionJob and passes the flag
    through, TransferJob.scala:46-57): pre-run counts the temp-dir cache,
    run() reuses it, the source sees one read and zero count queries."""

    def test_transfer_single_read(self, spark, pipeline_env, sf_dir, tmp_path):
        from pramen_spark.runner.jobs import TransferJob

        ms, bk, env_tmp = pipeline_env
        src = TestDisableCountQuery.CountingSource(
            spark, {"format": "parquet", "disable.count.query": "true"}
        )
        job = TransferJob(
            OperationDef(name="xfer", kind="transfer", output_table="csv_out"),
            ms, bk, ms.table_config("csv_out"), src,
            {"path": f"{sf_dir}/orders.parquet"},
            LocalCsvSink(spark, {"path": str(tmp_path / "xcsv"), "csv.header": "true"}),
        )
        pre = job.pre_run_check(RUN_DATE)
        assert src.count_calls == 0 and src.data_calls == 1
        df = job.run(RUN_DATE)
        assert src.data_calls == 1
        assert df.count() == pre.input_record_count > 0
