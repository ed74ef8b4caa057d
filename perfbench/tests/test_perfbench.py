"""Tests of the benchmark itself (no Spark session needed).

Run from the repo root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import filecmp
import json
import os
import sqlite3
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import catalog_data  # noqa: E402
import oracle  # noqa: E402
import pipeline_data  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tree(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


class TestResultLine:
    def test_every_end_to_end_metric_prints_with_name_and_unit(self):
        spec = _spec()
        m = workloads.Measured(wall_s=2.5, cpu_s=7.0, op_latencies=[0.1, 0.2, 0.3], passes=1)
        metrics = run.end_to_end(m, setup_s=8.0, peak_rss=900.0)
        line = json.loads(run.result_line(3, 0, metrics, run.metric_units()["end_to_end"]))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["correct"] is True
        want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        assert {k: v["unit"] for k, v in line["metrics"].items()} == want
        assert all(isinstance(v["value"], float) for v in line["metrics"].values())

    def test_per_layer_units_come_from_the_spec(self):
        units = run.metric_units()["per_layer"]
        line = json.loads(run.result_line(1, 1, dict.fromkeys(units, 0), units))
        assert line["correct"] is False
        assert list(line["metrics"]) == [m["name"] for m in _spec()["per_layer"]]

    def test_missing_metric_is_refused(self):
        units = run.metric_units()["end_to_end"]
        with pytest.raises(ValueError):
            run.result_line(1, 0, {"wall_s": 1.0}, units)

    def test_spec_lists_each_workload_the_runner_knows(self):
        names = [w["name"] for w in _spec()["workloads"]]
        assert set(names) <= set(workloads.WORKLOADS)


class TestFixtures:
    def test_pipeline_same_seed_is_byte_identical(self, tmp_path):
        a = pipeline_data.generate(str(tmp_path / "a"), seed=5)
        b = pipeline_data.generate(str(tmp_path / "b"), seed=5)
        src_a, src_b = os.path.join(a.root, "source"), os.path.join(b.root, "source")
        files = _tree(src_a)
        assert files == _tree(src_b)
        _, mismatch, errors = filecmp.cmpfiles(src_a, src_b, files, shallow=False)
        assert not mismatch and not errors
        assert a.landing_rows == b.landing_rows and a.enriched_rows == b.enriched_rows

    def test_pipeline_other_seed_changes_daily_volumes(self, tmp_path):
        a = pipeline_data.generate(str(tmp_path / "a"), seed=5)
        b = pipeline_data.generate(str(tmp_path / "b"), seed=6)
        assert a.landing_rows != b.landing_rows
        assert a.order_rows != b.order_rows

    def test_pipeline_expected_counts_match_the_files(self, tmp_path):
        fx = pipeline_data.generate(str(tmp_path / "p"), seed=3)
        for day, n in fx.landing_rows.items():
            path = os.path.join(fx.root, "source", "landing", f"event_date={day}", "part-0.csv")
            with open(path) as f:
                header = f.readline()
                assert sum(1 for _ in f) == n
            # the day's input bytes hold its landing rows and more
            assert fx.input_bytes[day] > os.path.getsize(path) - len(header)
        con = sqlite3.connect(os.path.join(fx.root, "source", "accounts.db"))
        try:
            got = dict(con.execute("SELECT info_date, COUNT(*) FROM accounts GROUP BY 1"))
        finally:
            con.close()
        assert got == fx.account_rows
        assert sum(fx.order_rows.values()) == fx.order_ids
        conf = open(fx.workflow).read()
        assert "%ROOT%" not in conf and "%START%" not in conf

    def test_catalog_tables_are_byte_identical(self, tmp_path):
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        catalog_data.generate(a, 0.001)
        catalog_data.generate(b, 0.001)
        files = _tree(a)
        assert files == sorted(f"{t}.parquet" for t in catalog_data.TABLES)
        _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        assert not mismatch and not errors

    def test_query_order_is_seeded(self):
        stratum = workloads.load_strata()["catalog_short"]
        s1 = workloads.order_queries(stratum, 1)
        assert s1 == workloads.order_queries(stratum, 1)
        assert s1 != workloads.order_queries(stratum, 2)
        assert sorted(s1) == sorted(stratum["queries"])

    def test_strata_queries_exist_and_have_oracles(self):
        from pramen_spark.queries.catalog import QUERIES

        for stratum in workloads.load_strata().values():
            for q in stratum["queries"]:
                assert QUERIES[q].oracle, q


class TestDigest:
    def test_order_and_types_do_not_matter(self):
        a = oracle.digest(["b", "a"], [(1.5, dt.date(2024, 1, 2)), (None, dt.date(2024, 1, 1))])
        b = oracle.digest(
            ["a", "b"], [(dt.date(2024, 1, 1), None), (dt.date(2024, 1, 2), decimal.Decimal("1.50"))]
        )
        assert a == b

    def test_values_matter(self):
        assert oracle.digest(["a"], [(1,)]) != oracle.digest(["a"], [(2,)])
        assert oracle.digest(["a"], [(1,)]) != oracle.digest(["b"], [(1,)])


class TestSpans:
    def test_uninstall_restores_every_wrapped_attribute(self):
        from pramen_spark import cli
        from pramen_spark.runner.bookkeeper import Bookkeeper
        from pramen_spark.runner.task_runner import TaskRunner

        before = (TaskRunner.run_task, cli.load_workflow, Bookkeeper.set_record_count)
        tracer = spans.Tracer()
        tracer.install()
        try:
            assert TaskRunner.run_task is not before[0]
        finally:
            tracer.uninstall()
        assert (TaskRunner.run_task, cli.load_workflow, Bookkeeper.set_record_count) == before

    def test_nested_spans_of_one_layer_count_once(self):
        tracer = spans.Tracer()
        with tracer.span("bookkeeper", "outer"):
            with tracer.span("bookkeeper", "inner"):
                pass
            with tracer.span("journal", "other"):
                pass
        outer = next(s for s in tracer.spans if s["name"] == "outer")
        assert tracer.busy_s("bookkeeper") == outer["end"] - outer["start"]
        assert tracer.calls("bookkeeper") == 1 and tracer.calls("journal") == 1
        assert {s["parent"] for s in tracer.spans if s["name"] != "outer"} == {outer["id"]}


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    runner exits non-zero without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog_short", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
