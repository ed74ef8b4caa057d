"""The three workloads: set-up, timed loop, correctness check and metrics.

Each workload object has ``setup()`` (make the fixtures; the runner repeats
it and reports the median), ``warm_up()`` (one light Spark round trip over
the fixtures, so the first measured operation does not pay for the
session's first job; counted in set-up time), ``measure(seconds, tracer)``
(the timed loop; returns a ``Measured``), and ``verify(measured)`` (the
correctness check, outside every timer).

Measurements are cold: each query or pipeline task runs for the first time
in its process, as in a batch job, so Spark's code generation and the JIT
are part of what is measured. Nothing here changes the program:
the catalog workloads call ``QuerySpec.build`` and a Spark action, and the
pipeline workload calls ``pramen_spark.cli.main``.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import probe

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# workload -> (scale factor, Spark action run on each query)
CATALOG = {"catalog_short": (0.01, "noop"), "catalog_heavy": (0.1, "collect")}
WORKLOADS = (*CATALOG, "pipeline_daily")


def prepare_process(work: str) -> None:
    """Point every scratch location of this process, the JVM it starts and
    the Python workers at ``work``, and put the repo on the import path.
    Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the Spark launcher's included: temp files into ``work``, and
    # no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    for p in (HERE, REPO):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(work: str):
    from pramen_spark.session import build_session

    return build_session(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                # compiler threads live as long as the JVM, so probe.cpu_seconds
                # can subtract their time at both ends of a timed region
                "-XX:-UseDynamicNumberOfCompilerThreads "
                f"-Dderby.system.home={os.path.join(work, 'derby')}"
            ),
        },
    )


def load_strata() -> dict:
    with open(os.path.join(HERE, "strata.json")) as f:
        return json.load(f)


def order_queries(stratum: dict, seed: int) -> list[str]:
    """The stratum's queries in the order the seed picks."""
    names = list(stratum["queries"])
    random.Random(seed).shuffle(names)
    return names


@dataclass
class Measured:
    wall_s: float  # median time of one pass (catalog) or one cycle (pipeline)
    cpu_s: float  # driver + JVM CPU seconds per pass or cycle
    op_latencies: list[float]
    passes: int
    attempted: int = 0
    failed: int = 0
    layers: dict = field(default_factory=dict)  # per-layer readings
    detail: dict = field(default_factory=dict)  # extra figures for the report


class _Timer:
    """Wall and CPU time of a region, for the driver and the JVM."""

    def __init__(self, pids):
        self.pids = pids

    def __enter__(self):
        self.cpu0 = probe.cpu_seconds(self.pids)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = probe.cpu_seconds(self.pids) - self.cpu0


def _span(tracer, layer, name):
    return tracer.span(layer, name) if tracer else contextlib.nullcontext()


class CatalogWorkload:
    def __init__(self, name: str, seed: int, work: str, spark):
        self.name = name
        self.seed = seed
        self.work = work
        self.spark = spark
        self.sf, self.action = CATALOG[name]
        self.queries = order_queries(load_strata()[name], seed)
        self.pids = (os.getpid(), probe.jvm_pid(spark))
        self.data_dir = ""
        self._setups = 0

    def setup(self) -> None:
        from catalog_data import generate

        if self.data_dir:
            shutil.rmtree(self.data_dir, ignore_errors=True)
        self._setups += 1
        self.data_dir = os.path.join(self.work, f"catalog-{self._setups}")
        generate(self.data_dir, self.sf)

    def warm_up(self) -> None:
        from catalog_data import TABLES
        from pramen_spark.queries.catalog import load_table

        for t in TABLES:
            load_table(self.spark, self.data_dir, t).count()

    def _execute(self, df):
        """Run ``df`` through its own QueryExecution, so a plan built
        beforehand is the plan that runs: collect the rows, or discard them
        on the executors as a noop sink does."""
        if self.action == "collect":
            return df.columns, [tuple(r) for r in df.collect()]
        df._jdf.queryExecution().toRdd().count()
        return None

    def _run_one(self, name: str):
        from pramen_spark.queries.catalog import QUERIES

        return self._execute(QUERIES[name].build(self.spark, self.data_dir))

    def _run_traced(self, name: str, tracer, store, acc: dict):
        """As ``_run_one``, with spans around build, planning and execution
        and job-id marks between them; the marks are read after the pass."""
        from pramen_spark.queries.catalog import QUERIES

        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.name}:{name}", name)
        tracer.trace_id = name
        try:
            m0 = store.mark()
            with tracer.span("queries.build", name):
                df = QUERIES[name].build(self.spark, self.data_dir)
            m1 = store.mark()
            with tracer.span("session.plan", name):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.execute", name) as ex:
                out = self._execute(df)
            acc["marks"].append((m0, m1, store.mark()))
        finally:
            sc._jsc.clearJobGroup()
        acc["execute_s"] += ex["end"] - ex["start"]
        return out

    def _read_marks(self, store, acc: dict) -> None:
        """Status-store counters of the queries marked in the last pass."""
        for m0, m1, m2 in acc["marks"]:
            acc["build_jobs"] += m1 - m0
            acc["exec"].add(store.between(m0, m2))
            acc["exec_run_s"] += store.between(m1, m2).executor_run_s
        acc["marks"].clear()

    def measure(self, seconds: float, tracer=None) -> Measured:
        store = probe.StatusStore(self.spark) if tracer else None
        acc = {"build_jobs": 0, "exec": probe.StageTotals(), "exec_run_s": 0.0, "execute_s": 0.0,
               "marks": []}
        lat, walls, results, by_query = [], [], {}, {}
        failed = attempted = 0
        cpu = 0.0
        t_end = time.perf_counter() + seconds
        while not walls or time.perf_counter() < t_end:
            with _Timer(self.pids) as tm:
                for name in self.queries:
                    attempted += 1
                    t0 = time.perf_counter()
                    try:
                        if tracer:
                            out = self._run_traced(name, tracer, store, acc)
                        else:
                            out = self._run_one(name)
                    except Exception as e:  # noqa: BLE001 — a failing query is counted, not fatal
                        failed += 1
                        print(f"query {name} failed: {e}", file=sys.stderr)
                        continue
                    lat.append(time.perf_counter() - t0)
                    by_query.setdefault(name, []).append(lat[-1])
                    results[name] = out
                self.spark.catalog.clearCache()
            walls.append(tm.wall)
            cpu += tm.cpu
            if tracer:
                self._read_marks(store, acc)
        m = Measured(
            wall_s=statistics.median(walls), cpu_s=cpu / len(walls), op_latencies=lat,
            passes=len(walls), attempted=attempted, failed=failed,
        )
        m.detail.update(results=results, latency_s=by_query)
        if tracer:
            n = len(walls)
            ex = acc["exec"]
            cores = int(os.environ["SPARK_GRAFT_CPUS"])
            m.layers.update({
                "queries.build_s": tracer.busy_s("queries.build") / n,
                "session.plan_s": tracer.busy_s("session.plan") / n,
                "queries.build_jobs": acc["build_jobs"] / n,
                "spark.execute_s": acc["execute_s"] / n,
                "spark.slot_utilization": acc["exec_run_s"] / max(acc["execute_s"] * cores, 1e-9),
                **_stage_layers(ex, n),
            })
        return m

    def verify(self, m: Measured) -> int:
        """Compare every query's result with its oracle; return mismatches."""
        from oracle import digest, duck_digest
        from pramen_spark.queries.catalog import QUERIES

        bad = 0
        for name in dict.fromkeys(self.queries):
            if name not in m.detail["results"]:
                continue  # already counted as failed
            out = m.detail["results"][name]
            try:
                if out is None:
                    df = QUERIES[name].build(self.spark, self.data_dir)
                    out = df.columns, [tuple(r) for r in df.collect()]
                ok = digest(*out) == duck_digest(QUERIES[name].oracle, self.data_dir)
            except Exception as e:  # noqa: BLE001 — a check that cannot run is a failed check
                print(f"query {name}: check failed: {e}", file=sys.stderr)
                ok = False
            if not ok:
                print(f"query {name}: result differs from the oracle", file=sys.stderr)
                bad += 1
        m.detail.pop("results")
        return bad


def _stage_layers(t: probe.StageTotals, n: int) -> dict:
    return {
        "spark.jobs": t.jobs / n,
        "spark.stages": t.stages / n,
        "spark.tasks": t.tasks / n,
        "spark.shuffle_read_bytes": t.shuffle_read_bytes / n,
        "spark.shuffle_write_bytes": t.shuffle_write_bytes / n,
        "spark.spill_bytes": t.spill_bytes / n,
        "spark.executor_cpu_s": t.executor_cpu_s / n,
        "spark.jvm_gc_s": t.jvm_gc_s / n,
        "spark.peak_execution_memory_bytes": t.peak_execution_memory_bytes,
    }


def _files(root: str) -> dict:
    out = {}
    for d, _, names in os.walk(root):
        for f in names:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _read_parquet_dir(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def _rows_per_date(table_dir: str, flag: str | None = None) -> collections.Counter:
    """Rows per ISO ``pramen_info_date`` of a metastore table; with ``flag``,
    only the rows where that column is true."""
    t = _read_parquet_dir(table_dir)
    keys = [str(v) for v in t.column("pramen_info_date").to_pylist()]
    if flag is None:
        return collections.Counter(keys)
    return collections.Counter(k for k, f in zip(keys, t.column(flag).to_pylist()) if f)


@contextlib.contextmanager
def _call_times(owner, attr: str):
    """Yield a list that gets the wall time of every call of ``owner.attr``
    made inside the block."""
    fn = vars(owner)[attr]
    times: list[float] = []

    @functools.wraps(fn)
    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            times.append(time.perf_counter() - t0)

    setattr(owner, attr, timed)
    try:
        yield times
    finally:
        setattr(owner, attr, fn)


PHASES = ("backfill", "recheck", "new_day")
# task statuses that count as failed, in the result and in runner.tasks_failed
FAILED_STATUSES = {"failed", "validation_failed", "not_ran", "insufficient_data"}


class PipelineWorkload:
    def __init__(self, name: str, seed: int, work: str, spark):
        self.name = name
        self.seed = seed
        self.work = work
        self.spark = spark
        self.pids = (os.getpid(), probe.jvm_pid(spark))
        self.fx = None
        self._setups = 0

    def setup(self) -> None:
        from pipeline_data import generate

        if self.fx is not None:
            shutil.rmtree(self.fx.root, ignore_errors=True)
        self._setups += 1
        self.fx = generate(os.path.join(self.work, f"pipeline-{self._setups}"), self.seed)

    def warm_up(self) -> None:
        """CSV read, parquet write and read, CSV write: the Spark paths the
        pipeline uses."""
        src = os.path.join(self.fx.root, "source", "orders")
        warm = os.path.join(self.work, "warmup")
        df = self.spark.read.option("header", "true").csv(src)
        df.write.parquet(os.path.join(warm, "p"))
        self.spark.read.parquet(os.path.join(warm, "p")).coalesce(1).write.csv(os.path.join(warm, "c"))
        shutil.rmtree(warm)

    def _phase_args(self, phase: str) -> list[str]:
        fx = self.fx
        b0, b1 = fx.backfill[0].isoformat(), fx.backfill[-1].isoformat()
        if phase == "backfill":
            return ["--date-from", b0, "--date-to", b1, "--run-mode", "fill_gaps"]
        if phase == "recheck":
            return ["--date-from", b0, "--date-to", b1, "--run-mode", "check_updates"]
        return ["--date", fx.new_day.isoformat()]

    def measure(self, seconds: float, tracer=None) -> Measured:
        """One backfill / recheck / new-day cycle on the current fixtures
        (a cycle outlasts any run length this benchmark uses). A task's
        latency is the wall time of ``TaskRunner.run_task``, its journal
        entry included."""
        from pramen_spark.cli import main as cli_main
        from pramen_spark.runner.task_runner import TaskRunner

        store = probe.StatusStore(self.spark) if tracer else None
        if tracer:
            tracer.spark_context = self.spark.sparkContext
        ms_root = os.path.join(self.fx.root, "metastore")
        log = os.path.join(self.fx.root, "cli.log")
        phase_s, windows, written = {}, {}, {}
        stages = probe.StageTotals()
        cpu = 0.0
        rc = {}
        with _call_times(TaskRunner, "run_task") as lat:
            for phase in PHASES:
                before = _files(ms_root) if os.path.isdir(ms_root) else {}
                mark = store.mark() if store else 0
                if tracer:
                    tracer.trace_id = f"{self.name}:{phase}"
                w0 = time.time()
                with open(log, "a") as out, contextlib.redirect_stdout(out):
                    with _Timer(self.pids) as tm, _span(tracer, "phase", phase):
                        rc[phase] = cli_main(["--workflow", self.fx.workflow, *self._phase_args(phase)])
                windows[phase] = (w0, time.time())
                phase_s[phase] = tm.wall
                cpu += tm.cpu
                if store:
                    stages.add(store.between(mark, store.mark()))
                after = _files(ms_root)
                changed = [p for p, v in after.items() if before.get(p) != v]
                written[phase] = (len(changed), sum(after[p][0] for p in changed))

        journal = _read_parquet_dir(os.path.join(self.fx.root, "bookkeeping", "journal")).to_pylist()
        tasks = {p: [] for p in PHASES}
        for e in journal:
            for p, (a, b) in windows.items():
                if a <= e["started"] <= b:
                    tasks[p].append(e)
        n_failed = sum(1 for p in PHASES for e in tasks[p] if e["status"] in FAILED_STATUSES)
        ran = {p: [e for e in tasks[p] if e["status"] == "succeeded"] for p in PHASES}
        wall = sum(phase_s.values())
        m = Measured(
            wall_s=wall, cpu_s=cpu, op_latencies=lat, passes=1,
            attempted=len(journal), failed=n_failed + sum(1 for v in rc.values() if v != 0),
        )
        backfill = [d.isoformat() for d in self.fx.backfill]
        per_table = [_rows_per_date(os.path.join(ms_root, t)) for t in os.listdir(ms_root)]
        backfill_rows = sum(rows[d] for rows in per_table for d in backfill)
        n_ran = sum(len(v) for v in ran.values())
        m.detail.update({
            "phase_s": phase_s,
            "exit_codes": rc,
            "tasks": {p: [(e["table_name"], e["status"], e["finished"] - e["started"]) for e in v]
                      for p, v in tasks.items()},
        })
        m.layers.update({
            "runner.backfill_s": phase_s["backfill"],
            "runner.recheck_s": phase_s["recheck"],
            "runner.new_day_s": phase_s["new_day"],
            # the recheck range is unchanged by construction: every task that
            # ran there rewrote a partition whose input had not changed
            "runner.rerun_unchanged": len(ran["recheck"]),
            "runner.useful_task_ratio": (len(ran["backfill"]) + len(ran["new_day"])) / max(n_ran, 1),
            # rows and bytes of the backfill dates, over the backfill phase
            "metastore.rows_per_s": backfill_rows / phase_s["backfill"],
            "metastore.files_written": sum(v[0] for v in written.values()),
            "metastore.bytes_written": sum(v[1] for v in written.values()),
            "metastore.bytes_per_input_byte": (
                written["backfill"][1] / sum(self.fx.input_bytes[d] for d in backfill)
            ),
        })
        if tracer:
            cores = int(os.environ["SPARK_GRAFT_CPUS"])
            m.layers.update({
                "config.load_s": tracer.busy_s("config"),
                "scheduling.days_s": tracer.busy_s("scheduling"),
                "runner.task_s": tracer.busy_s("runner"),
                "runner.pool_wait_s": tracer.busy_s("runner.pool"),
                "runner.tasks": tracer.counts["runner.tasks"],
                "runner.tasks_failed": tracer.counts["runner.tasks_failed"],
                "runner.tasks_skipped": tracer.counts["runner.tasks_skipped"],
                "runner.bookkeeper_s": tracer.busy_s("bookkeeper"),
                "runner.bookkeeper_calls": tracer.calls("bookkeeper"),
                "runner.journal_s": tracer.busy_s("journal"),
                "sources.count_s": tracer.busy_s("sources.count"),
                "sources.get_data_s": tracer.busy_s("sources.get_data"),
                "metastore.save_s": tracer.busy_s("metastore.save"),
                "metastore.read_s": tracer.busy_s("metastore.read"),
                "offsets.ledger_s": tracer.busy_s("offsets"),
                "offsets.commits": sum(
                    1 for s in tracer.spans if s["name"] == "CachedOffsetLedger.commit"
                ),
                "sinks.send_s": tracer.busy_s("sinks"),
                "operators.decorate_s": tracer.busy_s("operators.decorate"),
                "operators.expectations_s": tracer.busy_s("operators.expectations"),
                "spark.execute_s": wall,
                "spark.slot_utilization": stages.executor_run_s / (wall * cores),
                **_stage_layers(stages, 1),
            })
        return m

    def verify(self, m: Measured) -> int:
        """Row-count checks of every output against the generated inputs;
        returns the number of (table, date) checks that fail."""
        import csv

        fx = self.fx
        ms = os.path.join(fx.root, "metastore")
        dates = [d.isoformat() for d in (*fx.backfill, fx.new_day)]
        bad = 0

        def per_date(table, flag=None):
            return _rows_per_date(os.path.join(ms, table), flag)

        checks = [
            ("events_raw", per_date("events_raw"), fx.landing_rows),
            ("events_enriched", per_date("events_enriched"), fx.enriched_rows),
            ("events_enriched.is_late", per_date("events_enriched", "is_late"), fx.late_rows),
            ("accounts_raw", per_date("accounts_raw"), fx.account_rows),
            ("orders_inc", per_date("orders_inc"), fx.order_rows),
        ]
        exported = {}
        for d in dates:
            path = os.path.join(fx.root, "export", f"events_enriched_{d}.csv")
            if os.path.exists(path):
                with open(path, newline="") as f:
                    exported[d] = sum(1 for _ in csv.reader(f)) - 1
        checks.append(("export", exported, fx.enriched_rows))
        for table, got, want in checks:
            for d in dates:
                if got.get(d, 0) != want.get(d, 0):
                    print(f"{table} {d}: {got.get(d, 0)} rows, expected {want.get(d, 0)}",
                          file=sys.stderr)
                    bad += 1
        ids = _read_parquet_dir(os.path.join(ms, "orders_inc")).column("id").to_pylist()
        if sorted(ids) != list(range(fx.order_ids)):
            print("orders_inc: source rows not ingested exactly once", file=sys.stderr)
            bad += 1
        m.attempted += len(checks) * len(dates) + 1
        return bad


def make(name: str, seed: int, work: str, spark):
    cls = CatalogWorkload if name in CATALOG else PipelineWorkload
    return cls(name, seed, work, spark)
