#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog_short --seed 1 --seconds 5 --trace 0

Runs one workload (see BENCHMARK.json) from the root of a checkout: builds
its inputs from the seed, sets it up three times, warms up, measures for
at least ``--seconds``, checks every output and prints one JSON object as
the last line of stdout. ``--trace 0`` prints the end-to-end metrics. ``--trace 1``
first runs the same command untraced in a child process, then measures with
spans installed and prints the per-layer metrics; the tracing overhead is
the traced ``wall_s`` minus the child's. Both measurements start from a
fresh process, so neither benefits from the other's warm caches. Each run
also writes a fuller report (and, traced, the spans) to ``.perfbench_out/``;
scratch files go to ``.perfbench_work/`` and are deleted at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3


def metric_units() -> dict[str, dict[str, str]]:
    """Metric name -> unit, for the end-to-end and the per-layer set, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {kind: {m["name"]: m["unit"] for m in spec[kind]} for kind in ("end_to_end", "per_layer")}


def parse_args(argv=None) -> argparse.Namespace:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def result_line(attempted: int, failed: int, metrics: dict, units: dict) -> str:
    """The result object; ``metrics`` must hold exactly the names in ``units``."""
    if set(metrics) != set(units):
        raise ValueError(f"metrics {sorted(metrics)} do not match {sorted(units)}")
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    })


def end_to_end(m, setup_s: float, peak_rss: float) -> dict:
    return {
        "setup_s": setup_s,
        "wall_s": m.wall_s,
        "cpu_s": m.cpu_s,
        "peak_rss_mb": peak_rss,
        "op_p50_s": statistics.median(m.op_latencies),
    }


def untraced_child(args) -> dict:
    """Run this workload and seed untraced in a child process; return its result."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def run(args, work: str, out_dir: str) -> str:
    import probe
    import workloads

    child = untraced_child(args) if args.trace else None
    workloads.prepare_process(work)
    spark = workloads.start_session(work)
    try:
        session_s = time.perf_counter() - T_START
        wl = workloads.make(args.workload, args.seed, work, spark)
        setups = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_up_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(setups) + warm_up_s

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
            tracer.install()
        try:
            m = wl.measure(args.seconds, tracer)
        finally:
            if tracer:
                tracer.uninstall()
        peak_rss = probe.peak_rss_mb(wl.pids)  # before the check's DuckDB work
        failed = m.failed + wl.verify(m)
        attempted = m.attempted
        if tracer:
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
            units = metric_units()["per_layer"]
            untraced_wall = child["metrics"]["wall_s"]["value"]
            layers = {
                **dict.fromkeys(units, 0),
                **m.layers,
                "trace.untraced_wall_s": untraced_wall,
                "trace.wall_s": m.wall_s,
                "trace.overhead_s": m.wall_s - untraced_wall,
            }
            metrics = {k: layers[k] for k in units}
            attempted += child["attempted"]
            failed += child["failed"]
        else:
            units = metric_units()["end_to_end"]
            metrics = end_to_end(m, setup_s, peak_rss)
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "passes": m.passes, "ops": len(m.op_latencies), "queries": getattr(wl, "queries", None),
            "session_start_s": session_s, "setup_runs_s": setups, "warm_up_s": warm_up_s,
            "layers": m.layers, "detail": m.detail,
            "metrics": metrics, "attempted": attempted, "failed": failed,
        }
        with open(os.path.join(out_dir, f"report-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        return result_line(attempted, failed, metrics, units)
    finally:
        spark.stop()
        # the py4j gateway JVM outlives SparkContext.stop(); end it and wait
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


def main(argv=None) -> int:
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pramen_spark")):
        print(f"perfbench: no pramen_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        line = run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
