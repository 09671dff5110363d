#!/usr/bin/env python3
"""Benchmark of the airflow_jira_etl_spark engine, driven from outside.

    python3 perfbench/run.py --workload {jira_daily,query_mix}
                             --seed N --seconds S --trace {0,1}

Run from the repository root. The benchmark builds its inputs from the
seed inside the checkout (``.perfbench_run/<pid>``, removed on exit),
starts one ``local[<cpus>]`` Spark session through
``session.get_spark``, sets the workload up, then runs whole timed
passes in a closed loop until ``--seconds`` have elapsed, checks every
output outside the timed passes and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics ``setup_s`` and ``cpu_s``,
CPU seconds of the whole process tree for the set-up and per pass over
the timed window. ``--trace 1`` adds an untraced and a traced window
after the timed one and reports the per-layer metrics, the client's
latencies and pass wall time (``closed_loop.*``) and the tracing
overhead (see ``layers.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "airflow_jira_etl_spark"

WORKLOADS = ("jira_daily", "query_mix")
QUERY_SF = 0.01
DATA_SEED = 42
JIRA_SIZES = {
    "n_issues": 1_000, "n_worklogs": 2_000, "n_users": 200,
    "wl_edits": 50, "wl_new": 150, "issue_page": 100, "worklog_page": 100,
}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file the run writes inside ``work`` and let Python
    workers import the package from the checkout."""
    for sub in ("scratch", "local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    tmp = os.path.join(work, "tmp")
    conf = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'events')}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(conf + ["pyspark-shell"])
    sys.path.insert(0, ROOT)


def build_workload(name: str, seed: int, work: str, trace: bool):
    """Inputs for one workload."""
    from workloads import QUERY_MIX, JiraDaily, QueryWorkload

    if name == "jira_daily":
        count_dir = os.path.join(work, "fetch_counts") if trace else None
        if count_dir:
            os.makedirs(count_dir, exist_ok=True)
        return JiraDaily(work, seed, JIRA_SIZES, count_dir)
    import datagen
    import expected
    from airflow_jira_etl_spark import registry

    sf_dir = os.path.join(work, f"sf{QUERY_SF}")
    datagen.generate(sf_dir, QUERY_SF, DATA_SEED)
    registry.load_all_queries()
    want = expected.expectations(
        sf_dir, {n: registry.ORACLES[n] for n in QUERY_MIX}, os.path.join(HERE, ".expected")
    )
    return QueryWorkload(QUERY_MIX, sf_dir, seed, want)


def window(wl, seconds: float, tracer, phase: str):
    """Whole passes until ``seconds`` have elapsed and at least
    ``wl.min_passes`` have run, checked after their timing: (pass wall
    seconds, pass CPU seconds, operations). The tracer is off while the
    outputs are checked, so the checks' own executions add nothing to
    the per-layer figures."""
    from spans import tree_cpu_s

    walls, cpus, ops = [], [], []
    t_end = time.perf_counter() + seconds
    traced = tracer.enabled
    while True:
        c0, t0 = tree_cpu_s(), time.perf_counter()
        ops.extend(wl.run_pass(tracer, phase))
        walls.append(time.perf_counter() - t0)
        cpus.append(tree_cpu_s() - c0)
        tracer.enabled = False
        wl.verify_pass(tracer)
        tracer.enabled = traced
        if time.perf_counter() >= t_end and len(walls) >= wl.min_passes:
            break
    tracer.enabled = False
    wl.verify_window(tracer)
    tracer.enabled = traced
    return walls, cpus, ops


def stop_jvm(timeout: float = 60.0) -> None:
    """Shut the Spark JVM down and wait until every process this run
    started (the JVM, the PySpark daemon and its workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
            proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while live_children() and time.monotonic() < deadline:
        time.sleep(0.1)


def live_children() -> list[int]:
    """Pids of this process's live child processes."""
    me = str(os.getpid())
    kids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[1] == me and fields[0] != "Z":
                kids.append(int(name))
    return kids


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}; "
              f"run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    prepare_env(work, bool(args.trace))
    spark = None
    try:
        from spans import Tracer, tree_cpu_s

        c0, t0 = tree_cpu_s(), time.perf_counter()
        wl = build_workload(args.workload, args.seed, work, bool(args.trace))
        input_cpu, input_s = tree_cpu_s() - c0, time.perf_counter() - t0
        off = Tracer(False, "untraced")
        setup = Tracer(True, "setup")  # counters only: session, catalog, checks
        t0 = time.perf_counter()
        from airflow_jira_etl_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        setup.count("session.get_spark_s", time.perf_counter() - t0)
        wl.setup(spark, setup)
        # set-up: process start to the first timed operation, minus the
        # benchmark's own input building and output checks
        setup_cpu = tree_cpu_s() - input_cpu - setup.counts["check_cpu_s"]
        setup_wall = time.perf_counter() - T_START - input_s - setup.counts["check_s"]
        print(f"perfbench: setup {setup_cpu:.2f} cpu s, {setup_wall:.2f} s wall "
              f"(get_spark {setup.counts['session.get_spark_s']:.2f} s); "
              f"inputs {input_s:.2f} s", file=sys.stderr)

        walls, cpus, ops = window(wl, args.seconds, off, "run")
        result, client = summarize(args, setup_cpu, setup_wall, walls, cpus, ops)
        if args.trace:
            from layers import collect

            result["metrics"], n_ops, n_failed = collect(args, wl, spark, work, setup, client)
            spark = None  # stopped inside, to flush the event log
            result["attempted"] += n_ops
            result["failed"] += n_failed
        n_checked, bad = wl.check()
        for msg in bad:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
        result["attempted"] += n_checked
        result["failed"] += len(bad)
        result["correct"] = result["failed"] == 0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


def summarize(args, setup_cpu, setup_wall, walls, cpus, ops) -> tuple[dict, dict]:
    """The result line with the end-to-end metrics, and the client's
    per-operation view, which the traced run reports. ``setup_s`` and
    ``cpu_s`` count CPU seconds of the process tree, for the set-up and
    per pass over the timed window. On a shared host, wall times of
    passes this short spread more from run to run than any bound
    allows, so the pass wall time is reported ungated with the client's
    view: the sum over the pass's operations of each one's median
    latency in the window, which a burst of host load that slows one
    operation once does not move."""
    lat = [dt for name, dt, _, _ in ops if name != "vacuum"]
    cpu = [c for name, _, c, _ in ops if name != "vacuum"]
    errors = [(name, err) for name, _, _, err in ops if err]
    for name, err in errors:
        print(f"perfbench: {name} failed: {err}", file=sys.stderr)
    per_op: dict[str, list[float]] = {}
    for name, dt, c, _ in ops:
        per_op.setdefault(name, []).append(dt)
    print(f"perfbench: {args.workload} seed={args.seed} passes={len(walls)} ops={len(lat)} "
          f"walls={[round(w, 3) for w in walls]} cpu={[round(c, 2) for c in cpus]}; "
          "median wall seconds per operation: " + ", ".join(
              f"{k}={statistics.median(v):.3f}" for k, v in sorted(per_op.items())),
          file=sys.stderr)
    client = {
        "closed_loop.setup_wall_s": setup_wall,
        "closed_loop.pass_wall_s": sum(statistics.median(v) for v in per_op.values()),
        "closed_loop.op_p50_s": percentile(lat, 0.5),
        "closed_loop.op_p90_s": percentile(lat, 0.9),
        "closed_loop.op_cpu_p50_s": percentile(cpu, 0.5),
        "closed_loop.op_cpu_p90_s": percentile(cpu, 0.9),
    }
    result = {
        "correct": not errors,
        "attempted": len(lat),
        "failed": len(errors),
        "metrics": {
            "setup_s": {"value": setup_cpu, "unit": "s"},
            "cpu_s": {"value": sum(cpus) / len(cpus), "unit": "s"},
        },
    }
    return result, client


if __name__ == "__main__":
    sys.exit(main())
