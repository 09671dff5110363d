"""Per-layer metrics: a traced window after the untraced ones.

Spans are taken around the benchmark's own calls into each layer; the
upsert sink is wrapped at its class boundary for the traced window
only, and the Spark-side numbers come from the event log (executor
time, shuffle, spill, tasks, jobs) and a StreamingQueryListener. Every
figure is per traced pass, so a faster program is not charged for
fitting more passes into the window.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from spans import Tracer, make_stream_listener, read_event_log, read_fetch_counts

ENTITIES = ("issues", "worklogs", "users")
TASK_KINDS = ("ensure", "ingest", "merge")

METRICS = [
    ("session.get_spark_s", "s"), ("catalog.load_s", "s"),
    ("parquet_upsert.apply_calls", "count"), ("parquet_upsert.apply_s", "s"),
    ("parquet_upsert.rows_in", "count"), ("parquet_upsert.rows_written", "count"),
    ("parquet_upsert.buckets_rewritten", "count"), ("parquet_upsert.bytes_written", "bytes"),
    ("parquet_upsert.write_amp", "ratio"), ("parquet_upsert.useful_row_ratio", "ratio"),
    ("parquet_upsert.vacuum_s", "s"), ("parquet_upsert.bytes_reclaimed", "bytes"),
    ("parquet_upsert.stored_bytes_per_live_byte", "ratio"),
    ("paged_rest.fetch_calls", "count"), ("paged_rest.fetch_s", "s"),
    ("paged_rest.records", "count"),
    ("mapping.flatten_s", "s"),
    *[(f"pipeline.{e}.{k}_s", "s") for e in ENTITIES for k in TASK_KINDS],
    *[(f"pipeline.{e}.merge_self_s", "s") for e in ENTITIES],
    *[(f"pipeline.{e}_run_s", "s") for e in ENTITIES],
    ("pipeline.records_per_s", "1/s"),
    ("queries.build_s", "s"), ("queries.analysis_s", "s"), ("queries.optimization_s", "s"),
    ("queries.planning_s", "s"), ("queries.exec_s", "s"),
    ("queries.jobs", "count"), ("queries.executor_run_s", "s"),
    ("queries.shuffle_bytes", "bytes"), ("queries.spill_bytes", "bytes"),
    ("queries.tasks", "count"),
    ("streaming.batches", "count"), ("streaming.batch_s", "s"), ("streaming.state_rows", "count"),
    ("trace.untraced_wall_s", "s"), ("trace.traced_wall_s", "s"), ("trace.overhead_s", "s"),
    ("closed_loop.setup_wall_s", "s"),
    ("closed_loop.pass_wall_s", "s"),
    ("closed_loop.op_p50_s", "s"), ("closed_loop.op_p90_s", "s"),
    ("closed_loop.op_cpu_p50_s", "s"), ("closed_loop.op_cpu_p90_s", "s"),
]


def _gen_stats(gen_dir: str) -> tuple[int, int]:
    """(bytes, rows) of the data files one generation wrote."""
    import pyarrow.parquet as pq

    nbytes = rows = 0
    for d, _, files in os.walk(gen_dir):
        for f in files:
            p = os.path.join(d, f)
            nbytes += os.path.getsize(p)
            if f.endswith(".parquet"):
                rows += pq.read_metadata(p).num_rows
    return nbytes, rows


def _wrap_upsert(tracer: Tracer):
    """Trace ParquetUpsertTable.apply; returns an undo callable."""
    from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable

    apply0 = ParquetUpsertTable.apply

    def apply(self, *a, **k):
        before = (self._read_manifest() or {}).get("buckets", {})
        with tracer.span("parquet_upsert.apply"):
            out = apply0(self, *a, **k)
        after = self._read_manifest()["buckets"]
        nbytes, rows = _gen_stats(self.current_generation())
        tracer.count("parquet_upsert.apply_calls")
        tracer.count("parquet_upsert.buckets_rewritten",
                     sum(1 for b, p in after.items() if before.get(b) != p))
        tracer.count("parquet_upsert.bytes_written", nbytes)
        tracer.count("parquet_upsert.rows_written", rows)
        return out

    ParquetUpsertTable.apply = apply

    def undo():
        ParquetUpsertTable.apply = apply0

    return undo


def _flatten_s(wl, spark) -> float:
    """Median of three runs of the issues flatten over the day's raw
    pages, cached in memory, to a noop sink."""
    from airflow_jira_etl_spark.entities import ISSUE_MAPPING
    from airflow_jira_etl_spark.sources.paged_rest import raw_json_to_flat
    from pyspark.sql import types as T
    from workloads import noop_write

    emu = wl.emu
    raw = spark.createDataFrame(
        [(json.dumps(emu.issue(i, 1)),) for i in range(emu.n_issues)],
        T.StructType([T.StructField("raw", T.StringType())]),
    ).cache()
    raw.count()
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        noop_write(raw_json_to_flat(raw, ISSUE_MAPPING))
        times.append(time.perf_counter() - t0)
    raw.unpersist()
    return statistics.median(times)


def collect(args, wl, spark, work: str, setup: Tracer, client: dict) -> tuple[dict, int, int]:
    """Run an untraced base window, the traced window and a second base
    window, stop Spark to flush the event log, and return (per-layer
    metrics, operations attempted, operations failed)."""
    from run import window

    jira = args.workload == "jira_daily"
    tracer = Tracer(True, f"{args.workload}-{args.seed}")
    # the base for the overhead is the mean of the untraced windows just
    # before and just after the traced one: passes still get faster from
    # one to the next, and bracketing cancels that trend
    base_walls, _, base_ops = window(wl, args.seconds, Tracer(False, "base"), "base")
    count_dir = os.path.join(work, "fetch_counts")
    for f in os.listdir(count_dir) if os.path.isdir(count_dir) else []:
        os.remove(os.path.join(count_dir, f))
    undo = _wrap_upsert(tracer)
    listener = make_stream_listener(tracer)
    spark.streams.addListener(listener)
    try:
        walls, _, ops = window(wl, args.seconds, tracer, "trace")
        time.sleep(1.0)  # let the listener bus deliver the last progress events
    finally:
        spark.streams.removeListener(listener)
        undo()
    fetched = read_fetch_counts(count_dir) if jira else None
    after_walls, _, after_ops = window(wl, args.seconds, Tracer(False, "base"), "base")
    n = len(walls)
    m: dict[str, float] = {k: 0.0 for k, _ in METRICS}
    m["session.get_spark_s"] = setup.counts["session.get_spark_s"]
    m["catalog.load_s"] = setup.counts.get("catalog.load_s", 0.0)
    selfs = tracer.self_times()
    for k in ("apply_calls", "buckets_rewritten", "bytes_written", "rows_written"):
        m[f"parquet_upsert.{k}"] = tracer.counts.get(f"parquet_upsert.{k}", 0.0) / n
    m["parquet_upsert.apply_s"] = tracer.total("parquet_upsert.apply") / n
    for k in ("batches", "batch_s", "state_rows"):
        m[f"streaming.{k}"] = tracer.counts.get(f"streaming.{k}", 0.0) / n
    for k in ("analysis_s", "optimization_s", "planning_s"):
        m[f"queries.{k}"] = tracer.counts.get(f"queries.{k}", 0.0) / n
    m["queries.build_s"] = tracer.total("queries.build") / n
    m["queries.exec_s"] = tracer.total("queries.exec") / n
    if jira:
        calls, secs, recs = fetched
        m["paged_rest.fetch_calls"] = calls / n
        m["paged_rest.fetch_s"] = secs / n
        m["paged_rest.records"] = recs / n
        m["parquet_upsert.rows_in"] = recs / n
        changed = _changed_rows(wl.emu)
        if m["parquet_upsert.rows_written"]:
            m["parquet_upsert.write_amp"] = m["parquet_upsert.rows_written"] / (recs / n)
            m["parquet_upsert.useful_row_ratio"] = changed / m["parquet_upsert.rows_written"]
        m["parquet_upsert.vacuum_s"] = tracer.total("parquet_upsert.vacuum") / n
        m["parquet_upsert.bytes_reclaimed"] = wl.last_stats["bytes_reclaimed"]
        m["parquet_upsert.stored_bytes_per_live_byte"] = (
            wl.last_stats["stored_bytes"] / wl.last_stats["live_bytes"])
        for e in ENTITIES:
            m[f"pipeline.{e}_run_s"] = tracer.total(f"dag.{e}") / n
            for k in TASK_KINDS:
                m[f"pipeline.{e}.{k}_s"] = tracer.total(f"pipeline.{e}.{k}") / n
            # the merge task is the only one with child spans (the sink)
            m[f"pipeline.{e}.merge_self_s"] = selfs.get(f"pipeline.{e}.merge", 0.0) / n
        run_s = sum(m[f"pipeline.{e}_run_s"] for e in ENTITIES)
        m["pipeline.records_per_s"] = (recs / n) / run_s
        m["mapping.flatten_s"] = _flatten_s(wl, spark)
    spark.stop()
    groups = read_event_log(os.path.join(work, "events"))
    traced = [g for name, g in groups.items() if name.startswith("trace:")]
    for k in ("jobs", "executor_run_s", "shuffle_bytes", "spill_bytes", "tasks"):
        m[f"queries.{k}"] = sum(g.get(k, 0.0) for g in traced) / n
    m.update(client)
    m["trace.untraced_wall_s"] = (statistics.median(base_walls)
                                  + statistics.median(after_walls)) / 2
    m["trace.traced_wall_s"] = statistics.median(walls)
    m["trace.overhead_s"] = m["trace.traced_wall_s"] - m["trace.untraced_wall_s"]
    spans_dir = os.path.join(os.path.dirname(os.path.dirname(work)), ".perfbench_spans")
    os.makedirs(spans_dir, exist_ok=True)
    tracer.dump(os.path.join(spans_dir, f"{args.workload}-{args.seed}.jsonl"))
    ops = [op for op in base_ops + ops + after_ops if op[0] != "vacuum"]
    failed = [(name, err) for name, _, _, err in ops if err]
    for name, err in failed:
        print(f"perfbench: traced {name} failed: {err}", file=sys.stderr)
    units = dict(METRICS)
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}, len(ops), len(failed)


def _changed_rows(emu) -> int:
    """Day-1 rows whose content differs from day 0 (new keys included)."""
    issues = sum(emu.issue_version(i, 1) for i in range(emu.n_issues))
    users = sum(emu.user_version(u, 1) for u in range(emu.n_users))
    return issues + emu.wl_edits + emu.wl_new + users

