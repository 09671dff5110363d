"""The benchmark workloads.

Each workload drives the engine only through its public functions and
is run as one client in a closed loop: an operation starts when the
previous one ends. A workload exposes

* ``setup(spark, tracer)`` — everything paid before the first timed
  operation (catalog load or day-0 tables, build-once caches, one
  untimed execution of every operation);
* ``run_pass(tracer)`` — one timed pass, returning per-operation
  ``(name, seconds, cpu seconds, error)`` records; a window runs at
  least ``min_passes`` of them;
* ``verify_pass(tracer)`` and ``verify_window(tracer)`` — output checks
  after each pass and after the last pass of a window, outside the
  timing; the time they take is counted as ``check_s``/``check_cpu_s``;
* ``check()`` — ``(checks made, failure messages)``.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time

from spans import Tracer, tree_cpu_s

# The query_mix set: one scan, filter, aggregation, window, sort,
# projection, sink and stream query, where fixed per-query costs
# dominate (plan build, Catalyst, job scheduling, the availableNow batch
# floor), plus a pandas UDF, whose time goes to Python workers. Each
# pass runs every query once, in an order drawn from the workload seed.
QUERY_MIX = [
    "scan_parquet", "filter_in_like_regex", "agg_grouping_sets",
    "win_rank_dense_rownum", "sort_limit_topk", "project_flatten_json",
    "sink_upsert", "stream_tumbling_count", "udf_pandas_vectorized",
]


def noop_write(df) -> None:
    """Full execution of every projected expression, no output kept."""
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    """Registered queries timed from the function call to the end of
    a noop write."""

    # The JVM is still compiling the queries' hot paths over their first
    # few executions, and that compilation's CPU time varies from run to
    # run; a pass lasts a few seconds. So set-up runs two untimed passes
    # after the checked one, and a window runs at least four passes.
    warm_passes = 2
    min_passes = 4

    def __init__(self, names: list[str], sf_dir: str, seed: int, expected: dict):
        self.names = list(names)
        self.sf_dir = sf_dir
        self.rng = random.Random(seed)
        self.expected = expected
        self.checked = 0
        self.bad: list[str] = []
        self.spark = None
        self.queries = None

    def setup(self, spark, tracer: Tracer) -> None:
        """Catalog load, then one checked execution of each query at the
        measured scale, which builds the content-keyed scratch caches
        (the event page directories of the stream query), then the
        untimed warm-up passes."""
        from airflow_jira_etl_spark import catalog, registry

        self.spark = spark
        registry.load_all_queries()
        self.queries = registry.QUERIES
        t0 = time.perf_counter()
        for t in catalog.TABLES:
            catalog.load(spark, self.sf_dir, t)
        tracer.count("catalog.load_s", time.perf_counter() - t0)
        for name in self.names:
            self._check(name, "setup", tracer)
        for _ in range(self.warm_passes):
            for name, _, _, err in self.run_pass(Tracer(False, "warm"), "setup"):
                if err:
                    self.bad.append(f"warm-up {name}: {err}")
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def _check(self, name: str, phase: str, tracer: Tracer) -> None:
        """Execute ``name``, collect the result and compare its summary
        with the oracle's. The time spent hashing is counted as
        ``check_s``/``check_cpu_s``: in set-up the execution builds the
        caches and is set-up work, the hashing is not."""
        from expected import summarize

        self.spark.sparkContext.setJobGroup(f"{phase}:{name}", name)
        self.checked += 1
        try:
            df = self.queries[name](self.spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            self.bad.append(f"{phase} {name}: {type(exc).__name__}: {str(exc)[:300]}")
            return
        c1, t1 = tree_cpu_s(), time.perf_counter()
        got = summarize(list(df.columns), rows)
        if got != self.expected[name]:
            self.bad.append(f"{phase} {name}: got {got}, expected {self.expected[name]}")
        tracer.count("check_s", time.perf_counter() - t1)
        tracer.count("check_cpu_s", tree_cpu_s() - c1)

    def _run(self, name: str, phase: str, tracer: Tracer):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{phase}:{name}", name)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        err = None
        try:
            if not tracer.enabled:
                noop_write(self.queries[name](self.spark, self.sf_dir))
            else:
                with tracer.span("query"):
                    with tracer.span("queries.build"):
                        df = self.queries[name](self.spark, self.sf_dir)
                    with tracer.span("queries.plan"):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                        phases = qe.tracker().phases()
                        for p in ("analysis", "optimization", "planning"):
                            s = phases.get(p)
                            if s.isDefined():
                                tracer.count(f"queries.{p}_s", s.get().durationMs() / 1000.0)
                    with tracer.span("queries.exec"):
                        noop_write(df)
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        dt = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        return name, dt, tree_cpu_s() - c0, err

    def run_pass(self, tracer: Tracer, phase: str) -> list[tuple]:
        order = list(self.names)
        self.rng.shuffle(order)
        return [self._run(n, phase, tracer) for n in order]

    def verify_pass(self, tracer: Tracer) -> None:
        pass

    def verify_window(self, tracer: Tracer) -> None:
        """Run every query once more, untimed, and check its output: the
        passes just timed read the scratch caches that set-up built, and
        so does this execution."""
        for name in self.names:
            self._check(name, "check", tracer)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def check(self) -> tuple[int, list[str]]:
        return self.checked, self.bad


# ---------------------------------------------------------------- jira

ENTITIES = ("issues", "worklogs", "users")
KEYS = {"issues": "issue_id", "worklogs": "tempo_worklog_id", "users": "account_id"}
CHECKED = {"issues": "fields_timespent", "worklogs": "updated_at", "users": "display_name"}
URLS = {
    "issues": "https://jira.example/rest/api/3/search",
    "worklogs": "https://api.tempo.io/4/worklogs",
    "users": "https://jira.example/rest/api/3/users/search",
}


def tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class JiraDaily:
    """The reference's deployed workload: one day-1 run of each entity
    DAG over tables that already hold day 0, then vacuum."""

    min_passes = 1

    def __init__(self, work: str, seed: int, sizes: dict, count_dir: str | None):
        from emulators import JiraEmulator

        self.emu = JiraEmulator(seed, count_dir=count_dir, **sizes)
        self.checked = 0
        self.bad: list[str] = []
        self.tables = os.path.join(work, "tables")
        self.day0 = os.path.join(work, "day0")
        self.spark = None
        self.before_vacuum = 0
        self.last_stats: dict = {}

    def _table(self, entity: str):
        from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable

        return ParquetUpsertTable(self.spark, os.path.join(self.tables, entity), key=KEYS[entity])

    def setup(self, spark, tracer: Tracer) -> None:
        """Day 0 through the same three DAGs into empty tables (one apply
        per entity), which also runs the fetch, flatten and sink code
        once; the day-0 tables are kept for the restore after each
        pass."""
        self.spark = spark
        shutil.rmtree(self.tables, ignore_errors=True)
        self.emu.day = 0
        for entity in ENTITIES:
            spark.sparkContext.setJobGroup(f"setup:day0_{entity}", entity)
            self._pipeline(entity).run({})
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        shutil.rmtree(self.day0, ignore_errors=True)
        shutil.copytree(self.tables, self.day0)

    def _restore(self) -> None:
        shutil.rmtree(self.tables, ignore_errors=True)
        shutil.copytree(self.day0, self.tables)

    def _pipeline(self, entity: str):
        from airflow_jira_etl_spark import pipeline

        build = {
            "issues": pipeline.issues_pipeline,
            "worklogs": pipeline.worklog_pipeline,
            "users": pipeline.users_pipeline,
        }[entity]
        return build(self.spark, self.emu, URLS[entity], self.tables)

    def run_pass(self, tracer: Tracer, phase: str) -> list[tuple]:
        self.emu.day = 1
        out = []
        sc = self.spark.sparkContext
        for entity in ENTITIES:
            sc.setJobGroup(f"{phase}:{entity}", entity)
            p = self._pipeline(entity)
            if tracer.enabled:
                for task in p.tasks.values():
                    kind = task.name.split("_")[0]
                    task.fn = _spanned(tracer, f"pipeline.{entity}.{kind}", task.fn)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            err = None
            try:
                with tracer.span(f"dag.{entity}"):
                    p.run({})
            except Exception as exc:  # noqa: BLE001
                err = f"{type(exc).__name__}: {str(exc)[:300]}"
            out.append((entity, time.perf_counter() - t0, tree_cpu_s() - c0, err))
        self.before_vacuum = tree_bytes(self.tables)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with tracer.span("parquet_upsert.vacuum"):
            for entity in ENTITIES:
                self._table(entity).vacuum(retain_last=2)
        out.append(("vacuum", time.perf_counter() - t0, tree_cpu_s() - c0, None))
        sc.setLocalProperty("spark.jobGroup.id", None)
        return out

    def _live_bytes(self, entity: str) -> int:
        t = self._table(entity)
        m = t._read_manifest()
        return sum(tree_bytes(p) for p in t._bucket_paths(m))

    def verify_pass(self, tracer: Tracer) -> None:
        """Each table's keys and checked column against the emulator's
        last-writer-wins state after day 1; then the byte counts of the
        vacuumed tables, and the day-0 tables back for the next pass."""
        from pyspark.sql import functions as F

        c0, t0 = tree_cpu_s(), time.perf_counter()
        want = self.emu.expected(1)
        self.spark.sparkContext.setJobGroup("check:tables", "tables")
        for entity in ENTITIES:
            key, col = KEYS[entity], CHECKED[entity]
            rows = self._table(entity).read().select(F.col(key), F.col(col)).collect()
            got = {r[0]: r[1] for r in rows}
            self.checked += 1
            if len(rows) != len(got):
                self.bad.append(f"{entity}: duplicate keys ({len(rows)} rows, {len(got)} keys)")
            elif got != want[entity]:
                diff = [k for k in want[entity] if got.get(k) != want[entity][k]]
                extra = [k for k in got if k not in want[entity]]
                self.bad.append(f"{entity}: {len(diff)} keys differ, {len(extra)} unexpected "
                                f"(e.g. {(diff + extra)[:3]})")
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        tracer.count("check_s", time.perf_counter() - t0)
        tracer.count("check_cpu_s", tree_cpu_s() - c0)
        stored = tree_bytes(self.tables)
        self.last_stats = {
            "bytes_reclaimed": self.before_vacuum - stored,
            "stored_bytes": stored,
            "live_bytes": sum(self._live_bytes(e) for e in ENTITIES),
        }
        self._restore()

    def verify_window(self, tracer: Tracer) -> None:
        pass

    def check(self) -> tuple[int, list[str]]:
        return self.checked, self.bad


def _spanned(tracer: Tracer, name: str, fn):
    def run(ctx):
        with tracer.span(name):
            return fn(ctx)
    return run
