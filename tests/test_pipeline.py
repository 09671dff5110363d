"""End-to-end pipeline test: the reference's worklogs DAG shape
(create >> fetch >> upsert) against a fixture cursor API."""

from __future__ import annotations

import os

import pytest

from airflow_jira_etl_spark.pipeline import Pipeline, worklog_pipeline
from tests.test_ingest import make_cursor_fetcher


def _worklog_fetcher(n_pages=3, page_size=4):
    base = make_cursor_fetcher(n_pages, page_size)

    def fetch(url, params=None):
        page = base(url, params)
        # enrich with the nested fields the WORKLOG_MAPPING expects
        for i, r in enumerate(page["results"]):
            r["issue"] = {"id": f"I{r['tempoWorklogId']}", "self": "u"}
            r["author"] = {"accountId": f"A{i}", "self": "u"}
        return page

    return fetch


def test_worklog_pipeline_end_to_end(spark, tmp_path):
    p = worklog_pipeline(
        spark, _worklog_fetcher(), "https://api/worklogs?page=0", str(tmp_path)
    )
    order = p.run({})
    assert order == ["ensure_table", "ingest_pages", "merge_upsert"]
    # run a fresh pipeline again (the Airflow retry-from-scratch path):
    # state must be unchanged (idempotent replay)
    ctx2: dict = {}
    worklog_pipeline(
        spark, _worklog_fetcher(), "https://api/worklogs?page=0", str(tmp_path)
    ).run(ctx2)
    table = ctx2["table"].read()
    assert table.count() == 12
    cols = set(table.columns)
    assert {"tempo_worklog_id", "issue_id", "author_id", "url"} <= cols


_WL_URL = "https://api/worklogs?page=0"


def _wl(wid: int, updated_at: str) -> dict:
    return {
        "self": f"w{wid}",
        "tempoWorklogId": wid,
        "updatedAt": updated_at,
        "issue": {"id": 7, "self": "u"},
        "author": {"accountId": "a", "self": "u"},
    }


def _pages_fetcher(pages: list[list[dict]], fail_page: int | None = None):
    """Cursor fetcher over explicit record pages; with ``fail_page``,
    every fetch of that page raises."""

    def fetch(url, params=None):
        k = int(url.rsplit("page=", 1)[1])
        if k == fail_page:
            raise ConnectionError(f"page {k} is down")
        meta = {"next": f"https://api/worklogs?page={k + 1}"} if k + 1 < len(pages) else {}
        return {"results": pages[k], "metadata": meta}

    return fetch


def _worklogs(spark, root) -> list[tuple]:
    from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable

    t = ParquetUpsertTable(spark, str(root / "worklogs"), key="tempo_worklog_id")
    return sorted(map(tuple, t.read().collect()))


def test_worklog_run_is_one_merge_with_cross_page_last_writer_wins(spark, tmp_path):
    """A key served on the first and the third cursor page keeps the
    third page's row, even where the first page's value sorts later,
    and the whole walk commits exactly one new generation."""
    from airflow_jira_etl_spark.sinks.parquet_upsert import _gen_number

    ctx: dict = {}
    worklog_pipeline(
        spark, _pages_fetcher([[_wl(1, "day0"), _wl(2, "day0")]]), _WL_URL, str(tmp_path)
    ).run(ctx)
    gen0 = _gen_number(ctx["table"].current_generation())
    pages = [
        [_wl(1, "z-page1"), _wl(3, "page1")],
        [_wl(4, "page2")],
        [_wl(1, "a-page3"), _wl(5, "page3")],
    ]
    ctx = {}
    worklog_pipeline(spark, _pages_fetcher(pages), _WL_URL, str(tmp_path)).run(ctx)
    table = ctx["table"]
    assert _gen_number(table.current_generation()) == gen0 + 1
    got = {r[0]: r[1] for r in table.read().select("tempo_worklog_id", "updated_at").collect()}
    assert got == {"1": "a-page3", "2": "day0", "3": "page1", "4": "page2", "5": "page3"}
    assert "__scan_ord" not in table.read().columns
    assert not [d for d in os.listdir(table.root) if d.startswith(".staging_")]


def test_worklog_fault_keeps_table_and_replay_matches_fault_free_run(
    spark, tmp_path, monkeypatch
):
    """A cursor page that keeps failing aborts the run after the retry
    policy gives up: the table stays at its previous generation and the
    partial spool is gone. Rerunning the DAG then gives exactly the
    table of a fault-free run (idempotent replay, SURVEY §3.4)."""
    from airflow_jira_etl_spark.sources import paged_rest

    # with_retry reads its bounds at call time: no real 4-10 s backoff
    monkeypatch.setattr(paged_rest, "RETRY_MIN_S", 0.0)
    monkeypatch.setattr(paged_rest, "RETRY_MAX_S", 0.0)
    day0 = [[_wl(i, "day0") for i in range(6)]]
    day1 = [[_wl(i, f"day1-p{k}") for i in range(3 * k, 3 * k + 4)] for k in range(4)]

    ref = tmp_path / "ref"
    for pages in (day0, day1):
        worklog_pipeline(spark, _pages_fetcher(pages), _WL_URL, str(ref)).run({})

    root = tmp_path / "faulty"
    ctx: dict = {}
    worklog_pipeline(spark, _pages_fetcher(day0), _WL_URL, str(root)).run(ctx)
    gen0 = ctx["table"].current_generation()
    tries = []
    failing = _pages_fetcher(day1, fail_page=2)

    def counted(url, params=None):
        tries.append(url)
        return failing(url, params)

    with pytest.raises(ConnectionError, match="page 2"):
        worklog_pipeline(spark, counted, _WL_URL, str(root)).run({})
    assert tries.count("https://api/worklogs?page=2") == paged_rest.RETRY_ATTEMPTS
    table_dir = root / "worklogs"
    assert ctx["table"].current_generation() == gen0
    assert not [d for d in os.listdir(table_dir) if d.startswith(".staging_")]

    worklog_pipeline(spark, _pages_fetcher(day1), _WL_URL, str(root)).run({})
    assert _worklogs(spark, root) == _worklogs(spark, ref)
    assert len(_worklogs(spark, root)) == 13


def test_pipeline_cycle_detection():
    p = Pipeline("bad")
    p.task("a", upstream=["b"])(lambda ctx: None)
    p.task("b", upstream=["a"])(lambda ctx: None)
    with pytest.raises(RuntimeError, match="cycle"):
        p.run({})


def test_dag_specs_mirror_reference_shape():
    """Three entity DAGs, @daily/catchup-off/1-retry-5-min defaults,
    ensure_table >> ingest dependency (the reference's DAG config at
    fetch_jira_tempo_worklogs.py:15-26,114)."""
    from airflow_jira_etl_spark.orchestration import build_airflow_dags, build_dag_specs

    specs = build_dag_specs()
    assert [s.dag_id for s in specs] == [
        "fetch_jira_tempo_worklogs",
        "fetch_jira_issues",
        "fetch_jira_users",
    ]
    for s in specs:
        assert (s.schedule, s.catchup, s.retries, s.retry_delay_minutes) == (
            "@daily",
            False,
            1,
            5,
        )
        deps = {t.task_id: t.upstream for t in s.tasks}
        assert deps["ingest_and_merge"] == ("ensure_table",)
    # airflow absent here: materialization degrades to []
    assert build_airflow_dags() == []


def test_issues_pipeline_offset_fanout(spark, tmp_path):
    from airflow_jira_etl_spark.pipeline import issues_pipeline
    from airflow_jira_etl_spark.sources import fixture_fetchers

    fetch = fixture_fetchers.synthetic_issues_fetcher({})
    ctx: dict = {}
    issues_pipeline(spark, fetch, "https://api/search", str(tmp_path)).run(ctx)
    table = ctx["table"].read()
    assert table.count() == fixture_fetchers.TOTAL
    assert "issue_id" in table.columns and "issue_key" in table.columns


def test_users_pipeline_single_page(spark, tmp_path):
    from airflow_jira_etl_spark.pipeline import users_pipeline

    def fetch(url, params=None):
        return [
            {"self": "u1", "accountId": "a1", "displayName": "Jane", "active": "true"},
            {"self": "u2", "accountId": "a2", "displayName": "Kai", "active": "false"},
        ]

    ctx: dict = {}
    users_pipeline(spark, fetch, "https://api/users", str(tmp_path)).run(ctx)
    table = ctx["table"].read()
    assert table.count() == 2
    assert {"account_id", "display_name", "url"} <= set(table.columns)

def test_spec_args_parse_and_name_real_tasks(spark, tmp_path):
    """Every DAG spec's CLI args must (a) parse against pipeline.main's
    argparse surface and (b) name a task that exists in the entity's
    pipeline — the declarative layer must be runnable as specified."""
    from airflow_jira_etl_spark.orchestration import build_dag_specs
    from airflow_jira_etl_spark.pipeline import (
        issues_pipeline,
        parse_args,
        users_pipeline,
    )

    builders = {
        "tempo_worklogs": worklog_pipeline,
        "issues": issues_pipeline,
        "users": users_pipeline,
    }
    for spec in build_dag_specs():
        for t in spec.tasks:
            ns = parse_args(list(t.args))  # SystemExit 2 on unknown arg
            p = builders[ns.entity](
                spark, lambda url, params=None: [], "https://api", str(tmp_path)
            )
            assert ns.task in p.tasks, (spec.dag_id, t.task_id, ns.task)


def test_run_only_executes_upstream_closure(spark, tmp_path):
    """--task=merge_upsert runs ensure_table >> ingest >> merge;
    --task=ensure_table runs exactly that one task."""
    from airflow_jira_etl_spark.pipeline import users_pipeline

    def fetch(url, params=None):
        return [{"self": "u1", "accountId": "a1", "displayName": "J", "active": "true"}]

    p = users_pipeline(spark, fetch, "https://api/users", str(tmp_path / "a"))
    assert p.run({}, only="ensure_table") == ["ensure_table"]
    p2 = users_pipeline(spark, fetch, "https://api/users", str(tmp_path / "b"))
    done = p2.run({}, only="merge_upsert")
    assert done == ["ensure_table", "ingest_page", "merge_upsert"]
    with pytest.raises(KeyError, match="unknown task"):
        p2.run({}, only="nope")


def test_airflow_materialization_under_stub(monkeypatch):
    """build_airflow_dags with a stubbed airflow module: real DAG
    objects carrying the reference defaults, a file-path application,
    and the ensure_table >> ingest_and_merge edge."""
    import os
    import sys
    import types

    captured_dags = []

    class FakeDAG:
        def __init__(self, dag_id, schedule, catchup, default_args):
            self.dag_id = dag_id
            self.schedule = schedule
            self.catchup = catchup
            self.default_args = default_args
            captured_dags.append(self)

    captured_ops = []

    class FakeOp:
        def __init__(self, task_id, application, application_args, dag):
            self.task_id = task_id
            self.application = application
            self.application_args = application_args
            self.dag = dag
            self.downstream = []
            captured_ops.append(self)

        def __rshift__(self, other):
            self.downstream.append(other.task_id)
            return other

    airflow_mod = types.ModuleType("airflow")
    airflow_mod.DAG = FakeDAG
    prov = types.ModuleType("airflow.providers")
    apache = types.ModuleType("airflow.providers.apache")
    spark_m = types.ModuleType("airflow.providers.apache.spark")
    ops_m = types.ModuleType("airflow.providers.apache.spark.operators")
    submit_m = types.ModuleType(
        "airflow.providers.apache.spark.operators.spark_submit"
    )
    submit_m.SparkSubmitOperator = FakeOp
    for name, mod in {
        "airflow": airflow_mod,
        "airflow.providers": prov,
        "airflow.providers.apache": apache,
        "airflow.providers.apache.spark": spark_m,
        "airflow.providers.apache.spark.operators": ops_m,
        "airflow.providers.apache.spark.operators.spark_submit": submit_m,
    }.items():
        monkeypatch.setitem(sys.modules, name, mod)

    from airflow_jira_etl_spark.orchestration import build_airflow_dags

    dags = build_airflow_dags()
    assert [d.dag_id for d in dags] == [
        "fetch_jira_tempo_worklogs",
        "fetch_jira_issues",
        "fetch_jira_users",
    ]
    from datetime import datetime, timedelta

    for d in dags:
        assert d.schedule == "@daily" and d.catchup is False
        assert d.default_args == {
            "retries": 1,
            "retry_delay": timedelta(minutes=5),
            # the reference's start_date default (a scheduled DAG
            # without one never runs)
            "start_date": datetime(2025, 1, 1),
        }
    for op in captured_ops:
        # a real file spark-submit can run, not a '-m module' string
        assert os.path.isfile(op.application), op.application
        assert op.application.endswith("pipeline.py")
    by_dag = {}
    for op in captured_ops:
        by_dag.setdefault(op.dag.dag_id, {})[op.task_id] = op
    for ops in by_dag.values():
        assert ops["ensure_table"].downstream == ["ingest_and_merge"]


def test_cli_defaults_run_every_entity_end_to_end(spark, tmp_path):
    """pipeline.main with ONLY --entity/--table-root must ingest real
    rows for ALL THREE entities: each entity now defaults to its
    SHAPE-matched emulator (the old shared issues-shaped default made
    --entity=users crash and --entity=tempo_worklogs silently ingest
    zero rows while exiting green)."""
    import os

    from airflow_jira_etl_spark.pipeline import main
    from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable
    from airflow_jira_etl_spark.sources import fixture_fetchers as ff

    root = str(tmp_path / "tables")
    expected = {
        "issues": ("issues", ff.TOTAL),
        "users": ("users", 9),
        "tempo_worklogs": ("worklogs", ff.WORKLOG_TOTAL),
    }
    for entity, (subdir, n) in expected.items():
        main([f"--entity={entity}", f"--table-root={root}"])
        t = ParquetUpsertTable(spark, os.path.join(root, subdir), key="x")
        assert t.read().count() == n, entity


def test_pipeline_rejects_duplicate_task_and_unknown_upstream(spark):
    """Silent task overwrite would run a different DAG than authored;
    a typo'd upstream on the --task path must get the diagnostic error,
    not a bare KeyError."""
    from airflow_jira_etl_spark.pipeline import Pipeline

    p = Pipeline("t")

    @p.task("a")
    def a(ctx):
        pass

    with pytest.raises(ValueError, match="duplicate task"):

        @p.task("a")
        def a2(ctx):
            pass

    @p.task("b", upstream=["ghost"])
    def b(ctx):
        pass

    with pytest.raises(RuntimeError, match="unknown upstream"):
        p.upstream_closure("b")


def test_dag_specs_carry_start_date_and_key_on_both_tasks():
    """The reference's start_date default must materialize (a scheduled
    Airflow DAG without one never runs), and --unique-column must reach
    BOTH spark-submit jobs so the table's key contract cannot depend on
    which task ran."""
    from airflow_jira_etl_spark.orchestration import build_dag_specs

    for spec in build_dag_specs():
        assert spec.start_date_iso == "2025-01-01"
        for t in spec.tasks:
            assert any(a.startswith("--unique-column=") for a in t.args), (
                spec.dag_id,
                t.task_id,
            )
