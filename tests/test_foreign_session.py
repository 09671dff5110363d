"""The grading driver builds its OWN SparkSession (no engine configs).
Every query must self-provision its runtime confs through the catalog
chokepoint — this suite runs a representative slice on a bare session.

NOTE: runs in the same JVM as the other tests' session (getOrCreate
shares it), so the real bare-session scenario is simulated by unsetting
the critical confs first.
"""

from __future__ import annotations

import pytest

from airflow_jira_etl_spark import registry, session

registry.load_all_queries()

REPRESENTATIVE = [
    "scan_parquet",
    "fn_time_of_day",          # events: nanos timestamp read
    "stream_tumbling_count",   # events: streaming read
    "flagship_revenue_by_nation",
]


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_query_self_provisions_confs(name, spark, sf_dir):
    # simulate a foreign session: wrong TZ + nanos flag off + memo cleared
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    session._CONFED_SESSIONS.clear()
    try:
        df = registry.QUERIES[name](spark, sf_dir)
        assert df.count() > 0
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        session._CONFED_SESSIONS.clear()
        for k, v in session.RUNTIME_CONFS.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("arrow", ["bench", "unset"])
def test_ingest_plans_have_no_python_rdd_or_round_robin(arrow, spark):
    """Driver-held pages enter the plan as a JVM LocalRelation and the
    offset fan-out spreads its offsets with spark.range: no LogicalRDD
    leaf (a Python-RDD scan re-run on every evaluation) and no
    round-robin Exchange — in the bench session and in a foreign one
    where Arrow for PySpark is unset."""
    from airflow_jira_etl_spark.sources.paged_rest import (
        offset_scan_parallel,
        records_to_flat_df,
    )
    from tests.test_ingest import make_offset_fetcher

    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key, None)
    if arrow == "unset":
        spark.conf.unset(key)
    try:
        mapping = {"tempoWorklogId": "tempo_worklog_id", "self": "url"}
        flat = records_to_flat_df(spark, [{"tempoWorklogId": "7", "self": "u"}], mapping)
        scan = offset_scan_parallel(
            spark, make_offset_fetcher(total=23, stride=5), "https://api/search",
            page_parallelism=2,
        )
        for df in (flat, scan):
            plan = df._jdf.queryExecution().toString()
            assert "LocalRelation" in plan, plan
            assert "LogicalRDD" not in plan, plan
            assert "RoundRobinPartitioning" not in plan, plan
        assert [r.asDict() for r in flat.collect()] == [
            {"tempo_worklog_id": "7", "url": "u"}
        ]
        assert scan.count() == 23
        assert records_to_flat_df(spark, [], mapping).count() == 0
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
