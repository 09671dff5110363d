"""Paginated REST ingest — the reference's source operators, Spark-first.

Reference behavior being reproduced (SURVEY.md §2A):

* A1 HTTP fetch with Bearer/Basic auth from env
  (``/root/reference/dags/jira/jira_fetcher.py:19-37``, env lookup :14-16)
* A2 cursor-paginated scan: follow ``metadata.next`` until absent
  (``worklog_processor.py:80-108``) — inherently SERIAL (each cursor
  comes from the previous response); the Spark design keeps the cursor
  walk on the driver as a lightweight page iterator, spools each page
  to parquet as it arrives (``spool_pages``) and parallelizes
  everything downstream (parse → flatten → sink) over the whole walk.
* A3 offset-paginated scan: page 0 discovers ``total``
  (``issue_processor.py:141-142``), then every offset is independent —
  the scan FANS OUT across executors via ``spark.range`` over the
  offsets + ``mapInPandas``, the key scan-parallelism win over the
  reference's serial loop. (The reference's ``<=`` off-by-one that refetches a
  trailing empty page, :129, is deliberately not reproduced.)
* A4 single-page scan (``users_processor.py:53-95``) = offset scan
  with one page.
* A13 retry: 5 attempts, exponential backoff 4-10 s
  (``jira_base_processor.py:14-17``) — per-page here (not whole-scan:
  retrying the whole scan is the reference's compromise because its
  cursor state lives on ``self``; per-page retry + idempotent upsert
  is strictly safer).

Pages are exchanged as RAW JSON STRINGS: executors parse them with
``from_json`` against an explicit schema derived from the MAPPING
(``mapping_to_schema``) and flatten with the compiled MAPPING plan —
all JVM-side after the fetch.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_jira_etl_spark.operators.mapping import (
    Mapping,
    compile_mapping,
    mapping_to_schema,
)

# fetch(url, params) -> parsed JSON (dict or list)
Fetcher = Callable[[str, dict | None], object]

RETRY_ATTEMPTS = 5
RETRY_MIN_S = 4.0
RETRY_MAX_S = 10.0


def with_retry(
    fn: Callable[[], object],
    attempts: int | None = None,
    min_wait: float | None = None,
    max_wait: float | None = None,
    sleep: Callable[[float], None] | None = None,
) -> object:
    """The reference's tenacity policy (5 attempts, exp backoff 4-10 s,
    multiplier 1 — ``jira_base_processor.py:14-17``) without the
    dependency. Omitted arguments read the module's ``RETRY_*`` bounds
    and ``time.sleep`` at call time, not at definition time, so a
    caller (or a fault test) can retune the policy of every scan entry
    point by setting the module attributes."""
    attempts = RETRY_ATTEMPTS if attempts is None else attempts
    min_wait = RETRY_MIN_S if min_wait is None else min_wait
    max_wait = RETRY_MAX_S if max_wait is None else max_wait
    sleep = time.sleep if sleep is None else sleep
    last: Exception | None = None
    for attempt in range(attempts):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — policy mirrors tenacity's default
            last = exc
            if attempt < attempts - 1:
                sleep(min(max_wait, max(min_wait, 2.0**attempt)))
    raise last  # type: ignore[misc]


def page_plan(page: dict) -> tuple[int | None, int]:
    """The offset-pagination facts of one response: (total, stride).
    ``total`` is None when the endpoint does not report one (the A4
    single-page shape) — callers must not conflate that with an empty
    result set. ONE parse shared by every offset scanner (batch
    DataSource, stream reader, the fan-out scan below); the total=0
    guard diverged between two hand-rolled copies once already."""
    total = page.get("total")
    stride = int(page.get("maxResults", 100) or 100)
    if stride <= 0:
        # e.g. the common 'maxResults: -1 = unlimited' convention —
        # as a range() step it silently yields ZERO offset partitions
        # (the whole scan, prefetched page 0 included, returns 0 rows)
        # or an empty parallel fan-out; no caller can paginate on a
        # non-positive stride, so the ONE shared parse refuses it
        raise ValueError(
            f"paged response reports non-positive maxResults {stride} "
            f"— cannot derive a pagination stride (an 'unlimited' "
            f"sentinel? fetch with an explicit maxResults param)"
        )
    return (int(total) if total is not None else None, stride)


def http_fetcher(auth_scheme: str, token_env: str) -> Fetcher:
    """A1: GET url+params with an auth header, parse JSON, raise on
    HTTP error. ``requests`` is optional in this environment — the
    fetcher is constructed lazily and fails with a clear message if the
    HTTP stack is unavailable (tests inject file-based fetchers)."""
    token = os.environ.get(token_env, "")

    def fetch(url: str, params: dict | None = None) -> object:
        try:
            import requests  # noqa: PLC0415 — optional dependency
        except ImportError as exc:  # pragma: no cover
            raise RuntimeError(
                "the 'requests' package is not installed; inject a custom "
                "fetcher (any callable (url, params) -> parsed JSON)"
            ) from exc
        resp = requests.get(
            url,
            params=params,
            headers={"Authorization": f"{auth_scheme} {token}"},
            timeout=30,
        )
        resp.raise_for_status()
        return resp.json()

    return fetch


def http_fetcher_factory(options: dict) -> Fetcher:
    """Factory with the custom-DataSource ``(options) -> fetch`` shape
    (rest_datasource's ``fetcher`` option is a dotted path to one of
    these): reads ``auth_scheme``/``token_env`` from the source options
    with the reference's defaults (Bearer auth, token from env —
    jira_fetcher.py:14-16)."""
    return http_fetcher(
        options.get("auth_scheme", "Bearer"),
        options.get("token_env", "API_TOKEN"),
    )


# --------------------------------------------------------------- scans

def cursor_scan(
    fetcher: Fetcher,
    initial_url: str,
    params: dict | None = None,
    results_key: str = "results",
    next_path: tuple[str, str] = ("metadata", "next"),
) -> Iterator[list[dict]]:
    """A2: yield record pages following the response cursor until it is
    absent (``worklog_processor.py:80-108``; cursor advance :106).
    Each page fetch is retried independently."""
    url: str | None = initial_url
    first = True
    while url:
        page = with_retry(lambda u=url: fetcher(u, params if first else None))
        first = False
        yield page.get(results_key, [])  # type: ignore[union-attr]
        meta = page.get(next_path[0], {})  # type: ignore[union-attr]
        url = meta.get(next_path[1]) if isinstance(meta, dict) else None


def offset_scan_parallel(
    spark: SparkSession,
    fetcher: Fetcher,
    url: str,
    params: dict | None = None,
    records_key: str = "issues",
    page_parallelism: int = 32,
) -> DataFrame:
    """A3 fan-out: fetch page 0 on the driver to learn ``total`` and
    the server's ``maxResults`` stride, then fetch the remaining
    offsets IN PARALLEL on executors, returning a DataFrame of raw JSON
    record strings.

    Page 0 enters the plan as a JVM ``LocalRelation``; the remaining
    offsets come from ``spark.range(stride, total, stride)`` split into
    ``min(page_parallelism, pages)`` partitions, and ``mapInPandas``
    fetches each partition's offsets. No plan input is a Python RDD
    and no round-robin shuffle spreads the offsets.

    At 100 TB-scale ingest the fetch cost dominates; this turns an
    O(pages) serial wall-clock into O(pages / executors)."""
    if params and "startAt" in params:
        # the offset range below assumes coverage begins at 0; a caller-
        # supplied startAt would skip [0, startAt) and double-fetch the
        # page the range re-derives — refuse rather than silently do so
        raise ValueError(
            "offset_scan_parallel owns the startAt parameter (pages fan "
            "out from offset 0); pass only filter params"
        )
    first = with_retry(lambda: fetcher(url, params))
    total, stride = page_plan(first)  # type: ignore[arg-type]
    total = total or 0
    first_df = _raw_json_df(spark, first.get(records_key, []))  # type: ignore[union-attr]
    n_pages = len(range(stride, total, stride))  # page 0 already fetched
    if not n_pages:
        return first_df

    offsets_df = spark.range(
        stride, total, stride, numPartitions=min(page_parallelism, n_pages)
    )
    base_params = dict(params or {})

    def fetch_pages(batches):  # executor-side: one fetch per offset row
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            rows = []
            for start_at in pdf["id"]:
                p = dict(base_params)
                p["startAt"] = int(start_at)
                page = with_retry(lambda p=p: fetcher(url, p))
                rows.extend(json.dumps(r) for r in page.get(records_key, []))
            yield pd.DataFrame({"raw": rows})

    rest_df = offsets_df.mapInPandas(fetch_pages, schema="raw string")
    return first_df.unionByName(rest_df)


SCAN_ORDINAL = "__scan_ord"


def spool_pages(pages: Iterator[list[dict]], spool_dir: str) -> int:
    """Write each non-empty page to ``spool_dir`` as one parquet file of
    raw JSON strings plus ``SCAN_ORDINAL``, the record's position in the
    whole walk, and return the number of records written. The files
    are written with ``pyarrow``, not Spark, one page at a time: the
    driver holds one page, and no Spark job runs per page. The
    directory is created with the first page, so an empty walk leaves
    nothing behind."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    n = 0
    for k, page in enumerate(pages):
        if not page:
            continue
        os.makedirs(spool_dir, exist_ok=True)
        table = pa.table({
            "raw": pa.array([json.dumps(r) for r in page], pa.string()),
            SCAN_ORDINAL: pa.array(range(n, n + len(page)), pa.int64()),
        })
        pq.write_table(table, os.path.join(spool_dir, f"page_{k:06d}.parquet"))
        n += len(page)
    return n


def read_spool(spark: SparkSession, spool_dir: str) -> DataFrame:
    """The pages :func:`spool_pages` wrote, as one file-scan DataFrame
    of ``raw`` and ``SCAN_ORDINAL``."""
    return spark.read.schema(f"raw string, `{SCAN_ORDINAL}` bigint").parquet(spool_dir)


def single_page_scan(fetcher: Fetcher, url: str, params: dict | None = None) -> list[dict]:
    """A4: one GET whose response is a bare JSON list
    (``users_processor.py:71,82``)."""
    page = with_retry(lambda: fetcher(url, params))
    if isinstance(page, dict):
        # list(dict) would silently yield the KEY STRINGS (e.g. Jira's
        # {"errorMessages": ..., "errors": ...} error body under HTTP
        # 200), which flatten downstream into all-NULL rows
        raise TypeError(
            f"single-page endpoint returned an object, not a list "
            f"(keys {sorted(page)[:5]}) — wrong endpoint shape or an "
            f"API error body"
        )
    return list(page)  # type: ignore[arg-type]


# ----------------------------------------------------- parse + flatten

def _raw_json_df(spark: SparkSession, records: list[dict]) -> DataFrame:
    """Driver-held records as a one-column ``raw`` DataFrame of JSON
    strings. Built from an Arrow table, so the rows enter the plan as a
    JVM ``LocalRelation`` in any session, whatever its Arrow setting:
    evaluating it runs no Python worker, where a ``createDataFrame``
    over a Python list is a Python-RDD scan that every evaluation
    re-runs."""
    import pyarrow as pa  # noqa: PLC0415

    return spark.createDataFrame(
        pa.table({"raw": pa.array([json.dumps(r) for r in records], pa.string())})
    )


def raw_json_to_flat(
    raw_df: DataFrame,
    mapping: Mapping,
    leaf_types: dict[str, T.DataType] | None = None,
) -> DataFrame:
    """Parse raw JSON record strings with the MAPPING-derived schema and
    apply the compiled flatten — the reference's A5 as one JVM select.
    Columns of ``raw_df`` other than ``raw`` (e.g. a scan ordinal) pass
    through after the flattened ones."""
    schema = mapping_to_schema(mapping, leaf_types)
    extra = [c for c in raw_df.columns if c != "raw"]
    parsed = raw_df.select(F.from_json("raw", schema).alias("r"), *extra)
    parsed = parsed.select("r.*", *extra)
    return parsed.select(*compile_mapping(mapping, schema), *extra)


def records_to_flat_df(
    spark: SparkSession,
    records: list[dict],
    mapping: Mapping,
    leaf_types: dict[str, T.DataType] | None = None,
) -> DataFrame:
    """Driver-collected records (a single page) → flat DataFrame."""
    return raw_json_to_flat(_raw_json_df(spark, records), mapping, leaf_types)
