"""Expected query outputs from the registered DuckDB oracles.

A result is summarised as (row count, order-insensitive value hash):
the rows are canonicalised by the repository's oracle comparison
(``tests.oracle_check.canon_rows``: columns sorted by name, floats
rounded to 4 dp, rows sorted), then hashed with sha256. The
expectations for one data set are computed once with DuckDB and stored
next to the benchmark, keyed by the data's content hash and the oracle
texts.
"""

from __future__ import annotations

import hashlib
import json
import os

from tests.oracle_check import canon_rows, duckdb_conn


def summarize(columns: list[str], rows: list[tuple]) -> dict:
    """{"rows": n, "hash": h} for a result, independent of row and
    column order."""
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for r in canon_rows(columns, rows):
        h.update(repr(r).encode())
    return {"rows": len(rows), "hash": h.hexdigest()[:16]}


def data_digest(data_dir: str) -> str:
    h = hashlib.sha256()
    for fn in sorted(os.listdir(data_dir)):
        with open(os.path.join(data_dir, fn), "rb") as f:
            h.update(fn.encode())
            h.update(f.read())
    return h.hexdigest()[:16]


def expectations(data_dir: str, oracles: dict[str, str], store_dir: str) -> dict[str, dict]:
    """Oracle summaries for ``oracles`` over the tables in ``data_dir``,
    read from ``store_dir`` when already computed for this data."""
    key = hashlib.sha256(
        (data_digest(data_dir) + json.dumps(oracles, sort_keys=True)).encode()
    ).hexdigest()[:16]
    path = os.path.join(store_dir, f"expected_{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb_conn(data_dir)
    out = {}
    for name, sql in oracles.items():
        cur = con.execute(sql)
        out[name] = summarize([d[0] for d in cur.description], cur.fetchall())
    con.close()
    os.makedirs(store_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return out
