"""bench.py output contract: the external driver archives only the
LAST ~2000 bytes of bench's one JSON line and parses it per round into
BENCH_r{N}.json — a silent shape change corrupts the round artifact
without raising anywhere. These tests pin the record shape as a pure
function of the measured passes (no Spark session needed)."""

from __future__ import annotations

import hashlib
import json

from bench import build_record


def _passes(n_queries: int = 146) -> list[dict[str, float]]:
    names = [f"q{i:03d}" for i in range(n_queries)]
    p1 = {n: 0.5 + (i % 7) * 0.1 for i, n in enumerate(names)}
    # pass 2: some faster, some slower — min must pick per-query
    p2 = {n: v + (0.2 if i % 2 else -0.2) for i, (n, v) in enumerate(p1.items())}
    return [p1, p2]


def test_min_of_passes_and_single_run_total():
    passes = _passes(6)
    rec = build_record(passes, warm_s=12.345, sf_dir="/root/testdata/sf0.1")
    names = sorted(passes[0])
    want_min = [round(min(p[n] for p in passes), 2) for n in names]
    assert rec["q_values"] == want_min
    assert rec["value"] == round(sum(min(p[n] for p in passes) for n in names), 2)
    assert rec["value_single"] == round(sum(passes[0].values()), 2)
    assert rec["runs"] == 2 and rec["n_queries"] == 6
    assert rec["sf"] == 0.1 and rec["warmup_sec"] == 12.35


def test_q_sig_is_sorted_name_checksum():
    passes = _passes(6)
    rec = build_record(passes, 1.0, "/root/testdata/sf0.01")
    names = sorted(passes[0])
    want = hashlib.sha256(",".join(names).encode()).hexdigest()[:12]
    assert rec["q_sig"] == want


def test_headline_fields_last_and_vector_first():
    """Field ORDER is load-bearing: the driver's tail capture drops the
    line's head first, so q_values must lead and the headline summary
    fields must trail."""
    rec = build_record(_passes(6), 1.0, "/root/testdata/sf0.1")
    keys = list(rec)
    assert keys[0] == "q_values"
    assert keys[-4:] == ["n_queries", "runs", "value_single", "warmup_sec"]
    assert "value" in keys[-8:]


def test_full_registry_line_fits_driver_tail_window():
    """At the LIVE registry size (read from the registry, not frozen —
    a hardcoded count would keep passing while real growth pushed the
    real line past the window) with worst-plausible per-query
    magnitudes, the serialized line must stay inside the driver's
    observed ~2000 B tail window — the reason a second full per-pass
    vector is NOT in the line (bench_full.json carries it)."""
    from airflow_jira_etl_spark import registry

    registry.load_all_queries()  # populate; needs no Spark session
    n_live = len(registry.QUERIES)
    assert n_live >= 146  # the registry only ever grows
    names = [f"a_very_long_query_name_{i:03d}" for i in range(n_live)]
    p1 = {n: 10.25 + (i % 9) for i, n in enumerate(names)}  # 5-char values
    rec = build_record([p1, p1], 123.45, "/root/testdata/sf0.1")
    line = json.dumps(rec, separators=(",", ":"))
    assert len(line) < 2000, f"bench line would truncate: {len(line)} B"


def test_worst_queries_dict_is_top10_by_min():
    passes = _passes(30)
    rec = build_record(passes, 1.0, "/root/testdata/sf0.1")
    mins = {n: min(p[n] for p in passes) for n in passes[0]}
    want = dict(sorted(mins.items(), key=lambda kv: -kv[1])[:10])
    assert rec["queries"] == {n: round(s, 2) for n, s in want.items()}


def test_opt_probe_csv_rows_have_the_header_fields():
    """Every row of opt_probe's CSV carries the same fields as the
    header; a failed warm-up shows as warmup_ok=0, not as an extra
    field on that row only (ADVICE r16)."""
    import csv

    from airflow_jira_etl_spark.tools.opt_probe import timing_csv

    lines = timing_csv({"q_ok": [0.3, 0.1, 0.2], "q_cold": [2.0]}, {"q_cold"})
    rows = list(csv.DictReader(lines))
    assert all(None not in r and len(r) == 5 for r in rows)
    assert [(r["name"], r["min"], r["median"], r["warmup_ok"]) for r in rows] == [
        ("q_ok", "0.100", "0.200", "1"),
        ("q_cold", "2.000", "2.000", "0"),
    ]
