"""Spans, counters and Spark-side collectors for the traced run.

Spans are recorded by the benchmark around its calls into each layer
(no span lives inside the package). They stay in memory and are
written as JSON lines when the run ends. A layer's self time is its
span's duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; disabled tracers cost one branch."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counts[name] += value

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name. Child spans run nested and
        sequentially inside their parent, so the covered part is the
        sum of the children's durations."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root`` (default: this process) and every live descendant: the
    Python driver, the Spark JVM, the PySpark daemon and its workers.
    Time the host steals from the VM is not counted."""
    root = os.getpid() if root is None else root
    own: dict[int, int] = {}
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rindex(")") + 2:].split()
        pid = int(name)
        kids[int(fields[1])].append(pid)
        own[pid] = sum(int(x) for x in fields[11:15])
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += own.get(pid, 0)
        stack.extend(kids.get(pid, ()))
    return total / _TICK


def read_fetch_counts(count_dir: str) -> tuple[int, float, int]:
    """(calls, seconds, records) summed over the emulator's per-process
    count files."""
    calls, secs, recs = 0, 0.0, 0
    if not os.path.isdir(count_dir):
        return calls, secs, recs
    for fn in os.listdir(count_dir):
        with open(os.path.join(count_dir, fn)) as f:
            for line in f:
                s, n = line.split()
                calls += 1
                secs += float(s)
                recs += int(n)
    return calls, secs, recs


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics from a Spark event log (plain or rolling), summed
    per job group: executor run seconds, shuffle bytes written, bytes
    spilled, tasks and jobs."""
    events = []
    for d, _, files in os.walk(log_dir):
        for fn in files:
            if fn.startswith((".", "appstatus")):
                continue
            with open(os.path.join(d, fn)) as f:
                events.extend(json.loads(line) for line in f)
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
            out[group]["jobs"] += 1
    for ev in events:
        if ev.get("Event") == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            g = out[stage_group.get(ev.get("Stage ID"), "-")]
            g["tasks"] += 1
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
    return out


def make_stream_listener(tracer: Tracer):
    """A StreamingQueryListener that counts micro-batches, their
    trigger time and the state rows they hold, for the queries started
    while ``tracer`` is on. Progress arrives asynchronously, but
    onQueryStarted runs synchronously inside ``start()``."""
    from pyspark.sql.streaming import StreamingQueryListener

    traced_runs: set[str] = set()

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            if tracer.enabled:
                traced_runs.add(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            if str(p.runId) not in traced_runs:
                return
            # straight into the counters: the tracer may be off by now
            tracer.counts["streaming.batches"] += 1
            tracer.counts["streaming.batch_s"] += (
                (p.durationMs or {}).get("triggerExecution", 0) / 1000.0)
            tracer.counts["streaming.state_rows"] += sum(s.numRowsTotal for s in p.stateOperators)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
