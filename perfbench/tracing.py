"""Spans around calls into the engine's layers, joined to Spark's event log.

Recording side (:class:`Tracer`): the benchmark wraps the public functions
it wants to see with :meth:`Tracer.wrap`. Each call becomes a span (name,
start, end, parent) kept in memory, and while it runs the span's id is the
Spark job group (``SparkContext.setJobGroup``), so every Spark job the call
triggers carries ``spark.jobGroup.id`` = the innermost open span.

Parsing side (pure functions, no Spark): after the session stops, the event
log written with ``spark.eventLog.enabled=true`` / ``compress=false`` is read
back; each JobStart is joined to its StageCompleted and TaskEnd events and
attributed to a span through its job group. Jobs without a group that start
inside the ``session.get_spark`` span (the session warm-up, which runs
before any group can be set) are attributed to that span by time.

Per span: ``wall_ms``; ``self_ms`` = wall minus the union of its child
spans; ``driver_ms`` = wall minus the union of its jobs' [submit, end]
intervals; and the job/stage/task/executor counters summed over the span's
subtree. Per-layer metrics are per-call means over every span of one name.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "exec_run_ms",
    "exec_cpu_ms",
    "shuffle_write_bytes",
    "spill_bytes",
)
SETUP_SPAN = "session.get_spark"


def _now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """In-memory span recorder that tags Spark jobs with the open span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._sc = None
        self._patched: list[tuple[object, str, object]] = []

    def attach(self, spark_context) -> None:
        """Start tagging jobs; spans opened before this carry no job group."""
        self._sc = spark_context

    def _set_group(self, span: dict | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(span["id"], span["name"], False)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        rec = {
            "id": f"span-{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "start_ms": _now_ms(),
            "end_ms": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end_ms"] = _now_ms()
            self._open.pop()
            self._set_group(self._open[-1] if self._open else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


# -- interval arithmetic ------------------------------------------------------


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_ms(span: dict, children: list[dict]) -> float:
    """Span wall time not covered by any of its child spans."""
    wall = span["end_ms"] - span["start_ms"]
    covered = union_ms(
        [(c["start_ms"], c["end_ms"]) for c in children], span["start_ms"], span["end_ms"]
    )
    return wall - covered


# -- event log ------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application logged under ``log_dir``, in order.

    Spark 4 writes a rolling ``eventlog_v2_<app>/events_<n>_<app>``
    directory; a plain single-file log is read as-is.
    """
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if files:
        files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    else:
        files = sorted(
            p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
        )
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def jobs_from_events(events: list[dict]) -> dict[int, dict]:
    """One record per Spark job: group, interval and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = {
                "job_id": jid,
                "group": props.get("spark.jobGroup.id"),
                "submit_ms": float(e["Submission Time"]),
                "end_ms": None,
                **{c: 0 for c in COUNTERS},
                "jobs": 1,
            }
            for sid in e.get("Stage IDs", ()):
                # a reused shuffle stage keeps the job that first listed it
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end_ms"] = float(e["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(e["Stage Info"]["Stage ID"])
            if jid in jobs:
                jobs[jid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid not in jobs:
                continue
            job = jobs[jid]
            tm = e.get("Task Metrics") or {}
            job["tasks"] += 1
            job["exec_run_ms"] += tm.get("Executor Run Time", 0)
            job["exec_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            job["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            job["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    for job in jobs.values():
        if job["end_ms"] is None:  # never ended (log cut short): zero length
            job["end_ms"] = job["submit_ms"]
    return jobs


def attribute_jobs(spans: list[dict], jobs: dict[int, dict]) -> dict[str, list[dict]]:
    """Map span id → the jobs that ran with it as the innermost span."""
    by_span: dict[str, list[dict]] = {s["id"]: [] for s in spans}
    setup = [s for s in spans if s["name"] == SETUP_SPAN]
    for job in jobs.values():
        sid = job["group"]
        if sid is None:
            sid = next(
                (
                    s["id"]
                    for s in setup
                    if s["start_ms"] <= job["submit_ms"] <= s["end_ms"]
                ),
                None,
            )
        by_span.setdefault(sid if sid in by_span else "unattributed", []).append(job)
    return by_span


def span_table(spans: list[dict], jobs: dict[int, dict]) -> list[dict]:
    """Each span with wall/self/driver time and its subtree's job counters."""
    own = attribute_jobs(spans, jobs)
    kids: dict[str | None, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree_jobs(s: dict) -> list[dict]:
        out = list(own.get(s["id"], ()))
        for c in kids.get(s["id"], ()):
            out.extend(subtree_jobs(c))
        return out

    table = []
    for s in spans:
        js = subtree_jobs(s)
        wall = s["end_ms"] - s["start_ms"]
        row = {
            "id": s["id"],
            "name": s["name"],
            "parent": s["parent"],
            "start_ms": s["start_ms"],
            "wall_ms": wall,
            "self_ms": self_ms(s, kids.get(s["id"], [])),
            "driver_ms": wall
            - union_ms([(j["submit_ms"], j["end_ms"]) for j in js], s["start_ms"], s["end_ms"]),
        }
        for c in COUNTERS:
            row[c] = sum(j[c] for j in js)
        table.append(row)
    return table


def layer_metrics(table: list[dict], wanted: list[str]) -> dict[str, float]:
    """Per-call means of ``<span name>.<counter>`` for every wanted name.

    A span name that never ran (or ran no job) reports 0, so every wanted
    metric is present on every workload. Derived counters:
    ``python_wait_ms`` = exec_run_ms - exec_cpu_ms (task time the JVM spent
    off its own CPU, mostly waiting on Python workers); ``step_growth`` =
    the last call's wall time / the median of the earlier calls' (1 with
    fewer than two calls).
    """
    by_name: dict[str, list[dict]] = {}
    for row in table:
        by_name.setdefault(row["name"], []).append(row)
    out: dict[str, float] = {}
    for metric in wanted:
        name, counter = metric.rsplit(".", 1)
        rows = by_name.get(name, [])
        if counter == "step_growth":
            walls = [r["wall_ms"] for r in rows]
            out[metric] = walls[-1] / statistics.median(walls[:-1]) if len(walls) > 1 else 1.0
            continue
        if counter == "python_wait_ms":
            vals = [r["exec_run_ms"] - r["exec_cpu_ms"] for r in rows]
        else:
            vals = [r[counter] for r in rows]
        out[metric] = sum(vals) / len(vals) if vals else 0.0
    return out
