"""Tests for the benchmark's own code: event-log parsing, span arithmetic,
metric names and seeded workload inputs. No Spark session is started.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run, tracing, workloads  # noqa: E402

FIXTURE_LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog")

# spans matching the fixture log: the session build, an outer call and a
# call nested in it
SPANS = [
    {"id": "span-0", "name": tracing.SETUP_SPAN, "parent": None,
     "start_ms": 900.0, "end_ms": 2000.0},
    {"id": "span-1", "name": "outer", "parent": None,
     "start_ms": 2900.0, "end_ms": 4000.0},
    {"id": "span-2", "name": "inner", "parent": "span-1",
     "start_ms": 3550.0, "end_ms": 3950.0},
]


@pytest.fixture(scope="module")
def jobs():
    return tracing.jobs_from_events(tracing.read_event_log(FIXTURE_LOG))


def test_parser_reads_rolled_files_in_order(jobs):
    assert sorted(jobs) == [0, 1, 2, 3]
    assert [jobs[j]["group"] for j in range(4)] == [None, "span-1", "span-2", None]
    assert (jobs[2]["submit_ms"], jobs[2]["end_ms"]) == (3600.0, 3900.0)


def test_parser_joins_stages_and_tasks_to_jobs(jobs):
    j1 = jobs[1]
    # stage 2 is listed again by job 2 but ran (and counts) under job 1
    assert (j1["stages"], j1["tasks"]) == (2, 3)
    assert j1["exec_run_ms"] == 80
    assert j1["exec_cpu_ms"] == pytest.approx(25.0)
    assert j1["shuffle_write_bytes"] == 80
    assert j1["spill_bytes"] == 64  # disk bytes, not the in-memory size
    assert (jobs[2]["stages"], jobs[2]["tasks"]) == (1, 1)


def test_jobs_attributed_by_group_and_setup_interval(jobs):
    by_span = tracing.attribute_jobs(SPANS, jobs)
    ids = {k: [j["job_id"] for j in v] for k, v in by_span.items()}
    assert ids == {"span-0": [0], "span-1": [1], "span-2": [2], "unattributed": [3]}


def test_span_table_self_driver_and_subtree_counters(jobs):
    rows = {r["name"]: r for r in tracing.span_table(SPANS, jobs)}
    setup, outer, inner = rows[tracing.SETUP_SPAN], rows["outer"], rows["inner"]
    assert (setup["wall_ms"], setup["self_ms"], setup["driver_ms"]) == (1100, 1100, 900)
    assert setup["jobs"] == 1 and setup["exec_cpu_ms"] == pytest.approx(20.0)
    assert (inner["wall_ms"], inner["self_ms"], inner["driver_ms"]) == (400, 400, 100)
    # outer: child span covers 400 ms; jobs cover 500 + 300 ms
    assert (outer["wall_ms"], outer["self_ms"], outer["driver_ms"]) == (1100, 700, 300)
    assert (outer["jobs"], outer["stages"], outer["tasks"]) == (2, 3, 4)


@pytest.mark.parametrize(
    "intervals, lo, hi, want",
    [
        ([], 0, 10, 0),
        ([(1, 3), (5, 7)], 0, 10, 4),
        ([(1, 5), (2, 3), (4, 8)], 0, 10, 7),
        ([(-5, 2), (8, 20)], 0, 10, 4),
        ([(11, 12)], 0, 10, 0),
        ([(1, 2), (2, 3)], 0, 10, 2),
    ],
)
def test_union_ms(intervals, lo, hi, want):
    assert tracing.union_ms(intervals, lo, hi) == want


def test_self_ms_subtracts_overlapping_children_once():
    parent = {"start_ms": 0.0, "end_ms": 100.0}
    kids = [{"start_ms": 10.0, "end_ms": 40.0}, {"start_ms": 30.0, "end_ms": 50.0},
            {"start_ms": 90.0, "end_ms": 120.0}]
    assert tracing.self_ms(parent, kids) == 100 - 40 - 10


def test_layer_metrics_per_call_means_and_absent_spans():
    table = [
        {"name": "a.step", "wall_ms": w, "exec_run_ms": 10.0, "exec_cpu_ms": 4.0,
         "jobs": j}
        for w, j in ((100.0, 3), (200.0, 5), (300.0, 4))
    ]
    got = tracing.layer_metrics(
        table, ["a.step.jobs", "a.step.python_wait_ms", "a.step.step_growth", "b.f.jobs"]
    )
    assert got == {"a.step.jobs": 4.0, "a.step.python_wait_ms": 6.0,
                   "a.step.step_growth": 2.0, "b.f.jobs": 0.0}


class _FakeContext:
    def __init__(self):
        self.group = None

    def setJobGroup(self, gid, desc, interrupt):  # noqa: N802 (Spark's name)
        self.group = gid

    def setLocalProperty(self, key, value):  # noqa: N802
        assert key == "spark.jobGroup.id"
        self.group = value


def test_tracer_nests_spans_and_restores_job_group():
    class Owner:
        @staticmethod
        def f(sc):
            seen = [sc.group]
            seen.append(Owner.g(sc))
            seen.append(sc.group)
            return seen

        @staticmethod
        def g(sc):
            return sc.group

    original = Owner.f
    sc = _FakeContext()
    t = tracing.Tracer()
    t.attach(sc)
    t.wrap(Owner, "f", "m.f")
    t.wrap(Owner, "g", "m.g")
    assert Owner.f(sc) == ["span-0", "span-1", "span-0"]
    assert sc.group is None
    assert [(s["name"], s["parent"]) for s in t.spans] == [("m.f", None), ("m.g", "span-0")]
    assert all(s["end_ms"] >= s["start_ms"] for s in t.spans)
    t.unwrap_all()
    assert Owner.f is original


def test_metric_names_are_valid_and_unique():
    names = [m for m, _ in run.END_TO_END] + [m for m, _ in run.PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name


def test_benchmark_json_matches_the_code():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to perfbench/")
    with open(path) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER


def test_crawl_seeds_are_deterministic_per_seed():
    a = workloads.crawl_extra_seed_urls(7)
    assert a == workloads.crawl_extra_seed_urls(7)
    assert a != workloads.crawl_extra_seed_urls(8)
    assert len(set(a)) == workloads.CRAWL_EXTRA_SEEDS
    ids = [int(u.rsplit("-", 1)[1].split(".")[0]) for u in a if u.endswith(".html")]
    assert all(0 <= i < workloads.CRAWL_PAGES for i in ids)


def test_curate_inputs_are_deterministic_per_seed():
    a = workloads.gen_docs(3, 500)
    b = workloads.gen_docs(3, 500)
    for table in ("docs", "seen", "evals"):
        pd.testing.assert_frame_equal(a[table], b[table])
    assert not a["docs"]["text"].equals(workloads.gen_docs(4, 500)["docs"]["text"])


def test_curate_inputs_plant_duplicates_history_and_eval_overlap():
    t = workloads.gen_docs(5, 500)
    docs = t["docs"]
    assert docs["doc_id"].tolist() == list(range(500))
    for i in range(1, 500, 97):  # near-copies differ only in the last word
        assert docs.text[i].split()[:-1] == docs.text[i - 1].split()[:-1]
    md5 = {hashlib.md5(x.encode()).hexdigest() for x in docs["text"]}
    assert set(t["seen"]["content_hash"]) <= md5 and len(t["seen"]) == 10
    assert all(any(e in d for d in docs["text"]) for e in t["evals"]["text"])


def test_audit_check():
    good = [("input", 10), ("quality", 9), ("sampled", 8), ("packed", 8)]
    assert workloads.audit_ok(good, 10)
    assert not workloads.audit_ok(good, 11)
    assert not workloads.audit_ok([("input", 10), ("sampled", 8), ("packed", 7)], 10)
    assert not workloads.audit_ok([("input", 10), ("quality", 11)], 10)
