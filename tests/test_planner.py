"""plan_crawl semantics: exact budget apportionment, signal composition,
missing-host defaults, and the degenerate equal-share fallback."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from nlnieuwscrawler_spark.operators.planner import plan_crawl


def _fixtures(spark):
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 2)], "src long, dst long"
    )
    base = datetime.datetime(2025, 1, 1)
    obs = spark.createDataFrame(
        [
            (0, base, 1.0, 1),
            (0, base + datetime.timedelta(hours=2), 2.0, 2),
            (1, base, 5.0, 3),
            (1, base + datetime.timedelta(hours=4), 5.0, 4),
        ],
        "host long, ts timestamp, value double, event_id long",
    )
    quality = spark.createDataFrame(
        [(0, 0.9), (2, 0.2)], "host long, qscore double"
    )
    return edges, obs, quality


def test_plan_crawl_budget_exact_and_signal_order(spark):
    edges, obs, quality = _fixtures(spark)
    rows = {
        r["host"]: r.asDict()
        for r in plan_crawl(edges, obs, quality, n_hosts=3, budget=100,
                            iters=3).collect()
    }
    assert sum(r["quota"] for r in rows.values()) == 100
    # host 0: changing + high quality -> dominates; host 2 outranks 1 in
    # PageRank but its 0.2 quality must not beat host 1's default-less...
    assert rows[0]["quota"] > rows[1]["quota"] > 0
    assert rows[0]["change_rate"] > 0 and rows[1]["change_rate"] == 0.0
    # host 1 absent from quality -> 0.5 default; host 2 absent from obs
    assert rows[1]["qscore"] == 0.5
    assert rows[2]["change_rate"] == 0.0
    # weight formula holds row-wise
    for r in rows.values():
        assert r["weight"] == round(
            r["rank"] * (1.0 + r["change_rate"]) * r["qscore"], 12
        )


def test_plan_crawl_awkward_budget_largest_remainder(spark):
    """budget smaller than host count: only the largest remainders get a
    unit, everyone else gets 0 — and the sum is still exact."""
    edges, obs, quality = _fixtures(spark)
    out = plan_crawl(edges, obs, quality, n_hosts=3, budget=2, iters=2)
    got = {r["host"]: r["quota"] for r in out.collect()}
    assert sum(got.values()) == 2
    assert all(q >= 0 for q in got.values())


def test_plan_crawl_zero_weight_equal_shares(spark):
    """All-zero quality zeroes every weight -> equal-share fallback still
    apportions the full budget."""
    edges, obs, _ = _fixtures(spark)
    quality = spark.createDataFrame(
        [(0, 0.0), (1, 0.0), (2, 0.0)], "host long, qscore double"
    )
    out = plan_crawl(edges, obs, quality, n_hosts=3, budget=10, iters=2)
    got = sorted(r["quota"] for r in out.collect())
    assert sum(got) == 10
    assert got == [3, 3, 4]  # equal shares, remainder by host order


def test_plan_crawl_no_bnlj_and_stats(spark):
    edges, obs, quality = _fixtures(spark)
    out = plan_crawl(edges, obs, quality, n_hosts=3, budget=50, iters=4)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the ONLY nested-loop joins allowed are the deliberate 1-row
    # broadcast cross joins: weight total (appears twice — `b`'s subtree
    # feeds both sides of the leftover join) and leftover. Anything more
    # means a host-table join degenerated.
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan
    assert plan.count("BroadcastNestedLoopJoin BuildRight, Cross") == plan.count(
        "BroadcastNestedLoopJoin"
    ), plan  # every one is an explicit 1-row cross, never a fallback join
    assert "CartesianProduct" not in plan


def test_plan_crawl_no_global_window(spark):
    """VERDICT r5 #2: the largest-remainder tiebreak rank is
    global_sequence (range-partitioned parallel rank), so the final plan
    carries NO WindowExec at all — the r5 form had an unpartitioned
    row_number window over the host table."""
    edges, obs, quality = _fixtures(spark)
    out = plan_crawl(edges, obs, quality, n_hosts=3, budget=50, iters=2)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
