"""host_pagerank semantics: mass conservation, hub ordering, dangling
redistribution, numpy cross-check, and partitioning invariance."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.operators.graph import host_pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _np_pagerank(n, pairs, d=0.85, iters=5):
    """Straight-line reference: same formula, full-precision floats."""
    out = {}
    for s, t in set(pairs):
        out.setdefault(s, []).append(t)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangle = sum(r[h] for h in range(n) if h not in out)
        nxt = np.full(n, (1.0 - d) / n)
        for h in range(n):
            share = d * dangle / n
            nxt[h] += share
        for s, ts in out.items():
            for t in ts:
                nxt[t] += d * r[s] / len(ts)
        r = nxt
    return r


def test_pagerank_cycle_with_isolated_node(spark):
    # 0→1→2→0 cycle plus node 3 with no edges at all (pure dangling)
    pairs = [(0, 1), (1, 2), (2, 0)]
    got = {
        r["host"]: r["rank"]
        for r in host_pagerank(_edges(spark, pairs), n_nodes=4).collect()
    }
    want = _np_pagerank(4, pairs)
    for h in range(4):
        assert abs(got[h] - want[h]) < 1e-9, (h, got[h], want[h])
    # mass conservation: dangling redistribution keeps total rank at 1
    assert abs(sum(got.values()) - 1.0) < 1e-8
    # cycle symmetry: the three cycle nodes end up equal
    assert abs(got[0] - got[1]) < 1e-12 and abs(got[1] - got[2]) < 1e-12


def test_pagerank_star_hub_ranks_highest(spark):
    pairs = [(i, 0) for i in range(1, 6)]  # 1..5 all link to 0
    got = {
        r["host"]: r["rank"]
        for r in host_pagerank(_edges(spark, pairs), n_nodes=6).collect()
    }
    assert got[0] == max(got.values())
    assert all(abs(got[i] - got[1]) < 1e-12 for i in range(2, 6))
    want = _np_pagerank(6, pairs)
    for h in range(6):
        assert abs(got[h] - want[h]) < 1e-9


def test_pagerank_partitioning_invariance(spark):
    pairs = [(i % 7, (i * 3 + 1) % 7) for i in range(40) if i % 7 != (i * 3 + 1) % 7]
    e = _edges(spark, pairs)
    a = host_pagerank(e.repartition(1), n_nodes=7).orderBy("host").collect()
    b = host_pagerank(e.repartition(13, "dst"), n_nodes=7).orderBy("host").collect()
    assert [(r["host"], r["rank"]) for r in a] == [
        (r["host"], r["rank"]) for r in b
    ]  # EXACT float equality — decimal-summed contributions are order-free


def test_crawl_depth_chain_and_unreachable(spark):
    from nlnieuwscrawler_spark.operators.graph import crawl_depth

    # 0→1→2→3 chain, 4 isolated, 5→0 (points AT the seed: unreachable)
    pairs = [(0, 1), (1, 2), (2, 3), (5, 0)]
    got = {
        r["host"]: r["depth"]
        for r in crawl_depth(_edges(spark, pairs), n_nodes=6, seeds=[0]).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: None, 5: None}


def test_crawl_depth_multi_seed_takes_min(spark):
    from nlnieuwscrawler_spark.operators.graph import crawl_depth

    pairs = [(0, 2), (2, 3), (1, 3)]  # 3 reachable at 2 via 0, at 1 via 1
    got = {
        r["host"]: r["depth"]
        for r in crawl_depth(_edges(spark, pairs), n_nodes=4, seeds=[0, 1]).collect()
    }
    assert got == {0: 0, 1: 0, 2: 1, 3: 1}


def test_crawl_depth_max_depth_cutoff(spark):
    from nlnieuwscrawler_spark.operators.graph import crawl_depth

    pairs = [(i, i + 1) for i in range(6)]  # 0→1→…→6
    stats = {}
    got = {
        r["host"]: r["depth"]
        for r in crawl_depth(
            _edges(spark, pairs), n_nodes=7, seeds=[0], max_depth=3, stats=stats
        ).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: None, 5: None, 6: None}
    assert stats["rounds"] == 3  # stopped by the cutoff, not an empty frontier


def test_anchor_rollup_counts_and_tiebreak(spark):
    from nlnieuwscrawler_spark.operators.graph import anchor_rollup

    links = spark.createDataFrame(
        [
            (1, 10, "nieuws"),
            (2, 10, "nieuws"),
            (3, 10, "sport"),
            (2, 10, "sport"),   # src 2 links host 10 twice
            (1, 11, "weer"),
            (2, 11, "kaart"),   # tie at cnt=1 -> lexicographic min wins
        ],
        "src long, dst long, anchor string",
    )
    got = {r["host"]: r.asDict() for r in anchor_rollup(links).collect()}
    assert got[10]["n_links"] == 4
    assert got[10]["n_sources"] == 3
    assert got[10]["n_anchors"] == 2
    assert (got[10]["top_anchor"], got[10]["top_cnt"]) == ("nieuws", 2)
    assert (got[11]["top_anchor"], got[11]["top_cnt"]) == ("kaart", 1)


def test_anchor_rollup_no_bnlj(spark):
    """Rollup-to-top join must stay an equi-join (hash/broadcast), never
    a BroadcastNestedLoopJoin / cartesian."""
    from nlnieuwscrawler_spark.operators.graph import anchor_rollup

    links = spark.createDataFrame(
        [(i, i % 3, f"a{i % 5}") for i in range(30)],
        "src long, dst long, anchor string",
    )
    plan = anchor_rollup(links)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


def _np_trustrank(n, pairs, seeds, d=0.85, iters=5):
    """Straight-line TrustRank reference: teleport + dangling mass land
    only on the seeds (v = 1/|S| on S, 0 elsewhere; init r = v)."""
    out = {}
    for s, t in set(pairs):
        out.setdefault(s, []).append(t)
    v = np.zeros(n)
    for h in seeds:
        v[h] = 1.0 / len(seeds)
    r = v.copy()
    for _ in range(iters):
        dangle = sum(r[h] for h in range(n) if h not in out)
        nxt = (1.0 - d) * v + d * dangle * v
        for s, ts in out.items():
            for t in ts:
                nxt[t] += d * r[s] / len(ts)
        r = nxt
    return r


def test_trustrank_numpy_crosscheck_and_spam_island(spark):
    """Seeds {0}: trust flows 0→1→2; the 3↔4 link-spam island that
    classic PageRank rewards gets EXACTLY rank 0 (no teleport, no
    dangling mass, no in-link path from a seed)."""
    from nlnieuwscrawler_spark.operators.graph import trustrank

    pairs = [(0, 1), (1, 2), (3, 4), (4, 3)]
    got = {
        r["host"]: r["rank"]
        for r in trustrank(_edges(spark, pairs), n_nodes=5,
                           seeds=[0]).collect()
    }
    want = _np_trustrank(5, pairs, seeds=[0])
    for h in range(5):
        assert abs(got[h] - want[h]) < 1e-9, (h, got[h], want[h])
    assert got[3] == 0.0 and got[4] == 0.0
    # the spam island boosts each other in CLASSIC pagerank
    classic = {
        r["host"]: r["rank"]
        for r in host_pagerank(_edges(spark, pairs), n_nodes=5).collect()
    }
    assert classic[3] > 0.0 and classic[4] > 0.0
    # mass conservation on the personalized walk too
    assert abs(sum(got.values()) - 1.0) < 1e-8


def test_trustrank_multi_seed_and_empty_seed_rejected(spark):
    import pytest as _pytest

    from nlnieuwscrawler_spark.operators.graph import trustrank

    pairs = [(0, 2), (1, 2), (2, 3)]
    got = {
        r["host"]: r["rank"]
        for r in trustrank(_edges(spark, pairs), n_nodes=4,
                           seeds=[0, 1]).collect()
    }
    want = _np_trustrank(4, pairs, seeds=[0, 1])
    for h in range(4):
        assert abs(got[h] - want[h]) < 1e-9, (h, got[h], want[h])
    with _pytest.raises(ValueError):
        trustrank(_edges(spark, pairs), n_nodes=4, seeds=[])


def test_host_link_stats_reciprocity_and_degrees(spark):
    """Spam pair 0<->1 shows full reciprocity; organic host 2 links out
    broadly with one answered link (1/3); self-loops and duplicate
    edges are excluded before any counting."""
    from nlnieuwscrawler_spark.operators.graph import host_link_stats

    pairs = [(0, 1), (1, 0), (2, 0), (2, 1), (2, 3), (3, 2), (4, 4), (2, 0)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    out = {r["host"]: r for r in host_link_stats(df).collect()}
    assert 4 not in out                       # self-loop-only host drops out
    assert out[0]["reciprocity"] == 1.0 and out[1]["reciprocity"] == 1.0
    assert out[2]["outdeg"] == 3 and out[2]["out_hosts"] == 3  # dup edge deduped
    assert out[2]["reciprocity"] == 0.333333
    assert out[3]["indeg"] == 1 and out[3]["in_hosts"] == 1
    # a pure sink has outdeg 0 and reciprocity 0.0 (not null/NaN)
    sink = spark.createDataFrame([(7, 8)], "src long, dst long")
    got = {r["host"]: r for r in host_link_stats(sink).collect()}
    assert got[8]["outdeg"] == 0 and got[8]["reciprocity"] == 0.0
