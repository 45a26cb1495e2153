"""Host-graph analytics for crawl prioritization — PageRank.

A frontier scheduler ranks URLs within a host by recency/depth
(operators/politeness), but deciding WHICH HOSTS deserve crawl budget is
a graph problem: hosts that many other hosts link to are the hubs a news
crawler should revisit first. The reference crawler hardcodes its host
list (Dutch news seed list); at 10^10-URL scale the host graph replaces
the hand-curated list, and PageRank over it is the classic priority
signal (Page et al. 1999, "The PageRank Citation Ranking" — public).

Engine-portable exactness (the repo's decimal recipe): per-edge
contributions are IEEE-double divisions rounded to 12 dp and cast to
DECIMAL(28,12), summed EXACTLY (associative, partition-order-free), and
each iteration's new rank is one double expression rounded to 12 dp — so
a DuckDB oracle that unrolls the same K iterations reproduces every bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.operators.checkpoint import cut_lineage


def host_pagerank(
    edges: DataFrame,
    n_nodes: int,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 5,
    reliable: bool = False,
    seeds: list[int] | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a host link graph → (host, rank).

    Nodes are the dense ids ``0..n_nodes-1`` (a host dictionary is built
    upstream once — dense ids keep the rank table narrow and the dangling
    set well-defined even for hosts that only ever appear as link
    targets). ``edges`` is the DISTINCT (src, dst) host-level link graph.

    Iteration t: every host sends rank_t/outdeg along each out-edge;
    dangling hosts (no out-edges) spread their whole rank uniformly; then

        rank_{t+1}(h) = round((1-d)/N + d*(in_sum(h) + dangling/N), 12)

    FIXED ``iters`` rounds (no convergence test) so the result is a pure
    function of (edges, N, d, iters) — the property the cross-engine
    oracle needs, and what production crawlers do anyway (a handful of
    power iterations is plenty for a priority signal).

    100 TB shape: the rank table is |hosts| rows (~10^7 at web scale) —
    broadcast to the edge join; out-degrees are computed ONCE and
    persisted with the edges; the only per-iteration shuffle is the
    groupBy(dst) partial-aggregated sum, moving (dst, decimal) pairs —
    never the edge payload. The dangling mass is a scalar per round
    (metadata-sized collect, same pattern as dedup_components'
    convergence sum); per-round lineage cuts stop iterative-plan blowup,
    ``reliable=True`` routes them through the durable checkpoint dir.

    ``seeds`` personalizes the teleport vector (TrustRank — Gyöngyi,
    Garcia-Molina & Pedersen 2004, public): with a seed host list, ALL
    teleport and dangling mass lands uniformly on the seeds instead of
    all hosts (v(h) = 1/|S| on seeds, 0 elsewhere; init rank = v), so
    rank can only reach a host through a link path from a trusted seed —
    the spam-demotion prior a crawl scheduler combines with raw
    PageRank. ``seeds=None`` (default) is classic uniform PageRank,
    byte-identical to the pre-seeds code path (the personalized branch
    is separate arithmetic, so the uniform oracle stays bit-stable).
    The seed indicator enters the plan as a literal IN-list — seed
    lists are short (hand-curated trust lists), so no join is added.
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).distinct()
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # one persisted pass builds both reused tables
    # lazy cuts (eager=False): the next action over each frame — the
    # dangling-mass collect each iteration, the caller's first action for
    # the final ranks — materializes the checkpoint INSIDE that job, so a
    # loop round costs ONE Spark job, not two (the dedup_components
    # pattern; r7 — measured ~2x fewer jobs per query on the graph family)
    e = cut_lineage(e, reliable, eager=False)
    outd = cut_lineage(outd, reliable, eager=False)

    spark = edges.sparkSession
    nodes = spark.range(n_nodes).select(F.col("id").alias("host"))
    if seeds is None:
        init_col = F.lit(round(1.0 / n_nodes, 12)).cast("double")
    else:
        if not seeds:
            raise ValueError("seeds must be a non-empty host list")
        seeds = [int(s) for s in seeds]
        init_col = (
            F.when(
                F.col("host").isin(seeds),
                F.lit(round(1.0 / len(seeds), 12)),
            )
            .otherwise(F.lit(0.0))
            .cast("double")
        )
    ranks = cut_lineage(
        nodes.select("host", init_col.alias("rank")), reliable, eager=False
    )

    for _ in range(iters):
        new = _pagerank_step(e, outd, nodes, ranks, n_nodes, damping, seeds)
        ranks = cut_lineage(new, reliable, eager=False)
    return ranks


def _pagerank_step(
    e: DataFrame,
    outd: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    n_nodes: int,
    damping: float = 0.85,
    seeds: list[int] | None = None,
) -> DataFrame:
    """One power iteration as a single (un-cut) plan — split out so plan
    tests can pin its shape: rank/outdeg joins broadcast, the ONLY
    exchange the (dst, decimal) partial-aggregated sum. ``seeds``
    switches teleport + dangling mass to the personalized (TrustRank)
    vector; None keeps the uniform arithmetic byte-identical."""
    base = (1.0 - damping) / n_nodes  # same IEEE fold the oracle performs
    # dangling mass: ranks of hosts with no out-edges, summed exactly
    dm_row = (
        ranks.join(outd, ranks["host"] == outd["src"], "left_anti")
        .agg(F.sum(F.col("rank").cast("decimal(28,12)")).alias("s"))
        .collect()[0]["s"]
    )
    dm = float(dm_row) if dm_row is not None else 0.0
    r = F.broadcast(ranks)
    contrib = (
        e.join(r, e["src"] == r["host"])
        .join(F.broadcast(outd), "src")
        .select(
            "dst",
            F.round(F.col("rank") / F.col("outdeg"), 12)
            .cast("decimal(28,12)")
            .alias("__c"),
        )
        .groupBy("dst")
        .agg(F.sum("__c").alias("__s"))
    )
    in_sum = F.coalesce(F.col("__s"), F.lit(0).cast("decimal(38,12)")).cast(
        "double"
    )
    if seeds is None:
        new_rank = F.lit(base) + F.lit(damping) * (
            in_sum + F.lit(dm) / F.lit(float(n_nodes))
        )
    else:
        s_ct = len(seeds)
        tele = (1.0 - damping) / s_ct  # IEEE fold mirrored by the oracle
        is_seed = F.col("host").isin(seeds)
        new_rank = F.when(is_seed, F.lit(tele)).otherwise(F.lit(0.0)) + F.lit(
            damping
        ) * (
            in_sum
            + F.when(
                is_seed, F.lit(dm) / F.lit(float(s_ct))
            ).otherwise(F.lit(0.0))
        )
    return nodes.join(contrib, nodes["host"] == contrib["dst"], "left").select(
        "host",
        F.round(new_rank, 12).alias("rank"),
    )


def trustrank(
    edges: DataFrame,
    n_nodes: int,
    seeds: list[int],
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 5,
    reliable: bool = False,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004) → (host,
    rank): PageRank with the teleport vector personalized to a curated
    seed list — rank flows ONLY along link paths out of trusted hosts,
    so link-spam islands that classic PageRank rewards get rank 0 (a
    host unreachable from every seed receives no teleport, no dangling
    mass, and no in-link mass). The crawl scheduler divides raw
    PageRank by TrustRank (or thresholds it) to demote spam-boosted
    hosts; same 100 TB shape as ``host_pagerank`` — the personalized
    base is a literal IN-list projection, no extra join or shuffle."""
    if not seeds:
        raise ValueError("trustrank requires a non-empty seed host list")
    return host_pagerank(
        edges,
        n_nodes,
        src=src,
        dst=dst,
        damping=damping,
        iters=iters,
        reliable=reliable,
        seeds=seeds,
    )


def crawl_depth(
    edges: DataFrame,
    n_nodes: int,
    seeds: list[int],
    max_depth: int = 30,
    reliable: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Min-hop BFS distance from the seed hosts → (host, depth); NULL
    depth = unreachable. The other half of crawl prioritization: a
    frontier scheduler enforces a DEPTH budget from the seed list (the
    reference crawls only its Dutch-news seeds one hop deep; at web scale
    "how many hops from a trusted seed" is the standard crawl-frontier
    quality prior alongside PageRank).

    Frontier BFS, not dense relaxation: round r joins ONLY the hosts
    first reached at round r-1 against the edge list, so each round
    shuffles the frontier's out-edges — work proportional to the BFS
    wavefront, never |V|x rounds. The frontier broadcasts to the edge
    join. Terminates when the frontier empties (one metadata-sized count
    per round, same pattern as dedup_components' convergence sum) or at
    ``max_depth``. Distances are integers — exact on any engine by
    construction.
    """
    spark = edges.sparkSession
    e = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    ).distinct()
    e = cut_lineage(e, reliable, eager=False)
    nodes = spark.range(n_nodes).select(F.col("id").alias("host"))
    dist = cut_lineage(
        nodes.select(
            "host",
            F.when(
                F.col("host").isin([int(s) for s in seeds]), F.lit(0)
            ).cast("long").alias("depth"),
        ),
        reliable,
        # lazy: each round's frontier.count() materializes the cut in the
        # same job (see host_pagerank)
        eager=False,
    )
    frontier = dist.filter(F.col("depth") == 0).select("host")
    rounds = 0
    for r in range(1, max_depth + 1):
        rounds = r
        fr = F.broadcast(frontier)
        reached = (
            e.join(fr, e["src"] == fr["host"])
            .select(F.col("dst").alias("host"))
            .distinct()
        )
        nxt = dist.join(reached.withColumn("__r", F.lit(r)), "host", "left").select(
            "host",
            F.coalesce(
                "depth", F.when(F.col("__r").isNotNull(), F.lit(r)).cast("long")
            ).alias("depth"),
        )
        dist = cut_lineage(nxt, reliable, eager=False)
        frontier = dist.filter(F.col("depth") == r).select("host")
        if frontier.count() == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return dist


def anchor_rollup(
    links: DataFrame,
    target_col: str = "dst",
    anchor_col: str = "anchor",
    src_col: str = "src",
) -> DataFrame:
    """Per-target anchor-text aggregation — the classic web-corpus
    enrichment: a target page is described by the anchor texts of the
    links POINTING AT it (Brin & Page 1998 §2.2; anchor fields in every
    open web corpus since). The crawler's link extractor (O13) emits
    ``(src, dst, anchor)``; this rolls those up into the per-target
    signal table a ranker or training-data builder joins against.

    Output per target: in-link count, distinct-source count, distinct-
    anchor count, and the most common anchor (ties broken by the
    lexicographically SMALLEST anchor — a total order, so the pick is
    engine-portable).

    100 TB shape: two narrow hash aggregations and one equi-join on the
    target key, all map-side combined — (target, anchor) pair counts
    first (this also bounds the top-anchor window's partition to the
    DISTINCT anchors of one target, not its raw in-links, so a
    1M-in-link hub with 10k distinct anchors ranks over 10k rows), then
    the per-target rollup; anchors are short strings, the fat source
    pages never enter. The window re-exchanges by target alone (hash
    partitioning on (target, anchor) does not co-locate a target's
    groups), which is the correct, narrow move.
    """
    t, a, s = F.col(target_col), F.col(anchor_col), F.col(src_col)
    pair = links.groupBy(t.alias("host"), a.alias("anchor")).agg(
        F.count(F.lit(1)).cast("long").alias("__cnt")
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("host").orderBy(
            F.col("__cnt").desc(), F.col("anchor").asc()
        )
    )
    top = (
        pair.withColumn("__rn", rn)
        .filter(F.col("__rn") == 1)
        .select("host", F.col("anchor").alias("top_anchor"),
                F.col("__cnt").alias("top_cnt"))
    )
    roll = links.groupBy(t.alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.countDistinct(s).cast("long").alias("n_sources"),
        F.countDistinct(a).cast("long").alias("n_anchors"),
    )
    return roll.join(top, "host")


def host_link_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-host link-graph spam features → (host, outdeg, indeg,
    out_hosts, in_hosts, reciprocity). The structural complement to
    :func:`trustrank`: link farms show near-total reciprocity (every
    out-link answered by a return link) and low distinct-neighbor
    variety, while organic news hosts link out far more broadly than
    they are linked back (Gyöngyi & Garcia-Molina's link-spam-alliance
    observations; degree/reciprocity are the classic first-cut
    features).

    Semantics on the DISTINCT (src, dst) edge set, self-loops excluded:
    ``outdeg``/``indeg`` are distinct out-/in-edges, ``out_hosts``/
    ``in_hosts`` the distinct counterparties (equal to the degrees on a
    simple graph, kept separate so multigraph inputs stay honest),
    ``reciprocity`` = reciprocal out-edges / outdeg, 6 dp, 0.0 for
    hosts with no out-edges. Hosts = union of all endpoints.

    100 TB shape: the edge table is deduped once and reused across four
    map-side-combinable narrow aggs plus ONE self-equi-join on the full
    (src, dst) pair for reciprocity (hash join on both keys — never a
    cross product); the per-host assembly is outer joins of |hosts|-row
    aggregates. Nothing wider than two longs ever shuffles.
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct()
    out_agg = e.groupBy("src").agg(
        F.count(F.lit(1)).alias("outdeg"),
        F.count_distinct("dst").alias("out_hosts"),
    )
    in_agg = e.groupBy("dst").agg(
        F.count(F.lit(1)).alias("indeg"),
        F.count_distinct("src").alias("in_hosts"),
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = (
        e.join(rev, ["src", "dst"])
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("__recip"))
    )
    hosts = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    return (
        hosts.join(out_agg, hosts["host"] == out_agg["src"], "left")
        .join(in_agg, hosts["host"] == in_agg["dst"], "left")
        .join(recip, hosts["host"] == recip["src"], "left")
        .select(
            "host",
            F.coalesce(F.col("outdeg"), F.lit(0)).cast("long").alias("outdeg"),
            F.coalesce(F.col("indeg"), F.lit(0)).cast("long").alias("indeg"),
            F.coalesce(F.col("out_hosts"), F.lit(0)).cast("long")
            .alias("out_hosts"),
            F.coalesce(F.col("in_hosts"), F.lit(0)).cast("long")
            .alias("in_hosts"),
            F.when(F.coalesce(F.col("outdeg"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce(F.col("__recip"), F.lit(0)).cast("double")
                    / F.col("outdeg"),
                    6,
                )
            )
            .alias("reciprocity"),
        )
    )
