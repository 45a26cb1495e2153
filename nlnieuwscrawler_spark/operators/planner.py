"""Crawl-budget planning: the composite a crawler OPERATOR actually runs.

The reference crawls a hand-curated host list uniformly (SURVEY §1
[R-crawl]: fixed seed list, whole-corpus refresh per invocation). At web
scale the scarce resource is the fetch budget of the next epoch, and the
standard allocation combines the three per-host signals this engine
already computes:

    authority   — host_pagerank over the host link graph
    freshness   — Cho/Garcia-Molina change rate (recrawl_schedule)
    quality     — any per-host score in [0, 1] (language mix, Gopher
                  pass-rate, classifier mean … caller's choice)

    weight(h) = round(rank * (1 + change_rate) * qscore, 12)
    quota(h)  = largest-remainder apportionment of `budget` over
                share(h) = weight(h) / Σ weight

Largest-remainder (Hamilton) apportionment makes the integer quotas sum
EXACTLY to the budget: base = floor(budget·share), then the leftover
units go to the largest fractional remainders (ties broken by host id —
a total order, so the result is engine-portable and the DuckDB oracle
reproduces every row bit-for-bit).

Determinism/exactness (the repo's decimal recipe): the weight is one
left-to-right IEEE multiply chain rounded to 12 dp; the weight total is
an EXACT DECIMAL(28,12) sum (associative, partition-order-free); share,
ideal, and remainder are single IEEE ops on identical operands in both
engines. Degenerate corpus (Σ weight = 0) falls back to equal shares.

100 TB shape: every input to the final assembly is |hosts|-sized (~10^7
at web scale — kilobytes per million hosts, broadcast-range), so the
joins are broadcasts and the one-row weight total is a broadcast cross
join. The remainder ranking is operators/sequence.global_sequence — the
range-partitioned parallel rank perplexity_buckets and ntile_buckets
use — so there is NO single-task window anywhere in the plan and the
host-count ceiling the r5 docstring documented is gone. The expensive
parts — PageRank's per-iteration edge aggregation and the change-rate
window over the fetch log — keep their own documented scale shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.operators.sequence import global_sequence

from nlnieuwscrawler_spark.operators.graph import host_pagerank
from nlnieuwscrawler_spark.operators.recrawl import recrawl_schedule


def plan_crawl(
    edges: DataFrame,
    obs: DataFrame,
    quality: DataFrame,
    n_hosts: int,
    budget: int = 10000,
    iters: int = 5,
    damping: float = 0.85,
    obs_key: str = "host",
    q_col: str = "qscore",
) -> DataFrame:
    """Per-host fetch quotas for the next epoch.

    ``edges``: (src, dst) host link graph (dense ids 0..n_hosts-1).
    ``obs``: fetch observation log keyed by ``obs_key`` (ts/value/
    event_id columns as in recrawl_schedule). ``quality``: (host,
    q_col) with scores in [0, 1]; hosts absent from ``obs`` get change
    rate 0, absent from ``quality`` get 0.5. Returns (host, rank,
    change_rate, qscore, weight, quota) with sum(quota) == budget.
    """
    pr = host_pagerank(edges, n_nodes=n_hosts, damping=damping, iters=iters)
    rr = recrawl_schedule(obs, key_col=obs_key).select(
        F.col(obs_key).alias("host"), "change_rate"
    )
    qq = quality.select("host", F.col(q_col).alias("qscore"))
    j = (
        pr.join(F.broadcast(rr), "host", "left")
        .join(F.broadcast(qq), "host", "left")
        .select(
            "host",
            "rank",
            F.coalesce("change_rate", F.lit(0.0)).alias("change_rate"),
            F.coalesce("qscore", F.lit(0.5)).alias("qscore"),
        )
    )
    w = j.withColumn(
        "weight",
        F.round(
            F.col("rank") * (F.lit(1.0) + F.col("change_rate")) * F.col("qscore"),
            12,
        ),
    )
    tot = w.agg(
        F.sum(F.col("weight").cast("decimal(28,12)"))
        .cast("double")
        .alias("__tot"),
        F.count(F.lit(1)).alias("__k"),
    )
    share = F.when(
        F.col("__tot") > 0.0, F.col("weight") / F.col("__tot")
    ).otherwise(F.lit(1.0) / F.col("__k"))
    ideal = F.lit(float(budget)) * share
    b = w.crossJoin(F.broadcast(tot)).select(
        "host", "rank", "change_rate", "qscore", "weight",
        F.floor(ideal).cast("long").alias("__base"),
        (ideal - F.floor(ideal)).alias("__rem"),
    )
    # Largest-remainder tiebreak rank: a RANGE-partitioned parallel rank
    # (global_sequence) instead of row_number() OVER (ORDER BY …) — the
    # unpartitioned-WindowExec form was acceptable on |hosts| rows but the
    # engine owns the scale-safe primitive, so use it (same swap as
    # ntile_buckets; plan-pinned by test_plan_crawl_no_global_window).
    # Bonus: ranked is localCheckpoint-materialized by global_sequence, so
    # computing the leftover from it (not from b) evaluates the
    # pagerank × recrawl × quality chain exactly once.
    ranked = global_sequence(
        b, [F.col("__rem").desc(), F.col("host").asc()], seq_col="__rn"
    )
    lo = ranked.agg(
        (F.lit(int(budget)) - F.sum("__base")).cast("long").alias("__leftover")
    )
    return (
        ranked
        .crossJoin(F.broadcast(lo))
        .select(
            "host", "rank", "change_rate", "qscore", "weight",
            (
                F.col("__base")
                + F.when(F.col("__rn") <= F.col("__leftover"), F.lit(1))
                .otherwise(F.lit(0))
            ).cast("long").alias("quota"),
        )
    )
