"""Physical-plan checks: the Catalyst properties the 100 TB story rests on.

These assert the plan SHAPE, not results: filters reach the parquet scan,
projections prune columns (never read `html` unless extraction needs it),
small dims broadcast, top-K compiles to TakeOrderedAndProject.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from nlnieuwscrawler_spark.operators import robots as robots_op
from nlnieuwscrawler_spark.sources import fixtures

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    spark = df.sparkSession
    return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1998-09-02").select("l_orderkey", "l_quantity")
    plan = _formatted(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan, plan


def test_column_pruning_reads_only_projected(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_orderkey", "l_extendedprice")
    plan = _formatted(q)
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read and "l_extendedprice" in read
    assert "l_comment" not in read and "l_shipdate" not in read


def test_pages_scan_prunes_html_for_metrics(spark, tiny_pages_df):
    """A metrics-only aggregate over pages must NOT read the fat html col."""
    q = tiny_pages_df.groupBy("lang").agg(F.count("*").alias("n"))
    read = [l for l in _formatted(q).splitlines() if "ReadSchema" in l][0]
    assert "html" not in read, read
    assert "text" not in read, read


def test_robots_join_is_broadcast(spark):
    cand = spark.createDataFrame(
        [("nu.nl", "/sport/x.html", 1)], "host string, path string, url_fp long"
    )
    out = robots_op.with_robots(cand, fixtures.robots_df(spark)).filter("allowed")
    assert "BroadcastHashJoin" in _plan(out)


def test_topk_is_take_ordered(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    q = o.orderBy(F.desc("o_totalprice")).limit(10)
    assert "TakeOrderedAndProject" in _plan(q)


def test_canonicalize_stays_jvm_side(spark):
    """The canonicalizer must never cross into Python (no BatchEvalPython /
    ArrowEvalPython). Note: its higher-order lambdas (aggregate/transform)
    are JVM-interpreted rather than codegen'd — still vector-scan inputs,
    still zero serde, still embarrassingly parallel."""
    from nlnieuwscrawler_spark.functions import urls as U

    df = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("source").alias("href")
    )
    q = df.select(
        U.canonicalize(F.lit("https://nu.nl/a/"), F.col("href")).alias("canon")
    )
    plan = _plan(q)
    assert "EvalPython" not in plan, plan


def test_dedup_aggregate_is_partial_final(spark):
    """discover_links dedup (min over struct) must keep map-side partial
    aggregation — two agg nodes around one exchange. (Struct min has no
    fixed-size buffer so Spark picks SortAggregate; partial+final is what
    bounds the shuffle, and that's the property that matters at scale.)"""
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.groupBy("l_orderkey").agg(
        F.min(F.struct("l_linenumber", "l_partkey")).alias("s")
    )
    plan = _plan(q)
    assert plan.count("Aggregate") >= 2, plan
    assert "partial_min" in plan or "partial" in plan.lower(), plan
    assert "EvalPython" not in plan


def test_bucketed_join_skips_shuffle(spark, tmp_path_factory):
    """Bucketed tables co-locate join keys at WRITE time: a join of two
    tables bucketed by the same key into the same bucket count must plan
    with NO Exchange on either side — the 100 TB recipe for repeated
    fact-to-fact joins (pay the shuffle once, reuse it every query)."""
    wh = tmp_path_factory.mktemp("warehouse")
    a = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("va")
    )
    b = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 11).alias("vb")
    )
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    # external-table paths: bucketing lives in the catalog entry, the data
    # under tmp (the session's static warehouse dir can't be changed)
    a.write.bucketBy(8, "k").sortBy("k").option(
        "path", str(wh / "bkt_a")).saveAsTable("bkt_a")
    b.write.bucketBy(8, "k").sortBy("k").option(
        "path", str(wh / "bkt_b")).saveAsTable("bkt_b")
    # small inputs would broadcast (also correct, but not what's under
    # test); force the shuffle path so bucket co-location is observable
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert j.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_fresh_crawl_unseen_join_folds_away(spark, tiny_pages_df):
    """A fresh crawl's seen keys are visibly empty to the optimizer, so
    epoch 0's unseen anti-join leaves no join in the plan."""
    from nlnieuwscrawler_spark.operators.seen import filter_unseen
    from nlnieuwscrawler_spark.plans.crawler import Crawler, CrawlConfig

    c = Crawler(
        spark, tiny_pages_df, fixtures.robots_df(spark), None,
        CrawlConfig(max_epochs=1, checkpoint=False),
    )
    c.start(fixtures.seeds_df(spark))
    cand = spark.range(10).select(F.xxhash64("id").alias("url_fp"))
    out = filter_unseen(cand, c.seen_keys, "url_fp")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    assert out.count() == 10


def test_epoch_fates_need_no_extra_anti_join(spark, tiny_pages_df):
    """Each frontier row's fate comes from the robots flag and one schedule
    join: the epoch's seen additions hold no anti-join, its next frontier
    holds exactly two (against the pre-epoch seen keys and the epoch's own
    frontier), and `gated` is the only persisted node. A persisted node
    prints its cached plan inside the InMemoryRelation, so the counts cover
    the cached subtree too."""
    from nlnieuwscrawler_spark.plans import epoch as epoch_plan
    from nlnieuwscrawler_spark.plans.crawler import Crawler, CrawlConfig

    c = Crawler(
        spark, tiny_pages_df, fixtures.robots_df(spark), None,
        CrawlConfig(max_epochs=1, use_bloom=False, checkpoint=False),
    )
    # one epoch first: a non-empty seen set keeps the unseen anti-join
    c.run(seeds=fixtures.seeds_df(spark))
    res = epoch_plan.run_epoch(
        c.frontier, c.pages_latest, c.robots, c.seen_keys,
        epoch=1, seq_base=c.seq_base,
    )

    def optimized(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    try:
        assert len(res.cached) == 1
        assert "LeftAnti" not in optimized(res.new_seen), optimized(res.new_seen)
        plan = optimized(res.frontier)
        assert plan.count("LeftAnti") == 2, plan
    finally:
        for cc in res.cached:
            cc.unpersist()


def test_fetch_index_not_reexchanged(spark, tiny_pages_df):
    """Regression for the round-3 find: with
    requireAllClusterKeysForCoPartition=true (Spark >= 3.3 default), an
    index cached on a SUBSET of the fetch-join keys is silently
    re-exchanged (the whole html payload, every epoch). Round 4 joins on
    url_fp ALONE against an fp-partitioned fp-unique index (so the narrow
    frontier side stops carrying the url string through rank shuffles);
    the invariant under test is unchanged: the executed fetch-join plan
    must show NO Exchange feeding the index-side InMemoryTableScan.

    Runs at the session's default conf: the merge hint on the index side
    makes the sort-merge join the plan at every corpus size, so the html
    index projection must never be broadcast either."""
    from nlnieuwscrawler_spark.plans.crawler import Crawler, CrawlConfig
    from nlnieuwscrawler_spark.sources import fixtures

    c = Crawler(
        spark, tiny_pages_df, fixtures.robots_df(spark), None,
        CrawlConfig(max_epochs=1, use_bloom=False, checkpoint=False),
    )
    c.pages_latest.count()  # materialize the cache (as the crawl does)
    c.start(fixtures.seeds_df(spark))
    c.step()
    log = c.crawl_log_parts[0]
    assert log.count() > 0
    # inspect the executed plan of a fresh epoch's crawl_log
    from nlnieuwscrawler_spark.plans import epoch as epoch_plan

    res = epoch_plan.run_epoch(
        c.frontier, c.pages_latest, c.robots, c.seen_keys,
        epoch=1, seq_base=c.seq_base,
    )
    res.crawl_log.count()
    plan = res.crawl_log._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    # only the corpus-index scan matters (it carries the html payload);
    # the gated cache feeding the single-partition trace window has a
    # legitimate ENSURE_REQUIREMENTS exchange above it
    scan_idx = [
        i for i, l in enumerate(lines)
        if "InMemoryTableScan" in l and "html" in l
    ]
    assert scan_idx, plan
    for i in scan_idx:
        # allow the cached REPARTITION exchange INSIDE the relation,
        # forbid an ENSURE_REQUIREMENTS exchange feeding the scan
        above = "\n".join(lines[max(0, i - 3): i])
        assert "ENSURE_REQUIREMENTS" not in above, plan

    # the fetch join's index side (url_fp, __idx_url, html, corpus_lang)
    # is in no BroadcastExchange's subtree, in the final or initial plan
    idx_proj = re.compile(
        r"Project \[url_fp#\d+L, url#\d+ AS __idx_url#\d+, html#\d+, "
        r"lang#\d+ AS corpus_lang#\d+\]"
    )
    assert any(idx_proj.search(l) for l in lines), plan

    def node_col(line: str) -> int:
        return re.match(r"[ :]*(?:[+:]- )?", line).end()

    for i, l in enumerate(lines):
        if "BroadcastExchange" not in l:
            continue
        col = node_col(l)
        for sub in lines[i + 1:]:
            if node_col(sub) <= col:
                break
            assert not idx_proj.search(sub), plan
    for cc in res.cached:
        cc.unpersist()


def test_dedup_spans_plan_shape(spark):
    """dedup_spans is exactly the two corpus exchanges it claims (span
    hash-agg + regroup by doc) plus a BROADCAST of the narrow counts side
    for the join-back — no BNLJ, no extra ENSURE_REQUIREMENTS shuffle of
    the rebuilt corpus."""
    from nlnieuwscrawler_spark.operators.dedup import dedup_spans

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dedup_spans(d, span=16)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    n_shuffles = plan.count("Exchange hashpartitioning")
    n_bcast = plan.count("Exchange HashedRelationBroadcastMode")
    assert n_shuffles == 2, plan
    assert n_bcast == 1, plan


def test_lm_bigram_score_plan_no_bnlj(spark):
    """The LM build + scoring is all equi-joins and hash aggregations —
    never a nested-loop join, regardless of AQE's broadcast choices."""
    from nlnieuwscrawler_spark.functions.text import lm_bigram_score

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = lm_bigram_score(d)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_step_broadcasts_ranks_narrow_exchange(spark):
    """One PageRank power iteration: the |hosts|-row rank and out-degree
    tables BROADCAST to the edge join (no shuffle of the edge list by
    join), and the only exchange below the final node join is the
    (dst, decimal) partial-aggregated contribution sum — never edge
    payload, never a nested-loop join."""
    from nlnieuwscrawler_spark.operators.graph import _pagerank_step

    e = spark.createDataFrame(
        [(i % 9, (i * 5 + 2) % 9) for i in range(60) if i % 9 != (i * 5 + 2) % 9],
        "src long, dst long",
    ).distinct()
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = spark.range(9).select(F.col("id").alias("host"))
    ranks = nodes.select("host", F.lit(1.0 / 9).alias("rank"))
    step = _pagerank_step(e, outd, nodes, ranks, n_nodes=9)
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan  # ranks + outdeg
    # the groupBy(dst) agg is partial/final (map-side combine before the
    # one hash exchange)
    assert "partial_sum" in plan or "partial" in plan.lower(), plan


def test_quality_classifier_is_zero_shuffle_projection(spark):
    """The hashed-linear classifier is a PURE per-row projection: no
    Exchange of any kind, no join, no aggregate — the whole logit
    (token transform + integer accumulation + division) evaluates
    scan-side, so the op composes with any downstream filter for free."""
    from nlnieuwscrawler_spark.functions.text import quality_classifier

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = quality_classifier(d)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_recrawl_schedule_no_global_sort(spark):
    """recrawl's lag window partitions by key — the plan must contain NO
    single-partition exchange (a global sort would serialize the log)."""
    from nlnieuwscrawler_spark.operators.recrawl import recrawl_schedule

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = recrawl_schedule(e)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastNestedLoop" not in plan
