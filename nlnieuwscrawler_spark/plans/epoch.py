"""One crawl epoch as a single declarative DataFrame plan (SURVEY §3.2).

Pipeline per micro-batch (north_star): frontier snapshot → robots flag
(broadcast join + higher-order rule eval) → politeness budget + salted
per-host priority rank (windows) → fetch simulation (equi-join against the
pre-reduced pages index) → extraction (Arrow pandas UDF) → Dutch lang gate
→ link discovery (explode + native canonicalization + Murmur3 fingerprint)
→ URL-seen filter (exact anti-join) → frontier merge.

Every ordering has the total tie-break (priority DESC, discovered_epoch,
url_fp) so the crawl order is identical at any parallelism — pinned by the
oracle-equivalence and local[2]-vs-local[8] determinism tests.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nlnieuwscrawler_spark import spec
from nlnieuwscrawler_spark.functions import urls as U
from nlnieuwscrawler_spark.functions.extract import extract_udf
from nlnieuwscrawler_spark.operators import politeness, robots as robots_op, seen as seen_op
from nlnieuwscrawler_spark.sources.fixtures import BASE_TS

FRONTIER_COLS = [
    "url", "url_fp", "host", "depth", "priority", "discovered_epoch", "parent_fp",
]


@dataclass
class EpochResult:
    frontier: DataFrame        # next epoch's frontier
    new_seen: DataFrame        # url_fp newly added to the seen set this epoch
    crawl_log: DataFrame       # this epoch's attempts (seq starts at 1)
    cached: list = field(default_factory=list)  # persisted intermediates —
    #                      caller unpersists after materializing the outputs


def seeds_frontier(seeds: DataFrame) -> DataFrame:
    """O1: seed list → initial frontier (depth 0, priority 0).

    Deduped on url_fp: distinct raw seeds can canonicalize to ONE url
    (http://a vs http://a/#frag), and the reference's visited-set never
    fetches a canonical URL twice. Deterministic — rows sharing a fp are
    fully identical here (all other columns are seed constants). This also
    keeps fp-uniqueness a frontier INVARIANT (discovered links are already
    fp-deduped), which run_epoch's joins and attempted-fp read rely on.
    """
    canon = U.normalize_url(F.col("url"))
    return (
        seeds.select(canon.alias("url"))
        .filter(F.col("url").isNotNull())
        .withColumn("url_fp", U.url_fingerprint(F.col("url")))
        .withColumn("host", U.url_host(F.col("url")))
        .withColumn("depth", F.lit(0))
        .withColumn("priority", F.lit(0.0))
        .withColumn("discovered_epoch", F.lit(-1))
        .withColumn("parent_fp", F.lit(None).cast("long"))
        .select(FRONTIER_COLS)
        .dropDuplicates(["url_fp"])
    )


def discover_links(fetched_ok: DataFrame, epoch: int) -> DataFrame:
    """O13+O2'+O3: explode extracted hrefs → canonical, fingerprinted, deduped.

    Two-level dedup, both deterministic struct-min hash aggregates:

    1. COARSE: resolve hrefs to absolute strings (cheap regex/concat exprs)
       and keep min (depth, parent_fp) per distinct absolute string — pages
       link to the same targets over and over, so this cuts the expensive
       normalization (dot segments, ports, media rejects) by the link
       fan-in factor before it runs;
    2. EXACT: full canonicalization on the survivors, then min-struct per
       url_fp (distinct resolved strings can normalize to one canonical).

    min is associative, so min∘min over the same (depth, parent_fp) order
    equals the single-level dedup — pinned by the oracle-equivalence suite.
    """
    exploded = fetched_ok.select(
        F.col("url").alias("parent_url"),
        F.col("url_fp").alias("parent_fp"),
        (F.col("depth") + 1).alias("depth"),
        F.explode("links").alias("href"),
    ).filter(F.col("depth") <= spec.MAX_DEPTH)
    resolved = exploded.withColumn(
        "abs_url", U.resolve_href(F.col("parent_url"), F.col("href"))
    ).filter(F.col("abs_url").isNotNull())
    coarse = resolved.groupBy("abs_url").agg(
        F.min(F.struct("depth", "parent_fp")).alias("__c")
    )
    canon = coarse.withColumn(
        "child_url", U.normalize_url(F.col("abs_url"))
    ).filter(F.col("child_url").isNotNull())
    cand = canon.select(
        F.col("child_url").alias("url"),
        U.url_fingerprint(F.col("child_url")).alias("url_fp"),
        U.url_host(F.col("child_url")).alias("host"),
        F.col("__c.depth").alias("depth"),
        (-F.col("__c.depth")).cast("double").alias("priority"),
        F.lit(epoch).alias("discovered_epoch"),
        F.col("__c.parent_fp").alias("parent_fp"),
    )
    packed = cand.groupBy("url_fp").agg(
        F.min(
            F.struct("depth", "parent_fp", "url", "host", "priority", "discovered_epoch")
        ).alias("__s")
    )
    return packed.select(
        F.col("__s.url").alias("url"),
        "url_fp",
        F.col("__s.host").alias("host"),
        F.col("__s.depth").alias("depth"),
        F.col("__s.priority").alias("priority"),
        F.col("__s.discovered_epoch").alias("discovered_epoch"),
        F.col("__s.parent_fp").alias("parent_fp"),
    )


def run_epoch(
    frontier: DataFrame,
    pages_latest: DataFrame,
    robots: DataFrame,
    seen_keys: DataFrame,
    epoch: int,
    salt: int = 1,
    seq_base: int = 0,
    epoch_seconds: float | None = None,
    distributed_trace: bool = False,
) -> EpochResult:
    """One micro-batch. ``pages_latest`` must be one row per url with its
    ``url_fp`` column (pre-reduced by
    operators.asof.latest_snapshot_clustered, as ``Crawler`` builds it —
    do it once per crawl, not per epoch).
    """
    # O7 robots: ONE broadcast join flags every frontier row; denied URLs
    # leave the frontier and join the seen set (pinned spec: a denied URL
    # is never fetched and never reconsidered).
    cand = frontier.withColumn("path", U.url_path(F.col("url")))
    judged = robots_op.with_robots(cand, robots).drop("path")
    denied_fps = judged.filter(~F.col("allowed")).select("url_fp")
    allowed = judged.filter(F.col("allowed"))

    # O8/O9/O10 politeness + salted priority rank — on the NARROW
    # projection only: the (host, salt) rank shuffles move ~40 B/row
    # (fp + host + small ints) instead of carrying the url string.
    rank_in = allowed.select(
        "url_fp", "host", "depth", "priority", "discovered_epoch",
        "crawl_delay",
    )
    sched = politeness.epoch_schedule(
        rank_in, epoch, salt=salt, epoch_seconds=epoch_seconds
    )
    # ONE fp-keyed left join places each allowed row: fetched this epoch
    # (it has a sched_offset) or deferred to the next. It also re-attaches
    # the url, so the widest frontier column crosses exactly one shuffle.
    placed = allowed.select(FRONTIER_COLS).join(
        sched.select("url_fp", "sched_offset", "fetch_ts_offset"), "url_fp", "left"
    )
    deferred = placed.filter(F.col("sched_offset").isNull()).select(FRONTIER_COLS)
    scheduled = placed.filter(F.col("sched_offset").isNotNull())

    # O11 fetch simulation: equi-join the latest-snapshot index on url_fp
    # ALONE. Without a hint the planner broadcast the index whenever the
    # materialized cache measured under autoBroadcastJoinThreshold: every
    # page's html was collected to the driver and rebuilt as a hash
    # relation each epoch (16 MiB for perfbench's 5k-page corpus). The
    # merge hint pins a sort-merge join at every corpus size. The cached
    # index's hashpartitioning on the 8-byte fingerprint (Crawler
    # pre-partitions + pre-sorts it, fp-unique by construction) meets the
    # join's distribution requirement exactly
    # (requireAllClusterKeysForCoPartition: keys == partition keys), so
    # html never moves, re-shuffles or re-sorts per epoch and only narrow
    # fp-keyed rows are exchanged. Exactness under (astronomically
    # unlikely) fp collisions: the index is fp-unique, so each scheduled
    # URL joins at most one candidate page; the url-equality guard
    # downgrades a cross-set collision to status=miss instead of
    # extracting a wrong page.
    joined = scheduled.join(
        pages_latest.select(
            "url_fp",
            F.col("url").alias("__idx_url"),
            F.col("html"),
            F.col("lang").alias("corpus_lang"),
        ).hint("merge"),
        on="url_fp",
        how="left",
    )
    hit = F.col("__idx_url").isNotNull() & (F.col("__idx_url") == F.col("url"))
    fetched = (
        joined.withColumn("html", F.when(hit, F.col("html")))
        .withColumn("corpus_lang", F.when(hit, F.col("corpus_lang")))
        .drop("__idx_url")
    )

    # O12 extract (Arrow UDF) + O14 lang gate. No repartition before the
    # UDF: the join inherits the cached index's partition count (balanced
    # by fp hash), which AQE cannot coalesce below — the old explicit
    # repartition re-shuffled the html payload every epoch just to
    # re-balance the extraction stage.
    ext = fetched.withColumn("__e", extract_udf(F.col("html")))
    gated = ext.select(
        "url", "url_fp", "host", "depth", "priority", "discovered_epoch",
        "sched_offset", "fetch_ts_offset", "corpus_lang",
        F.col("__e.title").alias("title"),
        # hash the body immediately — the trace stores text_sha, never the
        # text, so the fattest column stays out of every cache and shuffle
        F.sha2(F.coalesce(F.col("__e.text"), F.lit("")), 256).alias("text_sha"),
        F.col("__e.links").alias("links"),
        F.col("__e.page_lang").alias("page_lang"),
        F.when(F.col("html").isNull(), F.lit("miss"))
        .when(
            (F.col("corpus_lang") == spec.ACCEPT_LANG)
            | (F.col("corpus_lang").isNull() & (F.col("__e.page_lang") == spec.ACCEPT_LANG)),
            F.lit("ok"),
        )
        .otherwise(F.lit("lang"))
        .alias("status"),
    )

    # ONE extraction pass: everything downstream (crawl_log, link discovery,
    # seen set, frontier merge, metrics) forks from this persisted node —
    # without it, each materializing job re-runs the fetch join + Arrow UDF.
    gated = gated.persist()

    # O19 crawl-order trace: deterministic global sequence. The window form
    # is a single-task sort — fine for politeness-bounded epochs (10^2-10^4
    # rows); the distributed form (range-partition + offset enumeration,
    # operators/sequence.py) produces identical numbers for recrawl-scale
    # epochs (10^6+). Equality pinned in tests.
    cached: list = [gated]
    if distributed_trace:
        from nlnieuwscrawler_spark.operators.sequence import global_sequence

        # Enumerate over the NARROW order-key projection only (~24 B/row):
        # the fat columns (url, title, text_sha) must not ride the range
        # shuffle + sort + persist + checkpoint — measured at 1M URLs they
        # made this the single biggest stage (341 MB moved and sorted vs
        # ~20 MB narrow). The seq joins back 1:1 on url_fp (unique per
        # attempt: the frontier is fp-deduped and politeness keeps at most
        # one row per fp); `gated` is clustered on url_fp by the fetch
        # join, so the join-back moves only the narrow side.
        seq_src = gated.select("url_fp", "sched_offset", "host")
        narrow = global_sequence(
            seq_src,
            [F.col("sched_offset").asc(), F.col("host").asc(), F.col("url_fp").asc()],
            seq_col="seq",
            base=seq_base,
            cache_registry=cached,
        )
        log = gated.join(narrow.select("url_fp", "seq"), on="url_fp", how="inner")
    else:
        log = gated.withColumn(
            "seq",
            (
                F.lit(seq_base)
                + F.row_number().over(
                    Window.orderBy(
                        F.col("sched_offset").asc(),
                        F.col("host").asc(),
                        F.col("url_fp").asc(),
                    )
                )
            ).cast("long"),
        )
    log = log.withColumn(
        "fetch_ts",
        F.lit(BASE_TS)
        + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.col("fetch_ts_offset")),
    ).withColumn("epoch", F.lit(epoch))
    crawl_log = log.select(
        "epoch", "seq", "url", "url_fp", "host", "depth", "fetch_ts", "status",
        "title", "text_sha", "page_lang",
    )

    # O13/O2'/O3 new links from ok pages, O5 unseen filter, O15 merge.
    # Branch from `gated` (pre-seq-window): the global row_number is a
    # single-partition sort, and hanging link discovery under it would
    # serialize canonicalization of every discovered href.
    ok = gated.filter(F.col("status") == "ok").select(
        "url", "url_fp", "depth", "links"
    )
    new_links = discover_links(ok, epoch)
    # `gated` has one row per scheduled fp (fp-unique frontier, left join on
    # the fp-unique index): the attempted fps need no re-run of the rank
    new_seen = gated.select("url_fp").unionByName(denied_fps)
    # exact check against the PRE-epoch seen set
    unseen_old = seen_op.filter_unseen(
        new_links, seen_keys.select("url_fp"), "url_fp"
    )
    # This epoch's additions (new_seen) and the deferred rows in ONE exact
    # anti-join against the epoch's own frontier: each frontier row has one
    # fate, fps(denied) ⊔ fps(scheduled) ⊔ fps(deferred) = fps(frontier),
    # and new_seen = denied ⊔ scheduled.
    # No broadcast hint: AQE picks broadcast when the frontier fits.
    fresh = unseen_old.join(frontier.select("url_fp"), "url_fp", "left_anti")
    next_frontier = deferred.unionByName(fresh.select(FRONTIER_COLS))

    return EpochResult(
        frontier=next_frontier,
        new_seen=new_seen,
        crawl_log=crawl_log,
        cached=cached,
    )
