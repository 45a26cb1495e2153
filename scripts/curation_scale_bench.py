"""Curation operators at scale: synthesize N word-soup docs (seeded,
~1% planted near-dups, Zipf sources) and time each training-data
operator on local[CORES]. Evidence for BENCH/BASELINE.md's curation
appendix — the sf0.1 registry fixtures are 5k docs; this runs the same
operators at 100-1000x that.

Usage: python scripts/curation_scale_bench.py [n_docs] [cores]
``cores`` defaults to get_spark's (``SPARK_GRAFT_CPUS``, else every core).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark the "
    "line sort window order data column join small customer query big vector "
    "group stream filter de het een en and of a index shuffle broadcast"
).split()


def gen_docs(spark, n_docs: int):
    """Deterministic corpus: text is a pure function of doc_id (seeded
    xxhash64 chain over a fixed vocab), ~1% of docs are near-copies of a
    base doc (suffix token changed), source is Zipf-ish over 20 values."""
    from pyspark.sql import functions as F

    v = F.array(*[F.lit(w) for w in VOCAB])
    n_words = 60
    base = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    words = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        # near-dup planting: doc_id % 97 == 1 copies doc_id-1's words
        # except the last position
        lambda i: F.element_at(
            v,
            (
                F.pmod(
                    F.xxhash64(
                        F.when(
                            (F.pmod(F.col("doc_id"), F.lit(97)) == 1)
                            & (i < n_words - 1),
                            F.col("doc_id") - 1,
                        ).otherwise(F.col("doc_id")),
                        i,
                    ),
                    F.lit(len(VOCAB)),
                )
                + 1
            ).cast("int"),
        ),
    )
    zipf = F.pmod(
        F.floor(F.pow(F.lit(2.0), F.pmod(F.xxhash64("doc_id"), F.lit(40)) / 8.0)),
        F.lit(20),
    ).cast("int")
    return base.select(
        "doc_id",
        F.concat_ws(" ", words).alias("text"),
        F.concat(F.lit("src"), zipf).alias("source"),
        F.lit("nl").alias("lang"),
    )


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else None

    from pyspark.sql import functions as F

    from nlnieuwscrawler_spark.functions.text import (
        gopher_quality,
        repetition_stats,
        token_count_ws,
    )
    from nlnieuwscrawler_spark.operators.dedup import (
        decontaminate,
        dedup_exact,
        dedup_incremental,
        minhash_lsh_pairs,
    )
    from nlnieuwscrawler_spark.operators.sampling import (
        chunk_documents,
        pack_sequences,
        stratified_sample,
    )
    from nlnieuwscrawler_spark.session import get_spark

    spark = get_spark(
        "nlnc-curation-scale",
        master=f"local[{cores}]" if cores else None,
        shuffle_partitions=2 * cores if cores else None,
    )
    cores = spark.sparkContext.defaultParallelism
    path = f"/tmp/nlnc_curation_docs_{n_docs}"
    # _SUCCESS marker, not bare existence: a killed prior write leaves a
    # partial directory that bare os.path.exists would silently reuse
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        gen_docs(spark, n_docs).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)

    timings: dict[str, float] = {}

    # NLNC_BENCH_ONLY=op1,op2 runs only those legs — lets a long bench be
    # split across FRESH sessions (one 30-leg session accumulates enough
    # pinned lineage-cut blocks that late legs can starve; the r6 2M run
    # died at the composite leg only when 19 legs preceded it in-session)
    only = set(filter(None, os.environ.get("NLNC_BENCH_ONLY", "").split(",")))

    def _want(name):
        return not only or name in only

    def run(name, df, checksum=False):
        if not _want(name):
            return -2
        # checksum=True for projection-only ops: a bare count() lets
        # Catalyst prune the computed columns entirely (measured: the
        # whole gopher_quality projection "ran" in 0.17 s at 2M docs);
        # summing a hash over every output column forces full evaluation.
        # EAGER ops (localCheckpoint(eager=True) inside — drift, mix,
        # buckets) must be passed as a THUNK so construction lands inside
        # the timer; a pre-built eager DataFrame times only its count.
        t0 = time.perf_counter()
        if callable(df):
            df = df()
        if checksum:
            # decimal sum: ANSI mode overflows a LONG sum of 2M hashes
            df.select(
                F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
                F.count(F.lit(1)).alias("n"),
            ).collect()
            n = -1
        else:
            n = df.count()
        timings[name] = round(time.perf_counter() - t0, 2)
        print(json.dumps({"op": name, "rows": n, "sec": timings[name]}))
        return n

    run("dedup_exact", dedup_exact(docs))
    # timed around CONSTRUCTION: minhash_lsh_pairs materializes eagerly
    # (localCheckpoint) so the signature cache can be released inside
    if _want("minhash_lsh_pairs") or _want("dedup_retention"):
        t0 = time.perf_counter()
        pairs = minhash_lsh_pairs(docs, threshold=0.7)
        n_pairs = pairs.count()
        timings["minhash_lsh_pairs"] = round(time.perf_counter() - t0, 2)
        print(json.dumps({"op": "minhash_lsh_pairs", "rows": n_pairs,
                          "sec": timings["minhash_lsh_pairs"]}))
    # VERDICT r4 #5: the iterative clustering chain at scale — components +
    # keep-one-per-cluster retention over the 2M-doc minhash pair graph,
    # with the per-round iteration profile (pointer doubling must keep
    # rounds logarithmic; each round is two bounded shuffles)
    from nlnieuwscrawler_spark.operators.dedup import dedup_retention

    # timed around CONSTRUCTION too: the components loop runs eagerly at
    # call time (per-round convergence jobs), so timing only the final
    # count would hide the iterative part
    if _want("dedup_retention"):
        comp_stats: dict = {}
        t0 = time.perf_counter()
        ret = dedup_retention(docs, pairs, stats=comp_stats)
        n_ret = ret.count()
        timings["dedup_retention"] = round(time.perf_counter() - t0, 2)
        print(json.dumps({"op": "dedup_retention", "rows": n_ret,
                          "sec": timings["dedup_retention"], **comp_stats}))
    if _want("minhash_lsh_pairs") or _want("dedup_retention"):
        pairs.unpersist()
    run("stratified_sample", stratified_sample(docs, "source", quota=1000, salt=16))
    run(
        "pack_sequences",
        pack_sequences(
            docs.withColumn("n_tokens", token_count_ws(F.col("text"))),
            capacity=2048,
            n_buckets=512,
        ),
    )
    run("chunk_documents", chunk_documents(docs, window=32, stride=24), checksum=True)
    run("repetition_stats", repetition_stats(docs))
    run("gopher_quality", gopher_quality(docs), checksum=True)
    ev = docs.filter(F.pmod(F.col("doc_id"), F.lit(9973)) == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    run("decontaminate", decontaminate(docs, ev, min_overlap=8))
    seen = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    run(
        "dedup_incremental",
        dedup_incremental(docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) != 0), seen),
    )
    # round-5 ops: C4-style global span dedup (two corpus exchanges — the
    # shape most sensitive to scale) and the zero-shuffle weighted sampler
    from nlnieuwscrawler_spark.operators.dedup import dedup_spans
    from nlnieuwscrawler_spark.operators.sampling import importance_sample

    run("dedup_spans", dedup_spans(docs, span=16), checksum=True)
    run(
        "importance_sample",
        importance_sample(docs, F.lit(0.35)).select(
            "doc_id", "keep_prob", "sample_weight"
        ),
        checksum=True,
    )
    from nlnieuwscrawler_spark.functions.text import (
        lm_bigram_score,
        source_quality_rollup,
    )

    run("lm_bigram_score", lm_bigram_score(docs), checksum=True)
    run("source_quality", source_quality_rollup(docs))
    from nlnieuwscrawler_spark.functions.text import source_token_drift

    # thunk: eager op — construction (the real work) inside the timer
    run("source_token_drift", lambda: source_token_drift(docs))

    # final r5 ops: the zero-shuffle hashed classifier, the eager
    # domain-mix rollup, CCNet bucketing (LM + distributed rank), and the
    # per-key recrawl policy over a synthetic 100k-host observation log
    from nlnieuwscrawler_spark.functions.text import (
        domain_mix,
        perplexity_buckets,
        quality_classifier,
    )
    from nlnieuwscrawler_spark.operators.recrawl import recrawl_schedule

    run("quality_classifier", quality_classifier(docs), checksum=True)
    run("domain_mix", lambda: domain_mix(docs, ["source"]))
    run("perplexity_buckets", lambda: perplexity_buckets(docs))
    n_keys = max(1000, n_docs // 20)
    obs = spark.range(n_docs).select(
        F.col("id").alias("event_id"),
        F.pmod(F.col("id"), F.lit(n_keys)).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") / F.lit(n_keys)).cast("long") * 3600
        ).alias("ts"),
        # deterministic step function: ~1 change per 3 observations
        F.pmod(F.xxhash64(F.lit("rc"), (F.col("id") / F.lit(3 * n_keys)).cast("long"),
                          F.pmod(F.col("id"), F.lit(n_keys))), F.lit(97))
        .cast("double")
        .alias("value"),
    )
    run("recrawl_schedule", recrawl_schedule(obs), checksum=True)

    # VERDICT r4 #6: the end-to-end curate() composite as ONE measured run
    # (minhash mode — the 100 TB path), audit included
    from nlnieuwscrawler_spark.operators.curate import curate

    if _want("curate_composite"):
      t0 = time.perf_counter()
      res = curate(
        docs,
        eval_docs=ev,
        seen_hashes=seen,
        near_dup="minhash",
        near_dup_threshold=0.7,
        quota=1000,
        salt=16,
        capacity=2048,
        pack_buckets=512,
      )
      audit = {
        r["stage"]: r["rows_kept"]
        for r in res.stage_counts.orderBy("stage_idx").collect()
      }
      n_packed = res.packed.count()
      timings["curate_composite"] = round(time.perf_counter() - t0, 2)
      res.unpersist()
      print(json.dumps({"op": "curate_composite", "rows": n_packed,
                        "sec": timings["curate_composite"], "audit": audit}))

    # round-5 late: the iterative GRAPH op at scale — PageRank over a
    # host graph with n_docs/20 hosts and ~2 edges per doc (each doc
    # links its host to two xxhash64-derived targets), per-iteration
    # profile included. The per-round cost must stay flat across rounds
    # (each round is one broadcast join + one narrow (dst, decimal) agg)
    from nlnieuwscrawler_spark.operators.graph import host_pagerank

    n_hosts = max(1000, n_docs // 20)
    src_h = F.pmod(F.xxhash64(F.lit("ph-s"), F.col("doc_id")), F.lit(n_hosts))
    edges = docs.select(
        src_h.alias("src"),
        F.pmod(F.xxhash64(F.lit("ph-d1"), F.col("doc_id")), F.lit(n_hosts)).alias("dst"),
    ).unionByName(
        docs.select(
            src_h.alias("src"),
            F.pmod(F.xxhash64(F.lit("ph-d2"), F.col("doc_id")), F.lit(n_hosts)).alias("dst"),
        )
    ).filter(F.col("src") != F.col("dst"))
    if _want("host_pagerank"):
        t0 = time.perf_counter()
        pr = host_pagerank(edges, n_nodes=n_hosts, iters=5)
        n_pr = pr.count()
        timings["host_pagerank"] = round(time.perf_counter() - t0, 2)
        print(json.dumps({"op": "host_pagerank", "rows": n_pr, "n_hosts": n_hosts,
                          "sec": timings["host_pagerank"]}))

    # trustrank: same graph, teleport personalized to 100 seed hosts —
    # identical per-round shape (the seeded base is a literal IN-list
    # projection), so any timing gap vs host_pagerank is noise
    from nlnieuwscrawler_spark.operators.graph import trustrank

    if _want("trustrank"):
        t0 = time.perf_counter()
        tr = trustrank(edges, n_nodes=n_hosts, seeds=list(range(100)), iters=5)
        n_tr = tr.count()
        timings["trustrank"] = round(time.perf_counter() - t0, 2)
        print(json.dumps({"op": "trustrank", "rows": n_tr, "n_hosts": n_hosts,
                          "sec": timings["trustrank"]}))

    # link-spam features: four narrow aggs + ONE (src,dst) self-equi-join
    from nlnieuwscrawler_spark.operators.graph import host_link_stats

    run("link_stats", host_link_stats(edges), checksum=True)

    # FineWeb-Edu top-P% cut: range-partitioned parallel rank on the
    # narrow (source, score, id) projection — no per-group window task
    from nlnieuwscrawler_spark.operators.sampling import select_top_percent

    scored_docs = docs.select(
        "doc_id", "source", F.length("text").cast("long").alias("score")
    )
    run("select_top_percent",
        lambda: select_top_percent(scored_docs, percent=10), checksum=True)

    # ParaCrawl bitext mining: narrow projection + one (host, page_key)
    # self-equi-join; quads of consecutive ids are 4 language variants
    from nlnieuwscrawler_spark.functions.urls import bitext_candidates

    page = (F.col("doc_id") / 4).cast("long")
    lang4 = F.element_at(
        F.array(F.lit("nl"), F.lit("en"), F.lit("de"), F.lit("fr")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    bt_frontier = docs.select(
        "doc_id",
        F.concat(F.lit("https://h"), (page % 1000).cast("string"),
                 F.lit(".example.nl/"), lang4, F.lit("/art-"),
                 page.cast("string")).alias("url"),
    )
    run("bitext_candidates", bitext_candidates(bt_frontier), checksum=True)

    # revision diff: one window shuffle keyed by page, token-set jaccard
    # between consecutive snapshots (3 planted snapshots per page)
    from nlnieuwscrawler_spark.operators.recrawl import revision_diff

    snaps = docs.select(
        F.col("doc_id").alias("page"),
        F.explode(F.array(
            F.struct(F.lit(1).alias("ts"),
                     F.substring("text", 1, 80).alias("snap")),
            F.struct(F.lit(2).alias("ts"),
                     F.substring("text", 41, 80).alias("snap")),
            F.struct(F.lit(3).alias("ts"),
                     F.substring("text", 41, 80).alias("snap")),
        )).alias("s"),
    ).select("page", F.col("s.ts").cast("long").alias("ts"),
             F.col("s.snap").alias("text"))
    run("revision_diff", revision_diff(snaps), checksum=True)

    # burst detection: one window over an already-aggregated
    # (host, bucket, n) rate table — 50 buckets per host
    from nlnieuwscrawler_spark.operators.windows import detect_bursts

    rates = spark.range(n_docs).select(
        (F.col("id") / 50).cast("long").alias("host"),
        (F.col("id") % 50).cast("long").alias("bucket"),
        (F.pmod(F.xxhash64("id"), F.lit(20)) + 1
         + F.when(F.col("id") % 17 == 0, F.lit(100)).otherwise(F.lit(0))
         ).cast("long").alias("n"),
    )
    run("fetch_bursts", detect_bursts(rates, ["host"]), checksum=True)

    # mirror detection: narrow (host, md5) pairs, df-per-hash guard,
    # one hash-keyed self-join; every 7th doc re-hosted under a mirror
    from nlnieuwscrawler_spark.operators.dedup import mirror_hosts

    mh_corpus = docs.select(F.col("source").alias("host"), "text").unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            F.concat(F.lit("mirror-"), F.col("source")).alias("host"), "text"
        )
    )
    run("mirror_hosts", mirror_hosts(mh_corpus, min_shared=2), checksum=True)

    # C4 line rules: zero-shuffle HOF projection (dedup_lines class)
    from nlnieuwscrawler_spark.functions.text import c4_line_rules

    c4_lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.substring("text", 1, 60), F.lit(".")),
            F.lit("short."),
            F.substring("text", 61, 50),
            F.lit("Please enable JavaScript to continue."),
            F.concat(F.substring("text", 111, 60), F.lit("!")),
        ).alias("text"),
    )
    run("c4_line_rules", c4_line_rules(c4_lined), checksum=True)

    # host language entropy: one (source, lang) cell count + rollup —
    # synthesize 5 langs deterministically (gen_docs corpus is all 'nl')
    from nlnieuwscrawler_spark.functions.text import host_lang_entropy

    le_docs = docs.select(
        "source",
        F.element_at(
            F.array(F.lit("nl"), F.lit("en"), F.lit("de"), F.lit("fr"),
                    F.lit("es")),
            (F.pmod(F.xxhash64("doc_id"), F.lit(5)) + 1).cast("int"),
        ).alias("lang"),
    )
    run("lang_entropy", host_lang_entropy(le_docs), checksum=True)

    # vocab health: one (source, token) wordcount shuffle + rollup
    from nlnieuwscrawler_spark.functions.text import vocab_stats

    run("vocab_stats", vocab_stats(docs), checksum=True)
    from nlnieuwscrawler_spark.operators.graph import crawl_depth

    if _want("crawl_depth"):
        bfs_stats: dict = {}
        t0 = time.perf_counter()
        cd = crawl_depth(edges, n_nodes=n_hosts, seeds=list(range(10)),
                         stats=bfs_stats)
        n_unreach = cd.filter("depth IS NULL").count()
        timings["crawl_depth"] = round(time.perf_counter() - t0, 2)
        print(json.dumps({"op": "crawl_depth", "rows": n_hosts,
                          "unreachable": n_unreach,
                          "sec": timings["crawl_depth"], **bfs_stats}))

    # crawl-budget composite: pagerank (re-run inside, same edge graph) ×
    # change rate over the fetch log × a synthetic per-host quality —
    # the |hosts|-row assembly after the iterative part is join+window
    from nlnieuwscrawler_spark.operators.planner import plan_crawl

    q_host = spark.range(n_hosts).select(
        F.col("id").alias("host"),
        F.round(
            (F.pmod(F.xxhash64(F.lit("q"), "id"), F.lit(1000)) / 1000.0), 6
        ).alias("qscore"),
    )
    if _want("plan_crawl"):
        t0 = time.perf_counter()
        pc = plan_crawl(
            edges,
            obs.select(F.pmod(F.col("user_id"), F.lit(n_hosts)).alias("host"),
                       "ts", "value", "event_id"),
            q_host, n_hosts=n_hosts, budget=10_000_000, iters=5,
        )
        bsum = pc.agg(F.sum("quota")).collect()[0][0]
        timings["plan_crawl"] = round(time.perf_counter() - t0, 2)
        assert bsum == 10_000_000, bsum
        print(json.dumps({"op": "plan_crawl", "rows": n_hosts,
                          "quota_sum": bsum,
                          "sec": timings["plan_crawl"]}))

    # VERDICT r4 #7: embeddings leg — IVF ANN at n_vecs = n_docs/2 synthetic
    # 64-d vectors (deterministic: sin of seeded xxhash64), 100 queries
    from nlnieuwscrawler_spark.operators.similarity import ann_ivf_topk

    n_vecs = max(100_000, n_docs // 2)
    vecs = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.sin(F.xxhash64(F.col("id"), i).cast("double") / 1e9)
            .cast("float"),
        ).alias("embedding"),
    )
    vpath = f"/tmp/nlnc_curation_vecs_{n_vecs}"
    if not os.path.exists(os.path.join(vpath, "_SUCCESS")):
        vecs.write.mode("overwrite").parquet(vpath)
    vecs = spark.read.parquet(vpath)
    q = vecs.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    run(
        "ann_ivf_1pct_lists",
        ann_ivf_topk(vecs, q, k=10, n_lists=64, nprobe=8),
    )

    # clustering batch: exact k-means over the full vector table (the
    # centroid loop is eager — thunk; zero-shuffle assignment needs the
    # checksum to force evaluation), SemDeDup on a 50k slice at k=64
    # (cluster-blocked pairwise is quadratic IN CLUSTER SIZE by design —
    # the published k ∝ n guidance; ~780-vec clusters → ~20M in-cluster
    # pairs), and the snapshot diff over the same 100k-key fetch log as
    # recrawl_schedule
    from nlnieuwscrawler_spark.operators.clustering import (
        kmeans_embeddings,
        semdedup,
    )
    from nlnieuwscrawler_spark.operators.recrawl import snapshot_delta

    # web-graph batch: intra-doc line dedup is a pure projection over the
    # full corpus (checksum forces the rebuilt text); anchor_rollup runs
    # over 3 links/doc synthesized the same way as the registry query
    from nlnieuwscrawler_spark.functions.text import dedup_lines
    from nlnieuwscrawler_spark.operators.graph import anchor_rollup

    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40), F.substring("text", 41, 40),
            F.substring("text", 1, 40), F.substring("text", 81, 40),
            F.substring("text", 41, 40),
        ).alias("text"),
    )
    run("dedup_lines", dedup_lines(lined), checksum=True)

    # cross-doc boilerplate: per-source footer + corpus-wide nav planted
    # like the registry query — the (source, line) df-count is the only
    # exchange, the corpus side rides a broadcast join (plan-pinned in
    # tests); checksum forces the rebuilt text_clean
    from nlnieuwscrawler_spark.functions.text import boilerplate_scrub

    chromed = docs.select(
        "doc_id",
        "source",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.concat(F.lit("(c) "), F.col("source")),
            F.substring("text", 41, 40),
            F.lit("home | nieuws | contact"),
            F.substring("text", 81, 40),
        ).alias("text"),
    )
    run("boilerplate_scrub", boilerplate_scrub(chromed), checksum=True)

    # pre-fetch URL gate: pure zero-shuffle projection (pii_scrub class);
    # frontier synthesized from doc_id arithmetic like the registry query
    from nlnieuwscrawler_spark.functions.urls import url_quality_filter

    frontier = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.nl"),
            F.expr("repeat(concat('/s', cast(doc_id % 3 as string)),"
                   " cast(doc_id % 12 as int))"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit("/d12345678901234567890")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 > 0,
                   F.concat(F.lit("?"), F.expr(
                       "substring(repeat('&k=v', cast(doc_id % 7 as int)), 2)"
                   ))).otherwise(F.lit("")),
        ).alias("url"),
    )
    run("url_filter", url_quality_filter(frontier), checksum=True)

    # syndication containment: eager op (localCheckpoint inside) — thunk.
    # NOT run on the word-soup corpus: its 40-word vocabulary makes every
    # trigram's document frequency ≈ n/1000, which defeats prefix
    # filtering for ANY exact gram self-join (measured: 56 s at 100k,
    # diverges at 2M) — that corpus is adversarial by construction, which
    # is why the 2M near-dup datapoint is minhash (signature-based).
    # Real webtext has ~10^6-token vocabularies where prefix grams are
    # genuinely rare, so the leg runs on a 50k-vocab variant (same
    # skeleton, same 1%-planted near-dups — detected in BOTH directions,
    # pairs ≈ 2× planted).
    from nlnieuwscrawler_spark.operators.dedup import containment_pairs

    wide_path = f"/tmp/nlnc_synd_docs_{n_docs}"
    if not os.path.exists(os.path.join(wide_path, "_SUCCESS")):
        n_words = 60
        wtoks = F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(
                    F.xxhash64(
                        F.when(
                            (F.pmod(F.col("doc_id"), F.lit(97)) == 1)
                            & (i < n_words - 1),
                            F.col("doc_id") - 1,
                        ).otherwise(F.col("doc_id")),
                        i,
                    ),
                    F.lit(50000),
                ),
            ),
        )
        (
            spark.range(n_docs).withColumnRenamed("id", "doc_id")
            .select("doc_id", F.array_join(wtoks, " ").alias("text"))
            .write.mode("overwrite").parquet(wide_path)
        )
    wide = spark.read.parquet(wide_path)
    run("containment_pairs_50kvocab",
        lambda: containment_pairs(wide, block_col=None, threshold=0.8))

    def _h(salt, mod):
        return F.pmod(F.xxhash64(F.lit(salt), "doc_id"), F.lit(mod))

    links = docs.select(
        F.col("doc_id").alias("src"),
        F.explode(F.array(*[
            F.struct(
                _h(f"a{j}", 1000).alias("dst"),
                F.substring("text", 1, 12).alias("anchor"),
            )
            for j in range(3)
        ])).alias("l"),
    ).select("src", "l.dst", "l.anchor")
    run("anchor_rollup", anchor_rollup(links), checksum=True)

    run("kmeans_embeddings",
        lambda: kmeans_embeddings(vecs, k=8, iters=3), checksum=True)
    sd_n = n_vecs // 20
    sd_k = max(8, round(sd_n / 780))  # k ∝ n keeps clusters ~780 vecs
    sd_vecs = vecs.filter(F.col("vec_id") < sd_n)
    # semdedup materializes eagerly (localCheckpoint inside) — the count
    # in run() times real work; checksum not needed for an eager op
    if _want("semdedup"):
        run(f"semdedup_{sd_n // 1000}k_k{sd_k}",
            lambda: semdedup(sd_vecs, k=sd_k, iters=2, threshold=0.95))
    run("snapshot_delta", snapshot_delta(obs), checksum=True)

    # r6 ops: the parallel prefix-sum shard manifest (range shuffle of the
    # narrow (ord, id, n) projection + |partitions|-row offset collect),
    # per-host dup-mass rollup (one two-phase agg over (host, md5)), and
    # first-occurrence novelty (gram explode → min-agg → gram-keyed join;
    # the soup's 64k-trigram universe makes the gram table broadcast-size,
    # the exploded pair table carries the real volume)
    from nlnieuwscrawler_spark.functions.text import ngram_novelty
    from nlnieuwscrawler_spark.operators.dedup import host_dup_stats
    from nlnieuwscrawler_spark.operators.sampling import shard_pack

    tok_docs = docs.select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tokens")
    )
    run("shard_pack", lambda: shard_pack(tok_docs, shard_tokens=100_000),
        checksum=True)
    run("host_dup_ratio", host_dup_stats(mh_corpus, host_col="host"),
        checksum=True)
    # thunk: eager op (localCheckpoint inside) — construction in the timer
    run("ngram_novelty", lambda: ngram_novelty(docs), checksum=True)

    # r6 composite: curate() with EVERY stage armed — URL gate, recrawl
    # incremental (raw page-hash history = the %13 slice of the same
    # synthesized pages), C4 line rules, intra-doc line dedup, cross-doc
    # boilerplate, PII scrub, Gopher, exact, minhash near-dup with
    # keep-the-best retention, decontamination, sampling, packing. The
    # page layout mirrors the registry composite (multi-line chrome +
    # planted email tails); qlen is the retention quality column.
    did = F.col("doc_id")
    page_docs = docs.select(
        "doc_id", "lang", "source",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.nl"),
            F.expr("repeat(concat('/s', cast(doc_id % 3 as string)),"
                   " cast(doc_id % 12 as int))"),
            F.when(did % 5 == 0,
                   F.lit("/d12345678901234567890")).otherwise(F.lit("")),
            F.when(did % 7 > 0,
                   F.concat(F.lit("?"), F.expr(
                       "substring(repeat('&k=v', cast(doc_id % 7 as int)), 2)"
                   ))).otherwise(F.lit("")),
        ).alias("url"),
        F.concat_ws(
            "\n",
            F.concat(F.substring("text", 1, 60), F.lit(".")),
            F.concat(F.lit("(c) "), F.col("source"),
                     F.lit(" all rights reserved.")),
            F.lit("Please enable JavaScript to continue."),
            F.concat(F.substring("text", 1, 60), F.lit(".")),
            F.concat(F.substring("text", 61, 50), F.lit(" en zo.")),
            F.concat(
                F.substring("text", 111, 60),
                F.when(did % 3 == 0,
                       F.concat(F.lit(" mail user"), did.cast("string"),
                                F.lit("@example.com nu"))).otherwise(F.lit("")),
                F.lit(" einde?"),
            ),
        ).alias("text"),
        F.length("text").cast("long").alias("qlen"),
    )
    ppath = f"/tmp/nlnc_curation_pages_{n_docs}"
    if not os.path.exists(os.path.join(ppath, "_SUCCESS")):
        page_docs.write.mode("overwrite").parquet(ppath)
    page_docs = spark.read.parquet(ppath)
    page_seen = (
        page_docs.filter(F.pmod(did, F.lit(13)) == 2)
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    if _want("curate_composite_full"):
      t0 = time.perf_counter()
      res_full = curate(
        page_docs,
        eval_docs=ev,
        seen_hashes=page_seen,
        url_col="url",
        line_rules=True,
        line_dedup=True,
        boilerplate_min_docs=3,
        pii=True,
        near_dup="minhash",
        near_dup_threshold=0.7,
        retention_quality_col="qlen",
        quota=1000,
        salt=16,
        capacity=2048,
        pack_buckets=512,
      )
      audit_full = {
        r["stage"]: r["rows_kept"]
        for r in res_full.stage_counts.orderBy("stage_idx").collect()
      }
      n_packed_full = res_full.packed.count()
      timings["curate_composite_full"] = round(time.perf_counter() - t0, 2)
      res_full.unpersist()
      print(json.dumps({"op": "curate_composite_full", "rows": n_packed_full,
                        "sec": timings["curate_composite_full"],
                        "audit": audit_full}))

    print(json.dumps({"n_docs": n_docs, "n_vecs": n_vecs, "cores": cores,
                      "timings": timings}))


if __name__ == "__main__":
    main()
