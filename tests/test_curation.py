"""Repetition stats, Gopher quality gates, incremental dedup
(functions/text.py, operators/dedup.py) on crafted edge cases the
fixture corpus can't hit."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.functions.text import gopher_quality, repetition_stats
from nlnieuwscrawler_spark.operators.dedup import dedup_exact, dedup_incremental


def test_repetition_stats_degenerate_docs(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "spam spam spam spam",          # one token repeated
                    "a b c d",                       # all distinct
                    "x y x y x y",                   # repeated bigrams
                ],
            }
        )
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert out[1]["n_tokens"] == 4 and out[1]["n_distinct"] == 1
    assert out[1]["top_token_ratio"] == 1.0
    assert out[1]["dup_2gram_ratio"] == round(1 - 1 / 3, 6)
    assert out[2]["distinct_ratio"] == 1.0 and out[2]["dup_2gram_ratio"] == 0.0
    # "x y x y x y": 5 bigrams, 2 distinct ("x y", "y x")
    assert out[3]["dup_2gram_ratio"] == round(1 - 2 / 5, 6)


def test_gopher_quality_rules(spark):
    good = "the quick brown fox jumps over a lazy dog and then some more words"
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    good,                                # passes all
                    "short text",                        # word count < 10
                    good.replace("the", "zzzzzzzzzzzzzzzzzzzzzz"),  # no 2nd stopword? still has 'a','and','of'? -> craft below
                    "spam " * 50,                        # repetition + no stopwords
                ],
            }
        )
    )
    out = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert out[1]["passes"] is True
    assert out[2]["word_count_ok"] is False and out[2]["passes"] is False
    assert out[4]["stopword_ok"] is False
    assert out[4]["passes"] is False


def test_dedup_incremental_composes_with_exact(spark):
    """History shard hashes knock out exact re-ingests; within-batch dups
    survive incremental (dedup_exact's job) — the documented composition."""
    hist = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["aaa", "bbb"]})
    )
    incoming = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [10, 11, 12, 13], "text": ["aaa", "ccc", "ccc", "ddd"]}
        )
    )
    seen = hist.select(F.md5("text").alias("content_hash")).distinct()
    surv = dedup_incremental(incoming, seen)
    ids = {r["doc_id"] for r in surv.collect()}
    assert ids == {11, 12, 13}  # 10 dropped (content seen), dups 11/12 kept
    reps = dedup_exact(surv)
    assert {r["keep_id"] for r in reps.collect()} == {11, 13}


def test_dedup_retention_keep_one_per_cluster(spark):
    """Chain {1,2,3} keeps only 1; pair {10,11} keeps 10; singleton 99
    keeps itself; every doc appears exactly once."""
    from nlnieuwscrawler_spark.operators.dedup import dedup_retention

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 10, 11, 99]})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 2, 10], "doc_b": [2, 3, 11]})
    )
    out = {r["doc_id"]: (r["component"], r["keep"])
           for r in dedup_retention(docs, pairs).collect()}
    assert out == {
        1: (1, True), 2: (1, False), 3: (1, False),
        10: (10, True), 11: (10, False), 99: (99, True),
    }


def test_gopher_empty_doc_engine_oracle_parity(spark):
    """ADVICE r4: the DuckDB oracle must agree with the engine on
    empty/whitespace-only docs (string_split_regex('') yields [''] in
    DuckDB unless guarded — the engine's tokens_col_text yields [])."""
    import duckdb

    from nlnieuwscrawler_spark.queries import ORACLE_GOPHER

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3],
         "text": ["", "   ",
                  "the cat and the hat of a de het een big dog here now ok"]}
    )
    eng = (
        gopher_quality(spark.createDataFrame(pdf))
        .orderBy("doc_id")
        .toPandas()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    ora = con.execute(ORACLE_GOPHER).fetchdf()
    pd.testing.assert_frame_equal(
        eng.reset_index(drop=True), ora.reset_index(drop=True),
        check_dtype=False,
    )
    assert eng.loc[0, "n_tokens"] == 0 and eng.loc[1, "n_tokens"] == 0


def _curate_corpus(spark):
    base = ("the quick brown fox jumps over a lazy dog and then runs far "
            "away home")
    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    rows = [
        (1, base, "nl", "web"),
        (2, base, "nl", "web"),                       # exact dup of 1
        (3, base + " tonight", "nl", "web"),          # near dup of 1
        (4, "the history of a town and its seven old bridges across "
            "the green river", "nl", "web"),          # hash in history
        (5, "the results a summary " + run, "nl", "web"),  # eval overlap
        (6, "short text", "nl", "web"),               # fails gopher
        (7, "a different story about the sea and ships sailing north "
            "under bright cold stars", "nl", "web"),
        (8, "the old market of a village sells cheese bread fish and "
            "fresh flowers every morning", "nl", "web"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    hist = docs.filter(F.col("doc_id") == 4).select(
        F.md5("text").alias("content_hash")
    )
    ev = spark.createDataFrame([(100, run)], "eval_id long, text string")
    return docs, hist, ev


def test_curate_composite_stage_audit(spark):
    """One planted drop per stage; the audit must attribute each to the
    right stage, and packing must never drop (packed == sampled)."""
    from nlnieuwscrawler_spark.operators.curate import STAGES, curate

    docs, hist, ev = _curate_corpus(spark)
    res = curate(docs, eval_docs=ev, seen_hashes=hist, near_dup="jaccard",
                 near_dup_threshold=0.7, decon_min_overlap=8,
                 quota=10, salt=2, capacity=64, pack_buckets=4)
    counts = {r["stage"]: r["rows_kept"]
              for r in res.stage_counts.collect()}
    assert [r["stage"] for r in
            res.stage_counts.orderBy("stage_idx").collect()] == STAGES
    assert counts == {
        "input": 8, "url_gate": 8, "incremental": 7, "line_rules": 7,
        "line_dedup": 7, "boilerplate": 7, "pii": 7, "quality": 6,
        "exact": 5, "near_dup": 4, "span_dedup": 4, "decontaminated": 3,
        "sampled": 3, "packed": 3,
    }, counts
    kept = {r["doc_id"] for r in res.curated.collect()}
    assert kept == {1, 7, 8}
    # packing assigned every curated doc exactly once
    packed_ids = [r["doc_id"] for r in res.packed.collect()]
    assert sorted(packed_ids) == sorted(kept)
    res.unpersist()


def test_curate_minhash_and_none_modes(spark):
    """minhash mode catches the same planted near-dup here; near_dup=None
    passes everything through the near_dup stage."""
    from nlnieuwscrawler_spark.operators.curate import curate

    docs, hist, ev = _curate_corpus(spark)
    res = curate(docs, eval_docs=ev, seen_hashes=hist, near_dup="minhash",
                 near_dup_threshold=0.7, quota=10, salt=2)
    counts = {r["stage"]: r["rows_kept"] for r in res.stage_counts.collect()}
    assert counts["near_dup"] == 4 and counts["sampled"] == 3
    res.unpersist()
    res2 = curate(docs, eval_docs=ev, seen_hashes=hist, near_dup=None,
                  quota=10, salt=2)
    counts2 = {r["stage"]: r["rows_kept"] for r in res2.stage_counts.collect()}
    assert counts2["near_dup"] == counts2["exact"] == 5
    res2.unpersist()


def test_curate_ingest_and_rewrite_stages(spark):
    """The r6 ingest + rewrite stages end-to-end: URL gate drops a deep
    URL, C4 line rules drop an unpunctuated page and a lorem-ipsum page,
    intra-doc line dedup removes a repeated line, boilerplate scrub
    removes the shared footer, PII scrub redacts a planted email — and
    the audit attributes each drop to the right stage."""
    from nlnieuwscrawler_spark.operators.curate import curate

    line1 = {
        1: "the cat sat on a mat and looked far away.",
        2: "the dog ran over a hill and came back home.",
        3: "the bird flew past a tree and sang all day.",
    }
    footer = "(c) web footer all rights reserved."
    js = "Please enable JavaScript to continue."
    # unique per doc — an identical mail line across >=3 docs would be
    # (correctly) scrubbed as boilerplate chrome
    mail = {
        i: f"mail me at bob{i}@example.com for the full data set please ok."
        for i in (1, 2, 3, 4)
    }
    rows = [
        (i, "https://example.nl/a/b",
         "\n".join([line1[i], js, line1[i], footer, mail[i]]), "nl", "web")
        for i in (1, 2, 3)
    ] + [
        # deep URL (9 path segments > max_depth 8) -> url_gate drop
        (4, "https://example.nl" + "/s" * 9,
         "\n".join([line1[1], footer, mail[4]]), "nl", "web"),
        # no line ends in terminal punctuation -> line_rules empties it
        (5, "https://example.nl/a",
         "just some words without any punctuation at all here", "nl", "web"),
        # lorem ipsum page flag -> line_rules drops the whole page
        (6, "https://example.nl/b",
         "a fine sentence with many good words here lorem ipsum ok.",
         "nl", "web"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, text string, lang string, source string"
    )
    res = curate(
        docs,
        url_col="url",
        line_rules=True,
        line_dedup=True,
        boilerplate_min_docs=3,
        pii=True,
        near_dup=None,
        quota=10,
        salt=2,
    )
    counts = {r["stage"]: r["rows_kept"] for r in res.stage_counts.collect()}
    assert counts == {
        "input": 6, "url_gate": 5, "incremental": 5, "line_rules": 3,
        "line_dedup": 3, "boilerplate": 3, "pii": 3, "quality": 3,
        "exact": 3, "near_dup": 3, "span_dedup": 3, "decontaminated": 3,
        "sampled": 3, "packed": 3,
    }, counts
    texts = {r["doc_id"]: r["text"] for r in res.curated.collect()}
    # js banner gone (c4), duplicate line1 gone (line_dedup), footer gone
    # (boilerplate), email redacted (pii)
    assert texts[1] == (
        line1[1] + "\nmail me at <EMAIL> for the full data set please ok."
    )
    res.unpersist()


def test_curate_retention_quality_col_keeps_best(spark):
    """retention_quality_col switches near-dup retention to keep-the-best
    (FineWeb): the LONGER near-dup wins instead of the min id."""
    from nlnieuwscrawler_spark.operators.curate import curate

    docs, hist, ev = _curate_corpus(spark)
    docs = docs.withColumn("qlen", F.length("text"))
    res = curate(
        docs,
        eval_docs=ev,
        seen_hashes=hist,
        near_dup="jaccard",
        near_dup_threshold=0.7,
        retention_quality_col="qlen",
        quota=10,
        salt=2,
    )
    kept = {r["doc_id"] for r in res.curated.collect()}
    # doc 3 ("... tonight") is the longest member of the {1,3} cluster
    assert kept == {3, 7, 8}
    res.unpersist()


def test_curate_quota_caps_sources(spark):
    """Stratified stage caps each source at quota deterministically."""
    from nlnieuwscrawler_spark.operators.curate import curate

    rows = [(i,
             f"the number {i} story of a little town and its {i % 5} red "
             "boats on the wide calm river",
             "nl", "web" if i % 2 else "news") for i in range(1, 41)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    res = curate(docs, near_dup=None, quota=5, salt=2)
    counts = {r["stage"]: r["rows_kept"] for r in res.stage_counts.collect()}
    assert counts["sampled"] == 10  # 5 per source x 2 sources
    per = (res.curated.groupBy("source").count().collect())
    assert {r["source"]: r["count"] for r in per} == {"web": 5, "news": 5}
    res.unpersist()


def test_curate_span_dedup_stage(spark):
    """With span_dedup on: a doc whose every span was seen earlier drops
    out at the span stage; a doc sharing only SOME spans survives with
    its text rebuilt from the surviving spans only."""
    from nlnieuwscrawler_spark.operators.curate import curate

    def words(prefix, n):
        return " ".join(f"{prefix}{i}" for i in range(n))

    A, B, C = (words(p, 4) for p in "abc")
    filler = ("the a de het een en and of " + words("w", 4))  # gopher-passing
    rows = [
        (1, f"{filler} {A} {B}", "nl", "web"),
        (2, f"{filler} {A} {C}", "nl", "web"),   # filler+A dropped, C kept
        (3, f"{B} {A} {filler}", "nl", "web"),   # nothing new -> dropped
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    res = curate(docs, near_dup=None, span_dedup=4, quota=10, salt=2)
    counts = {r["stage"]: r["rows_kept"] for r in res.stage_counts.collect()}
    assert counts["near_dup"] == 3 and counts["span_dedup"] == 2
    assert counts["sampled"] == 2
    texts = {r["doc_id"]: r["text"] for r in res.curated.collect()}
    assert texts[1] == f"{filler} {A} {B}"
    assert texts[2] == C  # only the genuinely-new span survives
    res.unpersist()


def test_word_ngrams_short_docs_yield_no_grams(spark):
    """sf0.1 regression: docs with fewer than n tokens (span-reduced docs
    hit this inside curate) must yield an EMPTY gram array — the naive
    sequence(1, 0) yields [1, 0] (inferred step -1) and slice(0) throws."""
    from nlnieuwscrawler_spark.operators.dedup import decontaminate, word_ngrams

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a"), (3, "a b c d")], ["doc_id", "text"])
    out = {r["doc_id"]: r["g"] for r in
           df.select("doc_id", word_ngrams(F.col("text"), 3).alias("g"))
           .collect()}
    assert out[1] == [] and out[2] == []
    assert out[3] == ["a b c", "b c d"]
    ev = spark.createDataFrame([(9, "a b c d e f g h i")],
                               ["eval_id", "text"])
    # decontaminate over short docs must run, and short docs can't overlap
    assert decontaminate(df, ev, min_overlap=2).count() == 1  # only doc 3


def test_lm_bigram_score_manual_model(spark):
    """Tiny corpus with a hand-computed bigram MLE: p(b|a)=2/3, p(a|b)=1,
    p(c|a)=1/3; per-doc avg NLL matches the closed form; docs with < 2
    tokens score (0, 0.0); output invariant under repartitioning."""
    import math

    from nlnieuwscrawler_spark.functions.text import lm_bigram_score

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "solo"), (4, "  ")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in lm_bigram_score(docs).collect()}
    assert set(out) == {1, 2, 3}  # whitespace-only doc drops
    nll = lambda p: round(-math.log(p), 9)
    exp1 = (2 * nll(2 / 3) + 1 * nll(1.0)) / 3
    assert out[1]["n_bigrams"] == 3
    assert abs(out[1]["avg_nll"] - exp1) < 1e-9
    assert out[2]["n_bigrams"] == 1
    assert abs(out[2]["avg_nll"] - nll(1 / 3)) < 1e-9
    assert out[3]["n_bigrams"] == 0 and out[3]["avg_nll"] == 0.0
    again = {r["doc_id"]: r["avg_nll"]
             for r in lm_bigram_score(docs.repartition(7)).collect()}
    assert all(again[k] == out[k]["avg_nll"] for k in again)


def test_source_quality_rollup(spark):
    from nlnieuwscrawler_spark.functions.text import source_quality_rollup

    good = "the quick brown fox jumps over a lazy dog and then some more"
    docs = spark.createDataFrame(
        [(1, good, "web"), (2, "short text", "web"),
         (3, good + " extra", "news")],
        ["doc_id", "text", "source"])
    out = {r["source"]: r for r in source_quality_rollup(docs).collect()}
    assert out["web"]["n_docs"] == 2 and out["web"]["n_passed"] == 1
    assert out["web"]["pass_rate"] == 0.5
    assert out["news"]["n_docs"] == 1 and out["news"]["pass_rate"] == 1.0
    assert out["web"]["avg_tokens"] == (13 + 2) / 2


def test_source_token_drift_manual_kl(spark):
    """Single-source corpus drifts 0 exactly; a two-source split matches
    the hand-computed KL; results invariant under repartitioning."""
    import math

    from nlnieuwscrawler_spark.functions.text import source_token_drift

    one = spark.createDataFrame(
        [(1, "a b a", "web"), (2, "b a b", "web")],
        ["doc_id", "text", "source"])
    out = source_token_drift(one).collect()
    assert len(out) == 1 and out[0]["kl_corpus"] == 0.0
    assert out[0]["n_tokens"] == 6 and out[0]["n_distinct"] == 2

    two = spark.createDataFrame(
        [(1, "a a a b", "w"), (2, "a b b b", "n")],
        ["doc_id", "text", "source"])
    res = {r["source"]: r["kl_corpus"] for r in source_token_drift(two).collect()}
    # corpus: p(a)=p(b)=1/2; source w: (3/4, 1/4); n: (1/4, 3/4)
    t1 = round(0.75 * math.log(0.75 / 0.5), 9)
    t2 = round(0.25 * math.log(0.25 / 0.5), 9)
    exp = t1 + t2
    assert abs(res["w"] - exp) < 1e-12 and abs(res["n"] - exp) < 1e-12
    again = {r["source"]: r["kl_corpus"]
             for r in source_token_drift(two.repartition(5)).collect()}
    assert again == res


# --------------------------------------------------------------------------
# PII scrubbing + blocklist filtering (functions/text.py)
# --------------------------------------------------------------------------

def test_pii_scrub_pinned_cases(spark):
    from nlnieuwscrawler_spark.functions.text import pii_scrub

    rows = [
        (0, "mail a@b.com and c.d+x@e.org please"),
        (1, "server 10.0.0.1 and 192.168.1.255 up"),
        (2, "bel +31 6 12345678 of +1 800 5551234"),
        (3, "no pii here, just 1.5 euro and a@@b"),
        (4, "mixed x@y.nl at 8.8.8.8 call +31 20 1234567"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = pii_scrub(F.col("text"))
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", p["n_emails"].alias("e"), p["n_ipv4"].alias("i"),
            p["n_phones"].alias("p"), p["text_clean"].alias("c"),
        ).collect()
    }
    assert (got[0]["e"], got[0]["i"], got[0]["p"]) == (2, 0, 0)
    assert got[0]["c"] == "mail <EMAIL> and <EMAIL> please"
    assert (got[1]["e"], got[1]["i"], got[1]["p"]) == (0, 2, 0)
    assert got[1]["c"] == "server <IP> and <IP> up"
    assert (got[2]["e"], got[2]["i"], got[2]["p"]) == (0, 0, 2)
    assert got[2]["c"] == "bel <PHONE> of <PHONE>"
    # "1.5" is not an IP; "a@@b" is not an email
    assert (got[3]["e"], got[3]["i"], got[3]["p"]) == (0, 0, 0)
    assert got[3]["c"] == rows[3][1]
    assert (got[4]["e"], got[4]["i"], got[4]["p"]) == (1, 1, 1)
    assert got[4]["c"] == "mixed <EMAIL> at <IP> call <PHONE>"


def test_badword_stats_rates_per_source(spark):
    from nlnieuwscrawler_spark.functions.text import badword_stats

    rows = [
        (0, "a", "the crash was slow"),      # 2 bad tokens, flagged
        (1, "a", "all clean text here"),     # clean
        (2, "a", "slow slow slow"),          # 3 occurrences, flagged
        (3, "b", "nothing bad at all"),      # clean
        (4, "b", ""),                        # empty doc, clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["source"]: r
        for r in badword_stats(df, ["crash", "slow"]).collect()
    }
    assert (got["a"]["n_docs"], got["a"]["n_flagged"]) == (3, 2)
    assert got["a"]["bad_occurrences"] == 5
    assert got["a"]["flag_rate"] == round(2 / 3, 6)
    assert (got["b"]["n_docs"], got["b"]["n_flagged"], got["b"]["bad_occurrences"]) == (2, 0, 0)
    assert got["b"]["flag_rate"] == 0.0


def test_quality_classifier_hand_hash(spark):
    """Logit equals the hand-computed mean hashed milliweight; empty doc
    scores (0, 0.0, False); invariant under repartitioning."""
    import hashlib

    from nlnieuwscrawler_spark.functions.text import quality_classifier

    def w(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 2001 - 1000

    docs = spark.createDataFrame(
        [(1, "Aap Noot mies"), (2, "x"), (3, "   ")], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in quality_classifier(docs).collect()}
    toks = ["aap", "noot", "mies"]  # tokenizer lowercases
    exp = sum(w(t) for t in toks) / (3 * 1000.0)
    assert out[1]["n_tokens"] == 3
    assert out[1]["logit"] == exp
    assert out[1]["keep"] == (exp > 0)
    assert out[2]["logit"] == w("x") / 1000.0
    assert out[3] == (3, 0, 0.0, False)
    again = {r["doc_id"]: r["logit"]
             for r in quality_classifier(docs.repartition(5)).collect()}
    assert again == {k: v["logit"] for k, v in out.items()}


def test_domain_mix_alpha_upsamples_small_domains(spark):
    """count^0.7 weights: the small domain's weight exceeds its raw share,
    the big one's is below; quotas floor(weight*N); weights sum to ~1."""
    docs = spark.createDataFrame(
        [(i, "t", "big") for i in range(8)] + [(8, "t", "small")],
        ["doc_id", "text", "source"])
    from nlnieuwscrawler_spark.functions.text import domain_mix

    out = {r["source"]: r for r in domain_mix(docs, ["source"]).collect()}
    pb, ps = round(8 ** 0.7, 6), 1.0
    assert out["big"]["weight"] == pb / (pb + ps)
    assert out["small"]["weight"] == ps / (pb + ps)
    assert out["small"]["weight"] > 1 / 9  # up-sampled vs raw share
    assert out["big"]["weight"] < 8 / 9
    assert out["big"]["target_docs"] == int(out["big"]["weight"] * 9)
    assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-12


def test_perplexity_buckets_ntile_sizes_and_order(spark):
    """7 scoreable docs into k=3 buckets -> sizes (3,2,2) with NTILE
    semantics; bucket NLL ranges are disjoint and ascending; sub-2-token
    docs are excluded."""
    from nlnieuwscrawler_spark.functions.text import perplexity_buckets

    rows = [(i, " ".join(f"w{i}t{j}" for j in range(3 + i))) for i in range(7)]
    rows += [(97, "solo"), (98, "  ")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = sorted(perplexity_buckets(docs, k=3).collect(),
                 key=lambda r: r["ppl_bucket"])
    assert [r["ppl_bucket"] for r in out] == [1, 2, 3]
    assert [r["n_docs"] for r in out] == [3, 2, 2]  # first N%k take ceil
    assert sum(r["n_bigrams"] for r in out) == sum(3 + i - 1 for i in range(7))
    assert out[0]["max_nll"] <= out[1]["min_nll"] <= out[1]["max_nll"]
    assert out[1]["max_nll"] <= out[2]["min_nll"]


def test_dedup_lines_pinned_cases(spark):
    from nlnieuwscrawler_spark.functions.text import dedup_lines

    df = spark.createDataFrame(
        [
            (1, "a\nb\na\nc\nb"),   # interleaved repeats
            (2, "solo"),             # single line
            (3, ""),                 # empty text = one empty line
            (4, "a\n\nb\n\na"),     # repeated EMPTY lines dedup too
            (5, "x\nx\nx\nx"),      # all same
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["text_dedup"])
        for r in dedup_lines(df).collect()
    }
    assert got[1] == (5, 3, "a\nb\nc")
    assert got[2] == (1, 1, "solo")
    assert got[3] == (1, 1, "")
    assert got[4] == (5, 3, "a\n\nb")
    assert got[5] == (4, 1, "x")


def test_dedup_lines_zero_shuffle_plan(spark):
    """The 100 TB claim: intra-doc line dedup is a pure projection —
    the executed plan must contain NO Exchange at all."""
    from nlnieuwscrawler_spark.functions.text import dedup_lines

    df = spark.createDataFrame(
        [(i, f"l{i}\nl{i}") for i in range(10)], "doc_id long, text string"
    )
    plan = dedup_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_boilerplate_scrub_pinned_cases(spark):
    """Cross-doc boilerplate: line boiler iff >= min_docs DISTINCT docs
    in the SAME group share it; intra-doc repeats don't count; empty
    lines are never scrubbed; an all-boiler doc survives empty."""
    from nlnieuwscrawler_spark.functions.text import boilerplate_scrub

    rows = [
        (1, "A", "u1\nFOOT\nbody one"),
        (2, "A", "u2\nFOOT\n\nbody two"),   # keeps its empty line
        (3, "A", "FOOT\nFOOT\nu3"),         # FOOT twice in ONE doc
        (4, "A", "FOOT"),                   # all-boiler doc
        (5, "B", "FOOT\nu5"),               # df(FOOT)=1 in B -> kept
        (6, "B", ""),                       # empty doc
        (7, "B", "x\nx\nx"),                # intra-doc repeat, df=1
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: r
        for r in boilerplate_scrub(df, min_docs=3).collect()
    }
    assert out[1]["text_clean"] == "u1\nbody one"
    assert out[2]["text_clean"] == "u2\n\nbody two"  # layout preserved
    assert (out[3]["n_lines"], out[3]["n_boiler"]) == (3, 2)
    assert out[4]["text_clean"] == "" and out[4]["n_boiler"] == 1
    assert out[5]["text_clean"] == "FOOT\nu5"        # group-scoped df
    assert out[6]["n_lines"] == 1 and out[6]["n_boiler"] == 0
    assert out[7]["n_boiler"] == 0                   # intra-doc only


def test_boilerplate_scrub_corpus_side_never_shuffles(spark):
    """The 100 TB claim: only the narrow exploded
    (group, id, line) rows cross an Exchange — the corpus text column
    reaches the scrub through a BroadcastHashJoin, never a shuffle."""
    from nlnieuwscrawler_spark.functions.text import boilerplate_scrub

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", f"u{i}\nFOOT\nb{i}") for i in range(30)],
        "doc_id long, source string, text string",
    )
    out = boilerplate_scrub(df, min_docs=3)
    out.count()
    qe = out._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    formatted = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        qe, "formatted"
    )
    blocks = formatted.split("\n\n")
    exch = [b for b in blocks if b.lstrip().startswith("(")
            and "Exchange" in b.splitlines()[0]]
    assert exch, formatted  # the (group, line) df-count agg does shuffle
    for b in exch:
        inputs = [l for l in b.splitlines() if l.startswith("Input")]
        assert inputs, b
        assert "text#" not in inputs[0], b


def test_dedup_retention_quality_aware(spark):
    """quality_col switches retention from min-id to best-of-cluster:
    max quality wins, ties break to the SMALLEST id; singletons and
    docs outside the pair graph always keep; default path unchanged."""
    from nlnieuwscrawler_spark.operators.dedup import dedup_retention

    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (4, 1.0), (5, 7.0)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )  # cluster {1,2,3}; 4 and 5 singletons
    out = {
        r["doc_id"]: r
        for r in dedup_retention(docs, pairs, quality_col="q").collect()
    }
    # max q = 9.0 shared by 2 and 3 -> tie to min id 2
    assert out[2]["keep"] and not out[1]["keep"] and not out[3]["keep"]
    assert out[4]["keep"] and out[5]["keep"]
    assert out[1]["component"] == out[2]["component"] == out[3]["component"]
    # default (min-id) path keeps doc 1 instead — and is unchanged
    base = {
        r["doc_id"]: r for r in dedup_retention(docs, pairs).collect()
    }
    assert base[1]["keep"] and not base[2]["keep"] and not base[3]["keep"]


def test_mirror_hosts_noise_and_boilerplate_guards(spark):
    """min_shared filters single-page coincidences; the df-per-hash cap
    drops boilerplate carried by too many hosts; duplicate (host, text)
    rows collapse before counting."""
    from nlnieuwscrawler_spark.operators.dedup import mirror_hosts

    rows = [
        ("a.nl", "page one"), ("a.nl", "page two"), ("a.nl", "page three"),
        ("mirror.a.nl", "page one"), ("mirror.a.nl", "page two"),
        ("b.nl", "page one"),          # one shared page: noise
        ("c.nl", "unique c"),
        ("a.nl", "page one"),          # dup row
    ]
    df = spark.createDataFrame(rows, "host string, text string")
    got = [(r["host_a"], r["host_b"], r["shared_docs"])
           for r in mirror_hosts(df).collect()]
    assert got == [("a.nl", "mirror.a.nl", 2)]
    # boilerplate guard: a footer on 5 hosts with max_hosts_per_hash=3
    # pairs NOBODY, even though every pair shares it
    boiler = [(f"h{i}.nl", "shared footer") for i in range(5)] + [
        (f"h{i}.nl", "real page") for i in (0, 1)
    ]
    df2 = spark.createDataFrame(boiler, "host string, text string")
    out2 = mirror_hosts(df2, min_shared=1, max_hosts_per_hash=3).collect()
    assert [(r["host_a"], r["host_b"]) for r in out2] == [("h0.nl", "h1.nl")]


def test_c4_line_rules_pinned(spark):
    """Terminal punctuation, min-word, and javascript rules each drop
    independently; lorem-ipsum and curly-brace flag the page; empty doc
    keeps nothing and is not flagged."""
    from nlnieuwscrawler_spark.functions.text import c4_line_rules

    rows = [
        (1, "A good long sentence with enough words here.\nshort.\n"
            "no terminal punctuation at all here\n"
            "Please enable javascript to view this site.\n"
            "Another fine sentence that ends properly!"),
        (2, "Lorem Ipsum dolor sit amet something here.\nx"),
        (3, "code { color: red } is a fine sentence though."),
        (4, ""),
        (5, 'He said "hello there my good friend" politely."'),  # quote end
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_line_rules(df).collect()}
    assert out[1]["n_kept"] == 2 and not out[1]["drop_page"]
    assert "javascript" not in out[1]["text_clean"]
    assert out[2]["drop_page"]       # case-folded lorem ipsum
    assert out[3]["drop_page"]       # curly brace
    assert out[3]["n_kept"] == 1     # line itself passes the line rules
    assert out[4]["n_kept"] == 0 and not out[4]["drop_page"]
    assert out[5]["n_kept"] == 1     # closing-quote terminal char counts


def test_host_lang_entropy_manual(spark):
    """Single-language host is exactly 0.0; a 50/50 host is ln 2 to
    9 dp per term; majority ties break lexicographically."""
    import math

    from nlnieuwscrawler_spark.functions.text import host_lang_entropy

    rows = ([("pure", "nl")] * 4
            + [("even", "nl")] * 2 + [("even", "en")] * 2
            + [("mix", "nl")] * 3 + [("mix", "en")] * 1)
    df = spark.createDataFrame(rows, "source string, lang string")
    out = {r["source"]: r for r in host_lang_entropy(df).collect()}
    assert out["pure"]["lang_entropy"] == 0.0
    assert out["pure"]["n_langs"] == 1 and out["pure"]["majority_lang"] == "nl"
    want_even = 2 * round(-0.5 * math.log(0.5), 9)
    assert abs(out["even"]["lang_entropy"] - want_even) < 1e-12
    assert out["even"]["majority_lang"] == "en"   # tie -> lexicographic
    want_mix = round(-0.75 * math.log(0.75), 9) + round(
        -0.25 * math.log(0.25), 9)
    assert abs(out["mix"]["lang_entropy"] - want_mix) < 1e-12
    assert out["mix"]["majority_lang"] == "nl" and out["mix"]["n_docs"] == 4


def test_ngram_novelty_pinned(spark):
    """r7: the scoring join was replaced by two counts (per-doc grams;
    first-occurrence table counted by its min-id) — pin the semantics:
    distinct trigrams per doc, novelty = fraction whose corpus-wide
    first occurrence (min doc id) is the doc itself, gramless docs
    score 1.0 with zero counts."""
    from nlnieuwscrawler_spark.functions.text import ngram_novelty

    df = spark.createDataFrame(
        [
            (1, "a b c d"),        # {abc, bcd} both first -> 2/2
            (2, "a b c x"),        # abc seen, bcx new -> 1/2
            (3, "a b"),            # < 3 tokens -> gramless
            (4, "b c d a b c"),    # bcd seen, cda new, dab new, abc seen
            (5, "a b c d"),        # every gram seen in d1 -> 0/2
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in ngram_novelty(df).orderBy("doc_id").collect()
    }
    assert (got[1]["n_grams"], got[1]["n_novel"], got[1]["novelty"]) == (2, 2, 1.0)
    assert (got[2]["n_grams"], got[2]["n_novel"], got[2]["novelty"]) == (2, 1, 0.5)
    assert (got[3]["n_grams"], got[3]["n_novel"], got[3]["novelty"]) == (0, 0, 1.0)
    assert (got[4]["n_grams"], got[4]["n_novel"], got[4]["novelty"]) == (4, 2, 0.5)
    assert (got[5]["n_grams"], got[5]["n_novel"], got[5]["novelty"]) == (2, 0, 0.0)


def test_vocab_stats_hapax_and_ttr(spark):
    """Hapax ratio counts once-only tokens within the source; TTR =
    distinct/total; empty docs contribute nothing."""
    from nlnieuwscrawler_spark.functions.text import vocab_stats

    rows = [
        (1, "A", "aa bb aa cc"),   # A tokens: aa×2 bb cc + dd dd
        (2, "A", "dd dd"),         # distinct {aa,bb,cc,dd}, hapax {bb,cc}
        (3, "B", "x y z"),         # all hapax
        (4, "B", ""),              # empty: nothing
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in vocab_stats(df).collect()}
    assert out["A"]["n_tokens"] == 6 and out["A"]["n_distinct"] == 4
    assert out["A"]["hapax_ratio"] == 0.5      # 2 of 4 distinct
    assert out["A"]["ttr"] == round(4 / 6, 6)
    assert out["B"]["hapax_ratio"] == 1.0 and out["B"]["ttr"] == 1.0
