"""Corpus-curation operators: decontamination, stratified sampling,
sequence packing (operators/sampling.py, operators/dedup.decontaminate)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.operators.dedup import decontaminate
from nlnieuwscrawler_spark.operators.sampling import (
    pack_sequences,
    stratified_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


# -- decontamination --------------------------------------------------------

def test_decontaminate_flags_eval_members_and_planted_overlap(spark):
    """An eval member shares ALL its grams with itself (max contamination);
    a doc embedding an eval doc's text is flagged; disjoint docs are not."""
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "the quick brown fox jumps over the lazy dog again today",
                    "prefix words here the quick brown fox jumps over the lazy "
                    "dog again today suffix tail",
                    "completely different content with no overlapping phrases "
                    "at all whatsoever in any way",
                ],
            }
        )
    )
    ev = corpus.filter("doc_id = 1").select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    got = {
        (r["doc_id"], r["eval_id"]): r["n_shared"]
        for r in decontaminate(corpus, ev, min_overlap=5).collect()
    }
    assert (1, 1) in got  # self: all grams shared
    assert (2, 1) in got  # embeds the eval text verbatim
    assert got[(2, 1)] >= 5
    assert (3, 1) not in got


def test_decontaminate_plan_is_broadcast_join(spark, docs):
    """Scale shape: the eval gram side must broadcast — no shuffle of the
    corpus gram table for the join, no BNLJ/cartesian anywhere."""
    ev = docs.limit(3).select(F.col("doc_id").alias("eval_id"), "text")
    out = decontaminate(docs, ev, min_overlap=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# -- stratified sampling ----------------------------------------------------

def test_stratified_sample_quota_and_determinism(spark, docs):
    out = stratified_sample(docs, "source", quota=5, salt=4)
    pdf = out.select("doc_id", "source", "sample_rank").toPandas()
    per = pdf.groupby("source").size()
    assert (per <= 5).all()
    # ranks are 1..k dense per stratum
    for _, g in pdf.groupby("source"):
        assert sorted(g["sample_rank"]) == list(range(1, len(g) + 1))
    # salt is pure optimization: identical output at salt=1
    base = (
        stratified_sample(docs, "source", quota=5, salt=1)
        .select("doc_id", "source", "sample_rank")
        .toPandas()
    )
    key = lambda d: set(map(tuple, d.values.tolist()))
    assert key(pdf) == key(base)
    # repartition-invariant (pure function of ids)
    re = (
        stratified_sample(docs.repartition(13), "source", quota=5, salt=4)
        .select("doc_id", "source", "sample_rank")
        .toPandas()
    )
    assert key(re) == key(pdf)


# -- sequence packing -------------------------------------------------------

def test_pack_sequences_invariants(spark, docs):
    from nlnieuwscrawler_spark.functions.text import token_count_ws

    d = docs.withColumn("n_tokens", token_count_ws(F.col("text")))
    out = pack_sequences(d, capacity=64, n_buckets=8).toPandas()
    # every doc exactly once
    assert len(out) == d.count()
    assert out["doc_id"].is_unique
    # no bin over capacity, except bins holding a single over-long doc
    fills = out.groupby("bin_id").agg(tok=("n_tokens", "sum"), n=("doc_id", "size"))
    over = fills[fills["tok"] > 64]
    assert (over["n"] == 1).all(), over
    # bin_seq is 1..k within each bin
    for _, g in out.groupby("bin_id"):
        assert sorted(g["bin_seq"]) == list(range(1, len(g) + 1))
    # bins stay within their bucket's id range
    assert ((out["bin_id"] // (1 << 32)) == out["bucket"]).all()


def test_pack_sequences_deterministic_across_partitioning(spark, docs):
    from nlnieuwscrawler_spark.functions.text import token_count_ws

    d = docs.withColumn("n_tokens", token_count_ws(F.col("text")))
    a = pack_sequences(d, capacity=128, n_buckets=4).toPandas()
    b = pack_sequences(d.repartition(17), capacity=128, n_buckets=4).toPandas()
    key = lambda x: x.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(key(a), key(b))


def test_chunk_documents_coverage_and_overlap(spark):
    """Every token index is covered by ≥1 chunk; consecutive chunks overlap
    by window-stride; empty docs emit nothing; short docs emit one chunk."""
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    " ".join(f"t{i}" for i in range(10)),  # 10 tokens
                    "one two",                              # < window
                    "   ",                                  # empty
                ],
            }
        )
    )
    from nlnieuwscrawler_spark.operators.sampling import chunk_documents

    out = chunk_documents(df, window=4, stride=3).toPandas()
    d1 = out[out["doc_id"] == 1].sort_values("chunk_idx")
    # starts at 1,4,7,10 (1-based) -> chunks of sizes 4,4,4,1
    assert list(d1["n_chunk_tokens"]) == [4, 4, 4, 1]
    assert d1.iloc[0]["chunk_text"] == "t0 t1 t2 t3"
    assert d1.iloc[1]["chunk_text"] == "t3 t4 t5 t6"  # 1-token overlap
    # reassembling stride-heads reproduces the doc exactly
    heads = [c.split()[:3] for c in d1["chunk_text"]]
    assert [t for h in heads for t in h] == [f"t{i}" for i in range(10)]
    assert len(out[out["doc_id"] == 2]) == 1
    assert out[out["doc_id"] == 2].iloc[0]["chunk_text"] == "one two"
    assert len(out[out["doc_id"] == 3]) == 0


def test_pack_sequences_property_random_lengths(spark):
    """Hypothesis-style randomized invariant check: any token-length
    multiset packs with every doc exactly once and no shared bin over
    capacity (seeded numpy draws, 5 profiles incl. heavy tails)."""
    import numpy as np

    from nlnieuwscrawler_spark.operators.sampling import pack_sequences

    rng = np.random.default_rng(42)
    for profile in range(5):
        n = int(rng.integers(50, 300))
        if profile % 2:
            toks = rng.integers(1, 200, size=n)  # uniform
        else:
            toks = np.minimum((rng.pareto(1.5, size=n) * 40 + 1).astype(int), 5000)
        pdf = pd.DataFrame({"doc_id": np.arange(n), "n_tokens": toks})
        out = pack_sequences(
            spark.createDataFrame(pdf), capacity=256, n_buckets=4
        ).toPandas()
        assert len(out) == n and out["doc_id"].is_unique
        fills = out.groupby("bin_id").agg(
            tok=("n_tokens", "sum"), cnt=("doc_id", "size")
        )
        bad = fills[(fills["tok"] > 256) & (fills["cnt"] > 1)]
        assert bad.empty, (profile, bad)


def test_stratified_sample_exchanges_are_narrow(spark, docs):
    """Scale shape (VERDICT r4 #3): ranking runs on the narrow
    (id, stratum, md5) projection — the fat text column must never enter
    ANY exchange; the corpus side joins the winners back via broadcast
    hash probe with zero corpus shuffle."""
    out = stratified_sample(docs, "source", quota=7, salt=4)
    out.count()
    qe = out._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the rank-side scan is pruned to (doc_id, source) — text never read
    assert "struct<doc_id:bigint,source:string>" in plan, plan
    # every shuffle exchange's input is the narrow projection
    formatted = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        qe, "formatted"
    )
    blocks = formatted.split("\n\n")
    exch = [b for b in blocks if b.lstrip().startswith("(")
            and "Exchange" in b.splitlines()[0]]
    assert exch, formatted
    for b in exch:
        inputs = [l for l in b.splitlines() if l.startswith("Input")]
        assert inputs, b
        assert "text#" not in inputs[0], b


# -- span-level global dedup (C4-style) -------------------------------------


def test_dedup_spans_planted(spark):
    from nlnieuwscrawler_spark.operators.dedup import dedup_spans

    def words(prefix, n):
        return " ".join(f"{prefix}{i}" for i in range(n))

    A, B, C, D = (words(p, 4) for p in "abcd")
    rows = [
        (1, f"{A} {B}"),          # both spans first occurrences
        (2, f"{A} {C}"),          # A is a repeat of doc 1's -> dropped
        (3, f"{B} {A}"),          # every span already seen -> empty
        (4, f"{D} {D}"),          # within-doc repeat: 2nd D dropped
        (5, "   "),               # whitespace-only: no tokens, no row
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup_spans(df, span=4).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert (out[1]["n_spans"], out[1]["n_spans_kept"]) == (2, 2)
    assert out[1]["text_dedup"] == f"{A} {B}"
    assert (out[2]["n_spans"], out[2]["n_spans_kept"]) == (2, 1)
    assert out[2]["text_dedup"] == C
    assert (out[3]["n_spans"], out[3]["n_spans_kept"]) == (2, 0)
    assert out[3]["text_dedup"] == ""
    assert (out[4]["n_spans"], out[4]["n_spans_kept"]) == (2, 1)
    assert out[4]["text_dedup"] == D


def test_dedup_spans_first_occurrence_is_global_and_deterministic(spark, docs):
    """Survivor set is invariant under repartitioning, and total kept
    spans == count of DISTINCT spans that appear anywhere (each distinct
    span survives exactly once, corpus-wide)."""
    from nlnieuwscrawler_spark.operators.dedup import dedup_spans

    a = dedup_spans(docs, span=8).orderBy("doc_id").collect()
    b = (
        dedup_spans(docs.repartition(13, "source"), span=8)
        .orderBy("doc_id")
        .collect()
    )
    assert a == b
    kept_total = sum(r["n_spans_kept"] for r in a)
    from nlnieuwscrawler_spark.functions.text import tokens_col_text

    toks = tokens_col_text(F.col("text"))
    distinct_spans = (
        docs.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks), F.lit(8)),
                    lambda s: F.concat_ws(" ", F.slice(toks, s, 8)),
                )
            ).alias("span")
        )
        .distinct()
        .count()
    )
    assert kept_total == distinct_spans


# -- deterministic weighted sampling ----------------------------------------


def test_importance_sample_edge_weights_and_clamp(spark, docs):
    from nlnieuwscrawler_spark.operators.sampling import importance_sample

    n = docs.count()
    all_kept = importance_sample(docs, F.lit(1.0))
    assert all_kept.count() == n
    assert all_kept.select("sample_weight").distinct().collect()[0][0] == 1.0
    assert importance_sample(docs, F.lit(0.0)).count() == 0
    # clamp: weight 2.0 behaves as 1.0
    clamped = importance_sample(docs, F.lit(2.0))
    assert clamped.count() == n
    assert clamped.select("keep_prob").distinct().collect()[0][0] == 1.0


def test_importance_sample_matches_manual_md5_draw(spark, docs):
    import hashlib

    from nlnieuwscrawler_spark.operators.sampling import importance_sample

    p = 0.35
    kept = {
        r["doc_id"]
        for r in importance_sample(docs, F.lit(p)).select("doc_id").collect()
    }
    expect = set()
    for r in docs.select("doc_id").collect():
        h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8]
        if int(h, 16) / 2**32 < p:
            expect.add(r["doc_id"])
    assert kept == expect
    # sane acceptance rate on the uniform draw (binomial, n=500)
    assert abs(len(kept) / docs.count() - p) < 0.08


def test_select_top_percent_quota_and_ties(spark):
    """Exact integer quota ceil(n*P/100) per group; ties break to the
    smallest id; singleton groups always keep their one doc (quota>=1)."""
    from nlnieuwscrawler_spark.operators.sampling import select_top_percent

    rows = (
        [(i, "A", (i + 1) * 10.0) for i in range(5)]   # scores 10..50
        + [(10, "B", 7.0), (11, "B", 7.0), (12, "B", 1.0)]  # tie at 7.0
        + [(20, "C", 0.0)]                              # singleton
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, score double")
    out = {r["doc_id"]: r for r in select_top_percent(df, percent=40).collect()}
    # A: ceil(5*0.4)=2 -> top-2 scores (docs 4, 3)
    assert out[4]["keep"] and out[3]["keep"] and not out[2]["keep"]
    # B: ceil(3*0.4)=2 -> both 7.0s keep, tie ranks by id: 10 then 11
    assert out[10]["rank_in_source"] == 1 and out[11]["rank_in_source"] == 2
    assert out[10]["keep"] and out[11]["keep"] and not out[12]["keep"]
    # C singleton: ceil(1*0.4)=1 -> keeps
    assert out[20]["keep"] and out[20]["n_source"] == 1


def test_detect_bursts_trailing_frame(spark):
    """Burst iff val > factor x mean of the previous `trail` values of
    the SAME key; first observation NULL; frame excludes current row."""
    from nlnieuwscrawler_spark.operators.windows import detect_bursts

    rows = [("h1", 1, 10), ("h1", 2, 12), ("h1", 3, 11), ("h1", 4, 50),
            ("h1", 5, 12), ("h2", 1, 5), ("h2", 2, 11)]
    df = spark.createDataFrame(rows, "host string, bucket long, n long")
    out = {(r["host"], r["bucket"]): r
           for r in detect_bursts(df, ["host"]).collect()}
    assert out[("h1", 1)]["burst"] is None
    assert out[("h1", 4)]["burst"] and out[("h1", 4)]["trail_mean"] == 11.0
    # the 50 enters the trailing mean and suppresses the next flag
    assert out[("h1", 5)]["trail_mean"] == 24.333333
    assert not out[("h1", 5)]["burst"]
    assert out[("h2", 2)]["burst"]          # 11 > 2*5, cross-key isolated
