"""Text-analysis functions for training-data pipelines (native-first).

- language ID: stopword-vote heuristic over nl/en/de function words —
  pure regexp counts, SQL-expressible (oracle-checked)
- quality scoring: length / punctuation / digit / stopword ratios
- token counting: whitespace + a BPE-ish regex segmentation
- document fingerprinting: winnowing over a rolling polynomial hash
  (numpy pandas UDF — the one genuinely non-relational piece)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

NL_STOP = "de|het|een|en|van|in|op|te|met|voor|dat|die|is|zijn|niet|aan|ook|naar"
EN_STOP = "the|a|an|and|of|to|in|is|are|was|for|on|with|as|by|at|that|this"
DE_STOP = "der|die|das|und|ist|nicht|mit|ein|eine|zu|den|von|im|für|auf|sich"


def _stop_count(text: Column, words: str) -> Column:
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(rf"\b({words})\b"), F.lit(0))
    )


def lang_id(text: Column) -> Column:
    """Heuristic language ID: argmax of stopword votes (nl/en/de), 'und'
    (undetermined) when all zero. Deterministic tie-break nl > en > de."""
    nl, en, de = (
        _stop_count(text, NL_STOP),
        _stop_count(text, EN_STOP),
        _stop_count(text, DE_STOP),
    )
    best = F.greatest(nl, en, de)
    return (
        F.when(best == 0, F.lit("und"))
        .when(nl == best, F.lit("nl"))
        .when(en == best, F.lit("en"))
        .otherwise(F.lit("de"))
    )


def token_count_ws(text: Column) -> Column:
    """Whitespace tokenization count."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_bpeish(text: Column) -> Column:
    """BPE-ish segmentation count: letter runs, digit runs, single symbols."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), F.lit(0)))


def quality_features(text: Column) -> dict[str, Column]:
    """Quality-gate features (each SQL-expressible; ratios rounded)."""
    n_chars = F.length(text)
    n_tok = token_count_ws(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[.,;:!?]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(text, r"[0-9]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    mean_tok_len = F.when(
        n_tok > 0,
        F.round(
            F.length(F.regexp_replace(text, r"\s+", "")).cast("double") / n_tok, 4
        ),
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "punct_ratio": F.when(n_chars > 0, F.round(n_punct.cast("double") / n_chars, 6)).otherwise(F.lit(0.0)),
        "digit_ratio": F.when(n_chars > 0, F.round(n_digit.cast("double") / n_chars, 6)).otherwise(F.lit(0.0)),
        "upper_ratio": F.when(n_chars > 0, F.round(n_upper.cast("double") / n_chars, 6)).otherwise(F.lit(0.0)),
        "mean_token_len": mean_tok_len,
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score (pinned weights; gate at ≥ 0.5)."""
    f = quality_features(text)
    length_ok = F.when((f["n_tokens"] >= 5) & (f["n_chars"] >= 30), 0.4).otherwise(0.0)
    punct_ok = F.when(f["punct_ratio"] <= 0.2, 0.2).otherwise(0.0)
    digit_ok = F.when(f["digit_ratio"] <= 0.3, 0.2).otherwise(0.0)
    tok_ok = F.when((f["mean_token_len"] >= 2.0) & (f["mean_token_len"] <= 12.0), 0.2).otherwise(0.0)
    return F.round(length_ok + punct_ok + digit_ok + tok_ok, 2)


# --------------------------------------------------------------------------
# repetition statistics + Gopher-style quality rules (all native exprs)
# --------------------------------------------------------------------------

def repetition_stats(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-doc token-repetition profile → (id, n_tokens, n_distinct,
    distinct_ratio, top_token_ratio, dup_2gram_ratio).

    The Gopher/RefinedWeb-family repetition filters: heavily templated or
    looping documents (nav boilerplate, keyword stuffing, decode loops)
    show a low distinct-token ratio, one dominant token, or massive
    duplicate-bigram mass. 100 TB shape: explode → two hash aggregations
    (token counts, then per-doc maxima) — map-side combined, one shuffle
    keyed by (doc, token), one by doc; no UDF, no window. The bigram
    ratio is a pure per-row projection (no extra shuffle).
    """
    # tokenize once into a real column — see pmi_bigrams: lambda-internal
    # references to the split expression re-evaluate it per element
    tokd = df.select(
        id_col, tokens_col_text(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    per_tok = (
        tokd.select(id_col, F.explode(toks).alias("__tok"))
        .groupBy(id_col, "__tok")
        .agg(F.count("*").alias("__n"))
        .groupBy(id_col)
        .agg(
            F.sum("__n").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("__n").alias("__top"),
        )
    )
    n2 = F.greatest(F.size(toks) - 1, F.lit(0))
    grams2 = F.transform(
        F.sequence(F.lit(1), n2),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
    )
    bigram = tokd.select(
        id_col,
        F.when(
            n2 > 0,
            F.round(
                1 - F.size(F.array_distinct(grams2)).cast("double") / n2, 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_2gram_ratio"),
    )
    return per_tok.join(bigram, id_col).select(
        id_col,
        "n_tokens",
        "n_distinct",
        F.round(F.col("n_distinct").cast("double") / F.col("n_tokens"), 6).alias(
            "distinct_ratio"
        ),
        F.round(F.col("__top").cast("double") / F.col("n_tokens"), 6).alias(
            "top_token_ratio"
        ),
        "dup_2gram_ratio",
    )


#: minimal Dutch/English stopword probe for the Gopher "contains common
#: words" rule — presence of ANY 2 indicates natural language, not a list
GOPHER_STOPWORDS = ["the", "a", "de", "het", "een", "en", "and", "of"]


def gopher_quality(df, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher-style hard quality rules → per-doc booleans + pass flag.

    Rules (the classic web-text gates, thresholds pinned here):
    word count in [10, 100000]; mean word length in [2, 12]; ≥ 2 distinct
    stopwords present; duplicate-token mass ≤ 0.9 (1 - distinct ratio).
    Pure per-row native expressions except the repetition join — callers
    who only need the cheap rules can project them without it.
    """
    s = gopher_struct(F.col(text_col))
    return df.select(
        id_col,
        *[
            s[f].alias(f)
            for f in (
                "n_tokens", "mean_word_len", "stop_hits", "word_count_ok",
                "mean_word_len_ok", "stopword_ok", "repetition_ok",
                "passes",
            )
        ],
    )


def gopher_struct(text: Column) -> Column:
    """Expression form of :func:`gopher_quality` — one struct over a
    text column (see :func:`line_dedup_struct` for why composites use
    expressions instead of id-join-backs)."""
    toks = tokens_col_text(text)
    n = F.size(toks)
    chars = F.length(F.regexp_replace(F.trim(F.lower(text)), r"\s+", ""))
    mean_wl = F.when(n > 0, F.round(chars.cast("double") / n, 4)).otherwise(
        F.lit(0.0)
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    distinct_ratio = F.when(
        n > 0, F.size(F.array_distinct(toks)).cast("double") / n
    ).otherwise(F.lit(1.0))
    word_count_ok = (n >= 10) & (n <= 100_000)
    mean_wl_ok = (mean_wl >= 2.0) & (mean_wl <= 12.0)
    stop_ok = stop_hits >= 2
    rep_ok = distinct_ratio >= 0.1
    return F.struct(
        n.cast("long").alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        stop_hits.cast("long").alias("stop_hits"),
        word_count_ok.alias("word_count_ok"),
        mean_wl_ok.alias("mean_word_len_ok"),
        stop_ok.alias("stopword_ok"),
        rep_ok.alias("repetition_ok"),
        (word_count_ok & mean_wl_ok & stop_ok & rep_ok).alias("passes"),
    )


# --------------------------------------------------------------------------
# vocabulary + TF-IDF (tokenizer-prep / retrieval weighting)
# --------------------------------------------------------------------------

def vocab_topk(df, text_col: str = "text", id_col: str = "doc_id", k: int = 100):
    """Corpus top-k vocabulary → (token, n_occurrences, n_docs, rank).

    The tokenizer-prep step (seed vocab for BPE training, stopword
    discovery, frequency cutoffs). One explode + one hash agg keyed by
    (doc, token) — per-doc term counts AND document frequency fall out of
    the same shuffle (``count distinct doc`` is free because the rows are
    already (doc, token)-unique) — then a second narrow agg by token and
    a distributed top-k (``orderBy().limit(k)`` plans as
    TakeOrderedAndProject: no global sort, each partition ships only its
    local top k). The rank window runs on the k-row result.
    """
    toks = tokens_col_text(F.col(text_col))
    per_doc = (
        df.select(id_col, F.explode(toks).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("__tf"))
    )
    by_tok = per_doc.groupBy("token").agg(
        F.sum("__tf").alias("n_occurrences"),
        F.count("*").alias("n_docs"),
    )
    topk = by_tok.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


def tfidf_topk(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    per_doc: int = 5,
):
    """Top-``per_doc`` TF-IDF terms per document → (id, token, score, rank).

    Classic smooth-idf weighting: ``score = tf × (ln((N+1)/(df+1)) + 1)``,
    rounded to 6 dp for cross-engine float equality (ln parity with
    DuckDB is pinned by the hash-green BM25 oracle, which uses the same
    libm path). Shapes: one (doc, token) agg shuffle for tf; document
    frequency via a narrow token agg; N via a broadcast 1-row aggregate
    (never a driver collect); per-doc rank windows partition on the doc
    id — naturally balanced, no skew salting needed.
    """
    toks = tokens_col_text(F.col(text_col))
    tf = (
        df.select(id_col, F.explode(toks).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("token").agg(F.count("*").alias("__df"))
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("__n")
    )
    scored = (
        tf.join(dft, "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("__n") + 1) / (F.col("__df") + 1))
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= per_doc)
        .select(id_col, "token", "score", "rank")
    )


def pmi_bigrams(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    k: int = 20,
):
    """Top-k bigram collocations by pointwise mutual information →
    (tok_a, tok_b, n_ab, pmi).

    Corpus phrase mining (multi-word-expression discovery before
    tokenizer training): ``pmi = ln( (c_ab/B) / ((c_a/T)·(c_b/T)) )``
    over corpus-wide counts, min-count filtered, 6-dp rounded. Shapes:
    one bigram-explode agg + one unigram-explode agg (both map-side
    combined), totals as broadcast 1-row aggregates, two narrow joins on
    the token, distributed top-k. Nothing is quadratic; the joins key on
    single tokens (bounded vocab).
    """
    # tokenize ONCE into a real column: referencing the split expression
    # inside the transform lambda re-evaluates it per element (no CSE
    # across a LambdaFunction boundary) — measured O(tokens²) splitting,
    # 6.4 s → 0.6 s at 5k docs for the same result
    tokd = df.select(tokens_col_text(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    n2 = F.greatest(F.size(toks) - 1, F.lit(0))
    grams2 = F.transform(
        F.sequence(F.lit(1), n2),
        lambda i: F.struct(
            F.element_at(toks, i).alias("tok_a"),
            F.element_at(toks, i + 1).alias("tok_b"),
        ),
    )
    bi = (
        tokd.select(F.explode(F.when(n2 > 0, grams2)).alias("__b"))
        .select("__b.tok_a", "__b.tok_b")
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    uni = (
        tokd.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n_tok"))
    )
    totals = tokd.select(
        F.sum(F.size(toks)).alias("__T"),
        F.sum(n2).alias("__B"),
    )
    scored = (
        bi.join(uni.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("__ca")), "tok_a")
        .join(uni.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("__cb")), "tok_b")
        .join(F.broadcast(totals))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("n_ab") / F.col("__B"))
                    / ((F.col("__ca") / F.col("__T")) * (F.col("__cb") / F.col("__T")))
                ),
                6,
            ),
        )
    )
    return (
        scored.select("tok_a", "tok_b", "n_ab", "pmi")
        .orderBy(F.col("pmi").desc(), F.col("tok_a").asc(), F.col("tok_b").asc())
        .limit(k)
    )


# --------------------------------------------------------------------------
# winnowing fingerprints (rolling hash + min-sampling) — numpy pandas UDF
# --------------------------------------------------------------------------

WINNOW_K = 8   # char k-gram length
WINNOW_W = 8   # winnowing window


@F.pandas_udf(T.ArrayType(T.LongType()))
def winnow_fingerprints_udf(texts: pd.Series) -> pd.Series:
    """Winnowing (Schleimer et al., SIGMOD'03): per-document set of selected
    k-gram hashes — the min hash in each sliding window of W consecutive
    k-grams (rightmost-min rule), deduplicated, sorted. Guarantees any
    shared substring ≥ W+K-1 chars yields a shared fingerprint.
    """
    out = []
    B = np.uint64(1000003)
    for t in texts:
        s = (t or "").lower()
        data = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
        n = len(data) - WINNOW_K + 1
        if n <= 0:
            out.append([])
            continue
        # rolling polynomial hash over k-byte windows, vectorized
        h = np.zeros(n, dtype=np.uint64)
        for j in range(WINNOW_K):
            h = h * B + data[j : j + n].astype(np.uint64)
        if n <= WINNOW_W:
            sel = {int(h.min())}
        else:
            idx = np.arange(n - WINNOW_W + 1)
            win = np.lib.stride_tricks.sliding_window_view(h, WINNOW_W)
            # rightmost minimum per window
            rev_argmin = WINNOW_W - 1 - np.argmin(win[:, ::-1], axis=1)
            sel = set(h[idx + rev_argmin].tolist())
        out.append(sorted(int(x) - (1 << 64) if x >= (1 << 63) else int(x) for x in sel))
    return pd.Series(out)


# --------------------------------------------------------------------------
# BM25 ranking + deterministic corpus splits (native relational compositions)
# --------------------------------------------------------------------------

def bm25_topk(
    docs,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 top-k documents for a bag of query terms — all native exprs.

    Okapi BM25 with the standard (k1, b) shape; idf = ln(1 + (N-df+0.5)/
    (df+0.5)). Whitespace tokens (same tokenizer as token_stats). avgdl is
    computed as exact-integer sum(doclen)/N so both engines derive the
    IDENTICAL double (a float-avg aggregate would differ in summation
    order). Scale shape: one explode→(doc,term) count agg (map-side
    combined), a broadcast-sized per-term df table, top-k via
    TakeOrderedAndProject. Keep |terms| ≤ 2 for exact-oracle float
    equality (2-term double addition is commutative; ≥3 terms reorder).
    Output: doc_id, score (rounded), n_tokens.
    """
    from pyspark.sql import DataFrame  # noqa: F401

    d = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens_col_text(F.col(text_col)).alias("toks"),
    ).filter(F.size("toks") > 0)
    d = d.withColumn("doclen", F.size("toks"))
    stats = d.agg(
        F.count("*").alias("n_docs"), F.sum("doclen").alias("sum_len")
    ).collect()[0]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["sum_len"]) / int(stats["n_docs"])

    tf = (
        d.select("doc_id", "doclen", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(terms))
        .groupBy("doc_id", "doclen", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    per_term = tf.join(F.broadcast(df_), "tok").select(
        "doc_id",
        (
            idf
            * (F.col("tf") * (F.lit(k1) + 1.0))
            / (F.col("tf") + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("doclen") / F.lit(avgdl)))
        ).alias("s"),
        "doclen",
    )
    return (
        per_term.groupBy("doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score"), F.min("doclen").alias("n_tokens"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def tokens_col_text(text):
    """Whitespace tokens of lower(trim(text)) — the shared tokenizer."""
    t = F.trim(F.lower(text))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def split_bucket(id_col):
    """Deterministic engine-portable corpus split: first hex char of
    md5(str(id)) → train ('0'-'b', 12/16 = 75%), val ('c'-'d', 12.5%),
    test ('e'-'f', 12.5%). No RNG: the split is a pure function of the id,
    so it is STABLE across engines, re-runs, and repartitioning — the
    property a training pipeline needs so no example ever migrates between
    train and eval."""
    h = F.substring(F.md5(id_col.cast("string")), 1, 1)
    return (
        F.when(h <= "b", F.lit("train"))
        .when(h <= "d", F.lit("val"))
        .otherwise(F.lit("test"))
    )


# --------------------------------------------------------------------------
# bigram language-model fluency score (CCNet-style LM filtering)
# --------------------------------------------------------------------------

def lm_bigram_score(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-doc average negative log-likelihood under the corpus's own
    bigram MLE language model — the CCNet-style "LM perplexity" quality
    signal (high avg-NLL ≈ disfluent/boilerplate/garbled text), trained
    and applied in ONE pass over the corpus, no external model.

    p(b|a) = c(a,b) / c(a) over the shared whitespace tokenizer;
    score(doc) = -mean(ln p) over the doc's bigrams (0.0 / 0 bigrams for
    docs with < 2 tokens). Engine-portable exactness: each bigram's NLL
    is rounded to 9 dp FIRST (absorbs any ulp drift between Math.log and
    libm), the per-doc accumulation then sums ``multiplicity × nll``
    cast to DECIMAL(28,9) — exact and associative, so Spark's partial/
    final partition-order summation and DuckDB's sequential summation
    agree bit-for-bit — and only the final mean is rounded to 6 dp.

    100 TB shape: the tokenize + bigram-explode hot path is evaluated
    exactly TWICE per action — once feeding the model's map-side-combined
    (a, b) count (which collapses to the vocab²-bounded table inside each
    task, tiny shuffle), once feeding the per-(doc, bigram) multiplicity
    table the scoring join consumes; c(a) derives from c(a,b)
    (vocab-sized), and the base row set uses a trim-only filter, so
    neither adds a corpus pass. Model tables are bounded by distinct
    bigrams, not corpus size; everything is bucketed equi-joins and
    linear aggregations; docs never carry text past tokenization.
    """
    tokd = df.select(
        id_col, tokens_col_text(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n2 = F.greatest(F.size(toks) - 1, F.lit(0))
    # lazy when-guard: sequence(1, 0) would yield [1, 0] (step -1)
    bigr = F.when(
        n2 > 0,
        F.transform(
            F.sequence(F.lit(1), n2),
            lambda i: F.struct(
                F.element_at(toks, i).alias("a"),
                F.element_at(toks, i + 1).alias("b"),
            ),
        ),
    )
    big = tokd.select(id_col, F.explode(bigr).alias("__bg")).select(
        id_col, F.col("__bg.a").alias("a"), F.col("__bg.b").alias("b")
    )
    # model aggs run DIRECTLY on the exploded stream: partial aggregation
    # collapses each task's bigrams to the vocab²-bounded table before
    # any exchange, so the model costs one pipelined pass + tiny shuffles.
    # (Deriving the model from `mult` instead — tempting to share its
    # subtree — routes the corpus through the high-cardinality
    # (id, a, b) exchange three times and measured 1.7× SLOWER at 2M.)
    # c(a) is summed from c(a,b) — vocab-sized input, no third corpus
    # pass. Total explode evaluations per action: 2 (model + scoring).
    cab = big.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    ca = cab.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    # r7 (guide §2.3, VERDICT r6 #2): the scoring join is keyed on the
    # 64-bit hash of the bigram, not the two token STRINGS — the
    # (id, bigram, multiplicity) table is the op's dominant shuffle
    # (distinct bigrams per doc × corpus), and dropping both strings
    # before the exchange roughly halves its bytes at the 20M-doc leg
    # where this join spilled (BENCH/BASELINE.md r6). Collisions among
    # corpus bigrams are the repo-standard ~2^-50 events (the
    # ngram_jaccard_pairs convention). The model tables stay
    # string-keyed (vocab²-bounded — c(a) must group by the first
    # token); only the join key is hashed on both sides.
    hkey = F.xxhash64(F.col("a"), F.col("b"))
    mult = (
        big.select(id_col, hkey.alias("__h"))
        .groupBy(id_col, "__h")
        .agg(F.count(F.lit(1)).alias("__m"))
    )
    probs = cab.join(ca, "a").select(
        hkey.alias("__h"),
        F.round(
            -F.log(F.col("c_ab").cast("double") / F.col("c_a")), 9
        ).alias("__nll"),
    )
    # int × DECIMAL: the 9-dp NLL becomes an exact decimal BEFORE the
    # multiply, so every product and the sum are exact/associative in
    # both engines (double-summing would be partition-order dependent)
    scored = (
        mult.join(probs, "__h")
        .groupBy(id_col)
        .agg(
            F.sum("__m").cast("long").alias("n_bigrams"),
            # Tight operand types: decimal(10,0) × decimal(11,9) →
            # decimal(22,9), exact. A LONG operand would promote to
            # decimal(20,0) and push the product past precision 38, where
            # Spark's allowPrecisionLoss silently TRUNCATES the scale to 6
            # (measured: sum 106.016886243 became 106.016886).
            # NO final round: the decimal sum is order-independent, so
            # sum→double→÷count is bit-identical in both engines —
            # rounding the quotient would re-introduce engine divergence
            # on exact .xxxxxx5 ties (measured: 22/500 docs at 6 dp)
            (
                F.sum(
                    F.col("__m").cast("decimal(10,0)")
                    * F.col("__nll").cast("decimal(11,9)")
                ).cast("double")
                / F.sum("__m")
            ).alias("avg_nll"),
        )
    )
    # trim-only base (tokens exist iff trim(text) != '') — no second
    # tokenization of the corpus just to enumerate non-empty doc ids
    base = df.filter(F.trim(F.col(text_col)) != "").select(id_col)
    return base.join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.coalesce("avg_nll", F.lit(0.0)).alias("avg_nll"),
    )


def source_quality_rollup(df, text_col: str = "text", id_col: str = "doc_id",
                          strata_col: str = "source"):
    """Per-source curation report: doc count, Gopher pass rate, mean
    token count, mean word length — the table a data team reads to decide
    which sources to keep, re-crawl, or down-weight.

    Exact cross-engine floats: pass counts and token totals are integer
    sums (exact); mean word length sums the per-doc DECIMAL(20,4) values
    (gopher's per-doc rounding) exactly before one final division +
    round. One narrow id join (quality metrics ← source) and one agg
    shuffle keyed by source; ~100 output rows at any corpus size.
    """
    g = gopher_quality(df, text_col=text_col, id_col=id_col)
    src = df.select(id_col, strata_col)
    return (
        g.join(src, id_col)
        .groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("passes").cast("long")).cast("long").alias("n_passed"),
            F.round(
                F.sum(F.col("passes").cast("long")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("pass_rate"),
            F.round(
                F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_tokens"),
            F.round(
                F.sum(F.col("mean_word_len").cast("decimal(20,4)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_word_len"),
        )
    )


def source_token_drift(df, text_col: str = "text", id_col: str = "doc_id",
                       strata_col: str = "source"):
    """Per-source KL divergence of the source's token distribution from
    the corpus-wide distribution — the drift detector that flags a source
    whose language suddenly shifts (spam injection, template change,
    encoding breakage) without any labels.

    KL(source ‖ corpus) = Σ_t p_s(t) · ln(p_s(t) / p(t)) over the shared
    whitespace tokenizer, summed over the tokens the source actually
    contains (p_s(t) > 0 ⇒ p(t) > 0, so every term is defined; KL = 0
    iff the source's distribution equals the corpus's restricted to its
    support). Engine-portable exactness, same recipe as
    :func:`lm_bigram_score`: each token's term is computed in IEEE
    doubles identically on both engines, rounded to 9 dp, cast to
    DECIMAL(11,9) — possibly negative, hence signed — then summed
    exactly, and the final value crosses to double with NO further
    rounding.

    100 TB shape: one (source, token) count agg (map-side combined) over
    the exploded corpus — the single corpus-sized job, after which
    everything runs on the |sources|×vocab-bounded ``st`` table, which is
    PERSISTED for its four consumers (corpus totals, per-source totals,
    the grand total, the scoring join) and released before returning.
    The op is EAGER (like dedup_retention): it needs the corpus token
    total as a scalar, and the ~|sources|-row result is materialized via
    localCheckpoint so the cache can be dropped immediately.
    """
    toks = tokens_col_text(F.col(text_col))
    tok = df.select(strata_col, F.explode(toks).alias("__tok"))
    st = (
        tok.groupBy(strata_col, "__tok")
        .agg(F.count(F.lit(1)).alias("c_st"))
        .persist()
    )
    s_tot = st.groupBy(strata_col).agg(
        F.sum("c_st").alias("n_s"), F.count(F.lit(1)).alias("d_s")
    )
    corpus = st.groupBy("__tok").agg(F.sum("c_st").alias("c_t"))
    # sum() over zero rows is NULL (empty corpus / all-blank texts) —
    # guard, or float(None) raises before the (empty) result is built
    total_row = st.agg(F.sum("c_st")).collect()[0][0]
    n_total = float(total_row) if total_row is not None else 0.0
    term = F.round(
        (F.col("c_st").cast("double") / F.col("n_s"))
        * F.log(
            (F.col("c_st").cast("double") * F.lit(n_total))
            / (F.col("n_s").cast("double") * F.col("c_t"))
        ),
        9,
    ).cast("decimal(11,9)")
    out = (
        st.join(corpus, "__tok")
        .join(s_tot, strata_col)
        .groupBy(strata_col)
        .agg(
            F.min("n_s").cast("long").alias("n_tokens"),
            F.min("d_s").cast("long").alias("n_distinct"),
            F.sum(term).cast("double").alias("kl_corpus"),
        )
        .localCheckpoint(eager=True)
    )
    st.unpersist()
    return out


# --------------------------------------------------------------------------
# PII scrubbing + C4-style blocklist filtering (native exprs, zero shuffle)
# --------------------------------------------------------------------------

#: Engine-portable PII patterns — restricted to syntax Java regex and RE2
#: (DuckDB) interpret IDENTICALLY: char classes, bounded repeats, \b.
#: No backrefs, no lookaround (RE2 has neither).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_RE = r"\+[0-9]{1,3}[ -][0-9]{1,3}[ -][0-9]{6,9}\b"


def pii_scrub(text: Column) -> dict[str, Column]:
    """PII redaction for web-crawl text: emails, IPv4 addresses and
    international phone numbers are counted then replaced by typed
    placeholder tokens (``<EMAIL>`` / ``<IP>`` / ``<PHONE>``) — the
    standard pre-release scrub a crawled training corpus gets (the
    reference crawler stores raw page text; scrubbing is the publishing
    step it leaves to the consumer).

    Counts are taken on the ORIGINAL text per pattern (patterns are
    mutually exclusive by construction: an email never parses as an IPv4,
    a phone contains no dots), then three chained ``regexp_replace``
    passes produce the clean text — email first so its dotted domain can
    never be half-eaten by the IP pass. Pure per-row projection: zero
    shuffle, whole-stage codegen, scales embarrassingly.
    """
    n_emails = F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_RE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(text, F.lit(PII_IPV4_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(text, F.lit(PII_PHONE_RE), F.lit(0)))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return {
        "n_emails": n_emails,
        "n_ipv4": n_ipv4,
        "n_phones": n_phones,
        "text_clean": clean,
    }


def badword_stats(df, badwords: list[str], text_col: str = "text",
                  id_col: str = "doc_id", strata_col: str = "source"):
    """C4-style blocklist filter rolled up per source → (source, n_docs,
    n_flagged, flag_rate, bad_occurrences): how much of each source a
    "dirty word list" gate would drop, the number a curation team checks
    before enabling the filter (C4 drops any page containing a listed
    word; a >50%-flagged source usually means the LIST is wrong for that
    source, not the source for the list).

    The list is a per-task constant (C4's is ~400 entries), so membership
    is evaluated AGAINST A LITERAL ARRAY inside codegen — occurrences via
    ``filter(tokens, t -> array_contains(list, t))``, flagged via
    ``arrays_overlap`` — NO explode, NO join, zero extra shuffle beyond
    the one ~|sources|-row rollup agg. For a list too big for a literal
    (>~10k entries) the right shape becomes explode + broadcast semi-join;
    this implementation targets the C4-sized case.
    """
    toks = tokens_col_text(F.col(text_col))
    lit = F.array(*[F.lit(w) for w in sorted(badwords)])
    n_bad = F.size(F.filter(toks, lambda t: F.array_contains(lit, t)))
    return (
        df.select(
            F.col(strata_col),
            n_bad.alias("__nb"),
            (n_bad > 0).cast("long").alias("__fl"),
        )
        .groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__fl").cast("long").alias("n_flagged"),
            F.round(
                F.sum("__fl").cast("double") / F.count(F.lit(1)), 6
            ).alias("flag_rate"),
            F.sum("__nb").cast("long").alias("bad_occurrences"),
        )
    )


# --------------------------------------------------------------------------
# Hashed linear quality classifier + temperature-scaled domain mixture
# --------------------------------------------------------------------------


def quality_classifier(df, text_col: str = "text", id_col: str = "doc_id"):
    """fastText-style linear document classifier over hashed bag-of-words
    features — the "model-based quality filter" stage (CCNet / LLaMA-style
    pipelines score every page with a linear text classifier and keep the
    positive class). The reference crawler has no learned filter; this is
    the curation step its corpus consumers run before training.

    Feature weights come from a deterministic hash of the token (stand-in
    for a trained model's embedding table — the production swap-in point
    is a broadcast ``token -> weight`` map; the PLAN is identical):
    ``w(tok) = (md5_u32(tok) % 2001 - 1000)`` in integer "milliweights"
    (range [-1000, 1000] ≈ weight ∈ [-1, 1] at 3 dp).
    ``logit(doc) = Σ_tok w(tok) / (1000 · n_tokens)`` — the mean hashed
    feature weight; ``keep = logit > 0``.

    100 TB shape: ZERO shuffle — the token transform, the integer
    accumulation (``F.aggregate``) and the final division all run inside
    whole-stage codegen as a pure per-row projection, so the classifier
    scales embarrassingly and composes with any downstream filter without
    adding an exchange. Integer milliweight accumulation is exact and
    associative (no float-order drift); the single terminal division is
    the same IEEE op in both engines, so the oracle matches bit-for-bit.
    """
    toks = tokens_col_text(F.col(text_col))
    wmilli = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        % 2001
        - 1000,
    )
    sum_milli = F.aggregate(
        wmilli, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    n_tokens = F.size(toks).cast("long")
    logit = F.when(
        n_tokens > 0,
        sum_milli.cast("double") / (n_tokens.cast("double") * 1000.0),
    ).otherwise(F.lit(0.0))
    return df.select(
        id_col,
        n_tokens.alias("n_tokens"),
        logit.alias("logit"),
        (logit > 0.0).alias("keep"),
    )


def domain_mix(
    df,
    strata_cols: list[str] | None = None,
    alpha: float = 0.7,
    id_col: str = "doc_id",
):
    """Temperature-scaled source-mixture weights — the "domain mix" table
    a training run samples from (The Pile / DoReMi practice: weight each
    source ∝ count^α with α < 1 so small high-quality domains are
    up-sampled relative to raw proportions).

    Per source: ``n_docs``, ``weight = n^α / Σ n^α`` and
    ``target_docs = floor(weight · N)`` (the per-source quota an
    epoch-sampler draws). Engine-portable exactness: each ``n^α`` is
    rounded to 6 dp FIRST (absorbs libm pow drift) and summed as exact
    DECIMAL; the weight division and the quota multiply are then single
    IEEE double ops on identical operands, and ``floor`` (not round)
    keeps the quota integer unambiguous in both engines.

    100 TB shape: ONE map-side-combined count per domain cell (|cells|
    rows) is the only corpus-sized job; the cell table is PERSISTED for
    its two consumers (normalizer + output) so branching the plan never
    re-scans the corpus, the normalizer rides a 1-row broadcast cross
    join, and the |cells|-row result is localCheckpoint-materialized so
    the cache can be released before returning (the eager
    source_token_drift convention).
    """
    strata_cols = strata_cols or ["source"]
    pw = F.round(F.pow(F.col("n_docs").cast("double"), F.lit(alpha)), 6).cast(
        "decimal(28,6)"
    )
    weighted = (
        df.groupBy(*strata_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(*strata_cols, "n_docs", pw.alias("__pw"))
        .persist()
    )
    tot = weighted.agg(
        F.sum("__pw").alias("__tot"),
        F.sum("n_docs").cast("long").alias("__n"),
    )
    weight = F.col("__pw").cast("double") / F.col("__tot").cast("double")
    out = (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            *strata_cols,
            "n_docs",
            weight.alias("weight"),
            F.floor(weight * F.col("__n").cast("double"))
            .cast("long")
            .alias("target_docs"),
        )
        .localCheckpoint(eager=True)
    )
    weighted.unpersist()
    return out


def perplexity_buckets(
    df, text_col: str = "text", id_col: str = "doc_id", k: int = 3
):
    """CCNet-style perplexity bucketing: score every doc with the
    corpus-trained bigram LM (``lm_bigram_score``), rank the corpus by
    avg-NLL and cut it into ``k`` equal-size buckets (head = most fluent
    … tail = most disfluent), then roll up per bucket. CCNet keeps
    head+middle and drops (or down-weights) the tail; the rollup is the
    table that decision is made from.

    100 TB shape: ranking uses ``global_sequence`` — a RANGE-partitioned
    parallel sort over the NARROW ``(doc_id, n_bigrams, avg_nll)``
    projection plus a per-partition-offset enumeration — NOT a
    single-task ``row_number() OVER (ORDER BY …)``, so the sort scales
    with executors (the text never rides it). The bucket is then a
    closed-form NTILE from the global rank r and total N
    (first N%k buckets take ⌈N/k⌉ rows — exactly SQL NTILE semantics,
    pinned against DuckDB's ntile by the oracle), and the rollup is one
    k-row aggregate. Ties in avg_nll are broken by doc_id so the rank is
    a total order in both engines.
    """
    from pyspark import StorageLevel

    from nlnieuwscrawler_spark.operators.sequence import global_sequence

    # Materialize the NARROW scored table before ranking: the
    # RangePartitioner's boundary-sampling pass plus the range shuffle
    # would otherwise EACH re-evaluate the whole LM pipeline (measured
    # 21.9 s -> 8.6 s at 100k docs). global_sequence localCheckpoints its
    # output, so the cache can be released as soon as it returns.
    scored = (
        lm_bigram_score(df, text_col, id_col)
        .filter(F.col("n_bigrams") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranked = global_sequence(scored, ["avg_nll", id_col], seq_col="__rk")
    scored.unpersist()
    tot = ranked.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    from nlnieuwscrawler_spark.operators.sequence import ntile_from_rank

    bucket = ntile_from_rank("__rk", "__n", k)
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(bucket.alias("ppl_bucket"), "n_bigrams", "avg_nll")
        .groupBy("ppl_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
            F.min("avg_nll").alias("min_nll"),
            F.max("avg_nll").alias("max_nll"),
        )
    )


def line_dedup_struct(text: Column) -> Column:
    """Expression form of :func:`dedup_lines` — struct(n_lines, n_kept,
    text_dedup) over one text column. Exposed so composites (curate())
    can REPLACE the text column in place as a zero-shuffle projection
    instead of joining the (id, text) result frame back on id (r7: that
    join moved the whole corpus through an exchange per rewrite stage).
    """

    def build(ls: Column) -> Column:
        kept = F.filter(
            ls, lambda x, i: F.array_position(ls, x) == i + F.lit(1)
        )
        return F.struct(
            F.size(ls).cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_kept"),
            F.array_join(kept, "\n").alias("text_dedup"),
        )

    return F.element_at(F.transform(F.array(F.split(text, "\n")), build), 1)


def dedup_lines(df, text_col: str = "text", id_col: str = "doc_id"):
    """RefinedWeb/CCNet-style INTRA-document line dedup: within each
    document, drop every line that already appeared verbatim earlier in
    the SAME document, rebuild the text from the survivors, and report
    per-doc kept/dropped counts. (The corpus-GLOBAL variant — C4's
    repeated-span removal across documents — is ``dedup_spans``; this is
    its cheap local complement, and boilerplate like repeated nav menus
    or cookie banners inside one page is exactly what it removes.)

    100 TB shape: a pure per-row projection — ``filter``/
    ``array_position`` higher-order functions inside whole-stage
    codegen, ZERO shuffle, ZERO joins; the corpus is read once and
    never moved. Per-doc cost is O(L²) in the LINE count (array_position
    scans from the front), which is microseconds for real pages (tens of
    lines) — the trade for staying shuffle-free; a doc with pathological
    line counts is bounded by Gopher gates upstream.

    Keep rule: line i survives iff its FIRST occurrence index is i
    (1-based both in Spark's ``array_position`` and DuckDB's
    ``list_position``, so the oracle twin is literal). Exact match —
    no normalization — matching CCNet's hash-of-raw-line dedup unit.

    The split is bound ONCE as a lambda variable (the word_ngrams
    transform-over-1-element-array trick): referencing the split
    expression directly inside the filter lambda re-splits the whole
    text for every line element — no CSE across a LambdaFunction
    boundary.
    """

    s = line_dedup_struct(F.col(text_col))
    return df.select(
        F.col(id_col),
        s["n_lines"].alias("n_lines"),
        s["n_kept"].alias("n_kept"),
        s["text_dedup"].alias("text_dedup"),
    )


def boilerplate_sets(
    df,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
):
    """Per-group boilerplate-line arrays (group, __bl) — the tiny
    broadcast side of :func:`boilerplate_scrub`: one map-side-combinable
    (group, line) distinct-doc count over narrow rows, then the high-df
    survivors rolled into one array per group. Exposed so composites can
    attach it with a broadcast join and rewrite the text in place (see
    :func:`line_dedup_struct`)."""
    exploded = df.select(
        F.col(group_col), F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("__line"),
    ).filter(F.col("__line") != "")
    return (
        exploded.groupBy(group_col, "__line")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") >= F.lit(min_docs))
        .groupBy(group_col)
        .agg(F.collect_set("__line").alias("__bl"))
    )


def boilerplate_scrub_struct(text: Column, bl: Column) -> Column:
    """Expression form of :func:`boilerplate_scrub` — struct(n_lines,
    n_boiler, text_clean) over one text column given the group's
    boilerplate-line array ``bl``."""
    ls_expr = F.split(text, "\n")

    def build(ls: Column) -> Column:
        kept = F.filter(ls, lambda x: ~F.array_contains(bl, x))
        return F.struct(
            F.size(ls).cast("long").alias("n_lines"),
            (F.size(ls) - F.size(kept)).cast("long").alias("n_boiler"),
            F.array_join(kept, "\n").alias("text_clean"),
        )

    return F.element_at(F.transform(F.array(ls_expr), build), 1)


def boilerplate_scrub(
    df,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
):
    """Cross-document boilerplate removal (the CORPUS-level complement
    to ``dedup_lines``): a line is boilerplate within its group
    (site/source) when it occurs in >= ``min_docs`` DISTINCT documents
    of that group — nav menus, footers, cookie banners, the template
    chrome every page of a site shares. Scrubbed docs are rebuilt in
    line order; returns (id, n_lines, n_boiler, text_clean). This is
    CCNet's shard-level paragraph dedup / RefinedWeb's line-level
    filtering generalized to an explicit document-frequency rule. Empty
    lines are never boilerplate: they are layout, and scrubbing them
    would shift every paragraph boundary in the survivors. A document
    whose every line is boilerplate survives as the empty document.

    100 TB shape: the corpus-line explode feeds ONE
    map-side-combinable (group, line) distinct-doc count over narrow
    (group, id, line) rows; only the tiny high-df survivor set is
    rolled into per-group arrays and BROADCAST back
    (:func:`boilerplate_sets`), so the corpus itself crosses ZERO
    exchanges — the scrub is a higher-order filter inside whole-stage
    codegen (plan-pinned by tests/test_curation.py). Real sites have
    tens-to-hundreds of template lines, so the broadcast is KBs per
    group.

    The line split is bound once as a lambda variable (the
    ``dedup_lines`` CSE note applies verbatim).
    """
    ba = boilerplate_sets(df, min_docs, text_col, id_col, group_col)
    j = df.join(F.broadcast(ba), on=group_col, how="left")
    bl = F.coalesce(F.col("__bl"), F.array().cast("array<string>"))
    s = boilerplate_scrub_struct(F.col(text_col), bl)
    return j.select(
        F.col(id_col),
        s["n_lines"].alias("n_lines"),
        s["n_boiler"].alias("n_boiler"),
        s["text_clean"].alias("text_clean"),
    )


def c4_line_struct(text: Column, min_words: int = 5) -> Column:
    """Expression form of :func:`c4_line_rules` — struct(n_lines,
    n_kept, text_clean, drop_page) over one text column (see
    :func:`line_dedup_struct` for why composites use the expression
    instead of an id-join-back)."""

    def build(ls: Column) -> Column:
        kept = F.filter(
            ls,
            lambda x: x.rlike('[.!?"]$')
            & (
                F.size(F.filter(F.split(x, " "), lambda w: w != ""))
                >= F.lit(min_words)
            )
            & ~F.lower(x).contains("javascript"),
        )
        return F.struct(
            F.size(ls).cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_kept"),
            F.array_join(kept, "\n").alias("text_clean"),
        )

    s = F.element_at(F.transform(F.array(F.split(text, "\n")), build), 1)
    low = F.lower(text)
    return F.struct(
        s["n_lines"].alias("n_lines"),
        s["n_kept"].alias("n_kept"),
        s["text_clean"].alias("text_clean"),
        (low.contains("lorem ipsum") | low.contains("{")).alias("drop_page"),
    )


def c4_line_rules(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 5,
):
    """C4's line-level cleaning rules (Raffel et al. 2020 §2.2, public)
    → (id, n_lines, n_kept, text_clean, drop_page): keep only lines
    that END IN TERMINAL PUNCTUATION (. ! ? "), have at least
    ``min_words`` whitespace-separated words, and do not mention
    "javascript" (the cookie/JS-warning line); additionally flag the
    whole page for dropping when it contains "lorem ipsum" or a curly
    brace (templating/code leakage) — C4 applies those at page level.
    The rule-based complement to ``boilerplate_scrub`` (frequency-
    based) and ``dedup_lines`` (repetition-based): all three stack.

    100 TB shape: a pure ZERO-shuffle projection — the line split is
    bound once as a lambda variable (the ``dedup_lines`` CSE note) and
    every rule is a codegen higher-order/regexp expression; the corpus
    is scanned once and never moved.
    """

    s = c4_line_struct(F.col(text_col), min_words=min_words)
    return df.select(
        F.col(id_col),
        s["n_lines"].alias("n_lines"),
        s["n_kept"].alias("n_kept"),
        s["text_clean"].alias("text_clean"),
        s["drop_page"].alias("drop_page"),
    )


def host_lang_entropy(df, group_col: str = "source", lang_col: str = "lang"):
    """Per-host language-mix profile → (group, n_docs, n_langs,
    majority_lang, lang_entropy): Shannon entropy (nats) of the
    language distribution plus the dominant language (ties → first
    lexicographically). A news site publishes in one or two languages
    — a host with near-uniform language entropy is an aggregator,
    scraper mashup, or machine-translation farm, the host-level
    companion signal to the per-doc ``lang_id`` gate.

    Cross-engine exactness follows the ``source_token_drift`` recipe:
    each −p·ln(p) term is an IEEE double rounded to 9 dp, cast to
    DECIMAL(11,9), and summed EXACTLY (associative, partition-order
    free); a single-language host is exactly 0.0.

    100 TB shape: one map-side-combinable (group, lang) cell count
    (|groups|×|langs| rows — tiny), one |groups|-row rollup joining the
    cells back. The corpus is scanned once for the narrow two-column
    projection; nothing else moves.
    """
    cells = df.groupBy(group_col, lang_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    tot = cells.groupBy(group_col).agg(
        F.sum("__c").alias("__n"), F.count(F.lit(1)).alias("__nl")
    )
    p = F.col("__c").cast("double") / F.col("__n")
    term = F.round(-p * F.log(p), 9).cast("decimal(11,9)")
    return (
        cells.join(tot, group_col)
        .groupBy(group_col)
        .agg(
            F.min("__n").cast("long").alias("n_docs"),
            F.min("__nl").cast("long").alias("n_langs"),
            F.min_by(
                lang_col,
                F.struct((-F.col("__c")).alias("a"), F.col(lang_col).alias("b")),
            ).alias("majority_lang"),
            F.sum(term).cast("double").alias("lang_entropy"),
        )
    )


def vocab_stats(df, text_col: str = "text", id_col: str = "doc_id",
                group_col: str = "source"):
    """Per-source vocabulary health → (group, n_tokens, n_distinct,
    hapax_ratio, ttr): the share of the source's distinct tokens that
    occur exactly ONCE (hapax legomena) and the type-token ratio. Both
    are corpus-QA workhorses: OCR garbage, encoding mojibake, and
    random-id boilerplate inflate hapax_ratio toward 1 (every error is
    unique), while template spam deflates TTR toward 0 (the same
    chrome repeated). The per-source complement to the per-doc
    ``repetition_stats`` gates.

    100 TB shape: one (group, token) hash agg over the exploded narrow
    projection — map-side combinable, the classic wordcount shuffle —
    then a |groups|-row conditional rollup. Ratios are single IEEE
    divisions rounded to 6 dp, exact in DuckDB.
    """
    toks = tokens_col_text(F.col(text_col))
    tok = df.select(
        F.col(group_col), F.explode(toks).alias("__tok")
    )
    cells = tok.groupBy(group_col, "__tok").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return cells.groupBy(group_col).agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(
            F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("__c"), 6
        ).alias("ttr"),
    )


def ngram_novelty(df, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3):
    """Per-doc n-gram novelty → (id, n_grams, n_novel, novelty): the
    fraction of a doc's DISTINCT n-grams whose first corpus occurrence
    (min doc id over all docs containing the gram) is the doc itself —
    the "how much genuinely new text does this page add" curation
    signal. Ingest-ordered ids make this incremental-crawl novelty: a
    rehosted or templated page scores near 0, fresh reporting near 1;
    downweighting low-novelty docs is the soft cousin of span dedup
    (which hard-removes the repeated text).

    100 TB shape: explode the corpus to NARROW (gram, id) pairs once;
    ``min(id)`` per gram is a map-side-combinable hash agg (the same
    first-occurrence agg dedup_spans uses); per-doc gram and novelty
    counts are two more map-side-combinable aggs over the cached pairs
    and the |distinct grams|-row first table (NO gram-keyed join-back —
    each gram credits exactly one doc, so counting ``first`` by its
    min-id IS the per-doc novel count), and every exchange after the
    explode moves |docs|-sized rows. No text column anywhere, no
    windows. Grams are
    xxhash64-PRE-HASHED to longs before the explode (the
    ngram_jaccard_pairs trick: 8-byte keys instead of ~20-byte strings
    through both exchanges AND the join probe; collisions among corpus
    grams are ~2^-50 events — measured 163 → ~60 s at 2M docs).
    Gramless docs (< n tokens) are novelty 1.0 by convention (nothing
    repeated). Convention: grams are counted DISTINCT per doc (a doc
    repeating its own gram isn't penalized — that's repetition_stats'
    job).
    """
    from nlnieuwscrawler_spark.operators.dedup import word_ngrams

    # persisted: the exploded gram table feeds the first-occurrence agg
    # AND the per-doc gram count — unpersisted, the tokenize+shingle+hash
    # pipeline (the op's dominant CPU cost) evaluates twice (the minhash
    # persist lesson; measured 164 → 75 s at 2M docs). The id universe
    # for the gramless-doc join-back comes from a bare id scan, never a
    # third gram evaluation.
    pairs = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.transform(
                word_ngrams(F.col(text_col), n), lambda s: F.xxhash64(s)
            )
        ).alias("__gram"),
    ).persist()
    # r7 (guide §2.4): NO gram-keyed scoring join. Each gram's min(id)
    # credits exactly ONE doc with one novel gram, so n_novel per doc is
    # a count over the (already aggregated, |distinct grams|-row) first-
    # occurrence table keyed by its min-id — and n_grams per doc is a
    # plain count over the exploded pairs. The old form joined the FULL
    # |doc-gram| pair table back against `first` on the gram key (the
    # op's biggest exchange, ~|corpus grams| rows both sides) only to
    # re-derive those two counts; the two hash aggs move |docs|-sized
    # results instead (identical output — n_novel ≡ Σ_grams[min==id]).
    first = pairs.groupBy("__gram").agg(F.min("__id").alias("__first"))
    per_gram = pairs.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    novel = first.groupBy(F.col("__first").alias("__id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    out = (
        df.select(F.col(id_col).alias("__id"))
        .join(per_gram, "__id", "left")
        .join(novel, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) == 0, F.lit(1.0)
            )
            .otherwise(
                F.round(
                    # n_novel is NULL (not 0) for docs whose every gram
                    # was first seen elsewhere — they have no row in the
                    # first-occurrence count
                    F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
                    / F.col("n_grams"),
                    6,
                )
            )
            .alias("novelty"),
        )
        # materialize eagerly so the gram cache can be released here (the
        # result is |docs| narrow rows)
        .localCheckpoint(eager=True)
    )
    pairs.unpersist()
    return out
