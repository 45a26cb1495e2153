"""Deduplication operators for web-text training pipelines.

Exact + four near-dup families, each Spark-first and scale-shaped:

- exact: hash-groupBy (one shuffle, map-side combine)
- n-gram Jaccard: shingle sets via higher-order exprs, candidate pairs via
  self-join, exact Jaccard via array_intersect — the small-N/verification
  path, fully SQL-expressible (DuckDB oracle)
- MinHash + LSH: signature via native xxhash64 minima (no UDF!), banding →
  bucket-join → exact-Jaccard verify. The 100 TB path: cost is
  O(docs × bands), never O(docs²); only bucket-colliding pairs shuffle.
- SimHash: 64-bit sketch via a vectorized numpy pandas UDF, hamming-
  neighbor candidates via 16-bit band buckets
- embedding cosine near-dup: see operators/similarity.py

All emit deterministic results (fixed seeds, total-order tie-breaks).
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# shingling (native higher-order expressions)
# --------------------------------------------------------------------------

def tokens_col(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams as array<string> — pure Catalyst exprs.

    The token array is bound ONCE as a lambda variable (transform over a
    1-element array): referencing the split expression directly inside
    the per-gram lambda re-evaluates the split for EVERY gram (no CSE
    across a LambdaFunction boundary) — measured O(tokens²) splitting,
    ~5× slower on 100-token docs, same results.
    """
    toks = tokens_col(text)

    def build(tk: Column) -> Column:
        # guard, not greatest(...): sequence(1, 0) infers step -1 and
        # yields [1, 0], whose 0 start crashes slice() — docs with fewer
        # than n tokens must produce NO grams (matches the DuckDB
        # oracles' range(1, len-n+1)), surfaced by span-reduced docs in
        # curate() at sf0.1
        idx = F.when(
            F.size(tk) >= n,
            F.sequence(F.lit(1), F.size(tk) - (n - 1)),
        ).otherwise(F.array().cast("array<int>"))
        return F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, n)))
        )

    return F.element_at(F.transform(F.array(toks), build), 1)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two DISTINCT-element arrays (native)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def _spread(df: DataFrame) -> DataFrame:
    """CPU-dense per-row stages must not inherit the input's file-split
    parallelism: one small parquet file scans as ONE partition, so the
    shingle/signature transforms serialize on a single core no matter how
    many exist (measured: the whole sf0.1 documents table is one split).
    Spread the narrow projection across default parallelism first — the
    shuffle moves only (id, block, text), never derived arrays.

    One rule, decided from the input plan:

    - a plan that reads no files (``df.inputFiles()`` is empty: a
      checkpoint, a cached frame, a range) comes back as is. Its
      partitioning was set by the shuffle or cut that made it, not by a
      file split, and ``inputFiles()`` only walks the logical plan.
      ``df.rdd.getNumPartitions()`` would have to plan the whole
      physical chain, and under AQE that RUNS the input's shuffle
      stages (curate's MinHash input, 4 cores: 455 ms and 3 jobs).
    - a plan that reads files widens to ``defaultParallelism`` only when
      its scan has fewer partitions. It never shrinks: an input already
      partitioned wider than the core count (the normal case on a real
      cluster reading a 100 TB table) passes through untouched —
      repartitioning it DOWN would force a full shuffle of the fat text
      column and throw away parallelism."""
    if not df.inputFiles():
        return df
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact content hash."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup (pairwise within blocking key)
# --------------------------------------------------------------------------

def _df_ordered_grams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str | None,
    n: int,
    threshold: float,
) -> tuple[DataFrame, DataFrame, Column]:
    """The prefix-filtering gram table shared by the exact pair generators.

    Returns ``(ex, g, prefix_len)``: ``ex`` is the persisted
    ``(id, blk, tok)`` explode of each doc's distinct hashed shingles;
    ``g`` is the persisted ``(id, blk, grams)`` table with each doc's
    grams sorted by ascending document frequency, then token; and
    ``prefix_len`` is the ``|s| - ceil(τ·|s|) + 1`` prefix length over
    ``grams``. The caller releases both caches.
    """
    # hash shingles to longs BEFORE the pairwise stage: array_intersect on
    # int64 is ~20× cheaper than on strings across O(pairs) evaluations;
    # Jaccard over hashed distinct sets equals Jaccard over the strings
    # (xxhash64 collisions among ~10^2 grams/doc are ~2^-50 events).
    # persisted: ``ex`` feeds BOTH the document-frequency aggregate and the
    # ordered-gram rebuild below — without the cache the tokenize+shingle
    # explode (the pipeline's CPU hot spot) runs twice COLD (the r4 CSE fix
    # only helped warm runs; the driver bench is cold-first-run). The rows
    # are the narrow (id, blk, tok) projection — spillable, never the text.
    src = _spread(df.select(
        F.col(id_col).alias("id"),
        (F.col(block_col) if block_col else F.lit("all")).alias("blk"),
        F.col(text_col),
    ))
    ex = src.select(
        "id",
        "blk",
        F.explode(
            F.array_distinct(
                F.transform(word_ngrams(F.col(text_col), n), lambda s: F.xxhash64(s))
            )
        ).alias("tok"),
    ).persist()
    freq = ex.groupBy("tok").agg(F.count("*").alias("freq"))
    # persisted: the ordered gram table feeds the prefix explode AND both
    # verify join-backs — unpersisted, the shingle pipeline runs three times
    g = (
        ex.join(freq, "tok")
        .groupBy("id", "blk")
        .agg(F.array_sort(F.collect_list(F.struct("freq", "tok"))).alias("__o"))
        .select(
            "id", "blk",
            F.transform("__o", lambda s: s["tok"]).alias("grams"),
        )
        .persist()
    )
    prefix_len = (
        F.size("grams")
        - F.ceil(F.lit(threshold) * F.size("grams")).cast("int")
        + F.lit(1)
    )
    return ex, g, prefix_len


def _verify_pairs(
    cand: DataFrame,
    g: DataFrame,
    score: Callable[[Column, Column], Column],
    names: tuple[str, str, str],
    threshold: float,
    release: tuple[DataFrame, ...],
) -> DataFrame:
    """Exact-verify candidate ``(doc_a, doc_b)`` pairs against ``g``'s
    ``(id, grams)`` sets: ``score(ga, gb)`` rounded to 6 dp, kept if
    ``≥ threshold``, output as the three ``names``.

    The threshold applies to the ROUNDED score, the oracle convention (a
    6-dp boundary case must fall the same way in both engines). Eager:
    the verified pair set is tiny (linear in near-dups), so it is
    materialized here and the ``release`` caches unpersisted — a lazily
    returned plan would pin them in the cache manager for the life of the
    session (cached DFs are never GC-cleaned), leaking executor memory
    across a long bench/crawl session.
    """
    ga = g.select(F.col("id").alias("doc_a"), F.col("grams").alias("ga"))
    gb = g.select(F.col("id").alias("doc_b"), F.col("grams").alias("gb"))
    a, b, s = names
    out = (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            F.col("doc_a").alias(a),
            F.col("doc_b").alias(b),
            F.round(score(F.col("ga"), F.col("gb")), 6).alias(s),
        )
        .filter(F.col(s) >= threshold)
    ).localCheckpoint(eager=True)
    for c in release:
        c.unpersist()
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All (a < b) pairs with n-gram Jaccard ≥ threshold, within a block.

    Docs whose ``block_col`` value is NULL are EXCLUDED from all pairing
    (the candidate equi-join on the block key drops NULL keys) —
    consistent with ``minhash_lsh_pairs``; coalesce a nullable block
    column to a sentinel first if NULL-block docs should still pair
    among themselves (ADVICE r6).

    EXACT set-similarity self-join via PREFIX FILTERING (the PPJoin-family
    bound): order each doc's distinct shingle set by ONE global total
    order; if J(a,b) ≥ τ the two sets MUST share a token within each one's
    first ``|s| - ceil(τ·|s|) + 1`` elements. So candidates come from an
    EQUI-join on exploded prefix tokens — O(Σ per-token pairings), never
    the O(block²) all-pairs join — and only candidates pay the
    array_intersect verify. The order is ASCENDING DOCUMENT FREQUENCY
    (then token), the PPJoin essential: prefixes then hold each doc's
    RAREST shingles, so hot tokens (boilerplate shared by thousands of
    docs) stay out of the candidate join — with a plain hash order one
    common trigram re-creates the quadratic bucket this exists to avoid.
    Same results as the naive form (the DuckDB oracle stays the naive
    SQL), but the plan survives a 100× scale-up: shuffles are keyed by
    token / id, all linear in input ± candidates. Requires threshold > 0
    (empty-gram docs can then never match and are dropped up front).
    Output: doc_a, doc_b, jacc.
    """
    if threshold <= 0:
        raise ValueError("prefix filtering requires threshold > 0")
    ex, g, prefix_len = _df_ordered_grams(
        df, text_col, id_col, block_col, n, threshold
    )
    pref = g.select(
        "id", "blk", F.size("grams").alias("sz"),
        F.explode(F.slice(F.col("grams"), F.lit(1), prefix_len)).alias("tok"),
    )
    a = pref.select(
        F.col("id").alias("doc_a"), "blk", "tok", F.col("sz").alias("sz_a")
    )
    b = pref.select(
        F.col("id").alias("doc_b"), "blk", "tok", F.col("sz").alias("sz_b")
    )
    cand = (
        a.join(b, on=["blk", "tok"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # size filter BEFORE dedup/verify: jacc ≥ τ needs |small| ≥ τ·|large|
        .filter(
            F.least("sz_a", "sz_b")
            >= F.lit(threshold) * F.greatest("sz_a", "sz_b")
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_pairs(
        cand, g, jaccard, ("doc_a", "doc_b", "jacc"), threshold, (g, ex)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All ORDERED (container, contained) pairs with n-gram containment
    ``|grams(contained) ∩ grams(container)| / |grams(contained)| ≥ τ``,
    within a block — the syndication detector: a news site republishing
    a wire story (or an excerpt of one) is contained in the original
    even when the Jaccard similarity is low because the container is
    much longer. Near-identical docs yield BOTH directions by design.

    Same prefix-filtering discipline as :func:`ngram_jaccard_pairs`, in
    its ASYMMETRIC form (Chaudhuri et al. 2006's overlap bound): if the
    overlap is ≥ ⌈τ·|B|⌉ then B must share a gram from its first
    ``|B| - ⌈τ·|B|⌉ + 1`` elements under the global order with A —
    so candidates come from an equi-join of the CONTAINED side's prefix
    grams against the container side's FULL gram index. The order is
    ascending document frequency, which is what keeps the full-index
    side safe: prefix grams are each doc's RAREST shingles, so the
    per-token fan-out on the index side is bounded by those grams'
    (small) document frequency — a hot boilerplate gram never enters a
    prefix. A size gate (``|A| ≥ τ·|B|``, since the overlap can never
    exceed |A|) prunes before verification; only survivors pay the
    array_intersect. Shuffles are keyed by gram / id, linear in input ±
    candidates — the all-pairs form this replaces is O(block²).
    Output: container, contained, containment (round 6).
    """
    if threshold <= 0:
        raise ValueError("prefix filtering requires threshold > 0")
    ex, g, prefix_len = _df_ordered_grams(
        df, text_col, id_col, block_col, n, threshold
    )
    contained = g.select(
        F.col("id").alias("doc_b"), "blk", F.size("grams").alias("sz_b"),
        F.explode(F.slice(F.col("grams"), F.lit(1), prefix_len)).alias("tok"),
    )
    index = g.select(
        F.col("id").alias("doc_a"), "blk", F.size("grams").alias("sz_a"),
        F.explode("grams").alias("tok"),
    )
    cand = (
        contained.join(index, on=["blk", "tok"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .filter(F.col("sz_a") >= F.lit(threshold) * F.col("sz_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    def containment(ga: Column, gb: Column) -> Column:
        return F.size(F.array_intersect(ga, gb)).cast("double") / F.size(gb)

    return _verify_pairs(
        cand, g, containment, ("container", "contained", "containment"),
        threshold, (g, ex),
    )


def dedup_retention(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    reliable: bool = False,
    stats: dict | None = None,
    quality_col: str | None = None,
) -> DataFrame:
    """End-to-end keep-one-per-cluster retention → (id, component, keep).

    The final step of every near-dup family: pairs (from ngram/minhash/
    simhash/cosine) → connected components (:func:`dedup_components`) →
    every doc labeled with its cluster and a ``keep`` flag (true for the
    representative and for all singletons). One fp-keyed left join
    against the component table — docs outside the pair graph never enter
    the iterative clustering at all, so at 100 TB the expensive part runs
    on the (tiny) duplicate subgraph only.

    Representative choice: by default the min-id doc (pure id
    arithmetic — ``keep`` falls out of the component label for free).
    ``quality_col`` switches to BEST-of-cluster retention — the doc
    maximizing (quality, then min id on ties) wins, which is what
    production dedup actually wants (FineWeb keeps the longest /
    highest-scoring duplicate, not the accidental smallest id). The
    winner table is computed on the component nodes ONLY (the dup
    subgraph): one id-keyed join pulls quality for those ids, one
    ``max_by(id, struct(quality, -id))`` agg picks winners, and the
    corpus-sized pass stays the same shuffled left join as the min-id
    path (comp is unbounded — never force-broadcast it) plus one
    broadcast of the |components|-sized winners table.
    """
    comp = dedup_components(pairs, reliable=reliable, stats=stats)
    label = F.coalesce(F.col("component"), F.col("doc_id"))
    if quality_col is None:
        return (
            docs.select(F.col(id_col).alias("doc_id"))
            .join(comp, "doc_id", "left")
            .select(
                F.col("doc_id").alias(id_col),
                label.alias("component"),
                (label == F.col("doc_id")).alias("keep"),
            )
        )
    # quality-aware: winners computed on the dup subgraph only
    node_q = comp.join(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(quality_col).alias("__q")
        ),
        "doc_id",
    )
    winners = node_q.groupBy("component").agg(
        F.max_by(
            "doc_id", F.struct(F.col("__q"), (-F.col("doc_id")).alias("__n"))
        ).alias("__winner")
    )
    # comp is the full dup-subgraph node set — unbounded (can be most of
    # the corpus under heavy duplication), so it joins like the min-id
    # path: plain shuffle join, AQE free to pick the strategy. Only the
    # |components|-sized winners table is small by construction (one row
    # per cluster) and safe to force-broadcast.
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp, "doc_id", "left")
        .join(F.broadcast(winners), "component", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "component"
            ),
            (
                F.col("component").isNull()
                | (F.col("doc_id") == F.col("__winner"))
            ).alias("keep"),
        )
    )


def dedup_incremental(
    new_docs: DataFrame,
    seen_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Drop incoming docs whose exact content was already ingested.

    The cross-batch/shift-ingestion form of exact dedup: a pipeline that
    ingests shard N must dedup against shards 1..N-1 without re-reading
    them — ``seen_hashes`` is the persisted (e.g. SnapshotStore-committed)
    hash table of everything already kept. One md5 projection + one
    anti-join keyed on the 16-byte hash; at 10^10 docs the hash table is
    ~300 GB — a plain shuffled anti-join (never broadcast). A Bloom filter
    in front would not shrink it: with no false negatives every seen hash
    is still compared, which is why the crawl's URL check
    (operators/seen.filter_unseen) is the same plain anti-join.
    Within-batch duplicates are NOT collapsed here (that's
    :func:`dedup_exact`'s job) — the two compose: dedup_exact first, then
    incremental against history.
    """
    hashed = new_docs.withColumn(hash_col, F.md5(F.col(text_col)))
    return hashed.join(
        seen_hashes.select(hash_col), hash_col, "left_anti"
    )


# --------------------------------------------------------------------------
# eval-set decontamination
# --------------------------------------------------------------------------

def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
    n: int = 3,
    min_overlap: int = 8,
) -> DataFrame:
    """Flag corpus docs sharing ≥ ``min_overlap`` distinct word n-grams
    with ANY single eval/benchmark doc → (doc_id, eval_id, n_shared).

    The curation step a training pipeline runs before every release: any
    document that substantially overlaps an evaluation item leaks the
    benchmark into the training set. Same shingling spec as
    :func:`ngram_jaccard_pairs` (distinct word n-grams over
    whitespace-split lowercase text).

    100 TB shape: the corpus side is exploded to (doc, gram) rows and
    hash-joined against the BROADCAST eval gram table — eval suites are
    small (10^3-10^5 items) while the corpus is not, so the corpus is
    never self-joined, never collected, and only rows whose gram actually
    occurs in some eval doc survive into the (doc, eval) count shuffle
    (bounded by true matches, not corpus size). Both gram sets are
    per-doc distinct, so ``count(*)`` per (doc, eval) pair IS the number
    of distinct shared grams.
    """
    corpus = _spread(docs.select(id_col, text_col))
    corpus_grams = corpus.select(
        id_col, F.explode(word_ngrams(F.col(text_col), n)).alias("__g")
    )
    eval_grams = eval_docs.select(
        eval_id_col, F.explode(word_ngrams(F.col(eval_text_col), n)).alias("__g")
    )
    return (
        corpus_grams.join(F.broadcast(eval_grams), "__g")
        .groupBy(id_col, eval_id_col)
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


# --------------------------------------------------------------------------
# near-dup clustering: connected components over the pair graph
# --------------------------------------------------------------------------

def dedup_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
    reliable: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of the near-dup pair graph → (doc_id, component).

    The step AFTER any pairwise dedup family: near-dup pairs chain
    (A~B, B~C ⇒ {A,B,C} is one duplicate cluster even when A~C missed the
    threshold), and a training pipeline keeps ONE representative per
    component, not per pair. Component label = min doc_id in the component.

    Iterative min-label propagation with POINTER DOUBLING: each round a
    node takes the min of its own label, its neighbors' labels, and its
    label's label (path halving), so convergence is O(log diameter)
    rounds, not O(diameter) — at web scale dup chains (mirrors of mirrors)
    can be long. Every round is two bounded shuffles (edge join + label
    self-join); a per-round lineage cut stops the iterative-plan blowup —
    ``reliable=True`` routes it through the SparkContext checkpoint dir
    (survives executor loss; the 100 TB mode — see operators/checkpoint),
    default is ``localCheckpoint`` (fast, single-box/test mode).
    Convergence detected by an exact decimal sum of labels (labels only
    ever decrease, so equal sum ⟺ fixpoint).

    ``stats``: pass a dict to receive ``{"rounds": n}``, the number of
    label-propagation rounds run — the scale bench reports it.
    """
    from nlnieuwscrawler_spark.operators.checkpoint import cut_lineage

    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = cut_lineage(
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct(),
        reliable,
    )
    lab = cut_lineage(
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id")),
        reliable,
    )
    prev_sum = None
    rounds = 0
    for rounds in range(1, max_iter + 1):
        nmin = (
            edges.join(
                lab.select(F.col("id").alias("dst"), F.col("label").alias("dlab")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dlab").alias("nlab"))
            .select(F.col("src").alias("id"), "nlab")
        )
        stepped = lab.join(nmin, "id", "left").select(
            "id", F.least("label", F.coalesce("nlab", "label")).alias("label")
        )
        # pointer doubling: also adopt label(label)
        ptr = stepped.select(
            F.col("id").alias("pid"), F.col("label").alias("plab")
        )
        lab = cut_lineage(
            stepped.join(ptr, stepped["label"] == ptr["pid"], "left")
            .select(
                "id", F.least("label", F.coalesce("plab", "label")).alias("label")
            ),
            reliable,
            # lazy: the convergence aggregate below materializes the
            # checkpoint in the same job — one Spark job per round, not two
            eager=False,
        )
        cur = lab.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        if cur == prev_sum:
            break
        prev_sum = cur
    if stats is not None:
        stats["rounds"] = rounds
    return lab.select(F.col("id").alias("doc_id"), F.col("label").alias("component"))


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signatures(
    g: DataFrame,
    num_hashes: int = 32,
    grams_col: str = "grams",
    key_cols: tuple = ("id",),
) -> DataFrame:
    """Per-doc MinHash signature TABLE → key_cols + __h0..__h{k-1}.

    Computed as EXPLODE + one per-seed ``min`` aggregate over plain
    (non-lambda) expressions; each family member hashes
    ``gram + "\\x00" + str(h)``. DELIBERATELY NOT a higher-order
    ``array_min(transform(...))`` column: seeded hashing inside
    transform() lambdas MIS-EVALUATES on this Spark build —
    ``xxhash64(lambdavar, lit(h))`` ignores the seed child entirely
    (the analyzed plan shows ``xxhash64(lambda x, h, 42)`` yet every
    seed returns one identical number), and even the concat-the-seed
    lambda form returns DIFFERENT values for the same input on the
    first vs second invocation in one session (reproduced; the values
    drift with analyzer state). The first bug silently collapsed the
    whole family to ONE hash function: bands became b copies of the
    same key, the LSH S-curve degenerated to P(collision)=j, and any
    widely-shared low-hash shingle (e.g. a ``<EMAIL>`` redaction gram)
    put a large corpus fraction into one bucket in EVERY band —
    O(hot²) candidates, executor OOM at the 2M composite bench leg.
    Recall tests passed throughout because true near-dups share
    min-grams even under one hash function; tests/test_hash.py now pins
    per-seed variation, cross-invocation determinism, and equality with
    a directly-computed reference.

    Scale shape: the explode emits NARROW (key, gram) rows and every
    ``min`` is map-side combinable, so the one added shuffle carries
    |docs|×|grams| short rows partially-aggregated down to |docs| —
    the honest price of keeping the hash family off the broken lambda
    path. Callers must filter empty gram sets BEFORE calling (an empty
    set has no rows here, so it would silently vanish — and its
    all-NULL signature would otherwise bucket every empty doc together).
    """
    ex = g.select(*key_cols, F.explode(grams_col).alias("__g"))
    return ex.groupBy(*key_cols).agg(
        *[
            F.min(
                F.xxhash64(F.concat_ws("\x00", F.col("__g"), F.lit(str(h))))
            ).alias(f"__h{h}")
            for h in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_bucket: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    rows-per-band = num_hashes/bands; a pair collides in ≥1 band with
    probability 1-(1-j^r)^b (S-curve around j≈(1/b)^(1/r)). Candidates are
    exact-verified so false positives cost time, never correctness.

    ``block_col``: restrict candidate pairs to docs sharing this column's
    value (e.g. ``lang``) — the same blocking contract as
    :func:`ngram_jaccard_pairs`, so ``curate()`` gets an identical pair
    universe whichever near-dup backend it picks. Implemented as an extra
    equi-key on the bucket join (never a post-filter), so cross-block
    bucket collisions are pruned by the shuffle hash, not materialized.
    NULL-blocked docs are EXCLUDED from all pairing (equi-join keys drop
    NULLs) — the same contract as ``ngram_jaccard_pairs``; coalesce a
    nullable block column to a sentinel value first if NULL-lang docs
    should still pair among themselves (ADVICE r6).

    ``max_bucket``: SKIP buckets holding more than this many docs (the
    LSH analogue of mirror_hosts' df-per-hash guard). A template farm —
    thousands of near-identical pages that exact dedup can't collapse —
    legitimately lands its whole cohort in one bucket per band, and the
    candidate self-join goes O(cohort²) on it. The guard drops those
    buckets via a broadcast anti-join on the (tiny) hot-bucket list and
    reports ``stats["hot_buckets"]`` so the run is LOUD about what it
    pruned; pairs inside a skipped cohort are only lost if the pair
    collides in no other (cooler) band. Default None preserves complete
    banding semantics.

    Scale shape: explode to (doc, band, band_key) — |docs|×bands rows —
    then a groupBy band bucket; hot buckets are bounded by collision rate
    (post-guard: by ``max_bucket``), and the final verify joins only
    candidate ids back to their gram sets.
    """
    r = num_hashes // bands
    base = [F.col(id_col).alias("id"), F.col(text_col)]
    if block_col is not None:
        base.append(F.col(block_col).alias("__blk"))
    blk = ["__blk"] if block_col is not None else []
    gram_cols = ["id", word_ngrams(F.col(text_col), n).alias("grams")] + blk
    g = (
        _spread(df.select(*base))
        .select(*gram_cols)
        # docs with no n-grams (< n tokens) can never be near-dups of
        # anything (Jaccard 0 by convention); dropping them here also keeps
        # them out of the banding stage entirely
        .filter(F.size("grams") > 0)
        # persisted: g feeds the signature explode AND both verify
        # join-backs — uncached, the tokenize+shingle pipeline (the
        # operator's dominant CPU cost) evaluates three times per run
        .persist()
    )
    # signature TABLE via explode + per-seed min aggregate — see
    # minhash_signatures' docstring for why this is NOT a higher-order
    # array_min(transform(...)) column (seeded hashing inside lambdas
    # mis-evaluates on this Spark build)
    # persisted: banded feeds BOTH sides of the bucket self-join —
    # uncached, the explode+agg signature shuffle would run twice
    sig = minhash_signatures(
        g, num_hashes, grams_col="grams", key_cols=tuple(["id"] + blk)
    ).persist()
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",", *[F.col(f"__h{b * r + i}") for i in range(r)]
                )
            ).alias("key"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "id", F.explode(F.array(*band_cols)).alias("bk"), *blk
    ).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"), *blk
    )
    if max_bucket is not None:
        hot = (
            banded.groupBy("band", "key", *blk)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("band", "key", *blk)
            # the hot list is pathological-buckets-only — materialize it
            # once (it feeds the anti-join AND the stats count)
            .localCheckpoint(eager=True)
        )
        if stats is not None:
            stats["hot_buckets"] = hot.count()
            # size the recall exposure, not just the bucket count
            # (ADVICE r6): how many distinct docs had at least one
            # banded row pruned — those are the docs whose near-dups
            # can only be found via a cooler band
            stats["docs_in_hot_buckets"] = (
                banded.join(
                    F.broadcast(hot), ["band", "key"] + blk, "left_semi"
                )
                .select("id")
                .distinct()
                .count()
            )
        banded = banded.join(
            F.broadcast(hot), ["band", "key"] + blk, "left_anti"
        )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "key"] + blk)
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("doc_a"), F.col("y.id").alias("doc_b"))
        .distinct()
    )
    return _verify_pairs(
        cand, g, jaccard, ("doc_a", "doc_b", "jacc"), threshold, (g, sig)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

@F.pandas_udf(T.LongType())
def simhash64_udf(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens (vectorized numpy popcount).

    Token hash = splitmix64 of Python's stable md5-derived int (NOT
    builtin hash(), which is salted per-process). Deterministic everywhere.
    """
    import hashlib

    out = np.empty(len(texts), dtype=np.int64)
    bit_idx = np.arange(64, dtype=np.uint64)
    for i, t in enumerate(texts):
        toks = (t or "").lower().split()
        if not toks:
            out[i] = 0
            continue
        hs = np.fromiter(
            (
                int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "little")
                for w in toks
            ),
            dtype=np.uint64,
            count=len(toks),
        )
        bits = ((hs[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        sig = np.uint64(0)
        for b in range(64):
            if votes[b] > 0:
                sig |= np.uint64(1) << np.uint64(b)
        out[i] = sig.astype(np.int64) if sig < (1 << 63) else np.int64(sig - (1 << 64))
    return pd.Series(out)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with SimHash hamming distance ≤ max_hamming.

    Candidate generation: 4 × 16-bit bands (pigeonhole: distance ≤ 3 ⇒ at
    least one identical band). Verification: exact popcount on the pair.
    """
    s = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col))).select(
        "id", simhash64_udf(F.col(text_col)).alias("sig")
    )
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("sig"), 16 * b).bitwiseAND(F.lit(0xFFFF)).alias("key"),
        )
        for b in range(4)
    ]
    banded = s.select("id", "sig", F.explode(F.array(*bands)).alias("bk")).select(
        "id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), on=["band", "key"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("doc_a"),
            F.col("y.id").alias("doc_b"),
            F.col("x.sig").alias("sa"),
            F.col("y.sig").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------------
# span-level global dedup (C4-style)
# --------------------------------------------------------------------------

def dedup_spans(
    df: DataFrame,
    span: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove all but the FIRST occurrence of every ``span``-token span
    corpus-wide, then reassemble each doc from its surviving spans — the
    C4 "discard all but one of any three-sentence span occurring more
    than once in the dataset" rule, at fixed token-window granularity
    (word-soup corpora have no sentence boundaries; C4's spans become
    non-overlapping ``span``-token windows of the shared whitespace
    tokenizer).

    "First" is total and engine-portable: the occurrence with the
    smallest ``(doc_id, span_idx)`` wins, including within-doc repeats.
    Output: one row per non-empty doc — ``(id, n_spans, n_spans_kept,
    text_dedup)``; a doc whose every span was seen earlier survives with
    ``n_spans_kept = 0`` and empty ``text_dedup`` (the caller decides the
    drop threshold — C4 drops empties downstream).

    100 TB shape: two corpus-sized exchanges, both unavoidable for a
    GLOBAL span dedup (the span text must meet its duplicates somewhere):
    (1) hash-agg by span text with map-side partial ``min(struct(id,
    idx))`` — the winner struct, NOT the row set, crosses the wire for
    repeated spans; (2) regroup of surviving spans by doc id for
    reassembly. The final count join reuses exchange (2)'s hash
    partitioning (join key == the regroup key, so only the narrow
    ``(id, n_spans)`` projection moves — requireAllClusterKeys holds).
    Span explosion itself is a zero-shuffle flatMap pipelined into the
    scan, exactly like :func:`~nlnieuwscrawler_spark.operators.sampling.
    chunk_documents`. Known trade: the narrow (id, n_spans) base for the
    final join re-tokenizes the corpus (a second scan+split, no shuffle)
    rather than persisting the token arrays — at web scale the extra
    scan is cheaper and safer than caching a text-sized column; deriving
    the counts from the span explode instead would re-evaluate that same
    subtree, not save it.
    """
    from nlnieuwscrawler_spark.functions.text import tokens_col_text

    tokd = df.select(
        id_col, tokens_col_text(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") > 0)
    toks = F.col("__toks")
    starts = F.sequence(F.lit(1), F.size(toks), F.lit(span))
    spans = tokd.select(
        id_col,
        F.posexplode(
            F.transform(starts, lambda s: F.slice(toks, s, span))
        ).alias("span_idx", "__sp"),
    ).select(id_col, "span_idx", F.concat_ws(" ", "__sp").alias("span"))

    # global first occurrence per distinct span: lexicographic struct min
    # is associative → map-side combine; only one (id, idx) winner per
    # distinct span reaches the reduce side
    kept = (
        spans.groupBy("span")
        .agg(F.min(F.struct(id_col, "span_idx")).alias("w"))
        .select(
            F.col(f"w.{id_col}").alias(id_col),
            F.col("w.span_idx").alias("span_idx"),
            "span",
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_spans_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                lambda s: s["span"],
            ),
        ).alias("text_dedup"),
    )
    counts = tokd.select(
        id_col, F.size(starts).cast("long").alias("n_spans")
    )
    return counts.join(rebuilt, on=id_col, how="left").select(
        id_col,
        "n_spans",
        F.coalesce("n_spans_kept", F.lit(0)).cast("long").alias("n_spans_kept"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


def mirror_hosts(
    docs: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    min_shared: int = 2,
    max_hosts_per_hash: int = 50,
) -> DataFrame:
    """Mirror-site detection → (host_a, host_b, shared_docs): host
    pairs whose pages carry identical content fingerprints — the
    site-level aggregate of exact dedup that lets a crawler collapse
    mirrors (ftp.x.org vs www.x.org, country CDNs, scraped re-hosts)
    into ONE crawl budget instead of re-fetching every copy.

    A (host, md5(text)) pair table is deduped, hashes carried by more
    than ``max_hosts_per_hash`` hosts are DROPPED before pairing —
    content on 1000 hosts is boilerplate, not mirroring, and would
    otherwise explode into C(1000,2) pairs — then one hash-keyed
    self-join counts distinct shared fingerprints per host pair;
    pairs below ``min_shared`` are noise (one shared page is a quote
    or a wire copy, not a mirror).

    100 TB shape: everything after the md5 projection is narrow
    (host, 16-byte hash) rows; the df-per-hash guard bounds the
    self-join fan-out to ``max_hosts_per_hash``² per hash; the pair
    count is a map-side-combinable agg on (host_a, host_b).
    """
    ph = docs.select(
        F.col(host_col).alias("host"), F.md5(F.col(text_col)).alias("__h")
    ).distinct()
    eligible = (
        ph.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__nh"))
        .filter(
            (F.col("__nh") >= 2) & (F.col("__nh") <= max_hosts_per_hash)
        )
        .select("__h")
    )
    p = ph.join(eligible, "__h")
    a = p.select(F.col("__h"), F.col("host").alias("host_a"))
    b = p.select(F.col("__h").alias("__hb"), F.col("host").alias("host_b"))
    return (
        a.join(b, (F.col("__h") == F.col("__hb"))
               & (F.col("host_a") < F.col("host_b")))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_docs"))
        .filter(F.col("shared_docs") >= F.lit(min_shared))
    )


def host_dup_stats(
    df: DataFrame,
    host_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-host duplicate mass → (host, n_docs, n_unique, n_dup,
    dup_ratio): how much of each host's crawled page set is exact
    duplicate content (md5 of the text). The crawl-budget signal
    ``plan_crawl`` wants next to PageRank/change-rate: a host where 60%
    of fetches return already-seen bytes is a template farm or a
    calendar trap, and its quota should fall regardless of authority.
    Site-LEVEL pairwise overlap (mirror detection) is
    :func:`mirror_hosts`; this is the cheap within-host rollup.

    100 TB shape: one map-side-combinable two-phase aggregate over the
    NARROW (host, md5) projection — partial distinct-on-(host, hash)
    then a per-host count — no joins, no windows, no text column past
    the scan (the md5 projects 16 bytes/row at the source).
    """
    h = df.select(
        F.col(host_col).alias("host"), F.md5(F.col(text_col)).alias("__h")
    )
    return (
        h.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct(F.col("__h")).cast("long").alias("n_unique"),
        )
        .select(
            "host",
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).alias("n_dup"),
            F.round(
                (F.col("n_docs") - F.col("n_unique")).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("dup_ratio"),
        )
    )
