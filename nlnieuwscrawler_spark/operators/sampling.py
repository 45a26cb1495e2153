"""Corpus-curation sampling operators for training-data pipelines.

- :func:`stratified_sample` — deterministic per-stratum (per-source) quota
  sampling, the "cap every source at N docs" step of corpus mixing.
- :func:`pack_sequences` — greedy bin-packing of per-doc token counts into
  fixed context-length bins, the batching step before tokenized training
  shards are written.

Both are pure functions of the input ids (no RNG): re-runs, engine swaps
and repartitionings produce identical outputs — the property that keeps
training corpora reproducible.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stratified_sample(
    df: DataFrame,
    strata_col: str = "source",
    quota: int = 10,
    id_col: str = "doc_id",
    salt: int = 8,
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Keep a deterministic ``quota``-sized sample per stratum.

    Docs rank within their stratum by ``md5(str(id))`` (uniform, engine-
    portable — DuckDB computes the identical hex digest) with the id as
    total tie-break; the ``quota`` smallest win. ``rank_col`` carries the
    1-based rank of each survivor.

    100 TB shape (VERDICT r4 #3 rewrite): ranking runs entirely on the
    NARROW ``(id, stratum, md5)`` projection — the fat payload columns
    (``text`` is most of a web corpus's bytes) never enter any exchange.
    Phase 1 ranks within (stratum, salt-bucket) partitions and prunes each
    bucket to ``quota`` (a doc ranked > quota inside its salt bucket can
    never make the stratum-wide top-quota — safe prune; same two-phase
    salted rank as the politeness ranker, operators/politeness.py, so the
    Zipf head stratum never lands in one task). Phase 2 ranks the
    ≤ salt×quota survivors per stratum exactly. The ≤ quota×strata winner
    ids then join back to the corpus as a broadcast, so the corpus side
    is a zero-shuffle scan + hash probe. Identical output to the
    single-window form at any salt.
    """
    key = F.md5(F.col(id_col).cast("string"))
    narrow = df.select(id_col, strata_col).withColumn("__rk", key)
    order = [F.col("__rk").asc(), F.col(id_col).asc()]
    if salt > 1:
        bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt))
        presel = (
            narrow.withColumn(
                "__srank",
                F.row_number().over(
                    Window.partitionBy(F.col(strata_col), bucket).orderBy(*order)
                ),
            )
            .filter(F.col("__srank") <= quota)
            .drop("__srank")
        )
    else:
        presel = narrow
    winners = (
        presel.withColumn(
            rank_col,
            F.row_number().over(Window.partitionBy(strata_col).orderBy(*order))
            .cast("long"),
        )
        .filter(F.col(rank_col) <= quota)
        .select(id_col, rank_col)
    )
    return df.join(F.broadcast(winners), on=id_col, how="inner")


def pack_sequences(
    df: DataFrame,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    capacity: int = 2048,
    n_buckets: int = 64,
) -> DataFrame:
    """Greedy first-fit-decreasing packing of docs into context-length bins.

    Output: one row per doc with ``bucket`` (hash shard), ``bin_id``
    (globally unique bin), ``bin_seq`` (the doc's position in its bin).
    Docs longer than ``capacity`` get a bin of their own (the downstream
    tokenizer truncates; packing must not silently drop them).

    100 TB shape: global optimal bin-packing is NP-hard and inherently
    sequential, so the corpus is sharded into ``n_buckets`` deterministic
    hash buckets (pure function of the id) and packed independently per
    bucket with first-fit-decreasing inside an ``applyInPandas`` — one
    shuffle by bucket, then embarrassingly parallel, each task O(d log d)
    in its bucket size. FFD wastes ≤ ~22% vs optimal in the worst case
    and far less on natural length distributions; per-bucket independence
    costs at most one partially-filled bin per bucket — at web scale a
    rounding error against the parallelism it buys.

    Determinism: bucket = f(id); within a bucket docs pack in
    (tokens DESC, id ASC) order with bins probed in creation order, so the
    assignment is reproducible across runs and repartitionings.
    """
    src = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets))
        .cast("int")
        .alias("bucket"),
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", src.schema["doc_id"].dataType, False),
            T.StructField("n_tokens", T.LongType(), False),
            T.StructField("bucket", T.IntegerType(), False),
            T.StructField("bin_id", T.LongType(), False),
            T.StructField("bin_seq", T.IntegerType(), False),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        bucket = int(pdf["bucket"].iloc[0])
        remaining: list[int] = []  # free space per local bin, creation order
        counts: list[int] = []  # docs per local bin (for bin_seq)
        bin_idx, bin_seq = [], []
        for tok in pdf["n_tokens"]:
            t = int(tok)
            for i, free in enumerate(remaining):
                if free >= t:
                    remaining[i] = free - t
                    counts[i] += 1
                    bin_idx.append(i)
                    bin_seq.append(counts[i])
                    break
            else:
                # new bin; an over-capacity doc still gets one (free goes
                # negative once, so nothing else ever joins it)
                remaining.append(capacity - t)
                counts.append(1)
                bin_idx.append(len(remaining) - 1)
                bin_seq.append(1)
        pdf["bin_id"] = (bucket << 32) + pd.Series(bin_idx, dtype="int64")
        pdf["bin_seq"] = pd.Series(bin_seq, dtype="int32")
        return pdf[["doc_id", "n_tokens", "bucket", "bin_id", "bin_seq"]]

    return src.groupBy("bucket").applyInPandas(pack, out_schema)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Split each doc into overlapping token windows → one row per chunk
    (doc_id, chunk_idx, n_chunk_tokens, chunk_text).

    The sequence-prep step between curation and tokenization: long docs
    become training-sized windows (``window`` tokens, ``stride`` hop —
    stride < window keeps cross-boundary context). All higher-order
    native expressions: tokenize → sequence of start offsets → slice per
    start → posexplode. No UDF, no shuffle at all — a pure per-row
    flatMap the optimizer pipelines into the scan, so at 100 TB it
    streams: input splits in, chunk rows out, zero exchanges.

    Trailing chunks may be shorter than ``window`` (never empty); docs
    with no tokens produce no rows.
    """
    from nlnieuwscrawler_spark.functions.text import tokens_col_text

    # tokenize once into a real column: a lambda-internal reference to the
    # split expression re-evaluates it per chunk (no CSE across the
    # LambdaFunction boundary)
    tokd = df.select(
        id_col, tokens_col_text(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    starts = F.when(
        F.size(toks) > 0,
        F.sequence(F.lit(1), F.size(toks), F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(starts, lambda s: F.slice(toks, s, window))
    return (
        tokd.select(
            id_col,
            F.posexplode(chunks).alias("chunk_idx", "__chunk"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.size("__chunk").cast("long").alias("n_chunk_tokens"),
            F.concat_ws(" ", "__chunk").alias("chunk_text"),
        )
    )


def importance_sample(
    df: DataFrame,
    weight,
    id_col: str = "doc_id",
    prob_col: str = "keep_prob",
    weight_col: str = "sample_weight",
) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep each row with
    probability ``weight`` (a Column in [0,1] or a column name), using an
    md5-derived uniform draw instead of an RNG — the quality-weighted
    corpus-mixing step (upsample high-quality sources, downsample boiler-
    plate) of a training-data pipeline, reproducible across runs, engines
    and repartitionings.

    The draw is ``int(md5(str(id))[:8], 16) / 2^32`` — a uniform double
    any engine computes bit-identically (a < 2^32 integer and a power-of-
    two divisor are both exact in IEEE754); a row survives iff
    ``draw < clamp(weight, 0, 1)``. Survivors carry ``prob_col`` (the
    clamped keep probability) and ``weight_col`` = 1/p, the inverse-
    propensity weight downstream loss accounting needs for an unbiased
    corpus estimate.

    100 TB shape: a pure projection + filter — zero shuffles, pipelined
    into the scan, trivially scale-free. SQL twin (the oracle):
    ``('0x' || substr(md5(id::VARCHAR),1,8))::UBIGINT / 4294967296.0``.
    """
    p_raw = F.col(weight) if isinstance(weight, str) else weight
    p = F.least(F.greatest(p_raw.cast("double"), F.lit(0.0)), F.lit(1.0))
    draw = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    return (
        df.withColumn(prob_col, p)
        .filter(draw < F.col(prob_col))
        .withColumn(weight_col, F.round(F.lit(1.0) / F.col(prob_col), 6))
    )


def select_top_percent(
    df,
    percent: int = 10,
    score_col: str = "score",
    by_col: str = "source",
    id_col: str = "doc_id",
):
    """Top-percent quality selection per group → (id, group,
    rank_in_source, n_source, keep): keep the best ``percent``% of each
    group's docs by score (ties → min id), the FineWeb-Edu cut ("keep
    the top 10% by classifier score") expressed as an exact integer
    rule — quota = ceil(n·P/100) via ``(n·P + 99) DIV 100``, so both
    engines agree without any float threshold. Complements
    ``stratified_sample`` (fixed quota, md5 draw) and ``domain_mix``
    (temperature weights): this one is score-ORDERED selection.

    100 TB shape: ranking runs on the NARROW (group, score, id)
    projection through ``global_sequence`` — the range-partitioned
    parallel rank, NO per-group single-task window, so one group owning
    30% of the corpus costs nothing extra (ordering by (group, -score,
    id) makes every group a contiguous seq run); per-group offsets and
    counts come from a |groups|-row broadcast agg, and the corpus text
    never enters any exchange (the caller joins survivors back by id,
    the stratified_sample lesson).
    """
    from nlnieuwscrawler_spark.operators.sequence import global_sequence

    narrow = df.select(
        F.col(by_col), F.col(id_col), F.col(score_col)
    ).withColumn("__neg", -F.col(score_col))
    ranked = global_sequence(
        narrow, [by_col, "__neg", id_col], seq_col="__seq"
    )
    per_group = ranked.groupBy(by_col).agg(
        F.min("__seq").alias("__min"),
        F.count(F.lit(1)).cast("long").alias("n_source"),
    )
    rank = F.col("__seq") - F.col("__min") + F.lit(1)
    quota = F.expr(f"(n_source * {int(percent)} + 99) DIV 100")
    return ranked.join(F.broadcast(per_group), by_col).select(
        F.col(id_col),
        F.col(by_col),
        rank.cast("long").alias("rank_in_source"),
        F.col("n_source"),
        (rank <= quota).alias("keep"),
    )


def shard_pack(
    df,
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    shard_tokens: int = 100_000,
):
    """Contiguous token-budget sharding → (id, n_tokens, running,
    shard_id, shard_pos): lay the corpus out in one deterministic order
    (the md5-of-id draw — engine-portable, clusters nothing) and cut it
    into training shards of ``shard_tokens`` tokens each. ``running`` is
    the inclusive corpus-wide token prefix sum; a doc belongs to the
    shard its FIRST token falls in (``(running - n) DIV shard_tokens``),
    so shards are contiguous runs of the manifest and every doc lands in
    exactly one — the shard manifest a trainer's data loader consumes
    (complement of :func:`pack_sequences`: bins pack WITHIN a context
    window, shards balance token mass ACROSS output files).

    100 TB shape: the only global dependency is the prefix sum, computed
    by ``global_running_sum`` — a range-partitioned parallel scan over
    the NARROW (order, id, n) projection with a |partitions|-row offset
    collect — NOT a ``SUM() OVER (ORDER BY ...)`` single-task window;
    ``shard_id``/``shard_pos`` are pure arithmetic on the scan output.
    Exactness: token counts are integral, so the prefix sum is exact and
    partition-layout free; DuckDB's window form reproduces it bit-for-bit.
    """
    from nlnieuwscrawler_spark.operators.sequence import global_running_sum

    narrow = df.select(
        F.col(id_col),
        F.col(tokens_col).cast("long").alias("__n"),
        F.md5(F.col(id_col).cast("string")).alias("__ord"),
    )
    scanned = global_running_sum(
        narrow, [F.col("__ord"), F.col(id_col)], "__n", sum_col="running"
    )
    # integer DIV/% — float division would lose exactness past 2^53 tokens
    return scanned.select(
        F.col(id_col),
        F.col("__n").alias("n_tokens"),
        F.col("running"),
        F.expr(f"(running - __n) DIV {int(shard_tokens)}")
        .cast("long")
        .alias("shard_id"),
        F.expr(f"(running - __n) % {int(shard_tokens)}")
        .cast("long")
        .alias("shard_pos"),
    )
