"""One more scale decade for the steepest r5 shapes (VERDICT r5 #5).

The r5 appendix's 100k→2M legs showed quality_classifier at 3.9×/20×,
perplexity_buckets at 4.2×/20× and lm_bigram_score as the heaviest
per-doc op (67.7 s checksum at 2M). This script runs exactly those three
at an arbitrary decade (default 20M docs — 400,000× the correctness
fixture) on the same deterministic word-soup corpus
(curation_scale_bench.gen_docs), confirming linearity or locating the
knee. lm_bigram_score gets per-stage attribution: the bigram-explode +
count agg (the LM fit) is timed separately from the scoring projection,
so if the distinct-bigram join ever dominates, the documented 64-bit
token pre-hash shrink has a number to beat.

Usage: python scripts/steep_scale_bench.py [n_docs] [cores]
``cores`` defaults to get_spark's (``SPARK_GRAFT_CPUS``, else every core).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else None

    from curation_scale_bench import gen_docs

    from pyspark.sql import functions as F

    from nlnieuwscrawler_spark.functions.text import (
        lm_bigram_score,
        perplexity_buckets,
        quality_classifier,
    )
    from nlnieuwscrawler_spark.session import get_spark

    spark = get_spark(
        "nlnc-steep-scale",
        master=f"local[{cores}]" if cores else None,
        shuffle_partitions=2 * cores if cores else None,
    )
    cores = spark.sparkContext.defaultParallelism
    path = f"/tmp/nlnc_curation_docs_{n_docs}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t0 = time.perf_counter()
        gen_docs(spark, n_docs).write.mode("overwrite").parquet(path)
        print(json.dumps({"op": "gen_corpus", "n_docs": n_docs,
                          "sec": round(time.perf_counter() - t0, 2)}))
    docs = spark.read.parquet(path)

    timings: dict[str, float] = {}

    def run(name, df, checksum=False):
        t0 = time.perf_counter()
        if callable(df):
            df = df()
        if checksum:
            df.select(
                F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
                F.count(F.lit(1)).alias("n"),
            ).collect()
            n = -1
        else:
            n = df.count()
        timings[name] = round(time.perf_counter() - t0, 2)
        print(json.dumps({"op": name, "rows": n, "sec": timings[name]}),
              flush=True)

    run("quality_classifier", quality_classifier(docs), checksum=True)

    # lm_bigram_score with stage attribution: (a) the corpus LM fit —
    # bigram explode + two map-side-combined count aggs; (b) the full op
    # (fit + per-doc scoring join). (b) - (a) isolates the scoring side.
    from nlnieuwscrawler_spark.functions.text import tokens_col_text

    t0 = time.perf_counter()
    toks = docs.select(
        "doc_id", tokens_col_text(F.col("text")).alias("__t")
    )
    big = toks.select(
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size("__t") - 1, F.lit(0))
                ),
                lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i, 2)),
            )
        ).alias("bg")
    )
    big.groupBy("bg").agg(F.count(F.lit(1)).alias("n")).agg(
        F.count(F.lit(1)), F.sum("n")
    ).collect()
    timings["lm_fit_only"] = round(time.perf_counter() - t0, 2)
    print(json.dumps({"op": "lm_fit_only", "sec": timings["lm_fit_only"]}),
          flush=True)

    run("lm_bigram_score", lm_bigram_score(docs), checksum=True)
    run("perplexity_buckets", lambda: perplexity_buckets(docs))

    print(json.dumps({"n_docs": n_docs, "cores": cores, "timings": timings}))


if __name__ == "__main__":
    main()
