#!/usr/bin/env python3
"""VERDICT r6 #6: curate() near-dup mode parity at bench scale.

Runs curate(near_dup='minhash') vs curate(near_dup='jaccard') over the
same deterministic 100k-doc corpus (curation_scale_bench.gen_docs, ~1%
planted near-copies at doc_id % 97 == 1) with the shared block_col, and
reports:

- keeps per mode, and the symmetric difference of the keep sets;
- how many PLANTED near-dup ids (doc_id % 97 == 1, doc_id > 0) each
  mode dropped (both must drop essentially all of them — LSH may miss
  only pairs that collide in no band);
- wall seconds per mode.

Usage: python scripts/curate_parity_leg.py [n_docs]
Prints one JSON line; cite it in BENCH/BASELINE.md §r7.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000

    from curation_scale_bench import gen_docs

    from pyspark.sql import functions as F

    from nlnieuwscrawler_spark.operators.curate import curate
    from nlnieuwscrawler_spark.session import get_spark

    spark = get_spark("curate-parity")
    docs = gen_docs(spark, n_docs).withColumn("lang", F.lit("nl"))
    docs.persist().count()

    out: dict = {"op": "curate_neardup_parity", "n_docs": n_docs}
    keeps: dict[str, set] = {}
    for mode in ("minhash", "jaccard"):
        t0 = time.perf_counter()
        res = curate(
            docs,
            near_dup=mode,
            near_dup_threshold=0.7,
            near_dup_block="lang",
            quota=10**9,  # quota larger than any stratum: sampling keeps all
            span_dedup=None,
        )
        kept = {
            r["doc_id"] for r in res.curated.select("doc_id").collect()
        }
        res.unpersist()
        out[f"{mode}_sec"] = round(time.perf_counter() - t0, 2)
        out[f"{mode}_keeps"] = len(kept)
        keeps[mode] = kept

    planted = {
        i for i in range(1, n_docs) if i % 97 == 1 and i > 0
    }
    sym = keeps["minhash"] ^ keeps["jaccard"]
    out["planted"] = len(planted)
    out["planted_dropped_minhash"] = len(planted - keeps["minhash"])
    out["planted_dropped_jaccard"] = len(planted - keeps["jaccard"])
    out["keepset_symmetric_diff"] = len(sym)
    # LSH can only MISS pairs (never invents drops a verify would reject),
    # so the jaccard keep set must be a subset of the minhash keep set up
    # to banding misses: everything minhash dropped, jaccard dropped too.
    out["minhash_drops_not_in_jaccard_drops"] = len(
        keeps["jaccard"] - keeps["minhash"]
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
