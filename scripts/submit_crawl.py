"""Cluster entrypoint for the crawl loop — the north-rule deployment shape.

Usage (cluster):

    zip -r nlnc_engine.zip nlnieuwscrawler_spark
    spark-submit \
        --master <cluster-master> \
        --deploy-mode client \
        --py-files nlnc_engine.zip \
        --conf spark.task.cpus=2 \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \
        scripts/submit_crawl.py \
        --pages <corpus parquet/Iceberg path> \
        --store <checkpoint store path> \
        --epochs 10

Local smoke (this sandbox): python scripts/submit_crawl.py --pages
/tmp/nlnc_bench_pages_20000 --store /tmp/nlnc_store --epochs 2

Config notes for a real 4N-executor run (BENCH/BASELINE.md):
- spark.task.cpus=2 on UDF-heavy stages (1 JVM + 1 Python worker/task);
- spark.sql.shuffle.partitions ≈ 2-3× total executor cores;
- a DURABLE checkpoint/store path (HDFS/S3) — the SnapshotStore commit is
  the crawl's resume point; swap SnapshotStore for real Iceberg tables by
  replacing sources/tableio.py read/commit calls (documented swap-in,
  sources/tableio.py module docstring);
- the crawl resumes exactly mid-frontier after any failure: re-run the
  same command, resume() picks up the latest committed manifest (and
  refuses a store written under a different fingerprint spec).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs from the repo root; on a cluster --py-files provides the zip
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="corpus parquet path")
    ap.add_argument("--store", required=True, help="SnapshotStore root")
    ap.add_argument("--epochs", type=int, default=10)
    ap.add_argument("--salt", type=int, default=32)
    ap.add_argument("--resume", action="store_true",
                    help="resume from the store instead of seeding")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from nlnieuwscrawler_spark.plans.crawler import Crawler, CrawlConfig
    from nlnieuwscrawler_spark.sources import fixtures
    from nlnieuwscrawler_spark.sources.tableio import SnapshotStore

    spark = SparkSession.builder.appName("nlnc-crawl").getOrCreate()
    pages = spark.read.parquet(args.pages)
    store = SnapshotStore(args.store)
    c = Crawler(
        spark, pages, fixtures.robots_df(spark), store,
        CrawlConfig(
            max_epochs=args.epochs,
            salt=args.salt,
            checkpoint=True,
            distributed_trace=True,
        ),
    )
    if args.resume:
        c.resume()
        while c.epoch < args.epochs and c.frontier.take(1):
            c.step()
    else:
        c.run(seeds=fixtures.seeds_df(spark))
    print(json.dumps({"epochs": c.epoch, "metrics": c.metrics_rows}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
