"""The multi-epoch crawl loop: checkpointed, resumable, metric-emitting.

north_rule: "every epoch checkpoints frontier + Bloom state to Iceberg with
per-partition lineage and fetch/dedup metrics so the crawl resumes exactly
mid-frontier". Each epoch commits an atomic snapshot through
:class:`~nlnieuwscrawler_spark.sources.tableio.SnapshotStore`: the frontier
and the Bloom partitions are replaced, and the epoch's crawl-log rows and
newly seen keys are appended as one more part of the ``crawl_log`` and
``seen_keys`` tables. ``resume`` reconstructs the exact mid-crawl state from
the latest committed manifest — the kill-and-resume test asserts the resumed
crawl_log is identical to an uninterrupted run.

The snapshot write doubles as the per-epoch lineage cut: reading the
committed parquet back truncates the logical plan, so epoch N+1's plan
doesn't re-derive epochs 1..N (the classic iterative-job blowup).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nlnieuwscrawler_spark import spec
from nlnieuwscrawler_spark.operators import asof, seen as seen_op
from nlnieuwscrawler_spark.plans import epoch as epoch_plan
from nlnieuwscrawler_spark.sources.tableio import SnapshotStore

SEEN_SCHEMA = "url_fp long"
# run_epoch's crawl_log columns: the log of a crawl that ran no epoch
CRAWL_LOG_SCHEMA = (
    "epoch int, seq long, url string, url_fp long, host string, depth int, "
    "fetch_ts timestamp, status string, title string, text_sha string, "
    "page_lang string"
)


@dataclass
class CrawlConfig:
    max_epochs: int = 10
    salt: int = 1
    bloom_partitions: int = 32
    bloom_expected_keys: int = 1 << 20
    use_bloom: bool = True
    checkpoint: bool = True
    epoch_seconds: float | None = None  # None → spec.EPOCH_SECONDS (30s)
    distributed_trace: bool = False  # distributed seq (recrawl-scale epochs)


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame,
        store: SnapshotStore | None,
        config: CrawlConfig | None = None,
    ):
        self.spark = spark
        self.config = config or CrawlConfig()
        self.robots = robots
        # Pre-reduce the corpus to one row per url ONCE (the as-of index),
        # hash-partitioned to the session's shuffle-partition count and
        # sorted by the join key: the cached node then SATISFIES the
        # per-epoch fetch join's distribution+ordering requirement, so the
        # wide html payload is shuffled and sorted ZERO times per epoch —
        # only the narrow frontier side moves.
        #
        # Round 4: the fetch join is on url_fp ALONE. The r3 two-key
        # (url_fp, url) form satisfied requireAllClusterKeysForCoPartition
        # by forcing the url STRING through every frontier-side rank+join
        # shuffle; fp-only partitioning (+ fp-only join in run_epoch) lets
        # every per-epoch shuffle move 8-byte keys instead. An fp-only
        # join demands an FP-UNIQUE index for the crawl-log row-count
        # invariant (exactly one joined row per scheduled URL), so a
        # deterministic min-url winner is kept per colliding fp. The
        # collision set is computed NARROW (url column only, once per
        # crawl, inside the cached lineage) and broadcast — it is empty
        # unless a true 64-bit collision exists (~3e-3 expected collisions
        # at the 10^10 north scale; a loser URL logs as status=miss via
        # run_epoch's post-join url-equality guard instead of fetching a
        # wrong page).
        from nlnieuwscrawler_spark.functions import urls as U

        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # single-corpus-shuffle build: repartition by fp once, window-pick
        # the latest capture per (fp, url) in place (operators/asof.py:
        # latest_snapshot_clustered) — the collision subtree re-derives the
        # same lineage but column pruning keeps it to (url, warc_ts), so
        # the fat html crosses exactly ONE exchange for the whole crawl
        base = asof.latest_snapshot_clustered(
            pages, "url", "warc_ts",
            U.url_fingerprint(F.col("url")), n_shuffle,
        ).withColumnRenamed("__fp", "url_fp")
        colliding = (
            base.groupBy("url_fp")
            .agg(F.count("*").alias("__n"), F.min("url").alias("__win_url"))
            .filter(F.col("__n") > 1)
            .select("url_fp", "__win_url")
        )
        self.pages_latest = (
            base.join(F.broadcast(colliding), "url_fp", "left")
            .filter(
                F.col("__win_url").isNull()
                | (F.col("url") == F.col("__win_url"))
            )
            .drop("__win_url")
            .sortWithinPartitions("url_fp")
            .persist()
        )
        self.store = store
        self.epoch = 0
        self.seq_base = 0
        self.frontier: DataFrame | None = None
        self.seen_keys: DataFrame | None = None
        self.bloom: seen_op.BloomSeenSet | None = None
        self.crawl_log_parts: list[DataFrame] = []
        self.metrics_rows: list[dict] = []

    # -- lifecycle -----------------------------------------------------------
    def start(self, seeds: DataFrame) -> None:
        # a fresh crawl: its first commit replaces whatever the store holds
        self.epoch = self.seq_base = 0
        self.metrics_rows, self.crawl_log_parts = [], []
        # materialize: the seed frontier is consumed by several jobs per
        # epoch; lazy, it would re-canonicalize the seed list in each one
        self.frontier = epoch_plan.seeds_frontier(seeds).localCheckpoint(eager=True)
        # limit(0) folds to an empty local relation, so epoch 0's unseen
        # anti-join drops out of the plan; an empty local list alone is an
        # RDD scan the optimizer cannot see is empty, and the join would run
        self.seen_keys = self.spark.createDataFrame([], SEEN_SCHEMA).limit(0)
        if self.config.use_bloom:
            self.bloom = seen_op.BloomSeenSet.empty(
                self.spark,
                self.config.bloom_partitions,
                self.config.bloom_expected_keys,
            )

    def resume(self) -> None:
        """Reconstruct exact mid-crawl state from the latest committed snapshot."""
        assert self.store is not None, "resume requires a SnapshotStore"
        m = self.store.read_manifest()
        if m is None:
            raise RuntimeError("nothing to resume from")
        # seen_keys/frontier/lineage are keyed by url_fp: resuming under a
        # different fingerprint function would recompute non-matching fps
        # and silently re-admit already-crawled URLs. Refuse loudly instead.
        # (Manifests written before the stamp existed carry no field and
        # are accepted as-is — the stamp has never changed since.)
        stamp = m.get("fingerprint_spec")
        if stamp is not None and stamp != spec.FINGERPRINT_SPEC:
            raise RuntimeError(
                "snapshot was written under fingerprint spec "
                f"{stamp!r} but this engine computes {spec.FINGERPRINT_SPEC!r};"
                " resume would silently re-admit crawled URLs —"
                " re-fingerprint the store or run the matching engine version"
            )
        self.epoch = int(m["extra"]["next_epoch"])
        self.seq_base = int(m["extra"]["seq_base"])
        self.frontier = self.store.read_table(self.spark, "frontier")
        self.seen_keys = self.store.read_table(self.spark, "seen_keys")
        if self.config.use_bloom:
            # partition rows stay distributed — resume never collects bitmaps
            self.bloom = seen_op.BloomSeenSet.from_df(
                self.store.read_table(self.spark, "bloom"),
                self.config.bloom_partitions,
            )

    # -- the loop --------------------------------------------------------------
    def step(self) -> dict:
        """Run one epoch; returns the epoch's metrics row."""
        res = epoch_plan.run_epoch(
            self.frontier,
            self.pages_latest,
            self.robots,
            self.seen_keys,
            epoch=self.epoch,
            salt=self.config.salt,
            seq_base=self.seq_base,
            epoch_seconds=self.config.epoch_seconds,
            distributed_trace=self.config.distributed_trace,
        )
        # materialize the epoch's log ONCE via localCheckpoint, collecting
        # the status counts DURING that job with the Observation API — the
        # metrics ride the materialization pass instead of costing a
        # separate groupBy job per epoch (r1: persist + groupBy + eager
        # checkpoint = 3 passes; now: 1)
        from pyspark.sql import Observation

        obs = Observation()
        log_cached = res.crawl_log.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("status") == "ok").alias("ok"),
            F.count_if(F.col("status") == "lang").alias("lang"),
            F.count_if(F.col("status") == "miss").alias("miss"),
        ).localCheckpoint(eager=True)
        o = obs.get  # available once the checkpoint job finished
        by_status = {k: o[k] for k in ("ok", "lang", "miss") if o[k]}
        attempts = int(o["n"])
        new_keys = res.new_seen.select("url_fp")

        if self.config.use_bloom:
            # one executor-side cogroup update; driver sees a counter only
            self.bloom.add_keys(res.new_seen, "url_fp")

        if self.store is not None and self.config.checkpoint:
            bloom_df = (
                self.bloom.to_df() if self.config.use_bloom
                else self.spark.createDataFrame([], seen_op.FILTER_SCHEMA)
            )
            version = self.store.commit(
                self.spark,
                {
                    "frontier": res.frontier,
                    "seen_keys": new_keys,
                    "bloom": bloom_df,
                    "crawl_log": log_cached,
                },
                epoch=self.epoch,
                extra={"next_epoch": self.epoch + 1, "seq_base": self.seq_base + attempts},
                # a fresh crawl's first epoch replaces what an earlier crawl
                # left in the store; resume() always sets epoch >= 1
                append=("seen_keys", "crawl_log") if self.epoch > 0 else (),
            )
            # read back committed state: truncates lineage AND is the resume path
            self.frontier = self.store.read_table(self.spark, "frontier", version)
            self.seen_keys = self.store.read_table(self.spark, "seen_keys", version)
        else:
            self.frontier = res.frontier.localCheckpoint(eager=True)
            self.seen_keys = self.seen_keys.unionByName(new_keys).localCheckpoint(eager=True)
            self.crawl_log_parts.append(log_cached)
        for c in res.cached:
            c.unpersist()

        metrics = {
            "epoch": self.epoch,
            "attempted": attempts,
            "fetched_ok": by_status.get("ok", 0),
            "lang_rejected": by_status.get("lang", 0),
            "missing": by_status.get("miss", 0),
        }
        self.metrics_rows.append(metrics)
        self.seq_base += attempts
        self.epoch += 1
        return metrics

    def run(self, seeds: DataFrame | None = None, max_epochs: int | None = None) -> dict:
        if seeds is not None:
            self.start(seeds)
        n = max_epochs if max_epochs is not None else self.config.max_epochs
        for _ in range(n):
            if not self.frontier.take(1):
                break
            self.step()
        return {
            "epochs": self.epoch,
            "total_attempted": self.seq_base,
            "metrics": self.metrics_rows,
        }

    # -- outputs ---------------------------------------------------------------
    def crawl_log(self) -> DataFrame:
        if self.store is not None and self.config.checkpoint and self.epoch > 0:
            return self.store.read_table(self.spark, "crawl_log")
        parts = self.crawl_log_parts
        if not parts:
            return self.spark.createDataFrame([], CRAWL_LOG_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def seen(self) -> DataFrame:
        return self.seen_keys

    METRICS_SCHEMA = (
        "epoch int, attempted long, fetched_ok long, lang_rejected long, missing long"
    )

    def metrics_df(self) -> DataFrame:
        """O18: per-epoch fetch/dedup metrics as a DataFrame (empty-safe)."""
        if not self.metrics_rows:
            return self.spark.createDataFrame([], self.METRICS_SCHEMA)
        return self.spark.createDataFrame(
            pd.DataFrame(self.metrics_rows), self.METRICS_SCHEMA
        )

    def metrics_cube(self) -> DataFrame:
        """O18 rollups: per-(epoch, host, status) counts with cube totals
        over the crawl log (grouping_id distinguishes the levels)."""
        return (
            self.crawl_log()
            .cube("epoch", "host", "status")
            .agg(F.count("*").alias("n"), F.grouping_id().alias("gid"))
            .orderBy("gid", "epoch", "host", "status")
        )
