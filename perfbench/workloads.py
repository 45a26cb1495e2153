"""The benchmark's workloads: seeded inputs, one closed-loop unit, output checks.

A workload is driven in four steps by ``run.py``:

1. ``generate()`` makes (or reuses) its inputs under ``<work>/inputs``.
   Inputs are cached per (size, seed) behind a ``_SUCCESS`` marker; the
   time is reported, never timed.
2. ``prepare()`` does the untimed work a user does once per process
   (reading the corpus, building the crawler).
3. ``unit()`` is one closed-loop unit of work (a crawl epoch, a curate
   run); the next unit starts only after the previous one returned.
4. ``check()`` verifies the outputs after the timed loop and returns the
   indexes of units whose output was wrong.

``unit_s`` is the nominal time of one unit on a 4-core box; ``run.py``
turns ``--seconds`` into a fixed unit count with it. ``wrap(tracer)``
names the layer functions the traced run records.
Each workload sees only the inputs generated from its seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd

# -- crawl ---------------------------------------------------------------------

CRAWL_PAGES = 5000
CRAWL_EXTRA_SEEDS = 256
LOG_COLS = ["epoch", "seq", "url", "url_fp", "host", "depth", "fetch_ts", "status"]


def crawl_extra_seed_urls(seed: int, n_pages: int = CRAWL_PAGES) -> list[str]:
    """Corpus URLs added to the fixture seed list; a pure function of the seed."""
    from nlnieuwscrawler_spark.sources.fixtures import page_url

    ids = np.random.default_rng(seed).choice(n_pages, size=CRAWL_EXTRA_SEEDS, replace=False)
    return [page_url(int(i)) for i in sorted(ids)]


def _log_rows(df: pd.DataFrame) -> list[tuple]:
    """Crawl-log rows in seq order, timestamps as ISO strings."""
    df = df[LOG_COLS].sort_values("seq")
    return [
        (int(r.epoch), int(r.seq), r.url, int(r.url_fp), r.host, int(r.depth),
         pd.Timestamp(r.fetch_ts).isoformat(), r.status)
        for r in df.itertuples(index=False)
    ]


def _write_atomically(final: str, write) -> None:
    """Run ``write(tmp_dir)``, mark it ``_SUCCESS`` and move it into place."""
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "a").close()
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


class CrawlWorkload:
    """Politeness-bound multi-epoch crawl from the fixture seeds + seeded extras."""

    name = "crawl"
    unit_s = 7.5  # nominal epoch time on a 4-core box

    def __init__(self, spark, work_dir: str, seed: int, n_pages: int = CRAWL_PAGES):
        self.spark = spark
        self.seed = seed
        self.n_pages = n_pages
        self.inputs = os.path.join(work_dir, "inputs")
        self.pages_path = os.path.join(self.inputs, f"pages-n{n_pages}")
        self.crawler = None

    def generate(self) -> None:
        if os.path.exists(os.path.join(self.pages_path, "_SUCCESS")):
            return
        from nlnieuwscrawler_spark.sources import fixtures

        _write_atomically(
            self.pages_path,
            lambda tmp: fixtures.gen_pages_spark(self.spark, self.n_pages)
            .write.parquet(os.path.join(tmp, "pages")),
        )

    def seed_rows(self) -> list[dict]:
        from nlnieuwscrawler_spark.sources import fixtures

        extra = [
            {"url": u, "host": None, "priority": 0.0, "depth": 0}
            for u in crawl_extra_seed_urls(self.seed, self.n_pages)
        ]
        return fixtures.seeds_rows() + extra

    def prepare(self) -> None:
        from nlnieuwscrawler_spark.plans.crawler import CrawlConfig, Crawler
        from nlnieuwscrawler_spark.sources import fixtures

        pages = self.spark.read.parquet(os.path.join(self.pages_path, "pages"))
        seeds = self.spark.createDataFrame(
            pd.DataFrame(self.seed_rows()),
            "url string, host string, priority double, depth int",
        )
        self.crawler = Crawler(
            self.spark,
            pages,
            fixtures.robots_df(self.spark),
            store=None,
            config=CrawlConfig(checkpoint=False, use_bloom=True),
        )
        self.crawler.start(seeds)

    def unit(self) -> int:
        before = self.crawler.epoch
        # Crawler.run's own loop body: the frontier probe, then one step
        self.crawler.run(max_epochs=1)
        if self.crawler.epoch == before:
            raise RuntimeError("frontier ran dry before the run's epochs ended")
        return self.crawler.metrics_rows[-1]["attempted"]

    def check_unit(self, index: int) -> bool:
        return True  # the oracle comparison covers the whole crawl at the end

    def oracle(self, epochs: int) -> dict:
        """Oracle crawl log and seen set, cached per (size, seed, epochs)."""
        path = os.path.join(
            self.inputs, f"oracle-crawl-n{self.n_pages}-seed{self.seed}-e{epochs}.json"
        )
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        from nlnieuwscrawler_spark.oracle.pycrawler import OracleCrawler

        pages = pd.read_parquet(os.path.join(self.pages_path, "pages"))
        o = OracleCrawler(pages)
        o.seed([r["url"] for r in self.seed_rows()])
        o.run(epochs)
        out = {"log": _log_rows(o.crawl_log_df()), "seen": sorted(o.seen_set())}
        with open(path + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(path + ".tmp", path)
        return json.loads(json.dumps(out))  # same shapes as a cache hit

    def check(self, n_units: int) -> set[int]:
        """Epochs whose crawl-log rows differ from the oracle's; a seen-set
        mismatch fails the last epoch."""
        want = self.oracle(n_units)
        got = _log_rows(self.crawler.crawl_log().select(*LOG_COLS).toPandas())
        got = [list(r) for r in got]
        failed = {
            e
            for e in range(n_units)
            if [r for r in got if r[0] == e] != [r for r in want["log"] if r[0] == e]
        }
        seen = sorted(r["url_fp"] for r in self.crawler.seen().collect())
        if seen != want["seen"]:
            failed.add(n_units - 1)
        return failed

    def wrap(self, tracer) -> None:
        from nlnieuwscrawler_spark.operators import seen
        from nlnieuwscrawler_spark.plans import crawler, epoch

        tracer.wrap(crawler.Crawler, "run", "plans.crawler.Crawler.run")
        tracer.wrap(crawler.Crawler, "step", "plans.crawler.Crawler.step")
        tracer.wrap(epoch, "run_epoch", "plans.epoch.run_epoch")
        tracer.wrap(seen.BloomSeenSet, "add_keys", "operators.seen.BloomSeenSet.add_keys")
        tracer.wrap(seen, "filter_unseen", "operators.seen.filter_unseen")


# -- curate --------------------------------------------------------------------

CURATE_DOCS = 3000
DOC_WORDS = 60
VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark the "
    "line sort window order data column join small customer query big vector "
    "group stream filter de het een en and of a index shuffle broadcast"
).split()


def gen_docs(seed: int, n_docs: int = CURATE_DOCS) -> dict[str, pd.DataFrame]:
    """Seeded word-soup corpus plus its ingest history and eval set.

    ``docs`` (doc_id, text, source, lang): 60 words from a fixed vocabulary;
    every doc with ``doc_id % 97 == 1`` copies its predecessor except the
    last word (a planted near-duplicate); ``source`` is skewed over 20
    values. ``seen`` (content_hash): md5 of ~2% of the docs, as if ingested
    by an earlier batch. ``evals`` (eval_id, text): 4 items, each a 24-word
    window of one corpus doc, so decontamination has something to find.
    """
    rng = np.random.default_rng(seed)
    words = rng.integers(0, len(VOCAB), size=(n_docs, DOC_WORDS))
    dup = np.arange(1, n_docs, 97)
    words[dup, :-1] = words[dup - 1, :-1]
    vocab = np.array(VOCAB, dtype=object)
    texts = [" ".join(row) for row in vocab[words]]
    source = np.floor(2.0 ** (rng.integers(0, 40, size=n_docs) / 8.0)).astype(int) % 20
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "source": [f"src{s}" for s in source],
            "lang": "nl",
        }
    )
    hist = rng.choice(n_docs, size=max(1, n_docs // 50), replace=False)
    seen = pd.DataFrame(
        {"content_hash": [hashlib.md5(texts[i].encode()).hexdigest() for i in sorted(hist)]}
    )
    picks = rng.choice(n_docs, size=4, replace=False)
    evals = pd.DataFrame(
        {
            "eval_id": np.arange(4, dtype=np.int64),
            "text": [" ".join(texts[i].split()[10:34]) for i in picks],
        }
    )
    return {"docs": docs, "seen": seen, "evals": evals}


def audit_ok(audit: list[tuple[str, int]], n_docs: int) -> bool:
    """Stage audit starts at the input size, never grows, and packs every
    sampled doc."""
    kept = [n for _, n in audit]
    by_stage = dict(audit)
    return (
        bool(kept)
        and kept[0] == n_docs
        and all(a >= b for a, b in zip(kept, kept[1:]))
        and by_stage.get("packed") == by_stage.get("sampled")
    )


class CurateWorkload:
    """``operators.curate.curate`` (MinHash near-dup mode) over seeded docs."""

    name = "curate"
    unit_s = 15.0  # nominal cold curate() run on a 4-core box

    def __init__(self, spark, work_dir: str, seed: int, n_docs: int = CURATE_DOCS):
        self.spark = spark
        self.seed = seed
        self.n_docs = n_docs
        self.path = os.path.join(work_dir, "inputs", f"curate-n{n_docs}-seed{seed}")
        self._last = None  # (CurationResult, audit) of the latest unit

    def generate(self) -> None:
        if os.path.exists(os.path.join(self.path, "_SUCCESS")):
            return

        def write(tmp: str) -> None:
            os.makedirs(tmp)
            for table, pdf in gen_docs(self.seed, self.n_docs).items():
                pdf.to_parquet(os.path.join(tmp, f"{table}.parquet"), index=False)

        _write_atomically(self.path, write)

    def prepare(self) -> None:
        read = self.spark.read.parquet
        self.docs = read(os.path.join(self.path, "docs.parquet"))
        self.seen = read(os.path.join(self.path, "seen.parquet"))
        self.evals = read(os.path.join(self.path, "evals.parquet"))

    def unit(self) -> int:
        from nlnieuwscrawler_spark.operators import curate as curate_mod

        res = curate_mod.curate(
            self.docs,
            eval_docs=self.evals,
            seen_hashes=self.seen,
            near_dup="minhash",
            near_dup_threshold=0.7,
            quota=1000,
            salt=16,
            capacity=2048,
            pack_buckets=64,
        )
        audit = [
            (r["stage"], r["rows_kept"])
            for r in res.stage_counts.orderBy("stage_idx").collect()
        ]
        res.curated.write.format("noop").mode("overwrite").save()
        self._last = (res, audit)
        return self.n_docs

    def check_unit(self, index: int) -> bool:
        """Audit invariants; curated-id digest equal to every earlier run's."""
        res, audit = self._last
        ids = sorted(r[0] for r in res.curated.select("doc_id").collect())
        res.unpersist()
        digest = hashlib.sha256(json.dumps(ids).encode()).hexdigest()
        digest_path = os.path.join(self.path, "curated.sha256")
        if not os.path.exists(digest_path):
            with open(digest_path, "w") as f:
                f.write(digest)
        with open(digest_path) as f:
            same = f.read() == digest
        return audit_ok(audit, self.n_docs) and same

    def check(self, n_units: int) -> set[int]:
        return set()  # every run is checked by check_unit as it ends

    def wrap(self, tracer) -> None:
        from nlnieuwscrawler_spark.operators import curate

        tracer.wrap(curate, "curate", "operators.curate.curate")
        # curate.py imports these by name, so they are wrapped where it looks
        for fn in ("dedup_incremental", "dedup_exact", "minhash_lsh_pairs",
                   "dedup_retention", "decontaminate"):
            tracer.wrap(curate, fn, f"operators.dedup.{fn}")
        for fn in ("stratified_sample", "pack_sequences"):
            tracer.wrap(curate, fn, f"operators.sampling.{fn}")


WORKLOADS = {w.name: w for w in (CrawlWorkload, CurateWorkload)}
