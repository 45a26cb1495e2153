"""Checkpoint/resume: kill after epoch k, resume → identical crawl_log
(north_rule "resumes exactly mid-frontier"), and snapshot atomicity."""

from __future__ import annotations

import pandas as pd
import pytest

from nlnieuwscrawler_spark.plans.crawler import Crawler, CrawlConfig
from nlnieuwscrawler_spark.sources import fixtures
from nlnieuwscrawler_spark.sources.tableio import SnapshotStore

N_EPOCHS = 4
KILL_AFTER = 2


def _cfg():
    return CrawlConfig(
        max_epochs=N_EPOCHS,
        use_bloom=True,
        bloom_partitions=8,
        bloom_expected_keys=1 << 14,
        checkpoint=True,
    )


def _log(c: Crawler) -> pd.DataFrame:
    return (
        c.crawl_log()
        .select("epoch", "seq", "url", "url_fp", "host", "depth", "fetch_ts", "status")
        .toPandas()
        .sort_values("seq")
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def uninterrupted(spark, tiny_pages_df, tmp_path_factory):
    store = SnapshotStore(str(tmp_path_factory.mktemp("snap_full")))
    c = Crawler(spark, tiny_pages_df, fixtures.robots_df(spark), store, _cfg())
    c.run(seeds=fixtures.seeds_df(spark))
    return c


@pytest.mark.parametrize("kind", ["bloom"])  # the filter the resume reloads
def test_kill_and_resume_identical(
    spark, tiny_pages_df, tmp_path_factory, uninterrupted, kind
):
    store = SnapshotStore(str(tmp_path_factory.mktemp(f"snap_kill_{kind}")))
    c1 = Crawler(spark, tiny_pages_df, fixtures.robots_df(spark), store, _cfg())
    c1.start(fixtures.seeds_df(spark))
    for _ in range(KILL_AFTER):
        c1.step()
    # "crash": abandon c1 entirely; a NEW crawler resumes from the store
    c2 = Crawler(spark, tiny_pages_df, fixtures.robots_df(spark), store, _cfg())
    c2.resume()
    assert c2.epoch == KILL_AFTER
    for _ in range(N_EPOCHS - KILL_AFTER):
        if not c2.frontier.take(1):
            break
        c2.step()
    pd.testing.assert_frame_equal(_log(c2), _log(uninterrupted))
    got_seen = {r["url_fp"] for r in c2.seen().collect()}
    want_seen = {r["url_fp"] for r in uninterrupted.seen().collect()}
    assert got_seen == want_seen


def test_compact_mid_crawl_keeps_log_and_resume(
    spark, tiny_pages_df, tmp_path_factory, uninterrupted
):
    """Compacting a table between epochs commits a snapshot that writes no
    crawl log and passes no resume counters: the log must not repeat the
    carried-forward delta, and a resumed crawl must continue to the
    uninterrupted log and seen set."""
    store = SnapshotStore(str(tmp_path_factory.mktemp("snap_compact")))
    c1 = Crawler(spark, tiny_pages_df, fixtures.robots_df(spark), store, _cfg())
    c1.start(fixtures.seeds_df(spark))
    for _ in range(KILL_AFTER):
        c1.step()
    store.compact(spark, "frontier", epoch=KILL_AFTER)
    want = _log(uninterrupted)
    head = want[want["epoch"] < KILL_AFTER].reset_index(drop=True)
    pd.testing.assert_frame_equal(_log(c1), head)
    c2 = Crawler(spark, tiny_pages_df, fixtures.robots_df(spark), store, _cfg())
    c2.resume()
    assert c2.epoch == KILL_AFTER
    for _ in range(N_EPOCHS - KILL_AFTER):
        if not c2.frontier.take(1):
            break
        c2.step()
    pd.testing.assert_frame_equal(_log(c2), want)
    got_seen = {r["url_fp"] for r in c2.seen().collect()}
    want_seen = {r["url_fp"] for r in uninterrupted.seen().collect()}
    assert got_seen == want_seen


def test_manifest_lineage_recorded(uninterrupted):
    m = uninterrupted.store.read_manifest()
    assert m["epoch"] == N_EPOCHS - 1
    fr = m["tables"]["frontier"]
    assert fr["lineage"] is not None and sum(b["rows"] for b in fr["lineage"]) == fr["rows"]
    assert "seen_keys" in m["tables"] and "bloom" in m["tables"]


def test_expire_snapshots_keeps_current_readable(spark, uninterrupted):
    store = uninterrupted.store
    store.expire_snapshots(keep_last=1)
    cur = store.current_version()
    assert store.read_table(spark, "frontier", cur).count() >= 0
    assert store.read_table(spark, "seen_keys", cur).count() > 0


def test_resume_refuses_fingerprint_spec_mismatch(
    spark, tiny_pages_df, tmp_path_factory
):
    """A snapshot stamped with a different fingerprint spec must NOT resume:
    url_fp-keyed state under an old fingerprint silently re-admits crawled
    URLs. The manifest stamp turns that into a loud error."""
    import json
    import os

    store = SnapshotStore(str(tmp_path_factory.mktemp("snap_fpspec")))
    c1 = Crawler(spark, tiny_pages_df, fixtures.robots_df(spark), store, _cfg())
    c1.start(fixtures.seeds_df(spark))
    c1.step()
    # simulate a store written by an engine with a different fingerprint
    v = store.current_version()
    mpath = os.path.join(store.root, "_manifests", f"manifest-{v}.json")
    with open(mpath) as f:
        m = json.load(f)
    assert m["fingerprint_spec"]  # commit stamped it
    m["fingerprint_spec"] = "murmur3x32x2/seed42/SUFFIX-salt:deadbeef"
    with open(mpath, "w") as f:
        json.dump(m, f)
    c2 = Crawler(spark, tiny_pages_df, fixtures.robots_df(spark), store, _cfg())
    with pytest.raises(RuntimeError, match="fingerprint spec"):
        c2.resume()
