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


def _maintain_mid_crawl_then_resume(
    spark, tiny_pages_df, store, uninterrupted, maintain
):
    """Kill after KILL_AFTER epochs, run a store maintenance call, then
    check that the log is the uninterrupted log's head and that a resumed
    crawl continues to the uninterrupted log and seen set."""
    c1 = Crawler(spark, tiny_pages_df, fixtures.robots_df(spark), store, _cfg())
    c1.start(fixtures.seeds_df(spark))
    for _ in range(KILL_AFTER):
        c1.step()
    maintain()
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


@pytest.mark.parametrize("table", ["frontier", "crawl_log", "seen_keys"])
def test_compact_mid_crawl_keeps_log_and_resume(
    spark, tiny_pages_df, tmp_path_factory, uninterrupted, table
):
    """Compacting a table between epochs commits a snapshot that writes no
    crawl log and passes no resume counters: the log must not repeat any
    part, and a resumed crawl must continue to the uninterrupted log and
    seen set. Compacting an appended table folds its parts into one."""
    store = SnapshotStore(str(tmp_path_factory.mktemp(f"snap_compact_{table}")))
    _maintain_mid_crawl_then_resume(
        spark, tiny_pages_df, store, uninterrupted,
        lambda: store.compact(spark, table, epoch=KILL_AFTER),
    )


def test_expire_mid_crawl_keeps_log_and_resume(
    spark, tiny_pages_df, tmp_path_factory, uninterrupted
):
    """Expiring every snapshot but the current one keeps every part the
    current manifest lists: the whole log so far, and the seen keys that
    resume reads."""
    store = SnapshotStore(str(tmp_path_factory.mktemp("snap_expire")))
    _maintain_mid_crawl_then_resume(
        spark, tiny_pages_df, store, uninterrupted,
        lambda: store.expire_snapshots(keep_last=1),
    )


def test_reseeded_store_crawl_matches_single_run(
    spark, tiny_pages_df, tmp_path_factory, uninterrupted
):
    """A fresh crawl over a store that already holds a crawl replaces that
    crawl's log and seen keys at its first epoch: appending to them would
    hide every URL the earlier crawl saw and shorten the new crawl. The
    re-seeded crawler also restarts its epoch and attempt counters."""
    store = SnapshotStore(str(tmp_path_factory.mktemp("snap_reseed")))
    c = Crawler(spark, tiny_pages_df, fixtures.robots_df(spark), store, _cfg())
    c.run(seeds=fixtures.seeds_df(spark), max_epochs=KILL_AFTER)
    assert c.run(seeds=fixtures.seeds_df(spark))["epochs"] == N_EPOCHS
    assert c.metrics_rows == uninterrupted.metrics_rows
    pd.testing.assert_frame_equal(_log(c), _log(uninterrupted))
    want_seen = {r["url_fp"] for r in uninterrupted.seen().collect()}
    assert store.read_table(spark, "seen_keys").count() == len(want_seen)
    assert {r["url_fp"] for r in c.seen().collect()} == want_seen


def test_manifest_lineage_recorded(spark, uninterrupted):
    store = uninterrupted.store
    m = store.read_manifest()
    assert m["epoch"] == N_EPOCHS - 1
    for name in ("frontier", "seen_keys", "crawl_log"):
        t = m["tables"][name]
        assert t["lineage"] is not None, name
        assert sum(b["rows"] for b in t["lineage"]) == t["rows"], name
        assert t["rows"] == store.read_table(spark, name).count(), name
    assert "bloom" in m["tables"]


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
