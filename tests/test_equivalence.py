"""The north_rule gate: distributed Spark crawl ≡ imperative oracle crawl.

Same seed list + politeness budget → identical crawl ordering (every column
of the crawl_log trace) and identical final URL-seen set; and the engine's
scale machinery (Bloom seen filter, salted two-phase rank) must be
result-invariant — optimizations, never semantics.
"""

from __future__ import annotations

import pandas as pd
import pytest

from nlnieuwscrawler_spark.oracle.pycrawler import OracleCrawler
from nlnieuwscrawler_spark.plans.crawler import Crawler, CrawlConfig
from nlnieuwscrawler_spark.sources import fixtures

N_EPOCHS = 4


def _spark_run(spark, pages_df, use_bloom: bool, salt: int) -> Crawler:
    c = Crawler(
        spark,
        pages_df,
        fixtures.robots_df(spark),
        store=None,
        config=CrawlConfig(
            max_epochs=N_EPOCHS,
            use_bloom=use_bloom,
            salt=salt,
            bloom_partitions=8,
            bloom_expected_keys=1 << 14,
            checkpoint=False,
        ),
    )
    c.run(seeds=fixtures.seeds_df(spark))
    return c


def _oracle_run(pages_pd) -> OracleCrawler:
    o = OracleCrawler(pages_pd)
    o.seed()
    o.run(N_EPOCHS)
    return o


@pytest.fixture(scope="module")
def oracle(tiny_pages_pd):
    return _oracle_run(tiny_pages_pd)


@pytest.fixture(scope="module", params=["bloom"])
def engine(spark, tiny_pages_df):
    """Full crawl with the Bloom seen filter kept current every epoch (the
    ``bloom`` id); the filter is a pure optimization, so every equivalence
    assertion must hold with it on."""
    return _spark_run(spark, tiny_pages_df, use_bloom=True, salt=1)


def _log_frame(crawler: Crawler) -> pd.DataFrame:
    pdf = (
        crawler.crawl_log()
        .select("epoch", "seq", "url", "url_fp", "host", "depth", "fetch_ts", "status")
        .toPandas()
        .sort_values("seq")
        .reset_index(drop=True)
    )
    return pdf


def test_crawl_is_nontrivial(engine, oracle):
    assert engine.seq_base > 50, "crawl should attempt a meaningful number of URLs"
    assert oracle.seq > 50


def test_crawl_order_equivalence(engine, oracle):
    got = _log_frame(engine)
    want = (
        oracle.crawl_log_df()[
            ["epoch", "seq", "url", "url_fp", "host", "depth", "fetch_ts", "status"]
        ]
        .sort_values("seq")
        .reset_index(drop=True)
    )
    assert len(got) == len(want), (len(got), len(want))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_url_seen_set_equivalence(engine, oracle):
    got = {r["url_fp"] for r in engine.seen().collect()}
    assert got == oracle.seen_set()


def test_bloom_is_pure_optimization(spark, tiny_pages_df, engine):
    """Bloom off → byte-identical crawl log (the SURVEY §7.3.1 invariant)."""
    plain = _spark_run(spark, tiny_pages_df, use_bloom=False, salt=1)
    pd.testing.assert_frame_equal(_log_frame(plain), _log_frame(engine))


def test_salting_is_pure_optimization(spark, tiny_pages_df, engine):
    """Two-phase salted rank (salt=4) → identical schedule."""
    salted = _spark_run(spark, tiny_pages_df, use_bloom=True, salt=4)
    pd.testing.assert_frame_equal(_log_frame(salted), _log_frame(engine))


def test_distributed_trace_is_pure_optimization(spark, tiny_pages_df, engine):
    """Range-partitioned seq enumeration ≡ single-window row_number."""
    c = Crawler(
        spark, tiny_pages_df, fixtures.robots_df(spark), store=None,
        config=CrawlConfig(max_epochs=N_EPOCHS, use_bloom=True, salt=1,
                           bloom_partitions=8, bloom_expected_keys=1 << 14,
                           checkpoint=False, distributed_trace=True),
    )
    c.run(seeds=fixtures.seeds_df(spark))
    pd.testing.assert_frame_equal(_log_frame(c), _log_frame(engine))


@pytest.mark.parametrize("salt", [1, 4])
def test_epoch_gives_each_frontier_row_one_fate(spark, tiny_pages_df, salt):
    """One epoch over a non-empty seen set splits its frontier: attempted
    rows (the crawl log) and robots-denied rows enter the seen set once
    each, every other row is deferred to the next frontier, and no new
    link brings back a URL the epoch already decided."""
    from nlnieuwscrawler_spark.plans import epoch as epoch_plan

    c = Crawler(
        spark, tiny_pages_df, fixtures.robots_df(spark), store=None,
        config=CrawlConfig(max_epochs=1, use_bloom=False, salt=salt,
                           checkpoint=False),
    )
    c.run(seeds=fixtures.seeds_df(spark))
    res = epoch_plan.run_epoch(
        c.frontier, c.pages_latest, c.robots, c.seen_keys,
        epoch=1, salt=salt, seq_base=c.seq_base,
    )

    def fps(df) -> list:
        return [r["url_fp"] for r in df.select("url_fp").collect()]

    frontier_in = set(fps(c.frontier))
    logged = set(fps(res.crawl_log))
    seen_rows = fps(res.new_seen)
    next_frontier = set(fps(res.frontier))
    for cc in res.cached:
        cc.unpersist()
    new_seen = set(seen_rows)
    assert len(seen_rows) == len(new_seen)
    assert logged <= new_seen <= frontier_in
    assert not new_seen & next_frontier
    assert frontier_in <= new_seen | next_frontier
    # the fixture epoch has all three fates: attempted, denied, deferred
    assert logged and new_seen - logged and frontier_in & next_frontier


def test_politeness_invariant(engine):
    """No two fetches of one host closer than its crawl_delay; per-epoch
    attempts per host never exceed the budget."""
    from nlnieuwscrawler_spark import spec

    log = engine.crawl_log().select("host", "epoch", "fetch_ts").toPandas()
    for host, grp in log.groupby("host"):
        delay = (
            fixtures.ROBOTS_FIXTURE.get(host, (None, [], []))[0]
            or spec.DEFAULT_CRAWL_DELAY
        )
        ts = grp["fetch_ts"].sort_values().to_numpy()
        if len(ts) > 1:
            gaps = (ts[1:] - ts[:-1]) / pd.Timedelta(seconds=1)
            assert (gaps >= delay - 1e-9).all(), f"{host} violates crawl_delay"
        per_epoch = grp.groupby("epoch").size()
        assert (per_epoch <= spec.host_budget(delay)).all(), f"{host} over budget"


def test_epoch_length_parameterization(spark, tiny_pages_df, tiny_pages_pd):
    """Longer epochs (bigger budgets) must still match the oracle — pins the
    epoch_seconds threading the scaling bench relies on."""
    c = Crawler(
        spark, tiny_pages_df, fixtures.robots_df(spark), store=None,
        config=CrawlConfig(max_epochs=2, use_bloom=False, checkpoint=False,
                           epoch_seconds=120.0),
    )
    c.run(seeds=fixtures.seeds_df(spark))
    o = OracleCrawler(tiny_pages_pd, epoch_seconds=120.0)
    o.seed()
    o.run(2)
    got = _log_frame(c)
    want = (
        o.crawl_log_df()[
            ["epoch", "seq", "url", "url_fp", "host", "depth", "fetch_ts", "status"]
        ].sort_values("seq").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 100
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_metrics_tables(engine):
    """O18: per-epoch metrics + cube rollups are consistent with the log."""
    m = engine.metrics_df().toPandas()
    assert m["attempted"].sum() == engine.seq_base
    cube = engine.metrics_cube().toPandas()
    grand = cube[cube["gid"] == 7]
    assert len(grand) == 1 and int(grand["n"].iloc[0]) == engine.seq_base
    per_status = cube[cube["gid"] == 6].set_index("status")["n"]
    assert per_status.sum() == engine.seq_base
    assert int(per_status.get("ok", 0)) == m["fetched_ok"].sum()


def test_denied_hosts_never_fetched(engine):
    log = engine.crawl_log().toPandas()
    assert not (log["host"] == "nrc.nl").any(), "disallow-all host must never be fetched"
    # /premium is disallowed on telegraaf.nl (other hosts have no such rule)
    tele = log[log["host"] == "telegraaf.nl"]
    assert not tele["url"].str.contains("/premium").any()
    nu = log[log["host"] == "nu.nl"]
    assert not nu["url"].str.contains("/tag").any()


@pytest.mark.parametrize("engine", ["bloom"], indirect=True)
@pytest.mark.parametrize("with_store", [False, True], ids=["no_store", "snapshot_store"])
def test_zero_epoch_crawl_outputs_are_empty(
    spark, tiny_pages_df, engine, with_store, tmp_path
):
    """An empty seed list runs no epoch and commits no snapshot; the log
    and its cube are then empty frames with the log columns of a real
    crawl, with or without a SnapshotStore."""
    from nlnieuwscrawler_spark.sources.tableio import SnapshotStore

    c = Crawler(
        spark,
        tiny_pages_df,
        fixtures.robots_df(spark),
        store=SnapshotStore(str(tmp_path)) if with_store else None,
        config=CrawlConfig(
            max_epochs=N_EPOCHS, bloom_partitions=8, bloom_expected_keys=1 << 14
        ),
    )
    assert c.run(seeds=fixtures.seeds_df(spark).limit(0))["epochs"] == 0
    log = c.crawl_log()
    assert log.count() == 0
    assert c.metrics_cube().count() == 0
    want = [(f.name, f.dataType) for f in engine.crawl_log().schema.fields]
    assert [(f.name, f.dataType) for f in log.schema.fields] == want
