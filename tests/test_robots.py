"""Robots semantics: engine rule eval ≡ stdlib urllib.robotparser (the
reference's robots implementation), first-match-in-file-order, allow default.
"""

from __future__ import annotations

import urllib.robotparser

import pandas as pd
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.operators.robots import robots_allowed, with_robots
from nlnieuwscrawler_spark.sources import fixtures

PATHS = [
    "/",
    "/sport/live-verslag.html",
    "/sport/uitslagen.html",
    "/sport",
    "/tag/voetbal.html",
    "/zoeken?q=x",
    "/zoeken/resultaat.html",
    "/premium/artikel.html",
    "/video/item.html",
    "/binnenland/2024/item.html",
]


def _stdlib_decisions() -> list[tuple[str, str, bool]]:
    out = []
    for host in fixtures.ROBOTS_FIXTURE:
        rp = urllib.robotparser.RobotFileParser()
        rp.parse(fixtures.robots_txt(host).splitlines())
        for p in PATHS:
            out.append((host, p, rp.can_fetch("nlnieuwscrawler", f"https://{host}{p}")))
    return out


def test_engine_matches_stdlib_robotparser(spark):
    want = _stdlib_decisions()
    cand = spark.createDataFrame(
        pd.DataFrame([{"host": h, "path": p} for h, p, _ in want])
    )
    joined = cand.join(
        fixtures.robots_df(spark).select("host", "rules"), "host", "left"
    ).withColumn("allowed", robots_allowed(F.col("path"), F.col("rules")))
    got = {
        (r["host"], r["path"]): r["allowed"]
        for r in joined.select("host", "path", "allowed").collect()
    }
    for host, p, allowed in want:
        assert got[(host, p)] == allowed, (host, p)


def test_unknown_host_allowed(spark):
    cand = spark.createDataFrame(
        pd.DataFrame([{"host": "volkskrant.nl", "path": "/x.html", "url_fp": 1}])
    )
    out = with_robots(cand, fixtures.robots_df(spark)).filter("allowed")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["crawl_delay"] is None


def test_disallow_all_host_filtered(spark):
    cand = spark.createDataFrame(
        pd.DataFrame([{"host": "nrc.nl", "path": "/x.html", "url_fp": 1}])
    )
    assert with_robots(cand, fixtures.robots_df(spark)).filter("allowed").count() == 0


def test_parse_robots_txt_roundtrip_fixture(spark):
    """Parsing the fixture's generated robots.txt text reproduces the
    fixture's structured rules/crawl_delay/sitemaps exactly."""
    from nlnieuwscrawler_spark.operators.robots import robots_from_responses

    rows = [
        {"host": h, "content": fixtures.robots_txt(h)}
        for h in fixtures.ROBOTS_FIXTURE
    ]
    parsed = robots_from_responses(
        spark.createDataFrame(pd.DataFrame(rows), "host string, content string")
    )
    got = {r["host"]: r for r in parsed.collect()}
    for want in fixtures.robots_rows():
        g = got[want["host"]]
        assert [
            (r["allow"], r["path"], r["order"]) for r in g["rules"]
        ] == [(r["allow"], r["path"], r["order"]) for r in want["rules"]], want["host"]
        assert g["crawl_delay"] == want["crawl_delay"]
        assert list(g["sitemaps"]) == want["sitemaps"]


def test_parse_robots_txt_end_to_end_matches_stdlib(spark):
    """PARSED-from-text rules drive the same allow/deny decisions the
    stdlib robotparser makes on the same text (full ingestion parity:
    text -> parse -> robots_allowed == robotparser.can_fetch)."""
    from nlnieuwscrawler_spark.operators.robots import robots_from_responses

    want = _stdlib_decisions()
    robots = robots_from_responses(
        spark.createDataFrame(
            pd.DataFrame(
                [{"host": h, "content": fixtures.robots_txt(h)}
                 for h in fixtures.ROBOTS_FIXTURE]
            ),
            "host string, content string",
        )
    )
    cand = spark.createDataFrame(
        pd.DataFrame([{"host": h, "path": p} for h, p, _ in want])
    )
    joined = cand.join(robots.select("host", "rules"), "host", "left").withColumn(
        "allowed", robots_allowed(F.col("path"), F.col("rules"))
    )
    got = {(r["host"], r["path"]): r["allowed"] for r in joined.collect()}
    for host, p, allowed in want:
        assert got[(host, p)] == allowed, (host, p)


def test_parse_robots_txt_agent_groups(spark):
    """Group selection: a specific agent's group beats '*'; consecutive
    User-agent lines share a group; empty Disallow adds no rule; Sitemap
    is global."""
    from nlnieuwscrawler_spark.operators.robots import robots_from_responses

    text = (
        "User-agent: googlebot\n"
        "User-agent: bingbot\n"
        "Disallow: /private\n"
        "Crawl-delay: 2.5\n"
        "\n"
        "User-agent: *\n"
        "Disallow:\n"
        "Allow: /\n"
        "Sitemap: https://ex.nl/sitemap.xml\n"
    )
    df = spark.createDataFrame(
        pd.DataFrame([{"host": "ex.nl", "content": text}]),
        "host string, content string",
    )
    star = robots_from_responses(df).collect()[0]
    assert [(r["allow"], r["path"]) for r in star["rules"]] == [(True, "/")]
    assert star["crawl_delay"] is None
    assert list(star["sitemaps"]) == ["https://ex.nl/sitemap.xml"]
    goog = robots_from_responses(df, agent="GoogleBot").collect()[0]
    assert [(r["allow"], r["path"]) for r in goog["rules"]] == [(False, "/private")]
    assert goog["crawl_delay"] == 2.5


def test_parse_robots_txt_versioned_ua_substring_match(spark):
    """urllib.robotparser matches groups by SUBSTRING against the UA's
    product token ('nlbot/1.0' -> 'nlbot'), not by exact string equality.
    A versioned UA must therefore pick its named group, not fall back to
    the (more permissive) '*' group; parity asserted against the stdlib."""
    import urllib.robotparser

    from nlnieuwscrawler_spark.operators.robots import robots_from_responses

    text = (
        "User-agent: nlbot\n"
        "Disallow: /archief\n"
        "Crawl-delay: 4\n"
        "\n"
        "User-agent: *\n"
        "Allow: /\n"
    )
    rp = urllib.robotparser.RobotFileParser()
    rp.parse(text.splitlines())
    assert rp.can_fetch("nlbot/1.0", "https://ex.nl/archief/a") is False

    df = spark.createDataFrame(
        pd.DataFrame([{"host": "ex.nl", "content": text}]),
        "host string, content string",
    )
    row = robots_from_responses(df, agent="nlbot/1.0").collect()[0]
    assert [(r["allow"], r["path"]) for r in row["rules"]] == [
        (False, "/archief")
    ]
    assert row["crawl_delay"] == 4.0
    # an unrelated UA still falls back to '*'
    other = robots_from_responses(df, agent="otherbot/2.0").collect()[0]
    assert [(r["allow"], r["path"]) for r in other["rules"]] == [(True, "/")]
