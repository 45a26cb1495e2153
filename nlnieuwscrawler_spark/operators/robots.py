"""O7: robots.txt allow/deny with urllib.robotparser semantics, UDF-free.

Reference behavior (north_star "enforcing nlnieuwscrawler's robots.txt
rules"): one ruleset per host; rule lines are checked IN FILE ORDER and the
first rule whose path is a prefix of the URL path decides (Python stdlib
``urllib.robotparser`` first-match semantics); hosts without a ruleset and
rule-less rulesets allow everything.

Spark-first realization: the per-host rulesets are a small dimension —
**broadcast** equi-join on ``host``, then evaluate the ordered
``rules ARRAY<STRUCT<allow,path,order>>`` with higher-order array
expressions (``array_sort`` + ``filter`` + first element).
:func:`with_robots` keeps every candidate and adds the verdict as an
``allowed`` flag, so a crawl epoch splits allowed from denied rows on the
flag instead of joining twice. Zero Python boundary, so the flag stays
inside WholeStageCodegen and scales with the candidate set, not the rule
count. Parity with the stdlib parser is pinned by tests/test_robots.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def robots_allowed(path: Column, rules: Column) -> Column:
    """First-match evaluation of an ordered rules array against a URL path.

    NULL rules (unknown host) or no matching rule → allowed (TRUE), matching
    stdlib robotparser's allow-by-default.
    """
    ordered = F.array_sort(
        F.transform(
            rules,
            lambda r: F.struct(
                r["order"].alias("order"),
                r["allow"].alias("allow"),
                r["path"].alias("path"),
            ),
        )
    )
    matches = F.filter(ordered, lambda r: path.startswith(r["path"]))
    return F.coalesce(F.get(matches, 0)["allow"], F.lit(True))


def with_robots(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """LEFT broadcast-join candidates to per-host rules; flag each row.

    Keeps every candidate and adds ``allowed`` (the first-match verdict on
    its ``path``) and ``crawl_delay`` (NULL → caller applies the default);
    the rules payload is dropped. Left join (not inner) keeps unknown
    hosts — allowed by default, like a crawler that finds no robots.txt.
    """
    r = robots.select(
        F.col("host").alias("__r_host"), "rules", "crawl_delay"
    )
    joined = candidates.join(
        F.broadcast(r), candidates["host"] == r["__r_host"], "left"
    )
    return joined.withColumn(
        "allowed", robots_allowed(F.col("path"), F.col("rules"))
    ).drop("__r_host", "rules")


ROBOTS_PARSE_DDL = (
    "rules array<struct<allow:boolean, path:string, order:int>>, "
    "crawl_delay double, sitemaps array<string>"
)


def parse_robots_txt(content_col: Column, agent: str = "*") -> Column:
    """Parse raw robots.txt text → (rules, crawl_delay, sitemaps) struct.

    Arrow-vectorized UDF implementing the stdlib ``urllib.robotparser``
    grouping model: directives apply to the most recent ``User-agent``
    group; the group matching ``agent`` (with ``*`` fallback) wins;
    ``Sitemap`` is global. Rule order preserved (first-match evaluation
    downstream in :func:`robots_allowed`). Empty/None content → no rules
    (allow-all), matching a crawler that found no robots.txt.
    """
    @F.pandas_udf(ROBOTS_PARSE_DDL)
    def parse(contents: pd.Series) -> pd.DataFrame:
        out_rules, out_delay, out_maps = [], [], []
        for text in contents:
            groups: dict[str, list] = {}
            delays: dict[str, float] = {}
            sitemaps: list[str] = []
            current: list[str] = []
            seen_directive = True
            for raw in (text or "").splitlines():
                line = raw.split("#", 1)[0].strip()
                if not line or ":" not in line:
                    continue
                key, _, val = line.partition(":")
                key, val = key.strip().lower(), val.strip()
                if key == "user-agent":
                    # consecutive User-agent lines share one group
                    if seen_directive:
                        current = []
                        seen_directive = False
                    current.append(val.lower())
                    for a in current:
                        groups.setdefault(a, groups.get(a, []))
                    continue
                seen_directive = True
                if key == "sitemap":
                    sitemaps.append(val)
                elif key in ("allow", "disallow") and current:
                    for a in current:
                        if key == "disallow" and val == "":
                            continue  # empty Disallow = allow all (no rule)
                        groups.setdefault(a, []).append(
                            {"allow": key == "allow", "path": val}
                        )
                elif key == "crawl-delay" and current:
                    try:
                        for a in current:
                            delays[a] = float(val)
                    except ValueError:
                        pass
            # Group selection follows urllib.robotparser.Entry.applies_to:
            # the UA's product token (before any '/version') is matched by
            # SUBSTRING against each named group, first declared group wins,
            # '*' is the fallback — so 'nlbot/1.0' matches 'User-agent:
            # nlbot' (exact-match-only would silently fall back to '*').
            ua_token = agent.split("/")[0].lower()
            pick = "*"
            for gname in groups:
                if gname != "*" and gname in ua_token:
                    pick = gname
                    break
            rules = [
                {"allow": r["allow"], "path": r["path"], "order": i}
                for i, r in enumerate(groups.get(pick, []))
            ]
            out_rules.append(rules)
            out_delay.append(delays.get(pick))
            out_maps.append(sitemaps)
        return pd.DataFrame(
            {"rules": out_rules, "crawl_delay": out_delay, "sitemaps": out_maps}
        )

    return parse(content_col)


def robots_from_responses(
    responses: DataFrame, host_col: str = "host", content_col: str = "content",
    agent: str = "*",
) -> DataFrame:
    """(host, robots.txt text) → the engine's robots dimension table —
    the ingestion step the reference performs with urllib.robotparser on
    every newly-seen host. Output feeds :func:`with_robots` directly."""
    parsed = responses.select(
        F.col(host_col).alias("host"),
        parse_robots_txt(F.col(content_col), agent).alias("__p"),
    )
    return parsed.select(
        "host",
        F.lit(agent).alias("agent"),
        F.col("__p.rules").alias("rules"),
        F.col("__p.crawl_delay").alias("crawl_delay"),
        F.col("__p.sitemaps").alias("sitemaps"),
    )
