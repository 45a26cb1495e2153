"""URL canonicalization + fingerprinting as NATIVE Catalyst expressions.

Reference behavior (north_star: "canonicalizes and MurmurHash3-fingerprints
candidate URLs"; reference validate-module semantics reconstructed in
SURVEY.md §2 O2/O3): resolve relative hrefs against the page URL, strip
fragments, drop non-http(s) schemes and media extensions, lowercase
scheme/host, strip default ports, resolve dot segments.

Everything here is built from ``pyspark.sql.functions`` column expressions —
string/regexp/higher-order-array functions — so the whole stage stays inside
WholeStageCodegen: no Python boundary, fully pushdown/prune-friendly, and
safe to run over 10^10 candidate URLs. The identical pinned semantics
(:mod:`nlnieuwscrawler_spark.spec`) are re-implemented in pure Python by
:mod:`nlnieuwscrawler_spark.oracle.pyurls` for the equivalence oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from nlnieuwscrawler_spark import spec

__all__ = [
    "canonicalize",
    "normalize_url",
    "resolve_href",
    "url_host",
    "url_path",
    "url_fingerprint",
]

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"


def _strip_fragment(url: Column) -> Column:
    return F.regexp_replace(url, r"#.*$", "")


def _scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def _authority(url: Column) -> Column:
    """host[:port] — text between ``scheme://`` and the first ``/?#``."""
    return F.regexp_extract(url, _SCHEME_RE + r"([^/?#]*)", 2)


def _path_query(url: Column) -> Column:
    """Everything after the authority (may be empty / start with ? )."""
    return F.regexp_replace(url, _SCHEME_RE + r"[^/?#]*", "")


def url_host(url: Column) -> Column:
    """Lowercased host without port or trailing dots (native exprs)."""
    auth = _authority(_strip_fragment(url))
    host = F.regexp_replace(auth, r":\d*$", "")
    return F.regexp_replace(F.lower(host), r"\.+$", "")


def url_path(url: Column) -> Column:
    """Path component only (no query/fragment); '' when absent."""
    return F.regexp_extract(_path_query(_strip_fragment(url)), r"^([^?]*)", 1)


def _normalize_path_slow(path: Column) -> Column:
    """RFC-3986 dot-segment removal via higher-order ``aggregate``.

    '/a/./b/../c' → '/a/c'; duplicate slashes collapse; trailing slash (or a
    trailing '.'/'..' segment) is preserved as '/'; empty path → '/'.
    Pure array expression — no UDF.
    """
    segs = F.split(path, "/")
    resolved = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            s == "..", F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0)))
        )
        .when((s == ".") | (s == ""), acc)
        .otherwise(F.concat(acc, F.array(s))),
    )
    trailing = path.rlike(r"(/|/\.|/\.\.)$")
    joined = F.concat_ws("/", resolved)
    return F.when(F.size(resolved) == 0, F.lit("/")).otherwise(
        F.concat(
            F.lit("/"),
            joined,
            F.when(trailing, F.lit("/")).otherwise(F.lit("")),
        )
    )


#: a path needs the segment machinery only if it is empty/rootless, has a
#: '.'/'..' segment, or duplicate slashes — everything else normalizes to
#: itself. At crawl scale ~99% of hrefs take the fast branch, and the fast
#: branch is two regex tests instead of per-row array fold (the interpreted
#: aggregate lambda was the hottest expression in the whole epoch).
_NEEDS_SLOW_RE = r"^$|^[^/]|//|/\.(/|$)|/\.\.(/|$)"


def _normalize_path(path: Column) -> Column:
    return F.when(path.rlike(_NEEDS_SLOW_RE), _normalize_path_slow(path)).otherwise(
        path
    )


def normalize_url(url: Column) -> Column:
    """Canonicalize an ABSOLUTE URL; NULL = rejected.

    lowercase scheme+host, strip default port / trailing host dot / fragment /
    empty query, resolve dot segments, reject non-http(s) schemes, hostless
    URLs and media extensions (spec.MEDIA_EXT_RE).
    """
    u = _strip_fragment(F.trim(url))
    scheme = _scheme(u)
    auth = _authority(u)
    # ALL trailing dots (matches oracle/pyurls.py): '..' -> '' -> rejected,
    # keeping normalize idempotent on dot-only authorities
    host = F.regexp_replace(F.lower(F.regexp_replace(auth, r":\d*$", "")), r"\.+$", "")
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    pq = _path_query(u)
    raw_path = F.regexp_extract(pq, r"^([^?]*)", 1)
    query = F.regexp_extract(pq, r"\?(.*)$", 1)

    path = _normalize_path(raw_path)
    default_port = F.when(scheme == "http", F.lit("80")).otherwise(F.lit("443"))
    port_part = F.when(
        (port == "") | (port == default_port), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    query_part = F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query))

    canon = F.concat(scheme, F.lit("://"), host, port_part, path, query_part)
    return (
        F.when(~scheme.isin(list(spec.ACCEPTED_SCHEMES)), F.lit(None))
        .when(host == "", F.lit(None))
        .when(path.rlike(spec.MEDIA_EXT_RE), F.lit(None))
        .otherwise(canon)
    )


def resolve_href(base_url: Column, href: Column) -> Column:
    """Resolve an href against its page URL (urljoin semantics, native exprs).

    Handles: absolute, protocol-relative (//host/..), root-relative (/p),
    query-only (?q), and path-relative hrefs. Fragment-only and rejected
    schemes (mailto:/javascript:/tel:/data:/ftp:/file:) → NULL (pinned spec:
    a fragment-only href re-targets the current page, which is already seen).
    Dot segments are resolved later by :func:`normalize_url`.
    """
    h = F.trim(href)
    base = _strip_fragment(F.trim(base_url))
    b_scheme = _scheme(base)
    b_auth = _authority(base)
    origin = F.concat(b_scheme, F.lit("://"), b_auth)
    b_pq = _path_query(base)
    b_path = F.regexp_extract(b_pq, r"^([^?]*)", 1)
    b_path = F.when(b_path == "", F.lit("/")).otherwise(b_path)
    b_dir = F.regexp_replace(b_path, r"[^/]*$", "")

    return (
        F.when(h.rlike(spec.REJECT_SCHEME_RE), F.lit(None))
        .when((h == "") | h.startswith("#"), F.lit(None))
        .when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), h)
        .when(h.startswith("//"), F.concat(b_scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(origin, h))
        .when(h.startswith("?"), F.concat(origin, b_path, h))
        .otherwise(F.concat(origin, b_dir, h))
    )


def canonicalize(base_url: Column, href: Column) -> Column:
    """Full O2: resolve + normalize; NULL = rejected candidate."""
    return normalize_url(resolve_href(base_url, href))


def url_fingerprint(url: Column) -> Column:
    """64-bit MurmurHash3 URL fingerprint (north_star O3), native exprs.

    Two Spark Murmur3-x86-32 hashes (``F.hash``, seed 42) — one over the
    canonical URL, one over FP_SALT+url (salt as PREFIX) — packed into one
    LONG: ``(h1 << 32) | (h2 & 0xFFFFFFFF)``.

    The salt MUST be a prefix, never a suffix. Murmur3's finalizer is a
    bijection of (state ⊕ len), so for two same-length strings an h1
    collision implies identical pre-final state — and appending a common
    SUFFIX from identical states collides h2 with probability 1. A
    suffix-salted pair is therefore effectively a 32-BIT fingerprint for
    same-length URLs: measured 9 full 64-bit collisions in a 10^6-URL
    corpus (expected for a true 64-bit hash: ~3e-5). At the north-star
    10^10 frontier that breaks URL identity outright. Prefix salting
    diverges the block stream from byte 0, making the halves independent
    (re-measured: 0 collisions at 10^6; expected ~0.003 at 10^10).
    Reproduced bit-for-bit in Python by
    :func:`nlnieuwscrawler_spark.pyhash.url_fingerprint_py`.
    """
    h1 = F.hash(url).cast("long")
    h2 = F.hash(F.concat(F.lit(spec.FP_SALT), url)).cast("long")
    return F.shiftleft(h1, 32).bitwiseOR(h2.bitwiseAND(F.lit(4294967295)))


# C4/FineWeb-style URL-level gating: blocklist tokens matched as EXACT
# path segments (lowercase). Short on purpose — production lists are
# config, this is the engine default (public C4 cleaning description).
URL_BLOCK_TOKENS = ["xxx", "porn", "adult", "casino", "viagra"]


def url_quality_filter(
    df,
    url_col: str = "url",
    id_col: str = "doc_id",
    max_depth: int = 8,
    max_params: int = 4,
    max_digit_ratio: float = 0.5,
    max_len: int = 512,
    block_tokens: list[str] | None = None,
):
    """URL-level quality gate (the C4/FineWeb pre-fetch filter): score
    every URL on structural features and gate BEFORE spending a fetch —
    the cheapest filter in the whole pipeline because it needs no page
    body. Returns (id, depth, n_params, digit_ratio, n_chars, blocked,
    keep):

    - ``depth``       non-empty path segments (deep auto-generated
                      archives and calendar traps fail this),
    - ``n_params``    query parameters (session-id/tracking farms),
    - ``digit_ratio`` digit share of the path chars, 6 dp (machine ids),
    - ``n_chars``     full URL length,
    - ``blocked``     any path segment exactly in the blocklist,
    - ``keep``        all gates pass.

    100 TB shape: a pure zero-shuffle projection — regexp/split/
    higher-order exprs inside whole-stage codegen, the frontier is
    scanned once and never moved (same class as ``pii_scrub``). The
    blocklist enters as a literal array (``arrays_overlap``), not a
    join; thresholds are plain literals. Arithmetic is
    oracle-portable: digit counting via global regexp_replace and one
    rounded double division, identical in DuckDB.
    """
    s = url_quality_struct(
        F.col(url_col),
        max_depth=max_depth,
        max_params=max_params,
        max_digit_ratio=max_digit_ratio,
        max_len=max_len,
        block_tokens=block_tokens,
    )
    return df.select(
        F.col(id_col),
        *[
            s[f].alias(f)
            for f in (
                "depth", "n_params", "digit_ratio", "n_chars", "blocked",
                "keep",
            )
        ],
    )


def url_quality_struct(
    url: "Column",
    max_depth: int = 8,
    max_params: int = 4,
    max_digit_ratio: float = 0.5,
    max_len: int = 512,
    block_tokens: list[str] | None = None,
) -> "Column":
    """Expression form of :func:`url_quality_filter` — one struct over a
    URL column, exposed so composites (curate()) can gate with a
    zero-shuffle ``filter`` instead of joining the (id, keep) frame back
    on id (r7: that join moved the whole corpus through an exchange)."""
    toks = block_tokens if block_tokens is not None else URL_BLOCK_TOKENS
    path = url_path(url)
    segs = F.filter(F.split(path, "/"), lambda x: x != "")
    depth = F.size(segs).cast("long")
    query = F.regexp_extract(_strip_fragment(url), r"\?(.*)$", 1)
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.size(F.filter(F.split(query, "&"), lambda x: x != ""))
    ).cast("long")
    n_path = F.length(path)
    n_digits = n_path - F.length(F.regexp_replace(path, r"[0-9]", ""))
    digit_ratio = F.when(n_path == 0, F.lit(0.0)).otherwise(
        F.round(n_digits.cast("double") / n_path, 6)
    )
    n_chars = F.length(url).cast("long")
    blocked = F.arrays_overlap(
        F.transform(segs, F.lower),
        F.array(*[F.lit(t) for t in toks]),
    )
    keep = (
        (depth <= F.lit(max_depth))
        & (n_params <= F.lit(max_params))
        & (digit_ratio <= F.lit(max_digit_ratio))
        & (n_chars <= F.lit(max_len))
        & ~blocked
    )
    return F.struct(
        depth.alias("depth"),
        n_params.alias("n_params"),
        digit_ratio.alias("digit_ratio"),
        n_chars.alias("n_chars"),
        blocked.alias("blocked"),
        keep.alias("keep"),
    )


def bitext_candidates(
    df,
    url_col: str = "url",
    id_col: str = "doc_id",
    langs: tuple = ("nl", "en", "de", "fr"),
):
    """Parallel-corpus candidate mining by URL structure (the ParaCrawl
    first stage, public): sites publish language variants of the same
    page under a language path segment (``/nl/artikel-5`` ↔
    ``/en/artikel-5``), so normalizing that segment to a placeholder
    and self-joining on (host, normalized path) yields aligned-document
    CANDIDATES without touching the text — embedding/content alignment
    (our cosine ops) then scores them. Returns
    (doc_a, doc_b, host, lang_a, lang_b, page_key) with lang_a <
    lang_b; docs whose URL has no leading language segment never pair.

    100 TB shape: one zero-shuffle projection builds the narrow
    (host, page_key, lang, id) candidate-key table, then ONE
    self-equi-join on BOTH keys — hash join, never a cross product; the
    page_key cardinality ≈ pages, so no hot keys (a viral page has a
    handful of language variants, not millions). Regex is RE2-safe
    (alternation + anchors, no lookahead) so the DuckDB twin runs the
    same pattern.
    """
    alt = "|".join(langs)
    url = F.col(url_col)
    path = url_path(url)
    lang_seg = F.regexp_extract(path, f"^/({alt})(/|$)", 1)
    page_key = F.regexp_replace(path, f"^/({alt})(/|$)", "/__L__$2")
    keyed = df.select(
        F.col(id_col),
        url_host(url).alias("host"),
        lang_seg.alias("__lang"),
        page_key.alias("page_key"),
    ).filter(F.col("__lang") != "")
    a = keyed.select(
        F.col(id_col).alias("doc_a"),
        "host",
        F.col("__lang").alias("lang_a"),
        "page_key",
    )
    b = keyed.select(
        F.col(id_col).alias("doc_b"),
        F.col("host").alias("__hb"),
        F.col("__lang").alias("lang_b"),
        F.col("page_key").alias("__kb"),
    )
    return a.join(
        b,
        (F.col("host") == F.col("__hb"))
        & (F.col("page_key") == F.col("__kb"))
        & (F.col("lang_a") < F.col("lang_b")),
    ).select("doc_a", "doc_b", "host", "lang_a", "lang_b", "page_key")
