"""URL canonicalization; the frontier's identity key is pure Spark SQL.

Semantics: SURVEY.md P13/P14 and the reference's
``adscrawler/app_stores/utils.py:178-204`` and
``adscrawler/scrape.py:138-148``, golden-tested against its
``tests/app_stores/test_scrape_stores.py:42-69``.

``canonical_host`` and ``url_canon`` are JVM expressions with no Python
step: scheme / userinfo / port / path / query / fragment stripping is
one anchored ``regexp_replace`` plus ``substring_index`` splits; the PSL
match tests the last two labels, then the last one, lower-cased, against
one ``IN`` list of ``PUBLIC_SUFFIXES`` (a hash ``InSet`` once
optimized); the ``m`` / ``www`` / empty-subdomain collapse compares the
original-case labels, and only the result is lower-cased.  They are
SQL functions, created in each session on first use: the suffix list is
SQL text built once, where ``Column.isin`` would make one py4j round
trip per suffix on every call, and Spark binds each SQL-function
argument once, as a projection column.

The pandas UDFs below (``root_domain``, ``adstxt_registrable`` and the
row-wise ``canonical_url`` the tests hold ``url_canon`` against) match
the PSL once per *unique* host of each Arrow batch.  The URL hashes are
JVM-side too.  No row-at-a-time ``udf()`` anywhere (enforced by tests).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from adscrawler_spark.functions.psl import MAX_SUFFIX_LABELS, PUBLIC_SUFFIXES

# The SQL match below tests at most two labels, and quotes the suffixes
# as bare SQL string literals.
assert MAX_SUFFIX_LABELS == 2, MAX_SUFFIX_LABELS
assert all(re.fullmatch(r"[a-z0-9.\-]+", s) for s in PUBLIC_SUFFIXES)

_SUFFIX_IN = "IN (" + ", ".join(f"'{s}'" for s in sorted(PUBLIC_SUFFIXES)) + ")"
# ``url`` with its scheme and fragment off
_REST = "substring_index(regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '#', 1)"
# the last k + 1 labels of h (all of h when it has fewer), and the labels
# before them with their trailing dot ('' when there are none)
_TAIL = "substring_index(h, '.', -(k + 1))"
_SUB_DOT = f"left(h, length(h) - length({_TAIL}))"


def _authority(rest: str) -> str:
    """Host of a scheme- and fragment-free URL: path, query, userinfo
    and port off."""
    return (
        f"substring_index(substring_index(substring_index(substring_index("
        f"{rest}, '/', 1), '?', 1), '@', -1), ':', 1)"
    )


# name -> (parameters, body).  A body may call the functions above it.
_SQL_FUNCTIONS = {
    # The reference's subdomain.domain.suffix for a host whose last k
    # labels matched the PSL (k = 0: none did), with the subdomain
    # dropped when it is 'm', empty or has a 'www' label.  The domain is
    # empty when the host is all suffix (hence the leading '.'), and the
    # suffix when nothing matched (the trailing '.').  IPv4 hosts need
    # no rule of their own: digits never match a suffix, and the
    # no-match result equals the reference's IPv4 one, host + '.'.
    "adscrawler_collapse_labels": ("h STRING, k INT", f"""lower(concat(
        IF(length(h) - length(replace(h, '.', '')) = k - 1, '.', ''),
        IF({_SUB_DOT} IN ('', '.', 'm.')
           OR instr(concat('.', {_SUB_DOT}), '.www.') > 0, {_TAIL}, h),
        IF(k = 0, '.', '')))"""),
    "adscrawler_collapse_host": ("h STRING", f"""adscrawler_collapse_labels(h,
        CASE WHEN instr(h, '.') > 0
                  AND lower(substring_index(h, '.', -2)) {_SUFFIX_IN} THEN 2
             WHEN lower(substring_index(h, '.', -1)) {_SUFFIX_IN} THEN 1
             ELSE 0 END)"""),
    "adscrawler_canonical_host": (
        "url STRING", f"adscrawler_collapse_host({_authority(_REST)})"),
    "adscrawler_canon_rest": ("rest STRING", f"""concat(
        adscrawler_collapse_host({_authority('rest')}),
        IF(instr(rest, '/') > 0, substring(rest, instr(rest, '/')), ''))"""),
    "adscrawler_url_canon": ("url STRING", f"adscrawler_canon_rest({_REST})"),
}


def _sql_function(name: str, col: Column | str) -> Column:
    """``name(col)``; creates the SQL functions in the active session on
    their first use there."""
    spark = SparkSession.active()
    if not spark.catalog.functionExists(name):
        for fn, (params, body) in _SQL_FUNCTIONS.items():
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {fn}({params}) "
                f"RETURNS STRING RETURN {body}"
            )
    return F.call_function(name, col)


def canonical_host(url: Column | str) -> Column:
    """extract_domains_with_sub as a JVM expression (utils.py:191-204
    parity): the URL's host, its subdomain dropped when it is 'm',
    empty or has a 'www' label, lower-cased; NULL for a NULL URL."""
    return _sql_function("adscrawler_canonical_host", url)


def url_canon(url: Column | str) -> Column:
    """The frontier's dedup key as a JVM expression: ``canonical_host``
    plus ``/path?query`` with scheme, userinfo, port and fragment
    stripped (the row-wise ``canonical_url`` UDF, byte for byte)."""
    return _sql_function("adscrawler_url_canon", url)


def _hosts_from_urls(urls: pd.Series) -> pd.Series:
    """Vectorized loose host extraction (scheme/userinfo/port/path off)."""
    s = urls.astype("string")
    s = s.str.replace(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", "", regex=True, n=1)
    s = s.str.split("/", n=1).str[0]
    s = s.str.split("?", n=1).str[0]
    s = s.str.split("#", n=1).str[0]
    s = s.str.rsplit("@", n=1).str[-1]
    s = s.str.split(":", n=1).str[0]
    return s


def _extract_host(host: str) -> tuple[str, str, str]:
    """(subdomain, domain, suffix) for one host — called once per
    *unique* host per batch (memoized in the UDF body)."""
    if not host:
        return ("", "", "")
    labels = host.split(".")
    n = len(labels)
    if n == 4 and all(p.isdigit() and len(p) <= 3 for p in labels):
        return ("", host, "")
    for i in range(max(0, n - MAX_SUFFIX_LABELS), n):
        if ".".join(labels[i:]).lower() in PUBLIC_SUFFIXES:
            return (
                ".".join(labels[: i - 1]) if i > 1 else "",
                labels[i - 1] if i > 0 else "",
                ".".join(labels[i:]),
            )
    return (".".join(labels[:-1]), labels[-1], "")


def _canon_with_sub(host: str) -> str:
    sub, dom, suf = _extract_host(host)
    if sub == "m" or sub == "" or "www" in sub.split("."):
        out = dom + "." + suf
    else:
        out = sub + "." + dom + "." + suf
    return out.lower()


def _root_domain(host: str) -> str | None:
    _sub, dom, suf = _extract_host(host)
    if not suf:
        return None
    out = dom + "." + suf
    return None if out == "." else out


@pandas_udf(StringType())
def root_domain(urls: pd.Series) -> pd.Series:
    """extract_root_domain, vectorized (utils.py:178-188 parity)."""
    hosts = _hosts_from_urls(urls)
    uniq = {h: _root_domain(h) for h in hosts.dropna().unique()}
    return hosts.map(uniq).astype(object).where(hosts.notna(), None)


@pandas_udf(StringType())
def canonical_url(urls: pd.Series) -> pd.Series:
    """Full URL canonicalization: canonical host (subdomain collapse
    rule) + path?query with scheme/userinfo/port/fragment stripped.
    This is the frontier's dedup key — two raw URLs are the same crawl
    target iff their canonical URLs match.  (canonical_host alone is a
    *host*, which would collapse every listing on a store host to one
    key — hosts are for politeness, canonical URLs for identity.)"""
    s = urls.astype("string")
    s = s.str.replace(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", "", regex=True, n=1)
    s = s.str.split("#", n=1).str[0]
    split = s.str.split("/", n=1)
    authority = (
        split.str[0]
        .str.split("?", n=1).str[0]
        .str.rsplit("@", n=1).str[-1]
        .str.split(":", n=1).str[0]
    )
    rest = split.str[1]  # <NA> when no path
    uniq = {h: _canon_with_sub(h) for h in authority.dropna().unique()}
    canon_host = authority.map(uniq)
    path = ("/" + rest.fillna("")).where(rest.notna(), "")
    out = canon_host + path
    return out.astype(object).where(urls.notna(), None)


@pandas_udf(StringType())
def adstxt_registrable(values: pd.Series) -> pd.Series:
    """Collapse an ads.txt ad-system domain to registrable form, always
    joining domain+'.'+suffix even when the suffix is unknown (so
    'localhost' → 'localhost.'), per the reference cleaner at
    /root/reference/adscrawler/scrape.py:224-228."""
    hosts = _hosts_from_urls(values)

    def collapse(h: str) -> str:
        _sub, dom, suf = _extract_host(h)
        return dom + "." + suf

    uniq = {h: collapse(h) for h in hosts.dropna().unique()}
    return hosts.map(uniq).astype(object).where(hosts.notna(), None)


# Hosted-platform developer domains that never carry an app-ads.txt
# worth crawling (SURVEY.md P15; /root/reference/adscrawler/config.py:208-235,
# applied at scrape.py:156-160 and apple.py:280-304).
IGNORE_TLDS = [
    "00webhostapp.com", "bitballoon.com", "blogger.com", "linkedin.com",
    "blogspot.com", "blogspot.co.id", "blogspot.in", "bytehost6.com",
    "facebook.com", "flycricket.io", "github.io", "github.com",
    "instagram.com", "netlify.com", "page.link", "site123.me",
    "simplesite.com", "subsplash.com", "twitter.com", "tumblr.com",
    "weebly.com", "wix.com", "wixsite.com", "wordpress.com", "youtube.com",
]


def ignored_tld_filter(url_col: Column | str) -> Column:
    """TRUE when the URL targets a hosted platform (reference checks
    substring containment against the fetch URL, scrape.py:156-158)."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    out = F.lit(False)
    for tld in IGNORE_TLDS:
        out = out | c.contains(tld)
    return out


def url_hash(col: Column | str) -> Column:
    """Murmur3 URL hash — JVM-side (north_rule: murmur3-hashed URLs)."""
    return F.hash(col)


def hash_bucket(col: Column | str, buckets: int = 256) -> Column:
    """Reference's 256-way md5 2-hex bucketing
    (app_metrics_history.py:163,772,1142) — used as a physical
    partition key; non-negative pmod keeps Iceberg-style bucketing."""
    return F.pmod(F.hash(col), F.lit(buckets))
