"""Canonicalizer parity: the golden table from the reference's test-suite
(tests/app_stores/test_scrape_stores.py:42-69) on the pure-Python oracle
and on the JVM ``canonical_host``, plus cross-implementation equality on
generated inputs: the pandas UDF helpers and the JVM ``with_canonical``
against the row-wise ``canonical_url`` UDF and the per-row oracle."""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from adscrawler_spark.functions.psl import PUBLIC_SUFFIXES
from adscrawler_spark.functions.urls import canonical_host, url_hash
from adscrawler_spark.pyref import urls as pyref_urls

GOLDEN = [
    ("https://www.example.com/path/to/page", "example.com"),
    ("http://google.com", "google.com"),
    ("https://openai.com/chat", "openai.com"),
    (None, None),
    (float("nan"), None),
    ("", "."),
    ("https://github.com", "github.com"),
    ("https://192.168.1.1/admin", "192.168.1.1."),
    ("10.0.0.138", "10.0.0.138."),
    ("https://www.python.org/downloads", "python.org"),
    ("not-a-url", "not-a-url."),
    ("https://x.ai", "x.ai"),
    ("https://en.wikipedia.org/wiki/Main_Page", "en.wikipedia.org"),
    (None, None),
    ("", "."),
    ("https://api.stripe.com/v1/charges", "api.stripe.com"),
    ("https://localhost:3000", "localhost."),
    ("http://256.256.256.256", "256.256.256.256."),
    ("https://example.com", "example.com"),
    ("htp://invalid-scheme.com", "invalid-scheme.com"),
]

EXTRA_CASES = [
    ("http://m.example.co.uk/x", "example.co.uk"),      # m. collapses; multi-label PSL
    ("https://www.sub.example.com", "example.com"),     # www anywhere in subdomain
    ("https://api.www.example.com", "example.com"),
    ("https://cdn.shop.example.com.au", "cdn.shop.example.com.au"),
    ("user:pass@host.example.org:8080/p?q#f", "host.example.org"),
]


def test_pyref_golden_table():
    for value, expected in GOLDEN:
        assert pyref_urls.extract_domains_with_sub(value) == expected, value


def test_pyref_extra_cases():
    for value, expected in EXTRA_CASES:
        assert pyref_urls.extract_domains_with_sub(value) == expected, value


def test_pyref_root_domain():
    assert pyref_urls.extract_root_domain("https://www.example.com/x") == "example.com"
    assert pyref_urls.extract_root_domain("not-a-url") is None
    assert pyref_urls.extract_root_domain(None) is None
    assert pyref_urls.extract_root_domain("https://a.b.co.uk") == "b.co.uk"


@pytest.fixture(scope="module")
def spark_canon(spark):
    inputs = [v for v, _ in GOLDEN + EXTRA_CASES if isinstance(v, str)]
    df = spark.createDataFrame(pd.DataFrame({"url": inputs}))
    out = df.select("url", canonical_host("url").alias("canon")).toPandas()
    return dict(zip(out["url"], out["canon"]))


def test_spark_golden_table(spark_canon):
    for value, expected in GOLDEN + EXTRA_CASES:
        if isinstance(value, str):
            assert spark_canon[value] == expected, value


def test_spark_null_handling(spark):
    df = spark.createDataFrame([(None,), ("https://a.com",)], "url string")
    rows = df.select(canonical_host("url").alias("c")).collect()
    assert rows[0].c is None and rows[1].c == "a.com"


_url_strategy = st.one_of(
    st.from_regex(r"(https?://)?([a-z0-9\-]{1,10}\.){0,3}[a-z0-9\-]{1,12}\.(com|org|net|co\.uk|io|ai|de|xyz)(/[a-z0-9/\-\.]{0,20})?", fullmatch=True),
    st.text(alphabet="abc.:/-09", min_size=0, max_size=30),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_url_strategy, min_size=1, max_size=50))
def test_cross_impl_parity_hypothesis(batch):
    """Vectorized batch implementation == per-row oracle on arbitrary
    inputs (exercises the memoized-unique path without Spark overhead)."""
    from adscrawler_spark.functions import urls as vec

    hosts = vec._hosts_from_urls(pd.Series(batch, dtype="string"))
    got = [vec._canon_with_sub(h) if h is not None and h == h else None for h in hosts]
    want = [pyref_urls.extract_domains_with_sub(u) for u in batch]
    assert got == want


def test_url_hash_is_jvm_side(spark):
    df = spark.createDataFrame([("a.com",), ("b.com",)], "u string")
    plan = df.select(url_hash("u")).sample(False, 1.0)._jdf.queryExecution().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


_FIXED_URLS = [
    "https://www.example.com/path/to/page?q=1&r=2",
    "http://m.shop.co.uk/app-ads.txt",
    "https://google-play-store.com/store/apps/details?id=com.app7&gl=us",
    "user:pass@host.example.org:8080/p?q#frag",
    "https://api.stripe.com",
    "host-only.com",
    "host.com?query=no-slash",
    "https://x.ai/a#b/c",
    "",
    None,
]

_label = st.one_of(
    # kept when not exactly 'm' / 'www': the reference compares the
    # original-case labels, and lower-cases only the result
    st.sampled_from(["www", "WWW", "Www", "m", "M", "mm", "www1", ""]),
    st.from_regex(r"[a-z0-9\-]{1,8}", fullmatch=True),
    st.text(st.characters(categories=("Lu", "Ll"), max_codepoint=0x4FF),
            min_size=1, max_size=6),
    st.integers(0, 999).map(str),
)
_suffix = st.sampled_from(sorted(PUBLIC_SUFFIXES)).flatmap(
    lambda s: st.sampled_from([s, s.upper()])
)
_host = st.one_of(
    _suffix,  # a bare suffix: 'com', 'CO.UK'
    st.builds(lambda labels, sfx: ".".join([*labels, sfx]),
              st.lists(_label, max_size=4), _suffix),
    st.lists(_label, min_size=1, max_size=4).map(".".join),  # no suffix
    st.lists(st.integers(0, 400).map(str), min_size=4, max_size=4).map(".".join),
    st.lists(st.integers(0, 999).map(str), min_size=1, max_size=5).map(".".join),
)
_edge_url_strategy = st.builds(
    lambda *parts: "".join(parts),
    st.sampled_from(["", "http://", "https://", "HTTPS://", "htp://", "//"]),
    st.sampled_from(["", "user@", "u:p@", "a@b@"]),
    _host,
    st.sampled_from(["", ":80", ":8080", ":"]),
    st.sampled_from(["", "/", "/a/b.txt", "/x:y@z"]),
    st.sampled_from(["", "?q=1", "?a=/b", "?x#y"]),
    st.sampled_from(["", "#f", "#/a", "#?q"]),
)


@settings(max_examples=12, deadline=None)
@given(st.lists(_edge_url_strategy, min_size=1, max_size=80))
def test_with_canonical_matches_rowwise_udf(spark, drawn):
    """The JVM with_canonical must be byte-identical to the row-wise
    canonical_url UDF, and the JVM canonical_host to the per-row oracle,
    on a fixed list plus generated URLs."""
    from adscrawler_spark.functions.urls import canonical_url
    from adscrawler_spark.operators.frontier import with_canonical

    urls = _FIXED_URLS + drawn
    df = spark.createDataFrame(pd.DataFrame({"url": urls}), "url string")
    got = {
        r.url: (r.url_canon, r.host)
        for r in with_canonical(df)
        .select("url", "url_canon", canonical_host("url").alias("host"))
        .collect()
    }
    want = {
        r.url: (r.c, pyref_urls.extract_domains_with_sub(r.url))
        for r in df.select("url", canonical_url("url").alias("c")).collect()
    }
    assert got == want


def test_ignored_tld_filter(spark):
    from adscrawler_spark.functions.urls import ignored_tld_filter

    df = spark.createDataFrame(
        [("https://foo.blogspot.com/x",), ("https://me.github.io/a",),
         ("https://legit-dev.com/app-ads.txt",)], "url string")
    got = [r.i for r in df.select(ignored_tld_filter("url").alias("i")).collect()]
    assert got == [True, True, False]


def test_download_priority_formula(spark):
    import datetime
    from adscrawler_spark.operators.frontier import download_priority

    df = spark.createDataFrame(
        [(datetime.datetime(2026, 7, 31), datetime.datetime(2026, 7, 21), 100, 10),
         (None, None, 1, 1)],
        "last_attempt_at timestamp, last_success_at timestamp, "
        "installs long, rating_count long",
    )
    rows = df.select(download_priority("2026-08-01 00:00:00").alias("p")).collect()
    # (1 + 11)/2 * greatest(100, 500) = 3000
    assert rows[0].p == 3000.0
    assert rows[1].p > 1e4  # never-crawled dominates
