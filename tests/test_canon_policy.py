"""One CanonPolicy value carries the six URL-alias rules from config to the
kernel. Engine and oracle call the same kernels, so engine ≡ oracle cannot
catch a field wired to the wrong rule on the way; these tests can: each rule
gets a URL that only it changes, and every entry point must agree with
``canonicalize_url(url, *policy)``."""

from __future__ import annotations

from html import escape

import pytest

from indigo_crawler_spark.config import CrawlConfig
from indigo_crawler_spark.functions.udfs import canonicalize_udf, make_canonicalize_udf
from indigo_crawler_spark.kernels.canonicalize import CanonPolicy, canonicalize_url
from indigo_crawler_spark.kernels.textextract import (
    extract_all,
    extract_text_and_links,
    extract_text_links_signals,
)

# per rule: a URL that this rule changes and no other rule does
URLS = {
    "strip_tracking": "https://h1.example.org/p?a=1&utm_source=feed",
    "collapse_www": "https://www.h1.example.org/p",
    "sort_query": "https://h1.example.org/p?b=2&a=1",
    "strip_session": "https://h1.example.org/p?a=1&sid=9",
    "prefer_https": "http://h1.example.org/p",
    "collapse_index": "https://h1.example.org/a/index.html",
}
PAGE = "https://h9.example.org/page"


def _page(url: str) -> str:
    """A page pointing at *url* through an anchor, a rel=canonical link, a
    meta refresh and an hreflang alternate."""
    u = escape(url, quote=True)
    return (
        f'<html><head><link rel="canonical" href="{u}">'
        f'<meta http-equiv="refresh" content="0;url={u}">'
        f'<link rel="alternate" hreflang="de" href="{u}">'
        f'</head><body><a href="{u}">x</a></body></html>'
    )


@pytest.fixture(scope="module")
def udf_results(spark):
    """Every rule's policy UDF over its own URL — one Spark job."""
    df = spark.createDataFrame([tuple(URLS.values())], list(URLS))
    row = df.select(
        *(
            make_canonicalize_udf(CanonPolicy(**{rule: True}))(rule).alias(rule)
            for rule in URLS
        )
    ).collect()[0]
    return row.asDict()


def test_rules_are_the_policy_fields():
    assert set(URLS) == set(CanonPolicy._fields)
    assert make_canonicalize_udf(CanonPolicy()) is canonicalize_udf
    assert CrawlConfig().canon_policy == CanonPolicy()


@pytest.mark.parametrize("rule", sorted(URLS))
def test_policy_reaches_every_entry_point(rule, udf_results):
    url = URLS[rule]
    policy = CanonPolicy(**{rule: True})
    want = canonicalize_url(url, *policy)
    off = canonicalize_url(url)
    assert want != off
    for other in CanonPolicy._fields:
        if other != rule:
            assert canonicalize_url(url, *CanonPolicy(**{other: True})) == off
    assert CrawlConfig(**{f"{rule}_enabled": True}).canon_policy == policy

    html = _page(url)
    assert extract_text_and_links(html, PAGE, policy=policy)[1] == [want]
    assert extract_all(html, PAGE, policy=policy)[1] == [want]
    _, links, _, _, canonical, refresh, _, alternates = extract_text_links_signals(
        html, PAGE, policy=policy, hreflang=True
    )
    assert (links, canonical, refresh, alternates) == ([want], want, (0, want), [want])
    assert udf_results[rule] == want
