"""Tracking-parameter stripping (SEMANTICS.md §Tracking parameters,
default OFF) — ``?utm_source=…`` variants of one resource collapse to one
canon_url, so one seen-set key, one frontier row, one politeness slot:

- kernel semantics: pinned key set, case-insensitive raw-byte key compare,
  token grammar (first ``=`` splits, ``=``-less token is all key), survivor
  order/bytes preserved, query-stripped-empty drops its ``?``, %-escaped
  keys survive (no percent-decoding of keys);
- flag OFF byte-identity with the pre-knob kernel (every committed crawl's
  keys are untouched);
- engine ≡ oracle crawl where three tracked variants of one child collapse
  to a single scheduled fetch under the flag — and burn three politeness
  slots without it;
- discovery-level strip: links extracted from html strip before the seen
  check, so a re-discovered tracked variant of an already-crawled url is
  not re-scheduled;
- config_hash extension behaviour.
"""

from __future__ import annotations

from datetime import datetime, timezone

from fixtures.gen import TINY, fixture_bundle
from indigo_crawler_spark.config import CrawlConfig
from indigo_crawler_spark.kernels.canonicalize import (
    TRACKING_PARAMS,
    CanonPolicy,
    canonicalize_url,
    strip_tracking_params,
)
from indigo_crawler_spark.kernels.textextract import (
    extract_text_and_links,
    extract_text_links_signals,
)
from indigo_crawler_spark.plans import schemas
from indigo_crawler_spark.plans.round import CrawlState, bootstrap, run_rounds
from indigo_crawler_spark.sources.fixture_df import (
    budgets_df,
    pages_df,
    robots_df,
    seeds_df,
)
from indigo_crawler_spark.sources.table_io import TableIO
from oracle.simulator import OracleCrawl

_TS = datetime(2023, 12, 31, tzinfo=timezone.utc)

# hub linking the SAME child through three tracked variants plus one clean
# reference; under the flag all four collapse to one discovery
TRK_HUB = (
    b"<html><body><p>hub with tracked links</p>"
    b'<a href="https://trk.example.org/child?utm_source=feed&utm_campaign=x">a</a>'
    b'<a href="https://trk.example.org/child?UTM_Source=tw">b</a>'
    b'<a href="https://trk.example.org/child?fbclid=abc123">c</a>'
    b'<a href="https://trk.example.org/child">d</a>'
    b"</body></html>"
)

# a child whose link keeps a REAL param next to a tracked one — the strip
# must keep ?page=2 (original bytes, original order)
TRK_CHILD = (
    b"<html><body><p>child words</p>"
    b'<a href="https://trk.example.org/leaf?utm_medium=m&page=2&gclid=g">n</a>'
    b"</body></html>"
)

LEAF = b"<html><body><p>leaf words</p></body></html>"


# ---------------------------------------------------------------------------
# kernel semantics
# ---------------------------------------------------------------------------
def test_strip_kernel_battery():
    # order/bytes of survivors preserved; keys case-insensitive
    assert (
        strip_tracking_params("utm_source=a&x=1&UTM_Medium=m&y=2") == "x=1&y=2"
    )
    # '='-less token: the whole token is the key
    assert strip_tracking_params("fbclid&real") == "real"
    # stripped-empty query drops the '?' at the URL level
    assert (
        canonicalize_url("https://example.com/p?utm_source=only", True)
        == "https://example.com/p"
    )
    # %-escaped key bytes are NOT decoded — they survive
    assert strip_tracking_params("utm%5Fsource=a&b=2") == "utm%5Fsource=a&b=2"
    # value bytes untouched, '=' inside value fine
    assert strip_tracking_params("q=a=b&gclid=x=y") == "q=a=b"
    # empty query is a no-op
    assert strip_tracking_params("") == ""
    # the set is pinned and lowercase (a drifted set silently changes
    # seen-set keys — this is the tripwire)
    assert "utm_source" in TRACKING_PARAMS
    assert all(k == k.lower() for k in TRACKING_PARAMS)


def test_flag_off_byte_identity():
    urls = [
        "https://Example.com:443/a/../b?utm_source=x&q=1#frag",
        "https://h1.example.org/p?gclid=1",
        "http://h2.example.org:8080/x%41?UTM_CAMPAIGN=c",
        "not a url",
        "ftp://junk/x",
    ]
    for u in urls:
        assert canonicalize_url(u) == canonicalize_url(u, False)


def test_extraction_strips_links_not_text():
    base = "https://h1.example.org/trk-hub"
    t0, l0 = extract_text_and_links(TRK_HUB, base)
    t1, l1 = extract_text_and_links(TRK_HUB, base, policy=CanonPolicy(strip_tracking=True))
    assert t1 == t0  # text byte-identical
    assert l0 == [
        "https://trk.example.org/child?utm_source=feed&utm_campaign=x",
        "https://trk.example.org/child?UTM_Source=tw",
        "https://trk.example.org/child?fbclid=abc123",
        "https://trk.example.org/child",
    ]
    # duplicates preserved at extraction (in-round dedup is downstream, A2)
    assert l1 == ["https://trk.example.org/child"] * 4
    # real params survive next to stripped ones
    _, lc = extract_text_and_links(
        TRK_CHILD, "https://trk.example.org/child", policy=CanonPolicy(strip_tracking=True)
    )
    assert lc == ["https://trk.example.org/leaf?page=2"]
    # the signals surface threads the same flag (canonical/refresh targets
    # covered by the shared canonical_target path)
    _, ls, *_ = extract_text_links_signals(
        TRK_HUB, base, policy=CanonPolicy(strip_tracking=True)
    )
    assert ls == l1


# ---------------------------------------------------------------------------
# engine vs oracle
# ---------------------------------------------------------------------------
def _trk_bundle():
    """TINY plus a seeded hub whose child is linked through three tracked
    variants, the child itself (clean url in the store), and its leaf."""
    fb = fixture_bundle(**TINY)

    def page(url, html):
        return {"url": url, "warc_ts": _TS, "html": html, "text": None, "lang": "en"}

    pages = fb["pages"] + [
        page("https://h1.example.org/trk-hub", TRK_HUB),
        page("https://trk.example.org/child", TRK_CHILD),
        page("https://trk.example.org/leaf?page=2", LEAF),
    ]
    next_rank = max(s["seed_rank"] for s in fb["seeds"]) + 1
    seeds = fb["seeds"] + [
        # the SEED itself is tracked: bootstrap strips it into the store key
        {
            "url": "https://h1.example.org/trk-hub?utm_source=newsletter",
            "seed_rank": next_rank,
        },
    ]
    return {**fb, "pages": pages, "seeds": seeds}


def _crawl(spark, tmp_path, fb, cfg, n_rounds):
    state = CrawlState(io=TableIO(spark, str(tmp_path)), cfg=cfg)
    bootstrap(
        spark,
        pages_df(spark, fb["pages"]),
        seeds_df(spark, fb["seeds"]),
        robots_df(spark, fb["robots"]),
        budgets_df(spark, fb["host_budgets"]),
        state,
    )
    manifests = run_rounds(spark, state, n_rounds)
    emitted = [
        row["canon_url"]
        for r in range(n_rounds)
        for row in state.io.read(f"fetch_batches/round={r}", schemas.FETCH_BATCHES)
        .orderBy("global_rank")
        .collect()
    ]
    return state, manifests, emitted


N_ROUNDS = 3


def test_strip_tracking_engine_vs_oracle(spark, tmp_path):
    fb = _trk_bundle()
    cfg = CrawlConfig(
        round_limit=500, num_buckets=16, bloom_bucket_capacity=256,
        strip_tracking_enabled=True,
    )
    state, manifests, emitted = _crawl(spark, tmp_path / "on", fb, cfg, N_ROUNDS)
    oc = OracleCrawl(fb["pages"], fb["seeds"], fb["robots"], fb["host_budgets"], cfg)
    results = oc.run(N_ROUNDS)

    for r in range(N_ROUNDS):
        got = [
            (row["canon_url"], row["rank_in_host"], row["global_rank"])
            for row in state.io.read(
                f"fetch_batches/round={r}", schemas.FETCH_BATCHES
            )
            .orderBy("global_rank")
            .collect()
        ]
        want = [
            (e["canon_url"], e["rank_in_host"], e["global_rank"])
            for e in results[r].emitted
        ]
        assert got == want, f"ordering mismatch at round {r}"
        assert manifests[r]["counters"] == results[r].counters, f"round {r}"

    # the tracked seed collapsed onto the clean store key and was fetched
    assert "https://h1.example.org/trk-hub" in emitted
    # exactly ONE schedule for the child despite four link variants
    assert emitted.count("https://trk.example.org/child") == 1
    # no tracked variant ever reached a fetch batch
    assert not any("utm" in u.lower() or "fbclid" in u for u in emitted)
    # the leaf kept its REAL param and was fetched under it
    assert "https://trk.example.org/leaf?page=2" in emitted


def test_flag_off_schedules_variants_distinctly(spark, tmp_path):
    """Inertness contract, stated positively: without the knob the three
    tracked variants are three distinct canon_urls — three frontier rows
    burning three politeness slots (two of them store-missing) — and the
    engine still matches the oracle exactly."""
    fb = _trk_bundle()
    cfg = CrawlConfig(round_limit=500, num_buckets=16, bloom_bucket_capacity=256)
    state, manifests, emitted = _crawl(spark, tmp_path / "off", fb, cfg, N_ROUNDS)
    oc = OracleCrawl(fb["pages"], fb["seeds"], fb["robots"], fb["host_budgets"], cfg)
    results = oc.run(N_ROUNDS)
    for r in range(N_ROUNDS):
        assert manifests[r]["counters"] == results[r].counters, f"round {r}"
    # the tracked seed is its own url now — the clean hub is never seeded
    assert "https://h1.example.org/trk-hub?utm_source=newsletter" in emitted
    assert "https://h1.example.org/trk-hub" not in emitted
    # hub html was fetched under the tracked seed url? No — store keys are
    # canonical urls of STORE pages; the tracked seed misses the store, so
    # its fetch is empty and nothing is discovered through it. The clean
    # child is therefore never scheduled; the variants never existed as
    # pages. That asymmetry IS the point of the knob.
    assert "https://trk.example.org/child" not in emitted


def test_config_hash_extension():
    """Default-off is hash-absent (pre-flag state dirs keep resuming);
    flipping the knob on changes the hash like every semantic knob."""
    base = CrawlConfig()
    on = CrawlConfig(strip_tracking_enabled=True)
    assert "strip_tracking_enabled" not in base._hash_dict()
    assert on._hash_dict()["strip_tracking_enabled"] is True
    assert base.config_hash() != on.config_hash()
