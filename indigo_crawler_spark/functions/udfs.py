"""Arrow-vectorized UDFs wrapping the shared pure-Python kernels.

Every Python scalar function in the engine lives here or in
functions/text_analysis.py (BASELINE.json:15 bans per-row classic ``udf``;
a lint test enforces that repo-wide). All are ``pandas_udf`` — Arrow batch
transfer, one Python invocation per batch:

- ``canonicalize_udf``: determinism beats built-in chains here; URL
  canonicalization must be byte-identical to the oracle (SURVEY.md F1).
- ``robots_allowed_udf``: stdlib robotparser per distinct (host, robots_txt),
  cached across rows within a batch and across batches within a worker.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, DoubleType, StringType

from indigo_crawler_spark.kernels.canonicalize import CanonPolicy, canonicalize_url
from indigo_crawler_spark.kernels.robots import (
    crawl_delay,
    robots_allowed,
    robots_allowed_rfc,
    robots_sitemaps,
)


# Fast-path predicate for the flags-off canonicalizer (r6 — guide §4.2:
# vectorize inside the batch): a URL matching this pattern is PROVABLY a
# fixed point of canonicalize_url — lowercase http(s) scheme, lowercase
# host with no port/userinfo/IPv6 bracket (charset excludes ':', '@', '[',
# uppercase), a non-empty path whose charset contains no '%' (percent-
# normalization is a no-op), no '.' (so no ./.. dot segments; RFC dot
# collapse is a no-op), and no '?'/'#' (no query to preserve, no fragment
# to strip) — so the kernel's reconstruction returns the input bytes
# unchanged and the whole row can pass through without a urlsplit. The
# residue (and any non-fixed-point spelling) still runs the full kernel.
import re as _re

_CANON_FIXED_POINT = _re.compile(r"https?://[a-z0-9-]+(?:\.[a-z0-9-]+)*/[A-Za-z0-9_\-/~]*")


def _canon_series(urls: pd.Series) -> pd.Series:
    mask = urls.str.fullmatch(_CANON_FIXED_POINT, na=False)
    if mask.all():
        return urls
    out = urls.copy()
    slow = ~mask
    out[slow] = urls[slow].map(
        lambda u: canonicalize_url(u) if isinstance(u, str) else None
    )
    return out


@F.pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """Canonical URL or null (quarantine) — kernel semantics, vectorized I/O;
    fixed-point spellings skip the per-row kernel (see _CANON_FIXED_POINT)."""
    return _canon_series(urls)


@functools.lru_cache(maxsize=64)
def make_canonicalize_udf(policy: CanonPolicy = CanonPolicy()):
    """pandas_udf canonicalizing under *policy* (cfg.canon_policy) — the six
    URL-alias rules of SEMANTICS.md §Tracking parameters / §WWW collapse /
    §Sorted query / §Session identifiers / §HTTPS preference / §Index
    collapse.
    The all-off policy returns the module-level ``canonicalize_udf``
    instance itself, so default-path plans are object-identical to pre-knob
    plans (no new UDF registration)."""
    if not any(policy):
        return canonicalize_udf

    @F.pandas_udf(StringType())
    def _canonicalize_policy(urls: pd.Series) -> pd.Series:
        return urls.map(
            lambda u: canonicalize_url(u, *policy) if isinstance(u, str) else None
        )

    return _canonicalize_policy


@functools.lru_cache(maxsize=32)
def make_robots_allowed_udf(user_agent: str, wildcards: bool = False):
    """pandas_udf gating on *user_agent* — built per config so a non-default
    agent actually reaches the parser (the oracle passes cfg.user_agent; the
    engine must gate on the same string or the two diverge). With
    *wildcards* (cfg.robots_wildcards_enabled — SEMANTICS.md §Robots
    wildcards) the RFC 9309 matcher replaces the stdlib prefix matcher —
    same Arrow crossing, different kernel."""
    gate = robots_allowed_rfc if wildcards else robots_allowed

    @F.pandas_udf(BooleanType())
    def _robots_allowed(canon_url: pd.Series, robots_txt: pd.Series) -> pd.Series:
        out = [
            gate(u, t if isinstance(t, str) else None, user_agent)
            for u, t in zip(canon_url, robots_txt)
        ]
        return pd.Series(out, dtype="boolean")

    return _robots_allowed


@functools.lru_cache(maxsize=32)
def make_crawl_delay_udf(user_agent: str):
    """pandas_udf: robots_txt → Crawl-delay seconds for *user_agent* (null =
    none declared). Rides the same per-(host, robots_txt) parser cache as
    the allow gate, so evaluating it on the already-joined gate frame adds
    no parses — only a second Arrow column."""

    @F.pandas_udf(DoubleType())
    def _crawl_delay(robots_txt: pd.Series) -> pd.Series:
        out = [
            crawl_delay(t if isinstance(t, str) else None, user_agent)
            for t in robots_txt
        ]
        return pd.Series(out, dtype="float64")

    return _crawl_delay


@F.pandas_udf(ArrayType(StringType()))
def robots_sitemaps_udf(robots_txt: pd.Series) -> pd.Series:
    """pandas_udf: robots_txt → its ``Sitemap:`` directive URLs in file
    order (raw; bootstrap canonicalizes them like seeds). Agent-independent,
    so no factory; shares the allow gate's parser cache."""
    return pd.Series(
        [robots_sitemaps(t if isinstance(t, str) else None) for t in robots_txt]
    )


# default-agent instance kept for callers outside a CrawlConfig context
robots_allowed_udf = make_robots_allowed_udf("indigo-spark")


@F.pandas_udf(StringType())
def normalize_text_udf(text: pd.Series) -> pd.Series:
    """Full text-normalization chain (kernels/textnorm.py): CRLF fold,
    control/zero-width strip, Unicode NFC. NFC has no Spark SQL builtin, so
    the whole chain runs in ONE Arrow crossing over the shared kernel
    rather than splitting the codegen-able steps from the NFC hop (same
    column would cross either way); the DuckDB oracle runs it declaratively
    (nfc_normalize + the same replaces) — driver query ``text_normalize``."""
    from indigo_crawler_spark.kernels.textnorm import normalize_text

    return text.map(lambda t: normalize_text(t) if isinstance(t, str) else None)
