"""F7/F8 — HTML → (text, out-links) over ``mapInPandas`` (SURVEY.md §2.3).

One parse per page produces BOTH the extracted text (byte-identity invariant,
BASELINE.json:15) and the canonical out-links, so the widest column (`html`
binary) crosses the Arrow boundary exactly once and is pruned immediately
after. Batch size is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
(tune down for very wide pages — SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from indigo_crawler_spark.kernels.canonicalize import CanonPolicy
from indigo_crawler_spark.kernels.textextract import (
    extract_all,
    extract_text_and_links,
    extract_text_links_signals,
)

_OUT_SCHEMA = StructType(
    [
        StructField("canon_url", StringType()),
        StructField("depth", IntegerType()),
        StructField("text", StringType()),
        StructField("links", ArrayType(StringType())),
    ]
)

_FIELDS_SCHEMA = StructType(
    _OUT_SCHEMA.fields
    + [
        StructField("title", StringType()),
        StructField("headings", ArrayType(StringType())),
        StructField("meta", MapType(StringType(), StringType())),
    ]
)


def extract_pages(
    df: DataFrame,
    sitemap_aware: bool = False,
    meta_robots: bool = False,
    rel_canonical: bool = False,
    meta_refresh: bool = False,
    anchor_nofollow: bool = False,
    hreflang: bool = False,
    policy: CanonPolicy = CanonPolicy(),
) -> DataFrame:
    """(canon_url, depth, html) → (canon_url, depth, text, links).

    Input may carry extra columns; only the three named ones are read —
    select them *before* calling so Parquet scans prune everything else.
    *sitemap_aware* (cfg.sitemaps_enabled) routes sitemap documents through
    the <loc> branch of the shared kernel — same single Arrow crossing.
    *meta_robots* (cfg.meta_robots_enabled) adds boolean ``noindex`` /
    ``nofollow`` columns from the page's REP meta-robots directives;
    *rel_canonical* (cfg.rel_canonical_enabled) adds a ``canonical_url``
    string column (NULL = none declared/resolvable); *meta_refresh*
    (cfg.meta_refresh_enabled) APPENDS a valid foreign refresh target to
    the page's out-links and adds a boolean ``redirect`` column (True =
    delay-0 pure redirect — SEMANTICS.md §Meta refresh); *anchor_nofollow*
    (cfg.anchor_nofollow_enabled) withholds ``<a rel=nofollow>`` links
    from the links column and adds an int ``anchor_dropped`` count
    (SEMANTICS.md §Anchor nofollow — a metric column, never persisted);
    *hreflang* (cfg.hreflang_enabled) APPENDS the page's resolved
    hreflang alternate targets to the out-links — pinned order anchors →
    alternates → refresh target — and adds an int ``hreflang_added``
    count (SEMANTICS.md §Hreflang alternates — a metric column, never
    persisted). *policy* (cfg.canon_policy) selects the URL-alias rules
    every out-link is canonicalized under.
    All signals come from the SAME parse, so text (and links, under the
    default flags) stay byte-identical and html still crosses Arrow
    exactly once.
    """
    fields = list(_OUT_SCHEMA.fields)
    if meta_robots:
        fields += [
            StructField("noindex", BooleanType()),
            StructField("nofollow", BooleanType()),
        ]
    if rel_canonical:
        fields.append(StructField("canonical_url", StringType()))
    if meta_refresh:
        fields.append(StructField("redirect", BooleanType()))
    if anchor_nofollow:
        fields.append(StructField("anchor_dropped", IntegerType()))
    if hreflang:
        fields.append(StructField("hreflang_added", IntegerType()))
    schema = StructType(fields)
    any_signal = (
        meta_robots or rel_canonical or meta_refresh or anchor_nofollow
        or hreflang
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, links = [], []
            noidx, nofol, canon, redir, adrop, hladd = [], [], [], [], [], []
            for html, base in zip(pdf["html"], pdf["canon_url"]):
                if any_signal:
                    t, ls, ni, nf, cu, rf, ad, alts = extract_text_links_signals(
                        html, base, sitemap_aware, anchor_nofollow, policy, hreflang
                    )
                    noidx.append(ni)
                    nofol.append(nf)
                    canon.append(cu)
                    adrop.append(ad)
                    if hreflang and alts:
                        # alternates join the out-links BEFORE the refresh
                        # target — SEMANTICS.md §Hreflang alternates
                        ls = ls + alts
                        hladd.append(len(alts))
                    else:
                        hladd.append(0)
                    if meta_refresh and rf is not None:
                        ls = ls + [rf[1]]
                        redir.append(rf[0] == 0)
                    else:
                        redir.append(False)
                else:
                    t, ls = extract_text_and_links(html, base, sitemap_aware, policy)
                texts.append(t)
                links.append(ls)
            out = {
                "canon_url": pdf["canon_url"],
                "depth": pdf["depth"],
                "text": texts,
                "links": links,
            }
            if meta_robots:
                out["noindex"] = noidx
                out["nofollow"] = nofol
            if rel_canonical:
                out["canonical_url"] = canon
            if meta_refresh:
                out["redirect"] = redir
            if anchor_nofollow:
                out["anchor_dropped"] = pd.array(adrop, dtype="int32")
            if hreflang:
                out["hreflang_added"] = pd.array(hladd, dtype="int32")
            yield pd.DataFrame(out)

    return df.select("canon_url", "depth", "html").mapInPandas(run, schema)


def extract_pages_with_fields(
    df: DataFrame,
    sitemap_aware: bool = False,
    policy: CanonPolicy = CanonPolicy(),
) -> DataFrame:
    """(canon_url, depth, html) → (…, text, links, title, headings, meta) —
    the structured-record extraction the reference's listing-page parser
    produced ([P], SURVEY.md §1.1): title, h1-h3 headings in document order,
    meta name→content pairs. SAME single parse per page as ``extract_pages``
    (kernels/textextract.extract_all): the html binary still crosses Arrow
    exactly once, and text/links stay byte-identical to the F7 path."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, links, titles, heads, metas = [], [], [], [], []
            for html, base in zip(pdf["html"], pdf["canon_url"]):
                t, ls, ti, hs, me = extract_all(html, base, sitemap_aware, policy)
                texts.append(t)
                links.append(ls)
                titles.append(ti)
                heads.append(hs)
                metas.append(me)
            yield pd.DataFrame(
                {
                    "canon_url": pdf["canon_url"],
                    "depth": pdf["depth"],
                    "text": texts,
                    "links": links,
                    "title": titles,
                    "headings": heads,
                    "meta": metas,
                }
            )

    return df.select("canon_url", "depth", "html").mapInPandas(run, _FIELDS_SCHEMA)
