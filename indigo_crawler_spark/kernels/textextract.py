"""HTML → (visible text, out-links) kernel — SEMANTICS.md §Text + link extraction.

stdlib ``html.parser`` only (bs4/lxml absent in the sandbox — SURVEY.md §0).
One parse pass produces both the extracted text (byte-identity invariant,
BASELINE.json:15) and the anchor hrefs in document order. The Spark engine
runs this inside ``mapInPandas`` batches; the oracle calls it per page.
"""

from __future__ import annotations

from html.parser import HTMLParser
from urllib.parse import urljoin

from indigo_crawler_spark.kernels.canonicalize import CanonPolicy, canonicalize_url

_SKIP_TAGS = frozenset(("script", "style", "noscript", "template"))
_BLOCK_TAGS = frozenset(
    (
        "p", "div", "li", "br",
        "h1", "h2", "h3", "h4", "h5", "h6",
        "tr", "section", "article", "header", "footer",
        "blockquote", "pre", "table",
    )
)


_HEADING_TAGS = frozenset(("h1", "h2", "h3"))

# tags allowed to appear INSIDE an unclosed <title> without ending it:
# purely inline formatting, which a browser's RCDATA title keeps as literal
# title text (ADVICE r4: force-closing on ANY tag truncated
# <title>a <b>c</b></title> to "a"). Anything else — head successors
# (meta/link/base), body/block structure, anchors — still force-closes, so
# the runaway-title failure (a truncated document's whole body accumulating
# into the title field) stays fixed.
_TITLE_INLINE_TAGS = frozenset(
    (
        "b", "i", "em", "strong", "span", "small", "sub", "sup", "u", "s",
        "code", "abbr", "mark", "q", "kbd", "var", "samp", "cite", "dfn",
        "time", "wbr", "tt", "big", "font", "nobr", "strike", "ins", "del",
    )
)


class _Extractor(HTMLParser):
    """One pass collects visible text, anchor hrefs AND the structured
    record fields (title, h1-h3 headings in document order, meta name →
    content pairs, first occurrence wins). Field collection never alters
    the text/link byte streams — the byte-identity invariant
    (BASELINE.json:15) is untouched; fields are an additive view of the
    same parse (the reference [P] parsed listing pages into structured
    records, not just visible text — SURVEY.md §1.1)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_depth = 0
        self._chunks: list[str] = []
        self.hrefs: list[str] = []
        self.href_rels: list[str | None] = []
        self._title_chunks: list[str] = []
        self._in_title = False
        self._title_done = False
        self._head_tag: str | None = None
        self._head_chunks: list[str] = []
        self.headings: list[str] = []
        self.meta: dict[str, str] = {}
        self.canonical_href: str | None = None
        self.refresh_content: str | None = None
        self.base_href: str | None = None
        self.alternate_hrefs: list[str] = []

    def handle_starttag(self, tag, attrs):
        if self._in_title and tag != "title" and tag not in _TITLE_INLINE_TAGS:
            # unclosed <title> (common in truncated real-world HTML —
            # html.parser does not treat title as CDATA, so no implicit
            # close happens): any non-inline tag ends it here; otherwise the
            # entire remaining document text would accumulate into the title
            # field. Inline formatting keeps collecting (RCDATA-style
            # <title>a <b>c</b></title> → "a c", the browser-adjacent
            # reading — ADVICE r4). Only the title view changes — the
            # text/link byte streams are untouched; the oracle shares this
            # kernel, so engine and oracle agree either way.
            self._in_title = False
            self._title_done = True
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "a":
            # first non-None href wins (unchanged); the anchor's rel rides
            # alongside so anchor-level REP nofollow (SEMANTICS.md §Anchor
            # nofollow) comes from the SAME parse — collecting it never
            # alters the href byte stream
            href = rel = None
            for k, v in attrs:
                if k == "href" and href is None and v is not None:
                    href = v
                elif k == "rel" and rel is None and v is not None:
                    rel = v
            if href is not None:
                self.hrefs.append(href)
                self.href_rels.append(rel)
        elif tag == "meta":
            name = content = equiv = None
            for k, v in attrs:
                if k == "name":
                    name = v
                elif k == "content":
                    content = v
                elif k == "http-equiv":
                    equiv = v
            if name and content is not None and name not in self.meta:
                self.meta[name] = content
            if (
                equiv is not None
                and content is not None
                and self.refresh_content is None
                and equiv.strip().lower() == "refresh"
            ):
                # first http-equiv=refresh in document order wins —
                # SEMANTICS.md §Meta refresh
                self.refresh_content = content
        elif tag == "base" and self.base_href is None:
            # HTML spec: only the FIRST <base> with an href is honored; it
            # rebases every relative URL in the document (anchors, link
            # rel=canonical, meta refresh) — SEMANTICS.md §Text + link
            # extraction (base honor note)
            for k, v in attrs:
                if k == "href" and v is not None:
                    self.base_href = v
                    break
        elif tag == "link":
            rel = href = hreflang = None
            for k, v in attrs:
                if k == "rel":
                    rel = v
                elif k == "href":
                    href = v
                elif k == "hreflang":
                    hreflang = v
            if rel is not None and href is not None:
                toks = rel.lower().split()
                # first <link> whose rel token list (whitespace-separated,
                # case-insensitive) contains "canonical" AND that carries
                # an href — SEMANTICS.md §Canonical link; links without a
                # usable href don't consume first-wins
                if self.canonical_href is None and "canonical" in toks:
                    self.canonical_href = href
                # every <link> whose rel tokens contain "alternate" AND
                # that carries BOTH an href and a non-blank hreflang, in
                # document order — SEMANTICS.md §Hreflang alternates
                # (rel=alternate without hreflang is a feed/stylesheet
                # alternate, not a language variant)
                if (
                    "alternate" in toks
                    and hreflang is not None
                    and hreflang.strip()
                ):
                    self.alternate_hrefs.append(href)
        elif tag == "title" and not self._title_done:
            self._in_title = True
        elif tag in _HEADING_TAGS and self._head_tag is None:
            self._head_tag, self._head_chunks = tag, []
        if tag in _BLOCK_TAGS:
            self._chunks.append("\n")

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            if self._skip_depth:
                self._skip_depth -= 1
            return
        if self._skip_depth:
            return
        if self._in_title and (tag == "title" or tag not in _TITLE_INLINE_TAGS):
            # </title>, or e.g. </head> right after an unclosed title — the
            # same force-close rule as the start-tag side. A plain `if`, not
            # part of the chain below: an end tag that closes an unclosed
            # title may ALSO be the open heading's close (<h1><title>x</h1>)
            # and must still flush the heading.
            self._in_title = False
            self._title_done = True
        if tag == self._head_tag:
            self.headings.append(" ".join("".join(self._head_chunks).split()))
            self._head_tag = None
        if tag in _BLOCK_TAGS:
            self._chunks.append("\n")

    def handle_startendtag(self, tag, attrs):
        # void elements (<br/>, <meta/>): start-side behaviour only
        self.handle_starttag(tag, attrs)

    def handle_data(self, data):
        if self._skip_depth or not data:
            return
        self._chunks.append(data)
        if self._in_title:
            self._title_chunks.append(data)
        if self._head_tag is not None:
            self._head_chunks.append(data)

    def text(self) -> str:
        lines = "".join(self._chunks).split("\n")
        out = [" ".join(ln.split()) for ln in lines]
        return "\n".join(ln for ln in out if ln)

    def title(self) -> str:
        return " ".join("".join(self._title_chunks).split())


def _decode(html: bytes | str | None) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="replace")
    return html


def _parse(html: bytes | str | None) -> _Extractor:
    p = _Extractor()
    doc = _decode(html)
    if not doc:
        return p
    try:
        p.feed(doc)
        p.close()
    except Exception:
        # html.parser is tolerant; a hard failure yields whatever was collected
        pass
    return p


def _effective_base(p: _Extractor, base_url: str | None) -> str | None:
    """The document's base URL for resolving relative references: the first
    ``<base href>`` (itself resolved against the page URL — the base element
    may be relative, per spec) when present, else the page URL."""
    if p.base_href is None:
        return base_url
    b = p.base_href.strip()
    if not b:
        return base_url
    try:
        return urljoin(base_url or "", b)
    except ValueError:
        return base_url


def _canon_links(
    hrefs: list[str],
    base_url: str | None,
    policy: CanonPolicy = CanonPolicy(),
) -> list[str]:
    links: list[str] = []
    for href in hrefs:
        h = href.strip()
        if not h:
            continue
        try:
            absu = urljoin(base_url or "", h)
        except ValueError:
            continue
        c = canonicalize_url(absu, *policy)
        if c is not None:
            links.append(c)
    return links


def anchor_rel_nofollow(rel: str | None) -> bool:
    """True when an anchor's ``rel`` token list (whitespace-separated,
    case-insensitive — the same tokenization as rel=canonical) contains
    ``nofollow`` — SEMANTICS.md §Anchor nofollow. ``sponsored`` / ``ugc``
    are deliberately NOT honored: they qualify endorsement, not crawling,
    and honoring hints would make the crawl set depend on a policy choice
    the oracle cannot pin."""
    return rel is not None and "nofollow" in rel.lower().split()


def _canon_links_rels(
    hrefs: list[str],
    rels: list[str | None],
    base_url: str | None,
    policy: CanonPolicy = CanonPolicy(),
) -> tuple[list[str], int]:
    """The anchor-nofollow variant of ``_canon_links``: returns
    (kept links, dropped count). Dropped counts ONLY anchors that would
    otherwise have produced a link (resolvable AND canonicalizable), so per
    page ``len(kept) + dropped == len(flag-off links)`` — the partition
    invariant the tests pin."""
    links: list[str] = []
    dropped = 0
    for href, rel in zip(hrefs, rels):
        h = href.strip()
        if not h:
            continue
        try:
            absu = urljoin(base_url or "", h)
        except ValueError:
            continue
        c = canonicalize_url(absu, *policy)
        if c is None:
            continue
        if anchor_rel_nofollow(rel):
            dropped += 1
            continue
        links.append(c)
    return links, dropped


def extract_text_and_links(
    html: bytes | str | None,
    base_url: str | None,
    sitemap_aware: bool = False,
    policy: CanonPolicy = CanonPolicy(),
) -> tuple[str, list[str]]:
    """Parse *html* once; return (visible_text, canonical out-links in order).

    *html* is the binary column decoded UTF-8 ``errors='replace'``. Links are
    ``urljoin(base_url, href)`` → ``canonicalize_url``; rejects are dropped;
    duplicates are preserved (in-round dedup happens downstream, A2).

    With *sitemap_aware* (cfg.sitemaps_enabled — a semantic knob, so it
    enters config_hash): a sitemap/sitemap-index document
    (kernels/sitemap.py is normative) yields text = "" and links = its
    ``<loc>`` URLs canonicalized like any href — ``<sitemapindex>`` children
    are further sitemaps, fetched as ordinary frontier rows. HTML pages
    never match the detector, so their text/link byte streams are unchanged
    under the flag.
    """
    if sitemap_aware:
        from indigo_crawler_spark.kernels.sitemap import (
            looks_like_sitemap,
            sitemap_locs,
        )

        doc = _decode(html)
        if looks_like_sitemap(doc):
            return "", _canon_links(sitemap_locs(doc), base_url, policy)
    p = _parse(html)
    return p.text(), _canon_links(p.hrefs, _effective_base(p, base_url), policy)


def extract_all(
    html: bytes | str | None,
    base_url: str | None,
    sitemap_aware: bool = False,
    policy: CanonPolicy = CanonPolicy(),
) -> tuple[str, list[str], str, list[str], dict[str, str]]:
    """Parse *html* once; return (text, links, title, headings, meta) — the
    structured-record extraction surface. text/links are byte-identical to
    ``extract_text_and_links`` (same parse, additive fields; sitemap
    documents under *sitemap_aware* have no title/headings/meta)."""
    if sitemap_aware:
        from indigo_crawler_spark.kernels.sitemap import (
            looks_like_sitemap,
            sitemap_locs,
        )

        doc = _decode(html)
        if looks_like_sitemap(doc):
            return (
                "",
                _canon_links(sitemap_locs(doc), base_url, policy),
                "",
                [],
                {},
            )
    p = _parse(html)
    return (
        p.text(),
        _canon_links(p.hrefs, _effective_base(p, base_url), policy),
        p.title(),
        p.headings,
        p.meta,
    )


def extract_fields(
    html: bytes | str | None,
) -> tuple[str, list[str], dict[str, str]]:
    """(title, h1-h3 headings in order, meta name→content) for one page."""
    p = _parse(html)
    return p.title(), p.headings, p.meta


def meta_robots_flags(meta: dict[str, str]) -> tuple[bool, bool]:
    """(noindex, nofollow) from a page's meta name→content map —
    SEMANTICS.md §Meta robots (normative; the oracle shares this kernel).

    REP semantics: the first meta whose *name* lowercases to ``robots``
    (document order — the meta dict preserves insertion order and is
    first-occurrence-wins per exact name) is the directive source; its
    content is split on commas, each directive trimmed and lowercased:
    ``noindex`` / ``nofollow`` set their flag, ``none`` sets both, anything
    else (``all``, ``index``, ``follow``, unknown tokens) is ignored. No
    meta robots → (False, False)."""
    content = None
    for k, v in meta.items():
        if k.lower() == "robots":
            content = v
            break
    noindex = nofollow = False
    if content:
        for d in content.split(","):
            d = d.strip().lower()
            if d == "noindex":
                noindex = True
            elif d == "nofollow":
                nofollow = True
            elif d == "none":
                noindex = nofollow = True
    return noindex, nofollow


def canonical_target(
    href: str | None,
    base_url: str | None,
    policy: CanonPolicy = CanonPolicy(),
) -> str | None:
    """Resolve a ``<link rel="canonical">`` href to a canonical URL —
    SEMANTICS.md §Canonical link: ``urljoin(base, href)`` then
    ``canonicalize_url``; an unresolvable or rejected href (junk scheme,
    unparseable) yields None — a declared-but-unusable canonical is
    treated as absent."""
    if href is None:
        return None
    h = href.strip()
    if not h:
        return None
    try:
        absu = urljoin(base_url or "", h)
    except ValueError:
        return None
    return canonicalize_url(absu, *policy)


def meta_refresh_target(
    content: str | None,
    base_url: str | None,
    page_url: str | None = None,
    policy: CanonPolicy = CanonPolicy(),
) -> tuple[int, str] | None:
    """(delay_seconds, resolved_target) from a meta http-equiv=refresh
    content string — SEMANTICS.md §Meta refresh (normative; the oracle
    shares this kernel). Grammar honored: ``DELAY[;url=TARGET]`` — DELAY is
    a leading run of ASCII digits (anything else → no refresh); after the
    first ``;`` the ``url=`` key matches case-insensitively with optional
    surrounding whitespace; the target may be wrapped in one pair of
    matching single/double quotes. The target resolves like a canonical
    href (urljoin + canonicalize) against *base_url* (the document's
    effective base — a ``<base href>`` when present); an absent,
    unresolvable, or SELF-pointing target yields None — a page refreshing
    to itself is a reload, not a redirect. Self is judged against
    *page_url* (the page's own canon_url; defaults to *base_url* for
    base-less documents)."""
    if content is None:
        return None
    head, sep, rest = content.partition(";")
    delay_s = head.strip()
    if not delay_s or not delay_s.isdigit():
        return None
    if not sep:
        return None
    r = rest.strip()
    if r[:4].lower() != "url=":
        return None
    t = r[4:].strip()
    if len(t) >= 2 and t[0] == t[-1] and t[0] in ("'", '"'):
        t = t[1:-1].strip()
    target = canonical_target(t, base_url, policy)
    if target is None or target == (page_url if page_url is not None else base_url):
        return None
    return int(delay_s), target


def hreflang_targets(
    alternate_hrefs: list[str],
    base_url: str | None,
    page_url: str | None = None,
    policy: CanonPolicy = CanonPolicy(),
) -> list[str]:
    """Resolved ``<link rel=alternate hreflang>`` targets — SEMANTICS.md
    §Hreflang alternates (normative; the oracle shares this kernel).

    Each collected href resolves like an anchor (urljoin against the
    document's effective base + canonicalize under the active key rules);
    unresolvable hrefs drop; SELF-pointing targets drop (hreflang clusters
    conventionally list the page itself — a self row is a no-op for
    discovery); duplicates drop keeping the FIRST occurrence, so the
    result preserves document order. Self is judged against *page_url*
    (the page's own canon_url; defaults to *base_url* for base-less
    documents)."""
    self_url = page_url if page_url is not None else base_url
    out: list[str] = []
    seen: set[str] = set()
    for c in _canon_links(alternate_hrefs, base_url, policy):
        if c == self_url or c in seen:
            continue
        seen.add(c)
        out.append(c)
    return out


def extract_text_links_signals(
    html: bytes | str | None,
    base_url: str | None,
    sitemap_aware: bool = False,
    anchor_nofollow: bool = False,
    policy: CanonPolicy = CanonPolicy(),
    hreflang: bool = False,
) -> tuple[
    str,
    list[str],
    bool,
    bool,
    str | None,
    tuple[int, str] | None,
    int,
    list[str],
]:
    """Parse *html* once; return (text, links, noindex, nofollow,
    canonical, refresh, anchor_dropped, alternates) — the
    ``extract_text_and_links``
    surface plus every page-level signal from the SAME parse: REP
    meta-robots flags (cfg.meta_robots_enabled), the rel=canonical target
    (cfg.rel_canonical_enabled), the meta-refresh redirect
    (cfg.meta_refresh_enabled; ``refresh`` is (delay, target) or None),
    and the resolved hreflang alternate targets
    (cfg.hreflang_enabled, threaded in as *hreflang* — ``alternates`` is
    ``hreflang_targets(...)`` when on, ``[]`` when off so the per-page
    resolution cost is only paid when asked for; document order, self and
    duplicates dropped; callers APPEND them to links, like the refresh
    target, so flag-off links stay byte-equal).
    With *anchor_nofollow* (cfg.anchor_nofollow_enabled — SEMANTICS.md
    §Anchor nofollow) each ``<a rel=... nofollow ...>`` link is withheld
    from ``links`` and counted in ``anchor_dropped`` (0 when off, where
    text/links are byte-identical to ``extract_text_and_links``); sitemap
    documents under *sitemap_aware* carry none of these signals."""
    if sitemap_aware:
        from indigo_crawler_spark.kernels.sitemap import (
            looks_like_sitemap,
            sitemap_locs,
        )

        doc = _decode(html)
        if looks_like_sitemap(doc):
            return (
                "",
                _canon_links(sitemap_locs(doc), base_url, policy),
                False,
                False,
                None,
                None,
                0,
                [],
            )
    p = _parse(html)
    noindex, nofollow = meta_robots_flags(p.meta)
    eb = _effective_base(p, base_url)
    if anchor_nofollow:
        links, anchor_dropped = _canon_links_rels(p.hrefs, p.href_rels, eb, policy)
    else:
        links, anchor_dropped = _canon_links(p.hrefs, eb, policy), 0
    return (
        p.text(),
        links,
        noindex,
        nofollow,
        canonical_target(p.canonical_href, eb, policy),
        meta_refresh_target(p.refresh_content, eb, base_url, policy),
        anchor_dropped,
        # resolving alternates costs urljoin + full canonicalization per
        # collected <link rel=alternate hreflang> (international sites
        # list dozens per page), so it only runs when the knob asks —
        # callers with other signal flags on no longer pay for a result
        # they discard
        hreflang_targets(p.alternate_hrefs, eb, base_url, policy)
        if hreflang
        else [],
    )


def extract_text_links_robots(
    html: bytes | str | None,
    base_url: str | None,
    sitemap_aware: bool = False,
    policy: CanonPolicy = CanonPolicy(),
) -> tuple[str, list[str], bool, bool]:
    """(text, links, noindex, nofollow) — the meta-robots slice of
    ``extract_text_links_signals`` (same single parse)."""
    text, links, noindex, nofollow, _, _, _, _ = extract_text_links_signals(
        html, base_url, sitemap_aware, policy=policy
    )
    return text, links, noindex, nofollow
