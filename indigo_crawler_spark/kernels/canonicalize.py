"""URL canonicalization kernel — SEMANTICS.md §Canonicalization.

Pure Python, stdlib only. This is the normative definition; the Spark engine
wraps it in a scalar ``pandas_udf`` (Arrow-vectorized batches, never classic
per-row ``udf``) and the oracle calls it directly, so both sides agree
byte-for-byte.
"""

from __future__ import annotations

from typing import NamedTuple
from urllib.parse import urlsplit

_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_HEX = frozenset("0123456789abcdefABCDEF")
_DEFAULT_PORT = {"http": "80", "https": "443"}


def _percent_normalize(path: str) -> str:
    """Decode %XX for unreserved bytes; uppercase hex of the rest.

    A lone or malformed ``%`` is kept verbatim (we never reject on it).
    """
    if "%" not in path:
        return path
    out: list[str] = []
    i, n = 0, len(path)
    while i < n:
        c = path[i]
        if c == "%" and i + 2 < n:
            h1, h2 = path[i + 1], path[i + 2]
            if h1 in _HEX and h2 in _HEX:
                byte = int(h1 + h2, 16)
                ch = chr(byte)
                if ch in _UNRESERVED:
                    out.append(ch)
                else:
                    out.append("%" + h1.upper() + h2.upper())
                i += 3
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments, verbatim state machine."""
    inp = path
    out: list[str] = []
    while inp:
        if inp.startswith("../"):
            inp = inp[3:]
        elif inp.startswith("./"):
            inp = inp[2:]
        elif inp.startswith("/./"):
            inp = "/" + inp[3:]
        elif inp == "/.":
            inp = "/"
        elif inp.startswith("/../"):
            inp = "/" + inp[4:]
            if out:
                out.pop()
        elif inp == "/..":
            inp = "/"
            if out:
                out.pop()
        elif inp in (".", ".."):
            inp = ""
        else:
            if inp.startswith("/"):
                j = inp.find("/", 1)
            else:
                j = inp.find("/")
            if j == -1:
                out.append(inp)
                inp = ""
            else:
                out.append(inp[:j])
                inp = inp[j:]
    return "".join(out)


# Tracking-parameter keys stripped under cfg.strip_tracking_enabled —
# SEMANTICS.md §Tracking parameters. Pinned, closed set (adding a key is a
# semantic change: it alters seen-set keys, so it must ride a config-hash
# change via a new engine release, never a runtime knob). Keys compare
# case-insensitively against the RAW bytes before the first ``=`` of each
# ``&``-separated query token; surviving tokens keep their original bytes
# and relative order, and a query stripped empty drops its ``?``.
TRACKING_PARAMS = frozenset(
    {
        "utm_source",
        "utm_medium",
        "utm_campaign",
        "utm_term",
        "utm_content",
        "utm_id",
        "gclid",
        "dclid",
        "fbclid",
        "msclkid",
        "yclid",
        "twclid",
        "igshid",
        "mc_cid",
        "mc_eid",
    }
)


def strip_tracking_params(query: str) -> str:
    """Drop tracking parameters from a canonical-form query string.

    Token grammar mirrors what servers actually key on: split on ``&``, a
    token's key is everything before its first ``=`` (the whole token when
    ``=`` is absent), compared lowercased against TRACKING_PARAMS. No
    percent-decoding of keys (a %-escaped ``utm_source`` is a different
    byte key and survives — deterministic beats clever here).
    """
    if not query:
        return query
    kept = [
        tok
        for tok in query.split("&")
        if tok.partition("=")[0].lower() not in TRACKING_PARAMS
    ]
    return "&".join(kept)


# Session-identifier keys stripped under cfg.strip_session_enabled —
# SEMANTICS.md §Session identifiers. Pinned, closed set plus ONE pinned
# prefix rule (ASP emits ASPSESSIONID followed by a per-site suffix, so exact
# matching can't express it). Same grammar as TRACKING_PARAMS: keys compare
# lowercased against the RAW bytes before the first ``=`` of each
# ``&``-separated query token, no percent-decoding.
SESSION_PARAMS = frozenset(
    {
        "phpsessid",
        "jsessionid",
        "sessionid",
        "session_id",
        "sid",
        "zenid",
        "oscsid",
        "cfid",
        "cftoken",
    }
)
_SESSION_PREFIX = "aspsessionid"


def _is_session_key(key: str) -> bool:
    k = key.lower()
    return k in SESSION_PARAMS or k.startswith(_SESSION_PREFIX)


def strip_session_params(query: str) -> str:
    """Drop session-identifier parameters from a canonical-form query
    string — token grammar identical to ``strip_tracking_params`` (split
    on ``&``, key = bytes before the first ``=``, lowercased, never
    percent-decoded), against SESSION_PARAMS plus the pinned
    ``aspsessionid*`` prefix rule."""
    if not query:
        return query
    kept = [
        tok for tok in query.split("&") if not _is_session_key(tok.partition("=")[0])
    ]
    return "&".join(kept)


def strip_session_path(path: str) -> str:
    """Drop ``;jsessionid=…`` path parameters from a canonical-form path.

    Servlet containers append the session id as a PATH parameter
    (``/cart;jsessionid=ABC123/view``), not a query token. Rule: in every
    ``/``-separated segment, a ``;``-introduced parameter whose key (bytes
    between ``;`` and the next ``=``/``;``, lowercased) is ``jsessionid``
    is removed — other path parameters survive byte-for-byte (they can be
    load-bearing; only the session id is provably per-visitor noise).
    Idempotent: no jsessionid survives, so the output is a fixed point."""
    if ";" not in path:
        return path
    out_segs = []
    for seg in path.split("/"):
        if ";" not in seg:
            out_segs.append(seg)
            continue
        base, *params = seg.split(";")
        kept = [
            p for p in params if p.partition("=")[0].lower() != "jsessionid"
        ]
        out_segs.append(";".join([base] + kept) if kept else base)
    return "/".join(out_segs)


# Default-document filenames collapsed under cfg.collapse_index_enabled —
# SEMANTICS.md §Index collapse. Pinned, closed set; final path segment
# compares lowercased. Adding a name is a semantic change to every
# seen-set key, so it ships as an engine release, never a runtime knob.
INDEX_DOCS = frozenset(
    {
        "index.html",
        "index.htm",
        "index.php",
        "index.asp",
        "index.aspx",
        "default.htm",
        "default.html",
        "default.asp",
        "default.aspx",
    }
)


def collapse_index_path(path: str) -> str:
    """Drop a trailing default-document segment from a canonical-form path:
    ``/a/index.html`` → ``/a/`` (the trailing slash stays — the directory
    IS the resource). Only the FINAL segment, compared lowercased against
    the pinned INDEX_DOCS set; every other byte survives. Idempotent: the
    output ends in ``/`` (an empty final segment, never in the set), so
    the result is a FIXED POINT of canonicalization."""
    i = path.rfind("/")
    if i >= 0 and path[i + 1 :].lower() in INDEX_DOCS:
        return path[: i + 1]
    return path


def sort_query_params(query: str) -> str:
    """Stable canonical ordering for a canonical-form query string.

    Splits on ``&`` and sorts the WHOLE raw tokens (key=value bytes) by
    byte order — no percent-decoding, no key/value parsing beyond the
    token split, so the rule is total, deterministic, and idempotent
    (sorted stays sorted: the output is a FIXED POINT, the property
    retire/inject/adaptive-recrawl rely on when they re-canonicalize
    already-canonical urls). Duplicate keys order by their full token
    bytes (``a=1&a=2`` regardless of arrival order); empty tokens
    (``a&&b``) sort first and survive byte-for-byte. SEMANTICS.md
    §Sorted query — the third canonical URL-alias rule next to
    §Tracking parameters and §WWW collapse: servers overwhelmingly
    treat ``?a=1&b=2`` and ``?b=2&a=1`` as the same resource, so both
    spellings must share one seen-set key, frontier row, and politeness
    slot."""
    if not query:
        return query
    return "&".join(sorted(query.split("&")))


def collapse_www_host(host: str) -> str:
    """Drop every leading ``www.`` label while the remainder is still a
    plausible registrable host (contains a dot): ``www.example.org`` →
    ``example.org``, ``www.www.x.y`` → ``x.y``, but ``www.org`` (the
    remainder ``org`` has no dot) and bare ``www`` stay, and IPv6 literals
    are never touched (they can't start with ``www.``). SEMANTICS.md §WWW
    collapse: the other canonical URL-alias rule next to §Tracking
    parameters — the same resource served at www/non-www must share one
    seen-set key, frontier row, and politeness slot. ALL leading labels
    (not just one) so the output is a FIXED POINT of canonicalization —
    retire/inject/recrawl re-canonicalize already-canonical urls and must
    land on the same bytes."""
    while host.startswith("www.") and "." in host[4:]:
        host = host[4:]
    return host


class CanonPolicy(NamedTuple):
    """The six URL-alias rules as one value — ``CrawlConfig.canon_policy``
    builds it from the cfg knobs, and every caller above this kernel passes
    it along whole. Field order is ``canonicalize_url``'s parameter order,
    so ``canonicalize_url(url, *policy)`` applies it. All off by default."""

    strip_tracking: bool = False
    collapse_www: bool = False
    sort_query: bool = False
    strip_session: bool = False
    prefer_https: bool = False
    collapse_index: bool = False


def canonicalize_url(
    url: str | None,
    strip_tracking: bool = False,
    collapse_www: bool = False,
    sort_query: bool = False,
    strip_session: bool = False,
    prefer_https: bool = False,
    collapse_index: bool = False,
) -> str | None:
    """Return the canonical form of *url*, or None if rejected (quarantine).

    Rules pinned in SEMANTICS.md: lowercase scheme/host, strip fragment and
    default port, percent-normalize then dot-collapse the path, empty path →
    "/", query preserved byte-for-byte (lone "?" dropped), no IDN transform.

    With *strip_tracking* (cfg.strip_tracking_enabled — SEMANTICS.md
    §Tracking parameters) the canonical query additionally drops
    TRACKING_PARAMS tokens, so ``?utm_source=…`` variants of one resource
    share one canon_url (one seen-set key, one frontier row, one politeness
    slot). With *collapse_www* (cfg.collapse_www_enabled — SEMANTICS.md
    §WWW collapse) the canonical host additionally drops leading ``www.``
    labels (``collapse_www_host``), so www/non-www aliases of one host
    share one key space the same way. With *sort_query*
    (cfg.sort_query_enabled — SEMANTICS.md §Sorted query) the canonical
    query's ``&``-separated tokens additionally sort by raw token bytes
    (``sort_query_params``), so parameter-order spellings of one resource
    share one key space too; applied AFTER tracking-param stripping, so
    the composed form is strip-then-sort. With *strip_session*
    (cfg.strip_session_enabled — SEMANTICS.md §Session identifiers)
    SESSION_PARAMS query tokens and ``;jsessionid=…`` path parameters
    drop (``strip_session_params`` / ``strip_session_path``), so
    per-visitor session echoes of one resource share one key space;
    query-side order pinned session-strip → tracking-strip → sort. With
    *prefer_https* (cfg.prefer_https_enabled — SEMANTICS.md §HTTPS
    preference) an ``http`` scheme upgrades to ``https`` AFTER the
    default-port rule evaluated against the ORIGINAL scheme (so
    ``http://h:80/x`` → ``https://h/x`` but ``http://h:8080/x`` →
    ``https://h:8080/x``). With *collapse_index*
    (cfg.collapse_index_enabled — SEMANTICS.md §Index collapse) a
    trailing default-document segment drops (``collapse_index_path``:
    ``/a/index.html`` → ``/a/``). All default off: flag-off output is
    byte-identical to every crawl committed before the knobs existed.
    """
    if url is None:
        return None
    u = url.strip()
    if not u:
        return None
    try:
        parts = urlsplit(u)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    try:
        host = parts.hostname  # already lowercased by urlsplit
        port = parts.port  # validates numeric range
    except ValueError:
        return None
    if not host:
        return None
    if collapse_www:
        host = collapse_www_host(host)
    if ":" in host:  # IPv6 literal — re-bracket
        host = "[" + host + "]"

    netloc = host
    if parts.port is not None and str(port) != _DEFAULT_PORT.get(scheme):
        netloc = f"{host}:{port}"
    userinfo = ""
    if "@" in parts.netloc:
        userinfo = parts.netloc.rsplit("@", 1)[0] + "@"
    netloc = userinfo + netloc

    if prefer_https and scheme == "http":
        # scheme upgrade AFTER the default-port rule above evaluated
        # against the ORIGINAL scheme: http://h:80/x sheds its :80 first,
        # http://h:8080/x keeps its explicit port — SEMANTICS.md §HTTPS
        # preference pins this order
        scheme = "https"

    path = _remove_dot_segments(_percent_normalize(parts.path))
    if strip_session and ";" in path:
        path = strip_session_path(path)
    if collapse_index and "/" in path:
        path = collapse_index_path(path)
    if not path:
        path = "/"

    query = parts.query  # byte-for-byte; urlsplit gives '' for both absent and lone '?'
    if strip_session and query:
        query = strip_session_params(query)
    if strip_tracking and query:
        query = strip_tracking_params(query)
    if sort_query and query:
        query = sort_query_params(query)
    if query:
        return f"{scheme}://{netloc}{path}?{query}"
    return f"{scheme}://{netloc}{path}"
