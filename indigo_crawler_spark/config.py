"""Crawl configuration — one frozen dataclass shared by engine and oracle.

``config_hash`` goes into every round manifest so resume (EP2) can refuse to
mix outputs produced under different semantics.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

from indigo_crawler_spark.kernels.canonicalize import CanonPolicy


@dataclass(frozen=True)
class CrawlConfig:
    # partitioning
    num_buckets: int = 256            # P — pk = pmod(xxhash64(host), P)
    # politeness (SEMANTICS.md §Round)
    default_budget: int = 8           # B — per-host per-round
    round_limit: int = 1000           # K — global per-round cap
    batch_size: int = 100             # urls per emitted batch_id
    max_depth: int = 5
    user_agent: str = "indigo-spark"
    robots_enabled: bool = True
    # membership prefilter (perf layer; must not change results)
    filter_kind: str = "bloom"        # "bloom" | "cuckoo" | "none"
    bloom_fpr: float = 1e-3
    # expected URLs per pk bucket — fixes bitmap geometry for the crawl
    # (10^10 URLs / P=256 ⇒ ~4e7). None (default) = auto-size at bootstrap
    # from the A3 approx_count_distinct estimate observed on the store write
    # (4x headroom), persisted in the bootstrap manifest so every round and
    # every resume folds bitmaps with the same geometry. Physical knob: any
    # capacity yields identical crawl results (the filter has no false
    # negatives and an exact backstop), only different filter cost.
    bloom_bucket_capacity: int | None = None
    # fold seen deltas into a compacted snapshot every N rounds (0 = never);
    # keeps the exact-membership read from unioning an unbounded dir chain
    seen_compact_every: int = 16
    # skew (M4): hosts with more eligible candidates than this get salted
    salt_threshold: int = 10_000
    num_salts: int = 8
    # closed-loop backoff (EP3 ban→demote/backoff feedback). 0 disables;
    # else an emitted URL's synthetic fetch outcome is "banned" iff
    # pmod(xxhash64(canon_url), ban_every) == 0, and any banned fetch backs
    # its host off until round R + 1 + backoff_rounds (exclusive bound).
    ban_every: int = 0
    backoff_rounds: int = 2
    # transient-failure retry (SEMANTICS.md §Transient failures). 0
    # disables; else an emitted URL's synthetic fetch outcome is "failed"
    # iff pmod(xxhash64(canon_url || ':' || attempt), fail_every) ==
    # 1 % fail_every (so fail_every=1 fails EVERY fetch, and the residue
    # stays independent of the ban draw's residue 0 for every_n >= 2)
    # (attempt = the url's failure count so far — the salt makes retries
    # independent draws, so a url can fail once and succeed on retry; a
    # ban outranks the failure draw: bans are content outcomes of
    # SUCCESSFUL fetches). A failed url yields no page (no text, no
    # links, no discovery), stays OUT of the seen set, and REMAINS in the
    # frontier to compete again next round — until it has failed
    # max_retries + 1 times total, at which point it is exhausted: it
    # enters seen like a fetched url and leaves the crawl (counted
    # retry_exhausted; every failure counted fetch_failed). Failure
    # counts persist as versioned ``retries/round=R`` deltas (digested,
    # cross-checked, resume-verified like seen). Changes results ⇒
    # extension field in config_hash.
    fail_every: int = 0
    # maximum RETRIES after the first failed attempt (dependent extension:
    # inert while fail_every = 0). 0 = fail once, never retry.
    max_retries: int = 2
    # dead-host backoff (SEMANTICS.md §Transient failures; dependent
    # extension — inert while fail_every = 0). 0 disables; else a host
    # whose FAILED fetch count in round R reaches this threshold backs off
    # exactly like a banned host (backoff_until_round = greatest(existing,
    # R + 1 + backoff_rounds)) — a down host stops burning politeness
    # slots on retries, and its retained urls wait out the pause in the
    # frontier. Triggered hosts are counted ``failhost_backoff``.
    fail_host_threshold: int = 0
    # priority aging (SEMANTICS.md §Priority aging; extension, 0.0 = off):
    # at RANK time a frontier row's effective priority is
    # priority + age_weight * (round - discovered_round) — urls deferred
    # round after round by host/domain/global budgets eventually outrank
    # fresh high-priority arrivals (the classic starvation fix). Stored
    # frontier priority never changes; age derives from discovered_round
    # at the gate, so deferral cannot compound state. Changes results ⇒
    # extension field in config_hash. Prefer exact binary fractions
    # (0.125, 0.25) so engine and oracle stay bit-identical trivially.
    age_weight: float = 0.0
    # trap-URL gate (SEMANTICS.md §Traps; kernels/traps.py is normative).
    # 0 disables each check; structural limits on path depth, single-segment
    # repetition, and URL length keep calendar/session-id/self-loop URL
    # families out of the frontier.
    trap_max_depth: int = 0
    trap_max_repeat: int = 0
    trap_max_url_len: int = 0
    # robots Crawl-delay honor (SEMANTICS.md §Politeness): when > 0, a host
    # whose robots.txt declares a crawl-delay for our agent gets its per-round
    # budget capped at max(1, floor(round_seconds / delay)) — the batch
    # analogue of sleeping `delay` between fetches within a round of
    # `round_seconds` wall. 0 ignores crawl-delay (default).
    round_seconds: int = 0
    # registered-domain shared budget (SEMANTICS.md §Politeness): when > 0,
    # after per-host top-B, at most this many URLs per registered domain
    # (last two host labels) survive to the global cap — defeats subdomain
    # farms that multiply the per-host budget. 0 disables (default).
    domain_budget: int = 0
    # age-based refresh (SEMANTICS.md §Recrawl): when > 0, the urls emitted
    # at round R - recrawl_after are retired from the seen set and injected
    # back into round R's frontier (seed_rank = RECRAWL_SEED_RANK, so a
    # refresh never outranks a real seed). 0 disables (default).
    recrawl_after: int = 0
    # change-rate-adaptive recrawl (SEMANTICS.md §Adaptive recrawl): with
    # recrawl_after = A > 0 and this flag on, the fixed-age tick is replaced
    # by a per-url freshness schedule: every fetched page records
    # (fetched_round, interval, sha256-of-extracted-text) in a versioned
    # ``revisit`` state; a refetch whose text digest is UNCHANGED doubles
    # the url's interval (starting at A), a CHANGED digest resets it to A,
    # and a url is re-opened (retire + inject, like the base tick) once
    # fetched_round + interval <= current round. Pages that change often
    # are refreshed often; static pages back off exponentially — the
    # classic freshness-scheduling result, and at 10^10 urls the reason a
    # crawler's refresh budget is spent where content actually moves.
    # Dependent extension: inert while recrawl_after = 0.
    recrawl_adaptive: bool = False
    # absolute cap on the adaptive interval in rounds (0 = uncapped up to
    # the engine's 2^30 overflow guard): bounds how stale a static page can
    # get. Dependent extension: inert while recrawl_after = 0.
    recrawl_max_interval: int = 0
    # per-host lifetime emit cap (SEMANTICS.md §Host page cap): when > 0,
    # at most this many urls are EVER emitted per host across the whole
    # crawl — the "max pages per site" knob every production crawl carries
    # against unbounded giants. Enforced exactly: a host's per-round budget
    # is clipped to its remaining headroom (cap - lifetime emitted so far),
    # and once a host REACHES the cap its frontier rows leave permanently
    # at the gate (counted ``host_capped``) and its newly discovered
    # children never enter the frontier. 0 disables (default). Changes
    # results ⇒ extension field in config_hash.
    host_page_cap: int = 0
    # sitemap discovery (SEMANTICS.md §Sitemaps): robots.txt ``Sitemap:``
    # URLs join the round-0 frontier (seed-style rows, seed_rank NULL,
    # seeds win ties), and fetched sitemap/sitemap-index documents yield
    # their <loc> URLs as out-links instead of HTML text. Changes results
    # ⇒ extension field in config_hash. False disables (default).
    sitemaps_enabled: bool = False
    # link-graph frontier prioritization (SEMANTICS.md §PageRank priority):
    # when > 0, every pagerank_every-th round re-scores the outgoing
    # frontier with a fixed-point integer PageRank over the link graph
    # accumulated from every fetched page's out-links — priority becomes
    # base_formula + pagerank_weight · (rank_int / PR_SCALE). Integer
    # ranks (kernels/pagerank.py) keep the re-score bit-deterministic
    # under any partitioning. 0 disables (default); iters/weight take
    # effect only when the tick is on (dependent extensions below).
    pagerank_every: int = 0
    pagerank_iters: int = 5
    pagerank_weight: float = 1.0
    # thin-content host demotion (SEMANTICS.md §Thin-host demotion): when
    # > 0, a host whose round-R fetches average fewer than this many
    # whitespace tokens of extracted text (integer comparison:
    # total_words < min_words * n_pages) has its budget halved (floor 1)
    # entering round R+1 — the closed-loop budget reallocation away from
    # parked/thin domains. Compounds across repeated thin rounds. 0
    # disables (default).
    thin_host_min_words: int = 0
    # REP meta-robots honor (SEMANTICS.md §Meta robots): when True, a page
    # whose <meta name="robots"> declares ``nofollow`` (or ``none``) has its
    # out-links withheld from BOTH the link graph and frontier discovery,
    # and a page declaring ``noindex`` (or ``none``) is excluded from the
    # corpus export (its text is still fetched and recorded — noindex
    # governs the corpus, not the crawl). Changes results ⇒ extension
    # field in config_hash. False disables (default).
    meta_robots_enabled: bool = False
    # rel=canonical honor (SEMANTICS.md §Canonical link): when True, the
    # first <link rel="canonical" href=...> of each fetched page resolves
    # (urljoin + canonicalize) to a canonical target recorded alongside the
    # extracted text, and the corpus export collapses rows whose LATEST
    # fetch declared a DIFFERENT url that is itself present in the corpus —
    # the canonical version supersedes its variants. The crawl itself is
    # unaffected (canonical is an indexing signal, like noindex). Changes
    # the export ⇒ extension field in config_hash. False disables (default).
    rel_canonical_enabled: bool = False
    # meta-refresh redirects (SEMANTICS.md §Meta refresh): when True, the
    # first <meta http-equiv="refresh" content="N;url=T"> of each fetched
    # page appends its resolved foreign target T to the page's out-links
    # (ordinary discovery: depth+1, trap gate, dedup — the only redirect
    # mechanism an html-only page model can express), and a delay-0 page
    # with a valid target is a PURE REDIRECT: excluded from the corpus
    # export like noindex (its text is still fetched and recorded).
    # Changes results ⇒ extension field in config_hash. False disables
    # (default).
    meta_refresh_enabled: bool = False
    # anchor-level rel=nofollow honor (SEMANTICS.md §Anchor nofollow): when
    # True, an <a> whose rel token list contains ``nofollow`` has THAT ONE
    # link withheld from both the link graph and frontier discovery — the
    # link-level half of REP, complementing meta_robots_enabled's
    # page-level half; text extraction is byte-unchanged. sponsored/ugc
    # rel hints are deliberately not honored (endorsement qualifiers, not
    # crawl directives). Changes results ⇒ extension field in config_hash.
    # False disables (default).
    anchor_nofollow_enabled: bool = False
    # RFC 9309 robots wildcards (SEMANTICS.md §Robots wildcards): when
    # True, the robots allow gate matches Allow/Disallow values with the
    # RFC's `*` (any sequence) and trailing `$` (end anchor) wildcards,
    # most-specific (longest pattern) precedence, and Allow winning length
    # ties — kernels/robots.py::robots_allowed_rfc is normative. The
    # stdlib prefix matcher (default) silently under/over-blocks the
    # "Disallow: /*?sessionid=" / "Disallow: /*.pdf$" rules the real web
    # uses constantly. Same single Arrow crossing either way. Changes
    # results ⇒ extension field in config_hash. False disables (default).
    robots_wildcards_enabled: bool = False
    # hreflang alternate discovery (SEMANTICS.md §Hreflang alternates):
    # when True, each fetched page's <link rel="alternate" hreflang=...
    # href=...> targets resolve like anchors (effective-base urljoin +
    # canonicalization under the active key rules) and JOIN the page's
    # out-links for ordinary discovery (depth+1, trap gates, dedup) —
    # pinned order anchors → alternates → refresh target, self-pointing
    # targets and duplicates dropped (first occurrence wins). Language
    # variants of a page are thereby discovered even when no <a> links to
    # them — the signal international sites publish precisely so crawlers
    # find the variants. Counted ``hreflang_alternates``. Changes results
    # ⇒ extension field in config_hash. False disables (default).
    hreflang_enabled: bool = False
    # tracking-parameter stripping (SEMANTICS.md §Tracking parameters): when
    # True, canonicalization EVERYWHERE (seeds, page store, discovered
    # links, rel=canonical targets, meta-refresh targets, inject/retire,
    # streaming ingest) drops query parameters whose key is in the pinned
    # kernels/canonicalize.TRACKING_PARAMS set, so ``?utm_source=…``
    # variants of one resource share one canon_url — one seen-set key, one
    # frontier row, one politeness slot. At 10^10-URL scale tracked-link
    # echoes mint unbounded per-resource URL families; collapsing them at
    # the key is the difference between crawling a corpus and crawling a
    # marketing graph. Changes results ⇒ extension field in config_hash.
    # False disables (default — keys byte-identical to pre-knob crawls).
    strip_tracking_enabled: bool = False
    # www-host collapse (SEMANTICS.md §WWW collapse): when True,
    # canonicalization EVERYWHERE additionally drops leading ``www.``
    # labels from the host while the remainder still contains a dot
    # (kernels/canonicalize.collapse_www_host — all labels, so the result
    # is a fixed point of canonicalization), so www/non-www aliases of one
    # host share one canon_url key space: one seen-set key, one frontier
    # row, one politeness slot, one link-graph node. The other canonical
    # URL-alias rule next to strip_tracking_enabled; when on, robots/budget
    # dimension rows should be keyed by the COLLAPSED host. Changes results
    # ⇒ extension field in config_hash. False disables (default).
    collapse_www_enabled: bool = False
    # sorted-query canonicalization (SEMANTICS.md §Sorted query): when True,
    # canonicalization EVERYWHERE additionally sorts the canonical query's
    # ``&``-separated tokens by raw token bytes
    # (kernels/canonicalize.sort_query_params — whole key=value tokens, no
    # decoding, so the result is a fixed point of canonicalization), so
    # parameter-order spellings of one resource (``?a=1&b=2`` vs
    # ``?b=2&a=1``) share one canon_url key space: one seen-set key, one
    # frontier row, one politeness slot, one link-graph node. The third
    # canonical URL-alias rule next to strip_tracking_enabled and
    # collapse_www_enabled; applied AFTER tracking-param stripping.
    # Changes results ⇒ extension field in config_hash. False disables
    # (default).
    sort_query_enabled: bool = False
    # session-identifier stripping (SEMANTICS.md §Session identifiers):
    # when True, canonicalization EVERYWHERE additionally drops query
    # parameters whose key is in the pinned
    # kernels/canonicalize.SESSION_PARAMS set (phpsessid, jsessionid, sid,
    # …, plus the pinned aspsessionid* prefix) AND ``;jsessionid=…`` path
    # parameters (kernels/canonicalize.strip_session_params /
    # strip_session_path), so per-visitor session echoes of one resource
    # share one canon_url key space. The fourth canonical URL-alias rule;
    # query-side order pinned session-strip → tracking-strip → sort.
    # Changes results ⇒ extension field in config_hash. False disables
    # (default).
    strip_session_enabled: bool = False
    # HTTPS preference (SEMANTICS.md §HTTPS preference): when True, an
    # ``http`` scheme upgrades to ``https`` inside canonicalization
    # everywhere — AFTER the default-port rule evaluated against the
    # ORIGINAL scheme (http://h:80/x → https://h/x; http://h:8080/x →
    # https://h:8080/x) — so protocol spellings of one resource share one
    # canon_url key space. The canonical-upgrade policy production
    # crawlers apply once a site is known HTTPS-capable. Changes results
    # ⇒ extension field in config_hash. False disables (default).
    prefer_https_enabled: bool = False
    # default-document collapse (SEMANTICS.md §Index collapse): when True,
    # a trailing default-document path segment (pinned
    # kernels/canonicalize.INDEX_DOCS set — index.html/…/default.aspx,
    # final segment compared lowercased) drops inside canonicalization
    # everywhere, keeping the trailing slash (/a/index.html → /a/), so
    # the directory spelling and its default-document spelling share one
    # canon_url key space. Changes results ⇒ extension field in
    # config_hash. False disables (default).
    collapse_index_enabled: bool = False
    # exclude-pattern gate (SEMANTICS.md §Exclude patterns;
    # kernels/traps.py::matches_exclude is normative): frontier rows whose
    # canon_url matches ANY of these regexes (unanchored contains-match,
    # common Java/Python/RE2 dialect subset) leave the crawl at the gate —
    # permanently, like robots-denied — and matching children never enter
    # the frontier at discovery; counted ``pattern_excluded``. The operator
    # deny-list the structural trap limits can't express: logout/cart
    # links, infinite facet parameters, binary mirrors. Changes results ⇒
    # extension field in config_hash. Empty disables (default).
    exclude_patterns: tuple[str, ...] = ()
    # extension deny gate (SEMANTICS.md §Extension deny;
    # kernels/traps.py::matches_ext is normative): frontier rows whose
    # final path segment carries one of these file extensions (lowercase,
    # no leading dot — the CLI normalizes; matching is case-insensitive on
    # the URL side, last-dot rule, dot-files and trailing-dot segments
    # carry none) leave the crawl at the gate — permanently, like
    # robots-denied — and matching children never enter the frontier at
    # discovery; counted ``ext_excluded``. The html-only crawler's standard
    # "don't schedule binaries" knob: cheaper than spelling `\.zip$`
    # patterns (one regexp_extract + isin vs per-pattern regex scans).
    # Changes results ⇒ extension field in config_hash. Empty disables
    # (default).
    exclude_extensions: tuple[str, ...] = ()
    # host allow-list gate (SEMANTICS.md §Host allow-list;
    # kernels/traps.py::host_allowed is normative): with a non-empty set,
    # frontier rows whose canonical host is NOT listed leave the crawl at
    # the gate — permanently, like robots-denied — and children on
    # non-allowed hosts never enter the frontier at discovery; counted
    # ``host_excluded``. The "stay on these sites" knob of a site-scoped
    # crawl: exclude_patterns can DENY families, this ALLOWS exactly a
    # curated host set and drops the rest of the web. Entries are exact
    # lowercase canonical hosts (with collapse_www on, list the bare
    # host). Changes results ⇒ extension field in config_hash. Empty
    # disables (default).
    allow_hosts: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        # allow_hosts entries that can never equal a canonical host are
        # config bugs, not no-ops: the canonical host is lowercase with no
        # scheme/path/port text, so 'Example.org' or 'https://a.com'
        # would silently exclude every page of the host it meant to allow.
        for h in self.allow_hosts:
            if (
                not h
                or h != h.lower()
                or "/" in h
                or ":" in h
                or any(c.isspace() for c in h)
            ):
                raise ValueError(
                    f"allow_hosts entry {h!r} can never match a canonical "
                    "host: entries must be non-empty, lowercase, and carry "
                    "no scheme, slash, port or whitespace ('example.org', "
                    "not 'https://Example.org/')"
                )
        # exclude_extensions entries the matcher can never produce are
        # config bugs, not no-ops: url_extension() returns the LAST
        # dot-segment lowercased, so an entry with a dot ('tar.gz'), an
        # uppercase letter ('PDF') or a leading dot ('.pdf') silently
        # matches nothing and the knob sits inert with ext_excluded=0.
        # The CLI normalizes ('.PDF' → 'pdf'); directly-constructed
        # configs (library users, tests, bench) fail loud here instead.
        for e in self.exclude_extensions:
            if not e or "." in e or "/" in e or e != e.lower():
                raise ValueError(
                    f"exclude_extensions entry {e!r} can never match: "
                    "entries must be non-empty, lowercase, and carry no "
                    "dot or slash (the last path dot-segment — 'pdf', "
                    "not '.pdf' or 'tar.gz'; multi-dot suffixes match on "
                    "their final segment, so use 'gz')"
                )

    @property
    def canon_policy(self) -> CanonPolicy:
        """The six canonicalization knobs as the one value every layer above
        the kernel passes along (a property, so never hashed or persisted)."""
        return CanonPolicy(
            strip_tracking=self.strip_tracking_enabled,
            collapse_www=self.collapse_www_enabled,
            sort_query=self.sort_query_enabled,
            strip_session=self.strip_session_enabled,
            prefer_https=self.prefer_https_enabled,
            collapse_index=self.collapse_index_enabled,
        )

    # capacity is excluded from config_hash: it is pinned PER CRAWL by the
    # bootstrap manifest (bootstrap records the override or the A3-derived
    # figure; CrawlState.filter_capacity reads the manifest first), so a
    # config-default change or a differently-auto-sized rerun must not
    # refuse to resume a crawl whose results it cannot affect. Everything
    # else in the dataclass stays in the hash: semantic knobs change
    # results outright; filter_kind/bloom_fpr change the on-disk filter
    # geometry mid-chain (folds would merge incompatible bitmaps);
    # num_buckets changes committed pk values.
    _HASH_EXCLUDED = ("bloom_bucket_capacity",)

    # extension fields (added after crawls existed): they enter the hash
    # ONLY when set away from their default. A default-valued extension is
    # semantically absent — older state dirs (whose manifests hashed a
    # dataclass without the field) keep resuming; flipping any extension ON
    # changes results, so it changes the hash, so resume refuses — exactly
    # the contract every other semantic knob has.
    _HASH_EXTENSION_DEFAULTS = {
        "trap_max_depth": 0,
        "trap_max_repeat": 0,
        "trap_max_url_len": 0,
        "round_seconds": 0,
        "domain_budget": 0,
        "sitemaps_enabled": False,
        "recrawl_after": 0,
        "recrawl_adaptive": False,
        "recrawl_max_interval": 0,
        "host_page_cap": 0,
        "pagerank_every": 0,
        "pagerank_iters": 5,
        "pagerank_weight": 1.0,
        "thin_host_min_words": 0,
        "meta_robots_enabled": False,
        "rel_canonical_enabled": False,
        "meta_refresh_enabled": False,
        "anchor_nofollow_enabled": False,
        "hreflang_enabled": False,
        "robots_wildcards_enabled": False,
        "fail_every": 0,
        "max_retries": 2,
        "fail_host_threshold": 0,
        "age_weight": 0.0,
        "strip_tracking_enabled": False,
        "collapse_www_enabled": False,
        "sort_query_enabled": False,
        "strip_session_enabled": False,
        "prefer_https_enabled": False,
        "collapse_index_enabled": False,
        "exclude_patterns": (),
        "exclude_extensions": (),
        "allow_hosts": (),
    }

    # dependent extensions: inert unless their master knob is on. While the
    # master sits at its default the dependent is semantically absent at ANY
    # value (it cannot affect results), so it never enters the hash; once
    # the master is on, the dependent is ALWAYS hashed — even at its default
    # — so the manifest pins the exact tick semantics against a future
    # default change.
    _HASH_DEPENDENT = {
        "max_retries": "fail_every",
        "fail_host_threshold": "fail_every",
        "pagerank_iters": "pagerank_every",
        "pagerank_weight": "pagerank_every",
        "recrawl_adaptive": "recrawl_after",
        "recrawl_max_interval": "recrawl_after",
    }

    def _hash_dict(self) -> dict:
        full = asdict(self)
        d = {k: v for k, v in full.items() if k not in self._HASH_EXCLUDED}
        for k, default in self._HASH_EXTENSION_DEFAULTS.items():
            master = self._HASH_DEPENDENT.get(k)
            if master is not None:
                if full.get(master) == self._HASH_EXTENSION_DEFAULTS[master]:
                    del d[k]
            elif d.get(k) == default:
                del d[k]
        return d

    def config_hash(self) -> str:
        return hashlib.sha256(
            json.dumps(self._hash_dict(), sort_keys=True).encode()
        ).hexdigest()[:16]

    def config_hash_legacy(self, bloom_bucket_capacity: int | None) -> str:
        """Pre-exclusion hash scheme (pre-extension asdict, capacity
        included). Manifests committed before capacity left the hash carry
        this form; resume accepts it — recomputed with the capacity the
        crawl's bootstrap manifest pinned, since that is the value the
        legacy config necessarily held — so the exclusion change itself can
        never trigger the refusal it was meant to avoid. Extension fields
        follow the same rule as in the live hash (absent at default): a
        legacy dir necessarily predates them, and a NON-default extension
        must never hash-match a legacy manifest."""
        d = {**self._hash_dict(), "bloom_bucket_capacity": bloom_bucket_capacity}
        return hashlib.sha256(
            json.dumps(d, sort_keys=True).encode()
        ).hexdigest()[:16]
