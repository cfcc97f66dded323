"""Single-threaded reference crawl simulator — SEMANTICS.md executed literally.

This is the normative stand-in for the unavailable reference crawler
(SURVEY.md §0): a plain-Python re-expression of indigo_crawler's
pick-task → gate → fetch → parse → enqueue loop (SURVEY.md §3 EP3), run one
*round* at a time so it is directly comparable to the Spark engine's EP1.
It imports the same kernels as the engine, so "byte-identical extracted
text" and "identical ordering/seen set" (BASELINE.json:2,15) hold by
construction and are *verified* by pytest T2.

No pyspark imports here; everything is deterministic (no RNG, no clock).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from urllib.parse import urlsplit

from indigo_crawler_spark.config import CrawlConfig
from indigo_crawler_spark.kernels.canonicalize import CanonPolicy, canonicalize_url
from indigo_crawler_spark.kernels.priority import priority_score
from indigo_crawler_spark.kernels.robots import (
    crawl_delay,
    robots_allowed,
    robots_allowed_rfc,
    robots_sitemaps,
)
from indigo_crawler_spark.kernels.textextract import (
    extract_text_and_links,
    extract_text_links_signals,
)
from indigo_crawler_spark.kernels.traps import (
    host_allowed,
    is_trap_url,
    matches_exclude,
    matches_ext,
)
from indigo_crawler_spark.kernels.xxh64 import xxhash64


def _host_of(canon_url: str) -> str:
    return urlsplit(canon_url).netloc


def _domain_of(host: str) -> str:
    """Registered domain = last two '.'-labels (SEMANTICS.md §Politeness;
    mirror of operators/politeness.py registered_domain_expr)."""
    labels = host.split(".")
    return host if len(labels) <= 2 else ".".join(labels[-2:])


@dataclass
class FrontierRow:
    canon_url: str
    host: str
    depth: int
    seed_rank: int | None
    priority: float
    discovered_round: int


@dataclass
class RoundResult:
    round: int
    emitted: list[dict] = field(default_factory=list)  # fetch_batches rows
    counters: dict = field(default_factory=dict)
    texts: dict = field(default_factory=dict)  # canon_url -> extracted text
    metrics: dict = field(default_factory=dict)  # rollup(host, status) -> n


class OracleCrawl:
    """State + round stepper. ``run(n)`` yields RoundResult per round."""

    def __init__(self, pages, seeds, robots, host_budgets, cfg: CrawlConfig | None = None):
        self.cfg = cfg or CrawlConfig()
        # the six canonicalization knobs thread into EVERY canonicalization
        # (mirror of the engine, where make_canonicalize_udf / the extract
        # kernels carry cfg.canon_policy). Built here field by field, not
        # read from cfg.canon_policy: the oracle is the reference, so a
        # mis-built property must show up as engine != oracle.
        self.policy = policy = CanonPolicy(
            strip_tracking=self.cfg.strip_tracking_enabled,
            collapse_www=self.cfg.collapse_www_enabled,
            sort_query=self.cfg.sort_query_enabled,
            strip_session=self.cfg.strip_session_enabled,
            prefer_https=self.cfg.prefer_https_enabled,
            collapse_index=self.cfg.collapse_index_enabled,
        )
        # --- page store: canonicalize, dedup per canon_url keep min (warc_ts, url)
        self.store: dict[str, dict] = {}
        quarantined = 0
        for row in pages:
            c = canonicalize_url(row["url"], *policy)
            if c is None:
                quarantined += 1
                continue
            cur = self.store.get(c)
            key = (row["warc_ts"], row["url"])
            if cur is None or key < (cur["warc_ts"], cur["url"]):
                self.store[c] = row
        self.quarantined_pages = quarantined
        # --- static per-host page counts (host_count in the priority formula)
        self.host_count: dict[str, int] = {}
        for c in self.store:
            h = _host_of(c)
            self.host_count[h] = self.host_count.get(h, 0) + 1
        # --- robots / budgets keyed by host string
        self.robots: dict[str, str] = {r["host"]: r["robots_txt"] for r in robots}
        self.budget: dict[str, int] = {b["host"]: b["budget"] for b in host_budgets}
        self.backoff: dict[str, int] = {
            b["host"]: b["backoff_until_round"] for b in host_budgets
        }
        # --- round-0 frontier from seeds (dedup per canon_url keep min seed_rank)
        best: dict[str, int | None] = {}
        self.quarantined_seeds = 0
        for s in seeds:
            c = canonicalize_url(s["url"], *policy)
            if c is None:
                self.quarantined_seeds += 1
                continue
            if c not in best or (best[c] is None or s["seed_rank"] < best[c]):
                best[c] = s["seed_rank"]
        # --- robots Sitemap: URLs join as seed_rank-None rows; seeds win
        # ties (mirror of bootstrap's coalesce(seed_rank, INT_MAX) dedup —
        # SEMANTICS.md §Sitemaps)
        self.sitemap_seed_urls = 0
        if self.cfg.sitemaps_enabled and self.cfg.robots_enabled:
            for txt in self.robots.values():
                for u in robots_sitemaps(txt):
                    c = canonicalize_url(u, *policy)
                    if c is None:
                        continue
                    self.sitemap_seed_urls += 1
                    if c not in best:
                        best[c] = None
        self.frontier: dict[str, FrontierRow] = {}
        for c, rank in best.items():
            h = _host_of(c)
            self.frontier[c] = FrontierRow(
                canon_url=c,
                host=h,
                depth=0,
                seed_rank=rank,
                priority=priority_score(0, rank, self.host_count.get(h, 0)),
                discovered_round=0,
            )
        self.seen: dict[str, int] = {}  # canon_url -> first_round
        # transient-failure retry state (SEMANTICS.md §Transient failures;
        # mirror of CrawlState.retries_through): url -> lifetime failure
        # count. Monotone per url; stale entries for urls that since
        # succeeded or exhausted are harmless (those urls sit in seen).
        self.retries: dict[str, int] = {}
        self.rounds_run = 0  # next round index — inject() stamps it
        # link-graph edges (src=fetched canon_url, dst=out-link) — mirror of
        # the engine's links/round=R tables; populated only when the
        # PageRank tick is on, like the engine only writes them then
        self.pr_edges: set[tuple[str, str]] = set()
        # urls whose LATEST fetch declared meta robots noindex (SEMANTICS.md
        # §Meta robots) — the corpus-export exclusion set; maintained only
        # when the flag is on, like the engine only writes the column then
        self.noindex: set[str] = set()
        # url → canonical target of its LATEST fetch, recorded only when the
        # declared target differs from the url itself (SEMANTICS.md
        # §Canonical link) — the corpus-export collapse map
        self.canonical: dict[str, str] = {}
        # urls whose LATEST fetch was a delay-0 meta-refresh pure redirect
        # (SEMANTICS.md §Meta refresh) — the corpus-export exclusion set
        self.redirects: set[str] = set()
        # per-host lifetime emitted totals (SEMANTICS.md §Host page cap;
        # mirror of the engine's host_emitted/round=R chain). Updated at
        # the END of each step, so during a step it is the ENTERING state —
        # the same snapshot the engine's gate and discovery filter join.
        self.emitted_total: dict[str, int] = {}
        # adaptive-recrawl freshness state (SEMANTICS.md §Adaptive recrawl;
        # mirror of the engine's revisit/round=R chain, latest row per url):
        # canon_url -> (fetched_round, interval, sha256-hex of extracted
        # text). Maintained only when the flag is on, like the engine only
        # writes the table then.
        self.revisit: dict[str, tuple[int, int, str]] = {}

    # ------------------------------------------------------------------
    def add_pages(self, pages) -> None:
        """Streaming-skin mirror: make newly discovered pages fetchable with
        the same min (warc_ts, url) tie-break per canon_url as bootstrap.
        host_count (the priority input) intentionally stays frozen at its
        bootstrap value — see streaming/skin.py docstring."""
        for row in pages:
            c = canonicalize_url(row["url"], *self.policy)
            if c is None:
                continue
            cur = self.store.get(c)
            key = (row["warc_ts"], row["url"])
            if cur is None or key < (cur["warc_ts"], cur["url"]):
                self.store[c] = row

    # ------------------------------------------------------------------
    def retire(self, urls) -> int:
        """Mirror of operators/retire.py: currently-seen urls leave the seen
        set (re-crawlable on rediscovery); unknown urls are no-ops."""
        n = 0
        for u in urls:
            c = canonicalize_url(u, *self.policy)
            if c is not None and c in self.seen:
                del self.seen[c]
                n += 1
        return n

    # ------------------------------------------------------------------
    def inject(self, urls, seed_rank: int = 0) -> int:
        """Mirror of operators/inject.py: queue urls as depth-0 seeds for
        the next round. Junk drops at canonicalization, duplicates keep the
        min seed_rank, already-seen and already-pending urls are skipped
        (existing rows win); priority uses the bootstrap-frozen host_count
        (unknown host -> 0)."""
        best: dict[str, int] = {}
        for u in urls:
            c = canonicalize_url(u, *self.policy)
            if c is None:
                continue
            if c not in best or seed_rank < best[c]:
                best[c] = seed_rank
        n = 0
        for c, rank in sorted(best.items()):
            if c in self.seen or c in self.frontier:
                continue
            h = _host_of(c)
            self.frontier[c] = FrontierRow(
                canon_url=c,
                host=h,
                depth=0,
                seed_rank=rank,
                priority=priority_score(0, rank, self.host_count.get(h, 0)),
                discovered_round=self.rounds_run,
            )
            n += 1
        return n

    def inject_robots(self, rows) -> int:
        """Mirror of operators/inject.update_robots (SEMANTICS.md §Robots
        updates): per-host robots.txt replacements take effect from the
        next round on. *rows*: iterable of (host, robots_txt) pairs or
        dicts; duplicate hosts keep the lexically-max text (matching the
        engine's deterministic in-call dedup); an unknown host gains an
        entry (its frontier urls gate against the new text). Sitemap:
        directives are bootstrap-only — updates change the allow gate,
        never the seed list."""
        best: dict[str, str] = {}
        for row in rows:
            h, txt = (
                (row["host"], row["robots_txt"])
                if isinstance(row, dict)
                else (row[0], row[1])
            )
            if h not in best or txt > best[h]:
                best[h] = txt
        for h, txt in best.items():
            self.robots[h] = txt
        return len(best)

    # ------------------------------------------------------------------
    def _effective_budget(self, host: str) -> int:
        """Per-host budget, capped by robots Crawl-delay when
        cfg.round_seconds > 0 (mirror of gate_frontier's cap: float
        division + floor, floor 1)."""
        import math

        cfg = self.cfg
        b = self.budget.get(host, cfg.default_budget)
        if cfg.round_seconds and cfg.robots_enabled:
            d = crawl_delay(self.robots.get(host), cfg.user_agent)
            if d is not None and d > 0:
                b = min(b, max(1, int(math.floor(float(cfg.round_seconds) / d))))
        # lifetime emit cap: clip to the host's remaining headroom (mirror
        # of host_cap_exprs — hosts AT the cap never reach here, the gate
        # dropped them; SEMANTICS.md §Host page cap)
        if cfg.host_page_cap:
            b = min(b, cfg.host_page_cap - self.emitted_total.get(host, 0))
        return b

    # ------------------------------------------------------------------
    def step(self, r: int) -> RoundResult:
        cfg = self.cfg
        res = RoundResult(round=r)
        # frontier-skew telemetry mirror (plans/round.py skew fold): per-host
        # candidate counts over the frontier ENTERING this round; hosts over
        # salt_threshold are what the engine salts NEXT round.
        host_cands: dict[str, int] = {}
        for row in self.frontier.values():
            host_cands[row.host] = host_cands.get(row.host, 0) + 1
        counters = {
            "candidates": len(self.frontier),
            "max_host_candidates": max(host_cands.values(), default=0),
            "frontier_heavy_hosts_next": sum(
                1 for v in host_cands.values() if v > cfg.salt_threshold
            ),
            "robots_denied": 0,
            "trap_dropped": 0,
            "backoff_skipped": 0,
            "budget_deferred": 0,
            "domain_deferred": 0,
            "cap_deferred": 0,
            "emitted": 0,
            "banned": 0,
            "fetched_pages": 0,
            "links_extracted": 0,
            "links_new": 0,
        }
        if cfg.meta_robots_enabled:
            counters["nofollow_dropped"] = 0
        if cfg.rel_canonical_enabled:
            counters["canonical_variants"] = 0
        if cfg.meta_refresh_enabled:
            counters["refresh_redirects"] = 0
        if cfg.anchor_nofollow_enabled:
            counters["anchor_nofollow_dropped"] = 0
        if cfg.hreflang_enabled:
            counters["hreflang_alternates"] = 0
        if cfg.exclude_patterns:
            counters["pattern_excluded"] = 0
        if cfg.exclude_extensions:
            counters["ext_excluded"] = 0
        if cfg.allow_hosts:
            counters["host_excluded"] = 0
        if cfg.fail_every:
            counters["fetch_failed"] = 0
            counters["retry_exhausted"] = 0
        if cfg.recrawl_after and cfg.recrawl_adaptive:
            counters["recrawl_unchanged"] = 0
            counters["recrawl_changed"] = 0
        if cfg.host_page_cap:
            counters["host_capped"] = 0

        # 1-2. gates
        eligible: list[FrontierRow] = []
        denied: set[str] = set()
        # gate precedence (mirror of plans/round.py): robots → trap →
        # exclude → backoff; trap and pattern-excluded rows leave the
        # frontier permanently like denied ones
        for row in self.frontier.values():
            if cfg.robots_enabled:
                rtxt = self.robots.get(row.host)
                # RFC 9309 wildcards (SEMANTICS.md §Robots wildcards;
                # mirror of make_robots_allowed_udf's kernel selection)
                gate = (
                    robots_allowed_rfc
                    if cfg.robots_wildcards_enabled
                    else robots_allowed
                )
                if not gate(row.canon_url, rtxt, cfg.user_agent):
                    denied.add(row.canon_url)
                    counters["robots_denied"] += 1
                    continue
            if is_trap_url(
                row.canon_url,
                cfg.trap_max_depth,
                cfg.trap_max_repeat,
                cfg.trap_max_url_len,
            ):
                denied.add(row.canon_url)
                counters["trap_dropped"] += 1
                continue
            if cfg.exclude_patterns and matches_exclude(
                row.canon_url, cfg.exclude_patterns
            ):
                denied.add(row.canon_url)
                counters["pattern_excluded"] += 1
                continue
            # extension deny (SEMANTICS.md §Extension deny; mirror of
            # gate_frontier's _ext): denied extensions leave permanently
            if cfg.exclude_extensions and matches_ext(
                row.canon_url, cfg.exclude_extensions
            ):
                denied.add(row.canon_url)
                counters["ext_excluded"] += 1
                continue
            # host allow-list (SEMANTICS.md §Host allow-list; mirror of
            # gate_frontier's _hostdrop): non-allowed hosts leave
            # permanently, like denied
            if cfg.allow_hosts and not host_allowed(row.host, cfg.allow_hosts):
                denied.add(row.canon_url)
                counters["host_excluded"] += 1
                continue
            # per-host lifetime emit cap (SEMANTICS.md §Host page cap;
            # mirror of gate_frontier's _capped): rows of a host AT the
            # cap leave permanently, like denied
            if (
                cfg.host_page_cap
                and self.emitted_total.get(row.host, 0) >= cfg.host_page_cap
            ):
                denied.add(row.canon_url)
                counters["host_capped"] += 1
                continue
            if self.backoff.get(row.host, 0) > r:
                counters["backoff_skipped"] += 1
                continue
            eligible.append(row)

        # priority aging (SEMANTICS.md §Priority aging; mirror of the
        # engine's eligible-slice boost): rank-time copies carry the
        # effective priority; the frontier keeps the base rows, so
        # deferral never compounds
        if cfg.age_weight:
            from dataclasses import replace as _dc_replace

            from indigo_crawler_spark.kernels.priority import aged_priority

            eligible = [
                _dc_replace(
                    x,
                    priority=aged_priority(
                        x.priority, x.discovered_round, r, cfg.age_weight
                    ),
                )
                for x in eligible
            ]

        # 3. per-host politeness top-B, rank by (priority DESC, canon_url ASC)
        eligible.sort(key=lambda x: (x.host, -x.priority, x.canon_url))
        kept: list[tuple[FrontierRow, int]] = []
        cur_host, rank = None, 0
        for row in eligible:
            if row.host != cur_host:
                cur_host, rank = row.host, 0
            rank += 1
            b = self._effective_budget(row.host)
            if rank <= b:
                kept.append((row, rank))
            else:
                counters["budget_deferred"] += 1

        # 3b. registered-domain shared cap (mirror of domain_topk): ≤D rows
        # per last-two-label domain, ranked (priority DESC, canon_url ASC);
        # rank_in_host values pass through unchanged
        if cfg.domain_budget:
            kept.sort(
                key=lambda t: (_domain_of(t[0].host), -t[0].priority, t[0].canon_url)
            )
            capped: list[tuple[FrontierRow, int]] = []
            cur_dom, drank = None, 0
            for row, rank_in_host in kept:
                dom = _domain_of(row.host)
                if dom != cur_dom:
                    cur_dom, drank = dom, 0
                drank += 1
                if drank <= cfg.domain_budget:
                    capped.append((row, rank_in_host))
                else:
                    counters["domain_deferred"] += 1
            kept = capped

        # 4. global cap K
        kept.sort(key=lambda t: (-t[0].priority, t[0].canon_url))
        if len(kept) > cfg.round_limit:
            counters["cap_deferred"] = len(kept) - cfg.round_limit
            kept = kept[: cfg.round_limit]

        # 5. emit fetch batches (+ synthetic fetch outcome, EP3 feedback:
        # banned ⇔ pmod(xxhash64(canon_url), ban_every) == 0 — python %
        # on the signed kernel hash ≡ Spark's pmod)
        emitted_urls: list[str] = []
        banned_hosts: set[str] = set()
        # transient failures (SEMANTICS.md §Transient failures; mirror of
        # fetch_status_expr + retry_exprs): banned outranks the failure
        # draw; the attempt count salts it so retries are fresh draws
        retained_failed: set[str] = set()
        failed_urls: set[str] = set()
        failed_per_host: dict[str, int] = {}
        for g, (row, rank_in_host) in enumerate(kept, start=1):
            status = "ok"
            if cfg.ban_every and xxhash64(row.canon_url) % cfg.ban_every == 0:
                status = "banned"
                counters["banned"] += 1
                banned_hosts.add(row.host)
            elif cfg.fail_every:
                attempt = self.retries.get(row.canon_url, 0)
                draw = f"{row.canon_url}:{attempt}"
                # residue 1 % fail_every, matching fetch_status_expr:
                # residue 1 for every_n >= 2 (independent of the ban
                # draw's residue 0), residue 0 when fail_every = 1 so
                # "fail every fetch" is expressible instead of a no-op
                if xxhash64(draw) % cfg.fail_every == 1 % cfg.fail_every:
                    status = "failed"
                    counters["fetch_failed"] += 1
                    failed_urls.add(row.canon_url)
                    failed_per_host[row.host] = (
                        failed_per_host.get(row.host, 0) + 1
                    )
                    if attempt >= cfg.max_retries:
                        counters["retry_exhausted"] += 1
                    else:
                        retained_failed.add(row.canon_url)
                        self.retries[row.canon_url] = attempt + 1
            res.emitted.append(
                {
                    "round": r,
                    "batch_id": (g - 1) // cfg.batch_size,
                    "canon_url": row.canon_url,
                    "host": row.host,
                    "priority": row.priority,
                    "rank_in_host": rank_in_host,
                    "global_rank": g,
                    "status": status,
                }
            )
            emitted_urls.append(row.canon_url)
        counters["emitted"] = len(emitted_urls)
        # A7 rollup(host, status) mirror: (host, status), (host), ()
        for e in res.emitted:
            for key in ((e["host"], e["status"]), (e["host"], None), (None, None)):
                res.metrics[key] = res.metrics.get(key, 0) + 1

        # 6-7. fetch + extract + discover
        children: dict[str, FrontierRow] = {}
        for row, _ in kept:
            if row.canon_url in failed_urls:
                continue  # a failed fetch yields no page at all
            page = self.store.get(row.canon_url)
            if page is None:
                continue
            counters["fetched_pages"] += 1
            if (
                cfg.meta_robots_enabled
                or cfg.rel_canonical_enabled
                or cfg.meta_refresh_enabled
                or cfg.anchor_nofollow_enabled
                or cfg.hreflang_enabled
            ):
                (
                    text, links, noindex, nofollow, canonical, refresh,
                    adrop, alts,
                ) = extract_text_links_signals(
                    page["html"],
                    row.canon_url,
                    cfg.sitemaps_enabled,
                    cfg.anchor_nofollow_enabled,
                    self.policy,
                    cfg.hreflang_enabled,
                )
                if cfg.anchor_nofollow_enabled:
                    # anchor-level rel=nofollow (mirror of extract_pages —
                    # SEMANTICS.md §Anchor nofollow): the links list already
                    # excludes the withheld anchors; count them here
                    counters["anchor_nofollow_dropped"] += adrop
                if cfg.hreflang_enabled and alts:
                    # hreflang alternates join the out-links BEFORE the
                    # refresh target (mirror of extract_pages — SEMANTICS.md
                    # §Hreflang alternates)
                    links = links + alts
                    counters["hreflang_alternates"] += len(alts)
                if cfg.meta_robots_enabled:
                    # latest fetch wins: a recrawl without the directive
                    # clears it
                    if noindex:
                        self.noindex.add(row.canon_url)
                    else:
                        self.noindex.discard(row.canon_url)
                else:
                    nofollow = False  # meta robots off: links always follow
                if cfg.rel_canonical_enabled:
                    if canonical is not None and canonical != row.canon_url:
                        self.canonical[row.canon_url] = canonical
                        counters["canonical_variants"] += 1
                    else:
                        self.canonical.pop(row.canon_url, None)
                if cfg.meta_refresh_enabled:
                    # the foreign refresh target joins the out-links BEFORE
                    # links_extracted counts them (mirror of extract_pages);
                    # latest fetch decides pure-redirect membership
                    if refresh is not None:
                        links = links + [refresh[1]]
                    if refresh is not None and refresh[0] == 0:
                        self.redirects.add(row.canon_url)
                        counters["refresh_redirects"] += 1
                    else:
                        self.redirects.discard(row.canon_url)
            else:
                text, links = extract_text_and_links(
                    page["html"], row.canon_url, cfg.sitemaps_enabled, self.policy
                )
                nofollow = False
            res.texts[row.canon_url] = text
            # adaptive-recrawl freshness fold (mirror of revisit_delta —
            # SEMANTICS.md §Adaptive recrawl): first fetch → interval A,
            # unchanged digest → doubled (hard cap 2^30, then the config
            # cap), changed → reset to A; op-for-op with the engine expr
            if cfg.recrawl_after and cfg.recrawl_adaptive:
                import hashlib

                from indigo_crawler_spark.operators.recrawl import (
                    REVISIT_HARD_CAP,
                )

                digest = hashlib.sha256(text.encode("utf-8")).hexdigest()
                prev = self.revisit.get(row.canon_url)
                if prev is None:
                    iv = cfg.recrawl_after
                elif prev[2] == digest:
                    counters["recrawl_unchanged"] += 1
                    iv = min(prev[1] * 2, REVISIT_HARD_CAP)
                else:
                    counters["recrawl_changed"] += 1
                    iv = cfg.recrawl_after
                if cfg.recrawl_max_interval:
                    iv = min(iv, cfg.recrawl_max_interval)
                self.revisit[row.canon_url] = (r, iv, digest)
            counters["links_extracted"] += len(links)
            # REP nofollow withholds this page's out-links from BOTH the
            # link graph and discovery (mirror of the engine's `followable`
            # filter — SEMANTICS.md §Meta robots)
            if nofollow:
                counters["nofollow_dropped"] += len(links)
                continue
            # graph edges are extraction facts: recorded before the depth
            # cap and trap gate (mirror of the engine's links write)
            if cfg.pagerank_every:
                for child in links:
                    self.pr_edges.add((row.canon_url, child))
            d = row.depth + 1
            if d > cfg.max_depth:
                continue
            for child in links:
                # trap / pattern-excluded children never enter the frontier
                # (SEMANTICS.md §Traps / §Exclude patterns; mirror of the
                # engine's discovery-side filter)
                if is_trap_url(
                    child,
                    cfg.trap_max_depth,
                    cfg.trap_max_repeat,
                    cfg.trap_max_url_len,
                ):
                    continue
                if cfg.exclude_patterns and matches_exclude(
                    child, cfg.exclude_patterns
                ):
                    continue
                if cfg.exclude_extensions and matches_ext(
                    child, cfg.exclude_extensions
                ):
                    continue
                # non-allowed-host children never enter the frontier
                # (mirror of the engine's discovery-side filter)
                if cfg.allow_hosts and not host_allowed(
                    _host_of(child), cfg.allow_hosts
                ):
                    continue
                # host-capped children never enter the frontier — capped
                # set from the ENTERING totals, same snapshot the gate used
                # (mirror of the engine's discovery-side anti-join)
                if (
                    cfg.host_page_cap
                    and self.emitted_total.get(_host_of(child), 0)
                    >= cfg.host_page_cap
                ):
                    continue
                prev = children.get(child)
                if prev is None or d < prev.depth:
                    h = _host_of(child)
                    children[child] = FrontierRow(
                        canon_url=child,
                        host=h,
                        depth=d,
                        seed_rank=None,
                        priority=priority_score(d, None, self.host_count.get(h, 0)),
                        discovered_round=r + 1,
                    )

        # 8. advance state (incl. EP3 backoff fold — mirror of fold_backoff)
        for h in banned_hosts:
            self.backoff[h] = max(
                self.backoff.get(h, 0), r + 1 + cfg.backoff_rounds
            )
        # dead-host backoff (mirror of fold_fail_hosts): a host whose
        # failed count this round reached the threshold pauses like a
        # banned host — same greatest() fold, so ban/fail order commutes
        if cfg.fail_every and cfg.fail_host_threshold:
            hot = {
                h
                for h, n in failed_per_host.items()
                if n >= cfg.fail_host_threshold
            }
            counters["failhost_backoff"] = len(hot)
            for h in sorted(hot):
                self.backoff[h] = max(
                    self.backoff.get(h, 0), r + 1 + cfg.backoff_rounds
                )
        # thin-content host demotion (mirror of fold_thin_hosts): integer
        # comparison sum(words) < min_words * n_pages over this round's
        # fetched texts; thin hosts' budgets halve (floor 1) entering r+1
        if cfg.thin_host_min_words:
            from indigo_crawler_spark.kernels.tokens import (
                whitespace_token_count_py,
            )

            pages_n: dict[str, int] = {}
            words_n: dict[str, int] = {}
            for u, text in res.texts.items():
                h = _host_of(u)
                pages_n[h] = pages_n.get(h, 0) + 1
                words_n[h] = words_n.get(h, 0) + whitespace_token_count_py(text)
            thin = {
                h
                for h, n in pages_n.items()
                if words_n[h] < cfg.thin_host_min_words * n
            }
            for h in sorted(thin):
                self.budget[h] = max(
                    1, self.budget.get(h, cfg.default_budget) // 2
                )
            counters["thin_hosts_demoted"] = len(thin)
        # lifetime emit totals advance LAST (entering-state snapshot above)
        if cfg.host_page_cap:
            for e in res.emitted:
                self.emitted_total[e["host"]] = (
                    self.emitted_total.get(e["host"], 0) + 1
                )
        for u in emitted_urls:
            if u in retained_failed:
                continue  # retryable failure: stays in frontier, not seen
            self.seen[u] = r
            self.frontier.pop(u, None)
        for u in denied:
            self.frontier.pop(u, None)
        for c, row in children.items():
            if c in self.seen or c in self.frontier:
                continue  # existing frontier rows win (earlier discovered_round)
            self.frontier[c] = row
            counters["links_new"] += 1

        res.counters = counters
        self.rounds_run = max(self.rounds_run, r + 1)
        return res

    def _pagerank_rescore(self) -> None:
        """Mirror of the engine's PageRank tick (operators/pagerank.py
        ``rescore_frontier``): re-score every frontier row as
        base_formula + weight · (rank_int / PR_SCALE) over the integer
        ranks of the accumulated link graph. The base is recomputed from
        scratch — a second tick never compounds — and an unranked url adds
        exactly 0.0. Float ops match the engine op-for-op (one divide, one
        multiply, one add, left-to-right), so priorities are bit-equal."""
        from indigo_crawler_spark.kernels.pagerank import (
            PR_SCALE,
            pagerank_int_py,
        )

        rank = pagerank_int_py(self.pr_edges, iters=self.cfg.pagerank_iters)
        w = self.cfg.pagerank_weight
        for row in self.frontier.values():
            base = priority_score(
                row.depth, row.seed_rank, self.host_count.get(row.host, 0)
            )
            ri = rank.get(row.canon_url)
            boost = 0.0 if ri is None else w * (ri / PR_SCALE)
            row.priority = base + boost

    def run(self, n_rounds: int) -> list[RoundResult]:
        out: list[RoundResult] = []
        for r in range(n_rounds):
            # PageRank tick (mirror of run_round: the frontier WRITTEN for
            # round r is rescored at the end of round r-1, i.e. before any
            # round-r injection joins it — so the rescore runs BEFORE the
            # recrawl tick below, and injected rows keep plain priority)
            if (
                self.cfg.pagerank_every
                and r > 0
                and r % self.cfg.pagerank_every == 0
            ):
                self._pagerank_rescore()
            # age-based refresh (SEMANTICS.md §Recrawl; mirror of
            # run_rounds → operators/recrawl.recrawl_tick): re-open round
            # r-A's emitted urls as refresh seeds before round r runs
            self.recrawl_tick(r, out)
            out.append(self.step(r))
        return out

    def recrawl_tick(self, r: int, out: list[RoundResult]) -> None:
        """Refresh tick before round *r* (mirror of run_rounds →
        operators/recrawl): the change-rate-adaptive variant re-opens
        whatever the freshness schedule says is due (SEMANTICS.md §Adaptive
        recrawl; a due url not emitted this round stays due — inject skips
        pending rows); the fixed-age variant re-opens round r-A's emitted
        urls. Exposed as a method so stepwise tests (streamed-page
        interleavings) drive the same tick run() does."""
        if not self.cfg.recrawl_after:
            return
        from indigo_crawler_spark.operators.recrawl import RECRAWL_SEED_RANK

        if self.cfg.recrawl_adaptive:
            due = sorted(
                u for u, (fr, iv, _d) in self.revisit.items() if fr + iv <= r
            )
            if due:
                self.retire(due)
                self.inject(due, seed_rank=RECRAWL_SEED_RANK)
        else:
            src = r - self.cfg.recrawl_after
            if 0 <= src < len(out):
                urls = [e["canon_url"] for e in out[src].emitted]
                self.retire(urls)
                self.inject(urls, seed_rank=RECRAWL_SEED_RANK)

    # --- comparison views -------------------------------------------------
    def ordering(self, results: list[RoundResult]) -> list[str]:
        out: list[str] = []
        for rr in results:
            out.extend(e["canon_url"] for e in rr.emitted)
        return out
