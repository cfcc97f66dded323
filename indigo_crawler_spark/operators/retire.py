"""Retire URLs so they can be re-crawled — the cuckoo filter's reason to
exist (BASELINE.json:6 "cuckoo-filter variant for deletions").

``retire_urls`` removes URLs from the crawl's seen-membership so a later
rediscovery re-enters the frontier:

  1. the exact ground truth: retired canon_urls accumulate in a ``retired``
     table that ``CrawlState.seen_through`` anti-joins away (works for ANY
     filter_kind — with a Bloom prefilter the stale positive is corrected
     by the exact backstop);
  2. the prefilter, when it supports deletion (cuckoo): fingerprints are
     removed from the latest committed filter in place, so retired URLs come
     back as *certainly_new* and never even touch the backstop. Blooms
     cannot delete — they just stay slightly stale (more backstop traffic,
     identical results).

Retirement is an EXTERNAL state mutation between rounds (like the reference
operator re-queuing a listing for refresh): rounds after it are
deterministic as usual, but replaying a round from BEFORE the retirement
would no longer reproduce its original output — resume still works because
committed rounds are never recomputed and their seen/frontier files (whose
digests the manifests pin) are untouched.

Scale shape: retired sets are tiny next to the seen set; the anti-join in
seen_through is one more SHUFFLE_HASH on the already-shuffled membership
read, and the cuckoo deletion is one cogrouped Arrow pass over the touched
pk buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from indigo_crawler_spark.functions.keys import (
    host_expr,
    host_hash_expr,
    pk_expr,
    url_hash_expr,
)
from indigo_crawler_spark.functions.udfs import make_canonicalize_udf
from indigo_crawler_spark.plans import schemas


def retire_urls(state, urls: DataFrame) -> int:
    """Make the given urls (column ``url``, raw or canonical) re-crawlable;
    returns how many URLs were actually retired.

    Only urls CURRENTLY SEEN retire (semi-join against the live membership):
    cuckoo deletion is exact only for inserted-and-not-yet-deleted items —
    deleting a never-inserted or twice-retired url could strip a colliding
    fingerprint that belongs to a different url, manufacturing a false
    negative. The same guard keeps the ``retired`` table free of no-op rows.
    """
    from indigo_crawler_spark.plans.round import last_complete_round

    io, cfg = state.io, state.cfg
    done = last_complete_round(state)
    live_seen = state.seen_through((done + 1) if done is not None else 0)
    keyed = (
        urls.select(
            make_canonicalize_udf(cfg.canon_policy)(F.col("url")).alias("canon_url")
        )
        .where(F.col("canon_url").isNotNull())
        .distinct()
        .join(live_seen.select("canon_url"), on="canon_url", how="left_semi")
        .select(
            "canon_url",
            url_hash_expr(F.col("canon_url")).alias("url_hash"),
            pk_expr(
                host_hash_expr(host_expr("canon_url")), cfg.num_buckets
            ).alias("pk"),
            F.lit(done if done is not None else -1)
            .cast("int")
            .alias("retired_after_round"),
        )
        .cache()
    )
    n = keyed.count()
    if not n:
        keyed.unpersist()
        return 0
    # Commit the retired delta ATOMICALLY: merge into a rewritten table via
    # TableIO's temp-dir + rename-swap (crash mid-rewrite is repaired on the
    # next read). A raw mode("append") could tear — a crash mid-append leaves
    # some part files visible with no repair path. The retired table is tiny
    # relative to seen (module docstring), so the full rewrite is cheap.
    # The cuckoo fingerprint deletion below is a SEPARATE atomic step: a
    # crash between the two leaves the filter stale-positive for the retired
    # urls, which only costs backstop traffic — seen_through's anti-join on
    # the committed retired table already gives the exact answer.
    if io.exists("retired"):
        io.rewrite(
            io.read("retired", schemas.RETIRED).unionByName(keyed), "retired"
        )
    else:
        io.write(keyed, "retired")

    if cfg.filter_kind == "cuckoo" and n:
        from indigo_crawler_spark.operators.cuckoo_ops import delete_from_cuckoo

        if done is not None and io.exists(f"seen_bloom/round={done}"):
            table = f"seen_bloom/round={done}"
            filters = io.read(table, schemas.SEEN_BLOOM)
            io.rewrite(delete_from_cuckoo(filters, keyed), table)
    keyed.unpersist()
    return n
