"""Mid-crawl seed injection — the operational dual of ``operators/retire``.

A months-long crawl discovers new verticals from outside the link graph
(fresh sitemaps, partner feeds, operator triage); those URLs must enter the
frontier of the NEXT round without recomputing anything already committed.
``inject_seeds`` appends them to a side table ``injected/round=R`` (R = the
next round to run) that ``CrawlState.frontier(R)`` unions with the pinned
``frontier/round=R`` file at read time:

  * the committed frontier file — whose lineage digest round R-1's manifest
    pins — is NEVER mutated, so the resume-anchor verify and ``fsck`` keep
    passing byte-for-byte;
  * round R consumes the union exactly once: its frontier-advance writes
    un-emitted injected rows into ``frontier/round=R+1`` like any other
    candidate, so rounds > R never re-read the side table (GC reclaims it
    once round R commits, same rule as consumed frontiers);
  * replaying round R after a crash re-reads the same committed side table
    — injection happens between rounds and the table is rewritten
    atomically, so resume stays bit-exact.

Gating at inject time (mirrored in ``oracle.simulator.OracleCrawl.inject``):
junk URLs are dropped by canonicalization, duplicates keep the minimum
seed_rank, already-seen URLs are skipped (a retire → inject sequence DOES
re-crawl, matching the reference's re-queue semantics), and URLs already
pending in round R's frontier (committed or previously injected) are
skipped — the existing row wins, exactly like discovery's "existing
frontier rows win" rule.

Injected rows are seeds: depth 0, caller-supplied ``seed_rank`` (uniform
default 0 — per-url ranks ride an optional ``seed_rank`` input column), and
priority from the SAME formula as bootstrap, with host_count from the
bootstrap-frozen ``host_counts`` dimension (an unknown host counts 0 — the
identical convention the streaming skin and discovery use).

Scale shape: injection batches are tiny next to the frontier, but nothing
here assumes that — the seen check is the same SHUFFLE_HASH anti-join
``seen_through`` already pays, the pending check anti-joins one frontier
version, and the host_counts join is per-host scale. No collects, no
windows; one count action plus one atomic table rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from indigo_crawler_spark.functions.keys import host_expr, host_hash_expr, pk_expr
from indigo_crawler_spark.functions.scoring import priority_expr
from indigo_crawler_spark.functions.udfs import make_canonicalize_udf
from indigo_crawler_spark.operators.dedup import dedup_min_by
from indigo_crawler_spark.plans import schemas


def inject_seeds(state, urls: DataFrame, seed_rank: int = 0) -> int:
    """Queue *urls* (column ``url``, optional per-url ``seed_rank``) for the
    next round's frontier; returns how many actually entered (junk,
    already-seen and already-pending URLs are skipped)."""
    from indigo_crawler_spark.plans.round import last_complete_round

    io, cfg = state.io, state.cfg
    done = last_complete_round(state)
    nxt = (done + 1) if done is not None else 0
    if not io.exists(f"frontier/round={nxt}"):
        raise RuntimeError(
            "no frontier to inject into — bootstrap the crawl first"
        )

    ranked = urls.select(
        make_canonicalize_udf(cfg.canon_policy)(F.col("url")).alias("canon_url"),
        (
            F.col("seed_rank").cast("int")
            if "seed_rank" in urls.columns
            else F.lit(int(seed_rank))
        ).alias("seed_rank"),
    ).where(F.col("canon_url").isNotNull())
    ranked = dedup_min_by(ranked, "canon_url", ["seed_rank"])

    pending = io.read(f"frontier/round={nxt}", schemas.FRONTIER)
    inj_table = f"injected/round={nxt}"
    if io.exists(inj_table):
        pending = pending.unionByName(io.read(inj_table, schemas.FRONTIER))

    live_seen = state.seen_through(nxt)
    hc = io.read("host_counts", schemas.HOST_COUNTS)
    fresh = (
        ranked.join(
            live_seen.select("canon_url").hint("SHUFFLE_HASH"),
            on="canon_url",
            how="left_anti",
        )
        .join(
            pending.select("canon_url").hint("SHUFFLE_HASH"),
            on="canon_url",
            how="left_anti",
        )
        .withColumn("host", host_expr("canon_url"))
        .join(hc.hint("SHUFFLE_HASH"), on="host", how="left")
        .withColumn("host_count", F.coalesce(F.col("host_count"), F.lit(0)))
        .select(
            "canon_url",
            "host",
            host_hash_expr(F.col("host")).alias("host_hash"),
            pk_expr(host_hash_expr(F.col("host")), cfg.num_buckets).alias("pk"),
            F.lit(0).alias("depth"),
            F.col("seed_rank").cast("int").alias("seed_rank"),
            priority_expr(
                F.lit(0), F.col("seed_rank"), F.col("host_count")
            ).alias("priority"),
            F.lit(nxt).cast("int").alias("discovered_round"),
        )
        .cache()
    )
    n = fresh.count()
    if not n:
        fresh.unpersist()
        return 0
    # same atomic commit discipline as retire: merge into a rewritten table
    # (temp dir + rename swap) — a raw append could tear under a crash
    if io.exists(inj_table):
        io.rewrite(
            io.read(inj_table, schemas.FRONTIER).unionByName(fresh), inj_table
        )
    else:
        io.write(fresh, inj_table)
    fresh.unpersist()
    return n


def fold_robots_latest(frames: list[DataFrame]) -> DataFrame:
    """Latest robots.txt per host (SEMANTICS.md §Robots updates) over the
    static table plus any delta tables: each frame carries (host,
    host_hash, robots_txt, upd_round) with the static rows at upd_round
    = -1; the row with the MAX upd_round per host wins (a host updated
    twice keeps the later text). Window-free — the same min_by fold every
    per-key-latest state table here uses, over a host-scale dimension.
    Normative for both the round plan (CrawlState.robots_through) and the
    SQL-checked driver query ``robots_update_fold``."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return (
        dedup_min_by(
            out.withColumn("_neg", -F.col("upd_round")), "host", ["_neg"]
        )
        .drop("_neg")
    )


def update_robots(state, rows: DataFrame) -> int:
    """Queue per-host robots.txt replacements for the NEXT round
    (SEMANTICS.md §Robots updates) — the batch analogue of a robots.txt
    refetch observing changed rules mid-crawl: tightened rules must stop
    fetches from the next round on, loosened rules must open gates, and
    committed rounds stay untouched (their manifests pinned the rules
    they ran under).

    *rows*: (host, robots_txt). The delta lands in
    ``robots_delta/round=R`` (R = next round) with ``upd_round = R``;
    ``CrawlState.robots_through(r)`` folds static ∪ deltas ≤ r with
    max-upd_round-wins per host. A second update for the same host before
    round R runs REPLACES the pending row (the operator corrects a
    mistake); duplicate hosts within one call keep the lexically-max
    text (deterministic under any input order). Returns the number of
    hosts updated. Same atomic rewrite discipline as inject/retire;
    replaying round R after a crash re-reads the same committed delta, so
    resume stays bit-exact. Scale shape: host-scale dimension rows, one
    rewrite, no collects.

    Note: ``Sitemap:`` directives are honored at BOOTSTRAP only
    (SEMANTICS.md §Sitemaps) — an updated robots.txt changes the allow
    gate, not the seed list; inject the sitemap urls explicitly if
    wanted."""
    from indigo_crawler_spark.plans.round import last_complete_round

    io = state.io
    done = last_complete_round(state)
    nxt = (done + 1) if done is not None else 0
    if not io.exists("robots"):
        raise RuntimeError("no robots table — bootstrap the crawl first")

    # lexically-MAX text wins for duplicate hosts within one call —
    # deterministic under any input order
    fresh = (
        rows.select(
            F.col("host").cast("string").alias("host"),
            F.col("robots_txt").cast("string").alias("robots_txt"),
        )
        .groupBy("host")
        .agg(F.max("robots_txt").alias("robots_txt"))
        .select(
            "host",
            host_hash_expr(F.col("host")).alias("host_hash"),
            "robots_txt",
            F.lit(nxt).cast("int").alias("upd_round"),
        )
        .cache()
    )
    n = fresh.count()
    if not n:
        fresh.unpersist()
        return 0
    table = f"robots_delta/round={nxt}"
    if io.exists(table):
        kept = io.read(table, schemas.ROBOTS_DELTA).join(
            fresh.select("host"), on="host", how="left_anti"
        )
        io.rewrite(kept.unionByName(fresh), table)
    else:
        io.write(fresh, table)
    fresh.unpersist()
    return n
