"""Dump .explain('formatted') for the round's internal operator frames that
round-6 optimizations touch (plans/r06/*_{before,after}.txt). The declared
crawl queries (crawl_round0_schedule / crawl_two_rounds) execute these frames
internally; their own returned DataFrame is just a read of the committed
fetch_batches table, so the operator frames are where plan changes show.

Usage: python tools/explain_r06.py <tag>       (tag = before | after)
"""

from __future__ import annotations

import io
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main(tag: str) -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("explain-r06")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    from indigo_crawler_spark.config import CrawlConfig
    from indigo_crawler_spark.operators.politeness import sequence_batches
    from indigo_crawler_spark.operators.skew import politeness_topk_skew_aware
    from indigo_crawler_spark.plans import schemas
    from indigo_crawler_spark.plans.round import (
        CrawlState,
        bootstrap,
        run_round,
    )
    from indigo_crawler_spark.sources import synthetic
    from indigo_crawler_spark.sources.table_io import TableIO

    outdir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
    os.makedirs(outdir, exist_ok=True)

    cfg = CrawlConfig(round_limit=200, num_buckets=16)
    root = tempfile.mkdtemp(prefix="explain_r06_")
    state = CrawlState(io=TableIO(spark, root), cfg=cfg)
    try:
        pages = synthetic.pages_df(spark, 5000, 200, parallelism=8)
        seeds = synthetic.seeds_df(spark, 5000, 200, 300)
        robots = synthetic.robots_df(spark, 200)
        budgets = synthetic.budgets_df(spark, 200)

        # bootstrap store pipeline plan (the store frame before its write)
        from indigo_crawler_spark.functions.keys import (
            host_expr,
            host_hash_expr,
            pk_expr,
        )
        from indigo_crawler_spark.functions.udfs import make_canonicalize_udf
        from indigo_crawler_spark.operators.dedup import dedup_min_by

        pc = (
            pages.withColumn("canon_url", make_canonicalize_udf()(F.col("url")))
            .drop("text")
            .where(F.col("canon_url").isNotNull())
            .withColumn("host", host_expr("canon_url"))
            .withColumn("pk", pk_expr(host_hash_expr(F.col("host")), cfg.num_buckets))
            .repartition(cfg.num_buckets, "pk")
        )
        store = dedup_min_by(pc, ["pk", "canon_url"], ["warc_ts", "url"]).select(
            "canon_url", "host", "pk", "url", "warc_ts", "html", "lang"
        ).sortWithinPartitions("canon_url")
        with open(os.path.join(outdir, f"bootstrap_store_{tag}.txt"), "w") as f:
            f.write(grab(store))

        bootstrap(spark, pages, seeds, robots, budgets, state, with_counters=False)

        # round-0 rank path: gate -> politeness -> sequence_batches(emitted)
        from indigo_crawler_spark.operators.gates import gate_frontier

        frontier = state.frontier(0)
        gated = gate_frontier(frontier, state.robots_through(0), state.budgets(0), cfg, 0)
        eligible = gated.where(
            F.col("_allowed") & ~F.col("_trap") & ~F.col("_excluded")
            & ~F.col("_ext") & ~F.col("_hostdrop") & ~F.col("_capped")
            & ~F.col("_backoff")
        )
        from indigo_crawler_spark.plans.round import _RANK_SINGLE_MAX

        bm = state.io.read_manifest("bootstrap") or {}
        rank_single = (
            bm.get("frontier_rows") is not None
            and bm.get("frontier_rows") <= _RANK_SINGLE_MAX
        )
        kept = politeness_topk_skew_aware(eligible, cfg, state.heavy_hosts(0))
        emitted, _n, _pks, rank_cache = sequence_batches(
            kept, 0, cfg.round_limit, cfg.batch_size, gather_col="pk",
            single_partition=rank_single,
        )
        with open(os.path.join(outdir, f"rank_emitted_{tag}.txt"), "w") as f:
            f.write(grab(emitted))
        rank_cache.unpersist()

        # run two real rounds so round 2 has a bloom filter + seen chain,
        # then capture the discovery path (children -> frontier_next)
        run_round(spark, state, 0, with_counters=False)
        run_round(spark, state, 1, with_counters=False)

        # replicate the discovery frame construction for round 2 inputs
        from indigo_crawler_spark.operators.extract import extract_pages

        frontier2 = state.frontier(2)
        gated2 = gate_frontier(
            frontier2, state.robots_through(2), state.budgets(2), cfg, 2
        )
        eligible2 = gated2.where(
            F.col("_allowed") & ~F.col("_trap") & ~F.col("_excluded")
            & ~F.col("_ext") & ~F.col("_hostdrop") & ~F.col("_capped")
            & ~F.col("_backoff")
        )
        kept2 = politeness_topk_skew_aware(eligible2, cfg, state.heavy_hosts(2))
        emitted2, _n2, pks2, rc2 = sequence_batches(
            kept2, 2, cfg.round_limit, cfg.batch_size, gather_col="pk"
        )
        emitted2 = emitted2.withColumn("status", F.lit("ok"))
        store2 = state.fetchable_store(pks2)
        fetched = store2.join(
            F.broadcast(emitted2.select("canon_url", "depth")), on="canon_url"
        )
        extracted = extract_pages(fetched)
        children = extracted.where(F.col("depth") + 1 <= cfg.max_depth).select(
            F.explode("links").alias("canon_url"),
            (F.col("depth") + 1).cast("int").alias("depth"),
        )
        children = dedup_min_by(children, "canon_url", ["depth"]).withColumn(
            "host", host_expr("canon_url")
        )
        children = children.withColumn(
            "pk", pk_expr(host_hash_expr(F.col("host")), cfg.num_buckets)
        )
        seen_prev = state.seen_through(2)
        prev_filter = "seen_bloom/round=1"
        allowed_rows = gated2.where(
            F.col("_allowed") & ~F.col("_trap") & ~F.col("_excluded")
            & ~F.col("_ext") & ~F.col("_hostdrop") & ~F.col("_capped")
        )
        frontier_not_denied = allowed_rows.select("canon_url")
        from indigo_crawler_spark.plans.round import _PROBE_MIN_SEEN

        use_probe = (
            cfg.filter_kind == "bloom"
            and state.io.exists(prev_filter)
            and state.seen_rows_committed(2) >= _PROBE_MIN_SEEN
        )
        if use_probe:
            from indigo_crawler_spark.functions.keys import url_hash_expr
            from indigo_crawler_spark.operators.bloom_ops import probe_split

            children_h = children.withColumn(
                "url_hash", url_hash_expr(F.col("canon_url"))
            )
            filters = state.io.read(prev_filter, schemas.SEEN_BLOOM)
            certainly_new, maybe_seen = probe_split(children_h, filters)
            survivors = maybe_seen.join(
                seen_prev.select("canon_url"), on="canon_url", how="left_anti"
            )
            children_pre = (
                certainly_new.unionByName(survivors)
                .drop("url_hash")
                .join(
                    frontier_not_denied.hint("SHUFFLE_HASH"),
                    on="canon_url",
                    how="left_anti",
                )
            )
        else:
            barrier = seen_prev.select("canon_url").unionByName(
                frontier_not_denied
            )
            children_pre = children.join(
                barrier.hint("SHUFFLE_HASH"), on="canon_url", how="left_anti"
            )
        hc = state.io.read("host_counts", schemas.HOST_COUNTS)
        from indigo_crawler_spark.functions.scoring import priority_expr

        n_hosts = (state.io.read_manifest("bootstrap") or {}).get("n_hosts")
        from indigo_crawler_spark.plans.round import _DIM_BROADCAST_MAX

        hc_side = (
            F.broadcast(hc)
            if n_hosts is not None and n_hosts <= _DIM_BROADCAST_MAX
            else hc.hint("SHUFFLE_HASH")
        )
        children_full = (
            children_pre
            .join(hc_side, on="host", how="left")
            .withColumn("host_count", F.coalesce(F.col("host_count"), F.lit(0)))
            .select(
                "canon_url",
                "host",
                host_hash_expr(F.col("host")).alias("host_hash"),
                pk_expr(host_hash_expr(F.col("host")), cfg.num_buckets).alias("pk"),
                "depth",
                F.lit(None).cast("int").alias("seed_rank"),
                priority_expr(
                    F.col("depth"), F.lit(None).cast("int"), F.col("host_count")
                ).alias("priority"),
                F.lit(3).alias("discovered_round"),
            )
        )
        with open(os.path.join(outdir, f"discovery_children_{tag}.txt"), "w") as f:
            f.write(grab(children_full))
        rc2.unpersist()

        # bloom fold frame (round-1 delta folded into round-0 filter)
        from indigo_crawler_spark.operators.bloom_ops import (
            bloom_geometry,
            build_bloom_delta,
            merge_blooms,
        )
        seen_delta = state.io.read("seen/round=1", schemas.SEEN)
        nbits, k = bloom_geometry(state.filter_capacity(), cfg.bloom_fpr)
        try:
            from indigo_crawler_spark.operators.bloom_ops import fold_bloom

            cumulative = fold_bloom(
                state.io.read("seen_bloom/round=0", schemas.SEEN_BLOOM),
                seen_delta,
                nbits,
                k,
            )
        except ImportError:
            delta_f = build_bloom_delta(seen_delta, nbits, k)
            cumulative = merge_blooms(
                state.io.read("seen_bloom/round=0", schemas.SEEN_BLOOM), delta_f
            )
        with open(os.path.join(outdir, f"bloom_fold_{tag}.txt"), "w") as f:
            f.write(grab(cumulative))
    finally:
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "before")
