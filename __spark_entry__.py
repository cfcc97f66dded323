"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship scheduler rounds (EP1) over a
Common-Crawl-style pages table synthesized *deterministically* from
``/root/testdata/sf0.001/documents.parquet`` (BASELINE.json input_hint:
(url, warc_ts, html binary, text, lang)); ``queries()``/``oracle_sql()``
cover the SURVEY.md §2 operator inventory with DuckDB-checkable analogs on
the TPC-H-ish tables, including a full politeness-scheduling round expressed
in ANSI SQL (``crawl_round0_schedule``).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# deterministic pages/seeds synthesis from documents.parquet (no RNG)
# --------------------------------------------------------------------------
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _pages_from_documents(spark: SparkSession, sf_dir: str, links_per_doc: int = 3):
    """documents → pages(url, warc_ts, html, text, lang) + seeds(url, seed_rank).

    url = https://{source}.example.com/d/{doc_id}; html embeds links to
    doc_ids (doc_id*31 + 17*j) % n (a reproducible link graph with cycles),
    each resolved to its real source via a self-join. Everything is a pure
    function of the input table — byte-stable across runs.
    """
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text", "lang")
    n = docs.count()
    url_of = lambda src, did: F.concat(  # noqa: E731
        F.lit("https://"), src, F.lit(".example.com/d/"), did.cast("string")
    )
    base = docs.withColumn("url", url_of(F.col("source"), F.col("doc_id")))

    child_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                ((F.col("doc_id") * 31 + F.lit(17 * j)) % F.lit(n)).alias("cid"),
            )
            for j in range(links_per_doc)
        ]
    )
    fan = base.select("doc_id", F.explode(child_structs).alias("c")).select(
        "doc_id", F.col("c.j").alias("j"), F.col("c.cid").alias("cid")
    )
    child_src = docs.select(
        F.col("doc_id").alias("cid"), F.col("source").alias("csrc")
    )
    anchors = (
        fan.join(child_src, "cid")
        .withColumn(
            "anchor",
            F.concat(F.lit('<a href="'), url_of(F.col("csrc"), F.col("cid")), F.lit('">a</a>')),
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "anchor"))),
                    lambda s: s["anchor"],
                ),
                "",
            ).alias("anchors")
        )
    )
    pages = (
        base.join(anchors, "doc_id", "left")
        .withColumn(
            "html",
            F.encode(
                F.concat(
                    F.lit("<html><body><h1>D"),
                    F.col("doc_id").cast("string"),
                    F.lit("</h1>"),
                    F.coalesce(F.col("anchors"), F.lit("")),
                    F.lit("<p>"),
                    F.col("text"),
                    F.lit("</p></body></html>"),
                ),
                "UTF-8",
            ),
        )
        .select(
            "url",
            F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")).alias("warc_ts"),
            "html",
            F.lit(None).cast("string").alias("text"),
            "lang",
        )
    )
    seeds = base.where(F.col("doc_id") < 10).select(
        "url", F.col("doc_id").cast("int").alias("seed_rank")
    )
    return pages, seeds


def _run_crawl(spark: SparkSession, sf_dir: str, n_rounds: int):
    from indigo_crawler_spark.config import CrawlConfig
    from indigo_crawler_spark.plans import schemas
    from indigo_crawler_spark.plans.round import CrawlState, bootstrap, run_rounds
    from indigo_crawler_spark.sources.table_io import TableIO

    pages, seeds = _pages_from_documents(spark, sf_dir)
    cfg = CrawlConfig(round_limit=200, num_buckets=16)
    state = CrawlState(io=TableIO(spark, tempfile.mkdtemp(prefix="indigo_entry_")), cfg=cfg)
    robots = spark.createDataFrame([], schemas.ROBOTS)
    budgets = spark.createDataFrame([], schemas.HOST_BUDGETS)
    bootstrap(spark, pages, seeds, robots, budgets, state)
    run_rounds(spark, state, n_rounds, with_counters=False)
    out = state.io.read(f"fetch_batches/round=0", schemas.FETCH_BATCHES)
    for r in range(1, n_rounds):
        out = out.unionByName(
            state.io.read(f"fetch_batches/round={r}", schemas.FETCH_BATCHES)
        )
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 2 scheduler rounds (politeness top-k, global cap, fetch,
    extract, discover) on pages synthesized from sf0.001 documents."""
    return _run_crawl(spark, SF0001, 2).orderBy("round", "global_rank")


# --------------------------------------------------------------------------
# queries — SURVEY.md §2 operator analogs (each with a DuckDB oracle below)
# --------------------------------------------------------------------------
def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The queries() table surface is fixed-shape analytics over single
    # parquet files: every join/agg here is already the right strategy at
    # these sizes, so AQE's runtime re-planning only adds per-stage driver
    # round-trips (measured: the six bench-timed queries run ~30% faster
    # without it at sf0.1 AND sf1.0; results are identical by construction
    # — AQE never changes semantics). The crawl queries manage AQE
    # themselves per round scale (plans/round.py), so they are unaffected
    # by the session-level setting this leaves behind. No session_conf
    # scope fits here: _t returns a lazy frame that the caller executes
    # after _t has returned, so a scope closed inside _t would not cover
    # the execution.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _crawl_round0_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship politeness round (gates→top-B→cap→sequence), SQL-checkable."""
    df = _run_crawl(spark, sf_dir, 1)
    return df.select(
        "canon_url",
        "host",
        F.col("batch_id").cast("long").alias("batch_id"),
        F.col("rank_in_host").cast("long").alias("rank_in_host"),
        F.col("global_rank").cast("long").alias("global_rank"),
    )


def _crawl_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: full 2-round crawl incl. extraction + discovery."""
    df = _run_crawl(spark, sf_dir, 2)
    return df.select(
        "round",
        "canon_url",
        F.col("batch_id").cast("long").alias("batch_id"),
        F.col("global_rank").cast("long").alias("global_rank"),
    )


def _crawl_inject_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 schedule after a MID-CRAWL SEED INJECTION (E42): run round 0,
    inject documents 20..25 as raw urls between rounds (already-seen and
    already-pending ones are skipped — the SQL mirror reproduces both
    skips), then run round 1. Injected urls carry seed semantics
    (depth 0, seed_rank 0) so their priority outranks discovered links."""
    import tempfile

    from indigo_crawler_spark.config import CrawlConfig
    from indigo_crawler_spark.operators.inject import inject_seeds
    from indigo_crawler_spark.plans import schemas
    from indigo_crawler_spark.plans.round import CrawlState, bootstrap, run_rounds
    from indigo_crawler_spark.sources.table_io import TableIO

    pages, seeds = _pages_from_documents(spark, sf_dir)
    cfg = CrawlConfig(round_limit=200, num_buckets=16)
    state = CrawlState(
        io=TableIO(spark, tempfile.mkdtemp(prefix="indigo_entry_")), cfg=cfg
    )
    robots = spark.createDataFrame([], schemas.ROBOTS)
    budgets = spark.createDataFrame([], schemas.HOST_BUDGETS)
    bootstrap(spark, pages, seeds, robots, budgets, state)
    run_rounds(spark, state, 1, with_counters=False)
    inj = (
        _docs(spark, sf_dir)
        .where((F.col("doc_id") >= 20) & (F.col("doc_id") < 26))
        .select(
            F.concat(
                F.lit("https://"),
                F.col("source"),
                F.lit(".example.com/d/"),
                F.col("doc_id").cast("string"),
            ).alias("url")
        )
    )
    inject_seeds(state, inj)
    run_rounds(spark, state, 2, with_counters=False)
    return state.io.read("fetch_batches/round=1", schemas.FETCH_BATCHES).select(
        "canon_url",
        F.col("batch_id").cast("long").alias("batch_id"),
        F.col("global_rank").cast("long").alias("global_rank"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- flagship crawl (EP1) ----
    q["crawl_round0_schedule"] = _crawl_round0_schedule
    q["crawl_two_rounds"] = _crawl_two_rounds
    q["crawl_inject_round"] = _crawl_inject_round

    # ---- S1/P1/P2/P3 scan + filters ----
    q["scan_prune"] = lambda s, d: _t(s, d, "documents").select("doc_id", "lang")
    q["filter_events"] = lambda s, d: _t(s, d, "events").where(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "value")
    q["null_guard"] = lambda s, d: _t(s, d, "orders").where(
        F.col("o_totalprice").isNotNull() & (F.col("o_totalprice") > 400000)
    ).select("o_orderkey", "o_totalprice")

    # ---- F-series scalar functions ----
    q["lower_source"] = lambda s, d: _t(s, d, "documents").select(
        "doc_id", F.lower("source").alias("source_lower")
    )
    q["price_expr"] = lambda s, d: _t(s, d, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * (1.0 - 0.1), 4).alias("discounted")
    )
    q["date_trunc_day"] = lambda s, d: _t(s, d, "events").groupBy(
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch")
    ).agg(F.count("*").alias("n"))
    q["json_get"] = lambda s, d: _t(s, d, "events").select(
        "event_id", F.get_json_object("props", "$.k").alias("k_str")
    )
    q["explode_tokens"] = lambda s, d: _t(s, d, "documents").select(
        F.explode(F.split("text", " ")).alias("word")
    ).groupBy("word").agg(F.count("*").alias("n"))

    # ---- J-series joins ----
    def _anti_join(s, d):
        # customers with no big order — non-empty at every sf (J1 seen-check shape)
        c = _t(s, d, "customer")
        o = _t(s, d, "orders").where(F.col("o_totalprice") > 450000)
        return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey")

    def _semi_join(s, d):
        c, o = _t(s, d, "customer"), _t(s, d, "orders")
        return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select("c_custkey")

    def _join_agg(s, d):
        li, p = _t(s, d, "lineitem"), _t(s, d, "part")
        return (
            li.join(p, li["l_partkey"] == p["p_partkey"])
            .groupBy("p_brand")
            .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty"))
        )

    def _broadcast_join(s, d):
        n, r = _t(s, d, "nation"), _t(s, d, "region")
        return (
            n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .groupBy("r_name")
            .agg(F.count("*").alias("n_nations"))
        )

    q["anti_join"] = _anti_join
    q["semi_join"] = _semi_join
    q["join_agg"] = _join_agg
    q["broadcast_join"] = _broadcast_join

    # ---- A-series aggregations ----
    q["group_agg"] = lambda s, d: _t(s, d, "events").groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value")
    )
    q["count_distinct"] = lambda s, d: _t(s, d, "lineitem").agg(
        F.countDistinct("l_partkey").alias("n_parts"), F.count("*").alias("n")
    )
    # rows-only: HLL sketches differ across engines by construction (A3)
    q["approx_count_distinct"] = lambda s, d: _t(s, d, "lineitem").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("n_approx")
    )
    # A2 dual: latest-row-per-key via one max_by hash agg (the corpus
    # export's core operator, plans/export.py — supersede-by-latest without
    # a window). Tie-break total: (ts, event_id) struct comparison.
    def _latest_by_key(s, d):
        ev = _t(s, d, "events").select(
            "user_id",
            F.struct("ts", "event_id", "value").alias("_row"),
        )
        won = ev.groupBy("user_id").agg(
            F.max_by("_row", F.struct("_row.ts", "_row.event_id")).alias("_row")
        )
        return won.select(
            "user_id",
            F.col("_row.event_id").alias("event_id"),
            F.unix_timestamp("_row.ts").alias("ts_epoch"),
            F.col("_row.value").alias("value"),
        )

    q["latest_by_key"] = _latest_by_key
    q["rollup_counts"] = lambda s, d: _t(s, d, "events").rollup("event_type").agg(
        F.count("*").alias("n")
    )
    # A7 cube: all 4 grouping-set combinations of (event_type, value_band).
    # value_band is a STRING so pandas doesn't coerce a nullable int grouping
    # column to float in the driver's DataFrame compare.
    q["cube_counts"] = lambda s, d: _t(s, d, "events").withColumn(
        "value_band", F.when(F.col("value") > 50.0, F.lit("hi")).otherwise(F.lit("lo"))
    ).cube("event_type", "value_band").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )

    # ---- W-series windows ----
    def _window_topk(s, d):
        w = Window.partitionBy("o_custkey").orderBy(
            F.desc("o_totalprice"), F.asc("o_orderkey")
        )
        return (
            _t(s, d, "orders")
            .withColumn("rk", F.row_number().over(w).cast("long"))
            .where(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
        )

    q["window_topk_per_customer"] = _window_topk

    # ---- O-series sort/limit/set ops ----
    q["global_topk"] = lambda s, d: _t(s, d, "orders").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    ).limit(10).select("o_orderkey", "o_totalprice")
    q["union_distinct"] = lambda s, d: _t(s, d, "orders").where(
        F.col("o_totalprice") > 450000
    ).select("o_orderkey").union(
        _t(s, d, "orders").where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    ).distinct()
    q["intersect_slices"] = lambda s, d: _t(s, d, "orders").where(
        F.col("o_totalprice") > 300000
    ).select("o_orderkey").intersect(
        _t(s, d, "orders").where(F.col("o_orderstatus") == "F").select("o_orderkey")
    )
    q["except_slices"] = lambda s, d: _t(s, d, "orders").where(
        F.col("o_totalprice") > 300000
    ).select("o_orderkey").exceptAll(
        _t(s, d, "orders").where(F.col("o_orderstatus") == "F").select("o_orderkey")
    )

    # ---- EP3 backoff feedback: fold fetch statuses into next-round budgets
    def _backoff_update(s, d):
        from indigo_crawler_spark.config import CrawlConfig
        from indigo_crawler_spark.operators.feedback import fold_backoff

        cfg = CrawlConfig(backoff_rounds=2)  # default_budget=8
        budgets = _t(s, d, "customer").select(
            F.col("c_custkey").cast("string").alias("host"),
            F.xxhash64(F.col("c_custkey").cast("string")).alias("host_hash"),
            (F.col("c_nationkey") + 1).cast("int").alias("budget"),
            F.lit(0).cast("int").alias("backoff_until_round"),
        )
        statuses = _t(s, d, "orders").select(
            F.col("o_custkey").cast("string").alias("host"),
            F.when(F.col("o_orderstatus") == "F", F.lit("banned"))
            .otherwise(F.lit("ok"))
            .alias("status"),
        )
        out = fold_backoff(budgets, statuses, round_no=3, cfg=cfg)
        return out.select(
            "host",
            F.col("budget").cast("long").alias("budget"),
            F.col("backoff_until_round").cast("long").alias("backoff_until_round"),
        )

    q["backoff_update"] = _backoff_update

    # ---- A4/A5 partitioned Bloom: prefilter + exact backstop ≡ semi join,
    # so the whole bloom pipeline is DuckDB-checkable ----
    def _bloom_prefilter_semi(s, d):
        from indigo_crawler_spark.functions.keys import pk_expr, url_hash_expr
        from indigo_crawler_spark.operators.bloom_ops import (
            bloom_geometry,
            build_bloom_delta,
            probe_split,
        )

        def keyed(df, col):
            k = df.select(F.col(col).cast("string").alias("key"))
            return k.withColumn("url_hash", url_hash_expr(F.col("key"))).withColumn(
                "pk", pk_expr(F.xxhash64("key"), 8)
            )

        orders_keys = keyed(_t(s, d, "orders"), "o_custkey").withColumn(
            "first_round", F.lit(0)
        )
        nbits, k = bloom_geometry(4096, 1e-3)
        blooms = build_bloom_delta(orders_keys, nbits, k)
        cust = keyed(_t(s, d, "customer"), "c_custkey")
        _, maybe = probe_split(cust, blooms)  # no false negatives
        exact = maybe.join(
            orders_keys.select("key").distinct(), on="key", how="left_semi"
        )
        return exact.select(F.col("key").cast("bigint").alias("c_custkey"))

    q["bloom_prefilter_semi"] = _bloom_prefilter_semi

    # ---- A6 cuckoo: build → delete → probe → EXACT backstop ≡ set
    # difference. The probe alone has no false negatives but can stay
    # positive for a deleted key whose (fingerprint, bucket-pair) collides
    # with a surviving key — delete removes one fingerprint copy. Mirroring
    # the production pattern (filter = prefilter, exact join = truth), the
    # survivors anti-join the deleted set, making the result dataset- and
    # seed-independent (the oracle EXCEPT holds by construction, not by the
    # fixed sf tables happening to be collision-free).
    def _cuckoo_delete_probe(s, d):
        from indigo_crawler_spark.functions.keys import url_hash_expr
        from indigo_crawler_spark.operators.cuckoo_ops import (
            build_cuckoo_delta,
            cuckoo_geometry,
            delete_from_cuckoo,
            probe_split_cuckoo,
        )

        keys = (
            _t(s, d, "orders")
            .select(F.col("o_custkey").cast("string").alias("key"))
            .distinct()
            .withColumn("url_hash", url_hash_expr(F.col("key")))
            # int, matching SEEN_BLOOM.pk — a bigint here makes the
            # build/probe cogroups hash-partition the two sides by
            # DIFFERENT key bytes, splitting every (candidates, filter)
            # pair into two half-empty groups (false negatives); AQE's
            # partition coalescing used to mask it by accident
            .withColumn("pk", F.pmod(F.xxhash64("key"), F.lit(8)).cast("int"))
        )
        nbuckets, _slots = cuckoo_geometry(4096)
        filters = build_cuckoo_delta(keys, nbuckets)
        gone = keys.join(
            _t(s, d, "orders")
            .where(F.col("o_orderstatus") == "F")
            .select(F.col("o_custkey").cast("string").alias("key"))
            .distinct(),
            on="key",
            how="left_semi",
        )
        _, still_present = probe_split_cuckoo(keys, delete_from_cuckoo(filters, gone))
        exact = still_present.join(gone, on="key", how="left_anti")
        return exact.select(F.col("key").cast("bigint").alias("o_custkey"))

    q["cuckoo_delete_probe"] = _cuckoo_delete_probe

    # ---- training-data pipeline: text analysis (SQL-checkable) ----
    def _token_counts(s, d):
        from indigo_crawler_spark.functions.text_analysis import whitespace_token_count

        return _t(s, d, "documents").select(
            "doc_id", whitespace_token_count("text").cast("long").alias("n_tokens")
        )

    def _thin_host_flags(s, d):
        # the thin-host demotion signal (SEMANTICS.md §Thin-host demotion)
        # as a grouped analog over documents: integer comparison
        # sum(words) < N * n_docs per source — no float division anywhere,
        # the same shape the crawl's budget fold computes per host
        from indigo_crawler_spark.functions.text_analysis import (
            whitespace_token_count,
        )

        return (
            _t(s, d, "documents")
            .select("source", whitespace_token_count("text").alias("_w"))
            .groupBy("source")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("_w").cast("long").alias("total_words"),
            )
            .withColumn(
                "thin", F.col("total_words") < F.lit(51) * F.col("n_docs")
            )
        )

    def _quality_stats(s, d):
        from indigo_crawler_spark.functions.text_analysis import quality_exprs

        exprs = quality_exprs("text")
        return _t(s, d, "documents").select(
            "doc_id", *[v.alias(k) for k, v in exprs.items()]
        )

    def _regex_token_counts(s, d):
        # BPE-ish coarse tokenizer (letter runs | digit runs | single punct)
        from indigo_crawler_spark.functions.text_analysis import regex_token_count

        return _t(s, d, "documents").select(
            "doc_id", regex_token_count("text").cast("long").alias("n_tokens")
        )

    def _repetition_stats(s, d):
        # Gopher-style repetition signals: top-word count + duplicated
        # word/bigram occurrences, exact integers (zero shuffles — per-row
        # array folds)
        from indigo_crawler_spark.functions.text_analysis import repetition_exprs

        exprs = repetition_exprs("text")
        return (
            _t(s, d, "documents")
            .where(F.length(F.trim("text")) > 0)
            .select("doc_id", *[v.alias(k) for k, v in exprs.items()])
        )

    def _hash_split(s, d):
        # deterministic content-addressed train/valid/test assignment
        from indigo_crawler_spark.functions.text_analysis import hash_split_expr

        bucket, split = hash_split_expr("doc_id")
        return _t(s, d, "documents").select(
            "doc_id", bucket.alias("bucket"), split.alias("split")
        )

    def _boilerplate_shingles(s, d):
        # cross-document boilerplate detection: word 5-grams in >= 3 docs
        from indigo_crawler_spark.operators.boilerplate import boilerplate_ngrams

        return boilerplate_ngrams(_t(s, d, "documents"), n=5, min_docs=3)

    def _token_shards(s, d):
        # token-budget shard packing: distributed exclusive prefix sum
        # (range partition + O(partitions) offsets collect + one mapInPandas
        # pass — never a single-partition window); shard = floor(excl/5000).
        # The packing intermediate stays cached until the driver collects
        # (contract of pack_shards); the session is per-run, so no leak.
        from indigo_crawler_spark.functions.text_analysis import (
            whitespace_token_count,
        )
        from indigo_crawler_spark.operators.sharding import pack_shards

        docs = _t(s, d, "documents").select(
            "doc_id", whitespace_token_count("text").cast("long").alias("n_tokens")
        )
        packed, _cached = pack_shards(
            docs, shard_tokens=5000, weight_col="n_tokens", order_cols=["doc_id"]
        )
        return packed

    def _pii_synth_text(s, d):
        # the synthetic documents contain no PII, so the query plants a
        # deterministic PII-bearing prefix (phone, SSN, per-doc email and
        # IPv4) ahead of each text — both engines build the same string, so
        # the patterns are exercised non-trivially and mirrored exactly
        return _t(s, d, "documents").select(
            "doc_id",
            F.concat(
                F.lit("call 555-123-4567 or 987-65-4321 email u"),
                F.col("doc_id").cast("string"),
                F.lit("@ex.com ip 10.0.0."),
                (F.col("doc_id") % 250).cast("string"),
                F.lit(" "),
                F.col("text"),
            ).alias("t"),
        )

    def _pii_counts(s, d):
        from indigo_crawler_spark.functions.pii import pii_exprs

        exprs = pii_exprs("t")
        return _pii_synth_text(s, d).select(
            "doc_id", *[v.alias(k) for k, v in exprs.items()]
        )

    def _pii_redact(s, d):
        from indigo_crawler_spark.functions.pii import redact_pii

        return _pii_synth_text(s, d).select(
            "doc_id", redact_pii("t").alias("redacted")
        )

    q["token_counts"] = _token_counts
    q["thin_host_flags"] = _thin_host_flags
    q["regex_token_counts"] = _regex_token_counts
    q["quality_stats"] = _quality_stats
    q["repetition_stats"] = _repetition_stats
    q["hash_split"] = _hash_split
    q["boilerplate_shingles"] = _boilerplate_shingles
    def _hash_sample(s, d):
        # deterministic stratified sample: content-addressed 32-bit draw per
        # doc_id, per-language rates over the lang column (mixture step) —
        # integer threshold comparison, no RNG, no floats
        from indigo_crawler_spark.operators.sampling import (
            hash_uniform_expr,
            keep_expr,
        )

        return (
            _t(s, d, "documents")
            .where(
                keep_expr(
                    "doc_id", 0.25, by="lang",
                    rates={"en": 0.75, "de": 1.0}, salt="s1",
                )
            )
            .select(
                "doc_id", "lang",
                hash_uniform_expr("doc_id", salt="s1").alias("draw"),
            )
        )

    def _decontaminate_flags(s, d):
        # benchmark decontamination: corpus docs sharing a word 5-gram with
        # the "eval suite" (every 37th doc) — exact string mode so DuckDB
        # mirrors the gram join byte-for-byte; eval docs flag themselves,
        # exact dups of eval docs get flagged too
        from indigo_crawler_spark.operators.decontaminate import (
            contamination_flags,
        )

        docs = _t(s, d, "documents")
        ev = docs.where(F.col("doc_id") % 37 == 0)
        return contamination_flags(
            docs, ev, n=5, corpus_id="doc_id", exact=True
        )

    q["token_shards"] = _token_shards
    q["pii_counts"] = _pii_counts
    q["pii_redact"] = _pii_redact
    def _text_normalize(s, d):
        # normalization chain over a deliberately messy prefix (combining
        # acute, zero-width space, BEL control, CRLF/CR) prepended to each
        # document — the kernel UDF vs DuckDB's declarative
        # nfc_normalize + replace chain, byte-for-byte
        from indigo_crawler_spark.functions.udfs import normalize_text_udf

        messy = F.concat(
            F.lit("e\u0301"), F.lit("\u200b"), F.lit("\x07"),
            F.lit("A\r\nB\rC "), F.col("text"),
        )
        return _t(s, d, "documents").select(
            "doc_id", normalize_text_udf(messy).alias("norm")
        )

    def _pagerank_scores(s, d):
        # link-graph priority: PageRank over a deterministic 200-node graph
        # derived from orders (src = custkey mod 200 -> dst = orderkey mod
        # 200), 5 fixed iterations, uniform dangling redistribution —
        # iterative join+agg per iteration, DuckDB mirrors via unrolled CTEs
        from indigo_crawler_spark.operators.pagerank import pagerank

        edges = _t(s, d, "orders").select(
            (F.col("o_custkey") % 200).cast("long").alias("src"),
            (F.col("o_orderkey") % 200).cast("long").alias("dst"),
        )
        pr = pagerank(edges, damping=0.85, iters=5)
        return pr.select("node", F.round("rank", 9).alias("rank"))

    q["hash_sample"] = _hash_sample
    q["decontaminate_flags"] = _decontaminate_flags
    q["text_normalize"] = _text_normalize
    q["pagerank_scores"] = _pagerank_scores

    def _pagerank_int_scores(s, d):
        # the fixed-point integer variant that feeds frontier re-scoring
        # (kernels/pagerank.py): same 200-node orders graph, EXACT integer
        # equality vs DuckDB's unrolled CTEs — no float rounding anywhere
        from indigo_crawler_spark.operators.pagerank import pagerank_int

        edges = _t(s, d, "orders").select(
            (F.col("o_custkey") % 200).cast("long").alias("src"),
            (F.col("o_orderkey") % 200).cast("long").alias("dst"),
        )
        return pagerank_int(edges, iters=5)

    q["pagerank_int_scores"] = _pagerank_int_scores

    # ---- training-data pipeline: dedup ----
    def _exact_dedup(s, d):
        from indigo_crawler_spark.operators.text_dedup import exact_dedup

        return exact_dedup(_t(s, d, "documents")).select("keep_id", "n_copies")

    def _ngram_jaccard(s, d):
        from indigo_crawler_spark.operators.text_dedup import jaccard_pairs, word_shingles

        return jaccard_pairs(word_shingles(_t(s, d, "documents")), 0.2)

    q["exact_dedup_docs"] = _exact_dedup
    q["ngram_jaccard_pairs"] = _ngram_jaccard

    def _minhash_pairs(s, d):  # rows-only: xxhash64 signatures (fast path)
        from indigo_crawler_spark.operators.text_dedup import minhash_dedup_pairs

        return minhash_dedup_pairs(_t(s, d, "documents"), threshold=0.2)

    def _minhash_md5(s, d):
        # the SQL-checkable MinHash+LSH+verify pipeline (md5-string
        # permutation minima) — full banding algebra mirrored in DuckDB
        from indigo_crawler_spark.operators.text_dedup import minhash_md5_pairs

        return minhash_md5_pairs(_t(s, d, "documents"), threshold=0.2)

    def _simhash_pairs(s, d):  # rows-only: xxhash64 not available in DuckDB
        from indigo_crawler_spark.operators.text_dedup import (
            simhash_near_pairs,
            simhash_signatures,
        )

        # d≤7 with the combinatorial default (chunks=9, combo=2): 36 bands
        # of ~14-bit keys, pigeonhole-complete
        return simhash_near_pairs(simhash_signatures(_t(s, d, "documents")), 7)

    def _simhash_md5_sigs(s, d):
        # SQL-checkable simhash signatures (md5-nibble bits, 60-bit packing)
        from indigo_crawler_spark.operators.text_dedup import simhash_md5_signatures

        return simhash_md5_signatures(_t(s, d, "documents"))

    q["minhash_lsh_pairs"] = _minhash_pairs
    q["minhash_md5_pairs"] = _minhash_md5
    q["simhash_pairs"] = _simhash_pairs
    q["simhash_md5_sigs"] = _simhash_md5_sigs

    # ---- training-data pipeline: similarity search ----
    def _ann_int_topk(s, d):
        from indigo_crawler_spark.operators.similarity import int_dot_topk

        emb = _t(s, d, "embeddings")
        return int_dot_topk(emb.where(F.col("vec_id") < 30), emb, k=5)

    def _cosine_topk(s, d):  # rows-only: float fold order differs across engines
        from indigo_crawler_spark.operators.similarity import cosine_topk

        emb = _t(s, d, "embeddings")
        return cosine_topk(emb.where(F.col("vec_id") < 10), emb, k=5)

    def _ann_lsh(s, d):  # rows-only: approximate by construction
        from indigo_crawler_spark.operators.similarity import ann_lsh_topk

        emb = _t(s, d, "embeddings")
        return ann_lsh_topk(
            emb.where(F.col("vec_id") < 10), emb, dim=64, k=5, bits=8, rotations=3
        )

    def _embedding_near_pairs(s, d):
        # exact integer-rational cosine threshold (cos >= 3/10) — the
        # embedding near-dup verifier, all-pairs on a 60-vector slice
        from indigo_crawler_spark.operators.similarity import int_cosine_near_pairs

        emb = _t(s, d, "embeddings").where(F.col("vec_id") < 60)
        return int_cosine_near_pairs(emb, t_num=3, t_den=10)

    def _ivf_topk(s, d):  # rows-only: float cosine fold order
        from indigo_crawler_spark.operators.similarity import ivf_topk

        emb = _t(s, d, "embeddings")
        return ivf_topk(emb.where(F.col("vec_id") < 10), emb, k=5, n_centroids=16, nprobe=4)

    def _ivf_int_topk(s, d):
        # the SQL-checkable IVF face: exact-integer centroid assignment +
        # exact-integer dot re-rank — DuckDB re-derives centroids, probe set
        # and ranking bit-identically (operators/similarity.ivf_int_topk)
        from indigo_crawler_spark.operators.similarity import ivf_int_topk

        emb = _t(s, d, "embeddings")
        return ivf_int_topk(
            emb.where(F.col("vec_id") < 10), emb, k=5, n_centroids=8, nprobe=2
        )

    def _lsh_int_near_pairs(s, d):
        # LSH-first embedding near-dup with exact-integer verify — the SCALE
        # path, hash-checkable end to end (md5-derived integer planes are
        # re-derived by the DuckDB oracle; cf. minhash_md5_pairs for text)
        from indigo_crawler_spark.operators.similarity import int_lsh_near_pairs

        emb = _t(s, d, "embeddings").where(F.col("vec_id") < 200)
        # bits=5 / rotations=4: bucket width and union count sized so the
        # sf tables (weakly correlated vectors, few true near-dups) yield a
        # non-trivial verified pair set to hash-check
        return int_lsh_near_pairs(emb, dim=64, t_num=3, t_den=10, bits=5, rotations=4)

    q["ann_int_dot_topk"] = _ann_int_topk
    q["cosine_topk"] = _cosine_topk
    q["ann_lsh_topk"] = _ann_lsh
    q["ivf_topk"] = _ivf_topk
    q["ivf_int_topk"] = _ivf_int_topk
    q["embedding_near_pairs"] = _embedding_near_pairs
    q["lsh_int_near_pairs"] = _lsh_int_near_pairs

    # ---- training-data pipeline: language-ID / fingerprint / multimodal ----
    def _langid_counts(s, d):
        # declarative stopword-overlap language ID (SQL-checkable; the
        # n-gram heuristic kernel variant stays pytest-proven)
        from indigo_crawler_spark.functions.text_analysis import langid_expr

        return (
            _t(s, d, "documents")
            .groupBy(langid_expr("text").alias("lid"))
            .agg(F.count("*").alias("n"))
        )

    def _fingerprints(s, d):
        # document fingerprint = min MD5 over 16-char k-grams (checkable
        # variant; the winnowing rolling-hash kernel stays pytest-proven)
        text = F.col("text")
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - 15, F.lit(1))),
            lambda i: F.md5(text.substr(i, F.lit(16))),
        )
        return _t(s, d, "documents").select(
            "doc_id", F.array_min(grams).alias("fp_md5")
        )

    def _media_bytes(s, d):
        from indigo_crawler_spark.operators.multimodal import (
            extract_media_features,
            media_from_documents,
        )

        feats = extract_media_features(media_from_documents(_t(s, d, "documents")))
        return feats.select("media_id", "media_type", "n_bytes")

    def _extract_fields(s, d):
        # structured-record extraction (title / h1-h3 / meta) through the
        # REAL html parser over deterministically synthesized pages — the
        # oracle re-derives every field from the construction rule, so a
        # parse defect (missed title, meta attr order, heading nesting)
        # hash-mismatches.
        from indigo_crawler_spark.operators.extract import extract_pages_with_fields

        docs = _t(s, d, "documents")
        html = F.encode(
            F.concat(
                F.lit("<html><head><title>Doc "),
                F.col("doc_id").cast("string"),
                F.lit(" "),
                F.col("source"),
                F.lit('</title><meta name="lang" content="'),
                F.col("lang"),
                F.lit('"><meta name="src" content="'),
                F.col("source"),
                F.lit('"></head><body><h1>D'),
                F.col("doc_id").cast("string"),
                F.lit("</h1><h2>Section A</h2><p>"),
                F.col("text"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        )
        pages = docs.select(
            F.col("doc_id").cast("string").alias("canon_url"),
            F.lit(0).alias("depth"),
            html.alias("html"),
        )
        out = extract_pages_with_fields(pages)
        return out.select(
            F.col("canon_url").cast("bigint").alias("doc_id"),
            "title",
            F.element_at("headings", 1).alias("h1"),
            F.size("headings").cast("long").alias("n_headings"),
            F.element_at(F.col("meta"), F.lit("lang")).alias("meta_lang"),
            F.element_at(F.col("meta"), F.lit("src")).alias("meta_src"),
        )

    q["langid_counts"] = _langid_counts
    q["doc_fingerprints"] = _fingerprints
    q["media_bytes"] = _media_bytes
    q["extract_fields"] = _extract_fields

    # ---- trap-URL gate (SEMANTICS.md §Traps; functions/traps.py) ----
    def _trap_flags(s, d):
        """The REAL trap_expr over urls synthesized from documents: a
        repeated-segment run (doc_id%6+1 copies of s{doc_id%3}) plus one
        distinct tail segment — depth, repeat and length limits each fire
        on part of the corpus; DuckDB re-parses the url with the same
        regex/split/count pipeline."""
        from indigo_crawler_spark.config import CrawlConfig
        from indigo_crawler_spark.functions.traps import (
            max_repeat_expr,
            segments_expr,
            trap_expr,
        )

        cfg = CrawlConfig(trap_max_depth=4, trap_max_repeat=2, trap_max_url_len=48)
        docs = _t(s, d, "documents")
        path = F.concat(
            F.expr("repeat(concat('s', cast(doc_id % 3 as string), '/'), cast(doc_id % 6 + 1 as int))"),
            F.lit("t"),
            (F.col("doc_id") % 11).cast("string"),
        )
        url = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"), path
        )
        segs = segments_expr(F.col("url"))
        return docs.select("doc_id", url.alias("url")).select(
            "doc_id",
            "url",
            F.size(segs).cast("long").alias("depth"),
            max_repeat_expr(segs).cast("long").alias("max_rep"),
            trap_expr(F.col("url"), cfg).alias("is_trap"),
        )

    # ---- registered-domain shared budget (operators/politeness.py) ----
    def _domain_topk(s, d):
        """The REAL two-phase salted domain_topk over hosts synthesized from
        orders (7 registered domains × many subdomains); DuckDB mirrors it
        with a plain window over the last-two-label domain — identical rows
        because the salted phase is output-transparent."""
        from indigo_crawler_spark.operators.politeness import domain_topk

        o = _t(s, d, "orders")
        host = F.concat(
            F.lit("sub"), (F.col("o_orderkey") % 50).cast("string"),
            F.lit(".dom"), (F.col("o_custkey") % 7).cast("string"),
            F.lit(".org"),
        )
        df = o.select(
            host.alias("host"),
            F.col("o_totalprice").alias("priority"),
            F.concat(
                F.lit("https://"), host, F.lit("/o/"),
                F.col("o_orderkey").cast("string"),
            ).alias("canon_url"),
        )
        return domain_topk(df, 5, num_salts=4).select(
            "canon_url", "host", "priority"
        )

    # ---- connected components (operators/components.py) ----
    def _connected_components(s, d):
        """The REAL iterative min-label propagation over a deterministic
        order–part bipartite slice of lineitem; DuckDB computes the same
        labels via a recursive-CTE transitive closure + min(reachable)."""
        from indigo_crawler_spark.operators.components import (
            connected_components,
        )

        li = _t(s, d, "lineitem").where(F.col("l_orderkey") % 97 == 0)
        edges = li.select(
            F.concat(F.lit("o"), F.col("l_orderkey").cast("string")).alias("a"),
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("b"),
        )
        return connected_components(edges, "a", "b")

    # ---- sitemap <loc> extraction (SEMANTICS.md §Sitemaps) ----
    def _sitemap_locs(s, d):
        """The REAL sitemap-aware fetch extraction (operators/extract.py →
        kernels/sitemap.py) over urlset documents synthesized from
        documents: two <loc> entries per doc — one bare, one whitespace-
        padded with an entity-escaped query. DuckDB re-parses the same XML
        with the same <loc> regex and unescape."""
        from indigo_crawler_spark.operators.extract import extract_pages

        docs = _t(s, d, "documents")
        u1 = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        )
        u2 = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/q/"),
            F.col("doc_id").cast("string"), F.lit("?a=1&amp;b="),
            (F.col("doc_id") % 7).cast("string"),
        )
        xml = F.concat(
            F.lit('<?xml version="1.0"?>\n<urlset>\n<url><loc>'),
            u1,
            F.lit("</loc></url>\n<url><loc>  "),
            u2,
            F.lit("  </loc></url>\n</urlset>\n"),
        )
        pages = docs.select(
            F.col("doc_id").cast("string").alias("canon_url"),
            F.lit(0).alias("depth"),
            F.encode(xml, "UTF-8").alias("html"),
        )
        out = extract_pages(pages, sitemap_aware=True)
        return out.select(
            F.col("canon_url").cast("bigint").alias("doc_id"),
            F.posexplode("links").alias("pos", "loc"),
        ).select("doc_id", (F.col("pos") + 1).cast("long").alias("pos"), "loc")

    # ---- REP meta-robots flags (SEMANTICS.md §Meta robots) ----
    def _meta_robots_flags(s, d):
        """The REAL meta_robots extraction (operators/extract.py →
        kernels/textextract.meta_robots_flags) over pages whose robots meta
        cycles through 7 directive variants by doc_id — absent, noindex,
        nofollow, both, none, all, case/whitespace — behind a decoy
        ``<meta name="description" content="noindex">`` that must NOT
        match. DuckDB re-derives both flags from the construction rule."""
        from indigo_crawler_spark.operators.extract import extract_pages

        docs = _t(s, d, "documents")
        content = F.element_at(
            F.array(
                F.lit(None).cast("string"),   # m=0: no robots meta at all
                F.lit("noindex"),
                F.lit("nofollow"),
                F.lit("noindex, nofollow"),
                F.lit("none"),
                F.lit("all"),
                F.lit(" NoIndex "),
            ),
            (F.col("doc_id") % 7).cast("int") + 1,
        )
        robots_meta = F.when(content.isNull(), F.lit("")).otherwise(
            F.concat(
                F.lit('<meta name="robots" content="'), content, F.lit('">')
            )
        )
        html = F.encode(
            F.concat(
                F.lit('<html><head><meta name="description" content="noindex">'),
                robots_meta,
                F.lit("</head><body><p>"),
                F.col("text"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        )
        pages = docs.select(
            F.col("doc_id").cast("string").alias("canon_url"),
            F.lit(0).alias("depth"),
            html.alias("html"),
        )
        out = extract_pages(pages, meta_robots=True)
        return out.select(
            F.col("canon_url").cast("bigint").alias("doc_id"),
            "noindex",
            "nofollow",
        )

    # ---- rel=canonical targets (SEMANTICS.md §Canonical link) ----
    def _canonical_targets(s, d):
        """The REAL canonical capture (operators/extract.py →
        kernels/textextract canonical_href + canonical_target) over pages
        whose <link> cycles through 6 variants by doc_id — absent, absolute
        href, RELATIVE href (urljoin against the page url), rel token list,
        non-canonical rel, junk scheme — behind a decoy rel="alternate"
        link that must NOT match. DuckDB re-derives the resolved target
        from the construction rule."""
        from indigo_crawler_spark.operators.extract import extract_pages

        docs = _t(s, d, "documents")
        page_url = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        )
        target_abs = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/c/"),
            (F.col("doc_id") % 50).cast("string"),
        )
        target_rel = F.concat(
            F.lit("/c/"), (F.col("doc_id") % 50).cast("string")
        )
        link = F.element_at(
            F.array(
                F.lit(""),                                     # m=0: none
                F.concat(F.lit('<link rel="canonical" href="'),
                         target_abs, F.lit('">')),
                F.concat(F.lit('<link rel="canonical" href="'),
                         target_rel, F.lit('">')),
                F.concat(F.lit('<link rel="Alternate CANONICAL" href="'),
                         target_abs, F.lit('">')),
                F.lit('<link rel="stylesheet" href="/style.css">'),
                F.lit('<link rel="canonical" href="ftp://junk/x">'),
            ),
            (F.col("doc_id") % 6).cast("int") + 1,
        )
        html = F.encode(
            F.concat(
                F.lit('<html><head><link rel="alternate" href="/feed">'),
                link,
                F.lit("</head><body><p>"), F.col("text"),
                F.lit("</p></body></html>"),
            ),
            "UTF-8",
        )
        pages = docs.select(
            page_url.alias("canon_url"),
            F.lit(0).alias("depth"),
            html.alias("html"),
        )
        out = extract_pages(pages, rel_canonical=True)
        return out.select(
            F.col("canon_url").alias("url"), "canonical_url"
        )

    # ---- meta-refresh redirects (SEMANTICS.md §Meta refresh) ----
    def _meta_refresh_targets(s, d):
        """The REAL meta-refresh capture (operators/extract.py →
        kernels/textextract.meta_refresh_target) over pages whose refresh
        meta cycles through 6 variants by doc_id — absent, delay-0
        absolute, delay-30 relative, url-less reload, junk delay, self
        target. The appended link is visible as the link count (each page
        carries exactly one anchor); DuckDB re-derives redirect-ness and
        the count from the construction rule."""
        from indigo_crawler_spark.operators.extract import extract_pages

        docs = _t(s, d, "documents")
        page_url = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        )
        target_abs = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/r/"),
            (F.col("doc_id") % 50).cast("string"),
        )
        refresh = F.element_at(
            F.array(
                F.lit(""),
                F.concat(
                    F.lit('<meta http-equiv="refresh" content="0;url='),
                    target_abs, F.lit('">'),
                ),
                F.concat(
                    F.lit('<meta http-equiv="Refresh" content="30;URL=/r/'),
                    (F.col("doc_id") % 50).cast("string"), F.lit('">'),
                ),
                F.lit('<meta http-equiv="refresh" content="0">'),
                F.lit('<meta http-equiv="refresh" content="abc;url=/r/1">'),
                F.concat(
                    F.lit('<meta http-equiv="refresh" content="0;url='),
                    page_url, F.lit('">'),
                ),
            ),
            (F.col("doc_id") % 6).cast("int") + 1,
        )
        html = F.encode(
            F.concat(
                F.lit("<html><head>"), refresh,
                F.lit('</head><body><a href="/child">c</a><p>'),
                F.col("text"), F.lit("</p></body></html>"),
            ),
            "UTF-8",
        )
        pages = docs.select(
            page_url.alias("canon_url"), F.lit(0).alias("depth"),
            html.alias("html"),
        )
        out = extract_pages(pages, meta_refresh=True)
        return out.select(
            F.col("canon_url").alias("url"),
            "redirect",
            F.size("links").cast("long").alias("n_links"),
        )

    # ---- transient-failure retry bookkeeping (SEMANTICS.md §Transient failures) ----
    def _retry_bookkeeping(s, d):
        """The REAL operators/feedback.retry_exprs (the integer retry
        bookkeeping behind the fail_every knob: exhausted ⇔ failed AND
        attempt >= max_retries, retained = failed-not-exhausted, fails
        bump) over a status/attempt grid by doc_id — statuses cycle
        ok/failed/banned, attempts cycle 0..3, max_retries pinned at 2.
        The hash DRAW itself is xxhash64-based (rows-only territory, like
        every xxhash64 value); the bookkeeping is pure integer logic and
        DuckDB re-derives it exactly."""
        from indigo_crawler_spark.operators.feedback import retry_exprs

        docs = _t(s, d, "documents")
        status = F.element_at(
            F.array(F.lit("ok"), F.lit("failed"), F.lit("banned")),
            (F.col("doc_id") % 3).cast("int") + 1,
        )
        attempt = (F.col("doc_id") % 4).cast("int")
        rx = retry_exprs(status, attempt, max_retries=2)
        return docs.select(
            "doc_id",
            status.alias("status"),
            attempt.alias("attempt"),
            rx["failed"].alias("failed"),
            rx["exhausted"].alias("exhausted"),
            rx["retained"].alias("retained"),
            rx["fails_next"].cast("int").alias("fails_next"),
        )

    # ---- priority aging (SEMANTICS.md §Priority aging) ----
    def _priority_aging(s, d):
        """The REAL functions/scoring.aged_priority_expr (the rank-time
        starvation boost behind --age-weight: priority + weight * age,
        weight 0.25, round pinned at 9) over a priority/discovery grid by
        doc_id — base priorities are quarter-integers (doc_id%7 * 0.25)
        and ages 0..5, so every product and sum is an exact binary
        fraction DuckDB reproduces bit-for-bit."""
        from indigo_crawler_spark.functions.scoring import aged_priority_expr

        docs = _t(s, d, "documents")
        base = ((F.col("doc_id") % 7).cast("double") * F.lit(0.25))
        disc = (F.col("doc_id") % 6).cast("int") + 4  # discovered 4..9
        return docs.select(
            "doc_id",
            base.alias("priority"),
            disc.alias("discovered_round"),
            aged_priority_expr(base, disc, 9, 0.25).alias("eff_priority"),
        )

    # ---- per-host crawl report (SEMANTICS.md §Host report) ----
    def _host_stats_report(s, d):
        """The REAL operators/hoststats.host_stats (the per-host crawl
        report fold: status sums, activity span, fetched-page and token
        mass, full-outer on host) over a constructed grid — 11 hosts by
        doc_id, statuses cycling ok/failed/banned/ok, rounds cycling 0..4;
        the texts side takes only status!='failed' rows (failed fetches
        yield no page) and EXCLUDES host hid==7 entirely (the emit-only
        zero-row path), using the documents table's own text for word
        mass. DuckDB re-derives every aggregate including the whitespace
        token count."""
        from indigo_crawler_spark.operators.hoststats import host_stats

        docs = _t(s, d, "documents")
        hid = (F.col("doc_id") % 11).cast("int")
        host = F.concat(F.lit("hs"), hid.cast("string"), F.lit(".example.com"))
        status = F.element_at(
            F.array(
                F.lit("ok"), F.lit("failed"), F.lit("banned"), F.lit("ok")
            ),
            (F.col("doc_id") % 4).cast("int") + 1,
        )
        grid = docs.select(
            host.alias("host"),
            status.alias("status"),
            (F.col("doc_id") % 5).cast("int").alias("round"),
            "text",
            hid.alias("hid"),
        )
        texts = grid.where(
            (F.col("status") != "failed") & (F.col("hid") != 7)
        ).select("host", "text")
        return host_stats(grid.select("host", "status", "round"), texts)

    # ---- mid-crawl robots updates (SEMANTICS.md §Robots updates) ----
    def _robots_update_fold(s, d):
        """The REAL operators/inject.fold_robots_latest (the latest-per-
        host robots fold behind --add-robots: MAX upd_round wins, static
        rows at -1) over a constructed three-generation history — a
        static generation for 13 hosts, a round-2 delta touching hosts
        hid%3==0, a round-5 delta touching hosts hid%4==1 (some hosts hit
        by both, some by one, some never — all four fold outcomes occur).
        DuckDB re-derives the fold independently via max(upd_round) per
        host. host_hash is integer-constructed (hid), so every output
        column is exact."""
        from indigo_crawler_spark.operators.inject import fold_robots_latest

        docs = _t(s, d, "documents")
        hid = (F.col("doc_id") % 13).cast("int")
        base = docs.select(hid.alias("hid")).distinct()

        def gen(pred, txt_prefix, rnd):
            return (
                base.where(pred)
                .select(
                    F.concat(
                        F.lit("ru"),
                        F.col("hid").cast("string"),
                        F.lit(".example.com"),
                    ).alias("host"),
                    F.col("hid").cast("long").alias("host_hash"),
                    F.concat(
                        F.lit(txt_prefix), F.col("hid").cast("string")
                    ).alias("robots_txt"),
                    F.lit(rnd).cast("int").alias("upd_round"),
                )
            )

        static = gen(F.lit(True), "static-", -1)
        d2 = gen(F.col("hid") % 3 == 0, "tighten-", 2)
        d5 = gen(F.col("hid") % 4 == 1, "loosen-", 5)
        return fold_robots_latest([static, d2, d5]).select(
            "host",
            F.col("host_hash").cast("long").alias("host_hash"),
            "robots_txt",
            F.col("upd_round").cast("int").alias("upd_round"),
        )

    # ---- dead-host failure backoff (SEMANTICS.md §Transient failures ¶7) ----
    def _fail_host_backoff(s, d):
        """The REAL operators/feedback.fold_fail_hosts (dead-host backoff:
        per-host failed-fetch counts → threshold → greatest() backoff
        bound, full-outer against the budgets dimension with
        default-budget creation for missing hosts) over a constructed
        grid — 17 hosts by doc_id, statuses cycling ok/failed/banned/
        failed, budgets rows present for all hosts except hid%7==3 (those
        exercise the created-row path), pre-existing backoff 9 on hid%4==0
        hosts (exercising the greatest() arm both ways around the new
        bound 6 = round 3 + 1 + backoff_rounds 2), threshold 15. host_hash
        is dropped from the result (xxhash64 territory on created rows);
        every kept column is integer/boolean logic DuckDB re-derives in
        full."""
        from indigo_crawler_spark.config import CrawlConfig
        from indigo_crawler_spark.operators.feedback import fold_fail_hosts

        docs = _t(s, d, "documents")
        hid = (F.col("doc_id") % 17).cast("int")
        host = F.concat(F.lit("fh"), hid.cast("string"), F.lit(".example.com"))
        status = F.element_at(
            F.array(
                F.lit("ok"), F.lit("failed"), F.lit("banned"), F.lit("failed")
            ),
            (F.col("doc_id") % 4).cast("int") + 1,
        )
        statuses = docs.select(host.alias("host"), status.alias("status"))
        budgets = (
            docs.select(host.alias("host"), hid.alias("hid"))
            .distinct()
            .where(F.col("hid") % 7 != 3)
            .select(
                "host",
                F.col("hid").cast("long").alias("host_hash"),
                (F.lit(5) + F.col("hid") % 3).cast("int").alias("budget"),
                F.when(F.col("hid") % 4 == 0, F.lit(9))
                .otherwise(F.lit(0))
                .cast("int")
                .alias("backoff_until_round"),
            )
        )
        cfg = CrawlConfig(
            fail_every=2, fail_host_threshold=15,
            backoff_rounds=2, default_budget=8,
        )
        return fold_fail_hosts(budgets, statuses, round_no=3, cfg=cfg).select(
            "host",
            F.col("budget").cast("int").alias("budget"),
            F.col("backoff_until_round").cast("int").alias(
                "backoff_until_round"
            ),
            F.col("_failhost").alias("failhost"),
        )

    # ---- mirror-host detection (SEMANTICS.md §Mirror hosts) ----
    def _mirror_host_pairs(s, d):
        """The REAL operators/mirrors.mirror_pairs (exact content-addressed
        mirror detection: distinct (host, sha) evidence, sha-keyed pair
        mining under the hot-sha guard, integer cross-multiplied 80%
        containment against the smaller host) over a constructed corpus:
        hosts mir0/mir1 share one 23-key content pool (full mirrors), mir2
        spans a 46-key pool whose first half contains that pool (a mirror
        PLUS extra pages — containment still flags it), mir3 has unique
        content (never paired), mir4 is a tiny 3-key subset host. DuckDB
        re-derives the FULL pair computation independently (distinct →
        self-join → totals → threshold), not just a closed-form answer."""
        from indigo_crawler_spark.operators.mirrors import mirror_pairs

        docs = _t(s, d, "documents")
        host = F.concat(
            F.lit("mir"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com"),
        )
        sha = F.element_at(
            F.array(
                F.concat(F.lit("c"), (F.col("doc_id") % 23).cast("string")),
                F.concat(F.lit("c"), (F.col("doc_id") % 23).cast("string")),
                F.concat(F.lit("c"), (F.col("doc_id") % 46).cast("string")),
                F.concat(F.lit("u"), F.col("doc_id").cast("string")),
                F.concat(F.lit("c"), (F.col("doc_id") % 3).cast("string")),
            ),
            (F.col("doc_id") % 5).cast("int") + 1,
        )
        rows = docs.select(host.alias("host"), sha.alias("text_sha"))
        return mirror_pairs(rows, min_overlap_pct=80, min_shared=2).select(
            "host_a", "host_b",
            F.col("shared").cast("long").alias("shared"),
            F.col("docs_a").cast("long").alias("docs_a"),
            F.col("docs_b").cast("long").alias("docs_b"),
        )

    # ---- RFC 9309 robots wildcards (SEMANTICS.md §Robots wildcards) ----
    def _robots_wildcards(s, d):
        """The REAL wildcard robots gate (functions/udfs.py
        make_robots_allowed_udf(wildcards=True) →
        kernels/robots.robots_allowed_rfc) over urls whose path cycles
        through 6 shapes by doc_id against ONE fixed robots.txt carrying
        the rules the knob exists for — a `/*.pdf$` wildcard+anchor deny,
        a longer `/public/*.pdf$` allow that outranks it, a `/cgi/*?id=`
        query-wildcard deny, and a plain `/private` prefix deny. DuckDB
        re-derives allowed-ness from the construction rule."""
        from indigo_crawler_spark.functions.udfs import make_robots_allowed_udf

        gate = make_robots_allowed_udf("indigo-spark", wildcards=True)
        robots_txt = (
            "User-agent: *\nDisallow: /*.pdf$\nAllow: /public/*.pdf$\n"
            "Disallow: /cgi/*?id=\nDisallow: /private\n"
        )
        docs = _t(s, d, "documents")
        tail = F.element_at(
            F.array(
                F.concat(F.lit("article/"), (F.col("doc_id") % 13).cast("string")),
                F.concat(F.lit("a/x"), (F.col("doc_id") % 7).cast("string"), F.lit(".pdf")),
                F.concat(F.lit("a/x"), (F.col("doc_id") % 7).cast("string"), F.lit(".pdf?dl=1")),
                F.concat(F.lit("public/x"), (F.col("doc_id") % 5).cast("string"), F.lit(".pdf")),
                F.concat(F.lit("cgi/run?id="), (F.col("doc_id") % 9).cast("string")),
                F.concat(F.lit("private/"), (F.col("doc_id") % 3).cast("string")),
            ),
            (F.col("doc_id") % 6).cast("int") + 1,
        )
        url = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"), tail
        )
        return docs.select(
            "doc_id",
            url.alias("url"),
            gate(url, F.lit(robots_txt)).alias("allowed"),
        )

    # ---- hreflang alternate discovery (SEMANTICS.md §Hreflang alternates) ----
    def _hreflang_alternates(s, d):
        """The REAL hreflang capture (operators/extract.py →
        kernels/textextract.hreflang_targets) over pages whose head
        carries a link cluster cycling through 5 shapes by doc_id — no
        links, one absolute fr alternate, a self-alternate plus a de
        alternate (self dropped), a duplicated fr alternate plus a feed
        alternate without hreflang (dup + non-hreflang dropped), and a
        relative alternate resolved against the page. Each page carries
        exactly one anchor, so the appended alternates are visible as the
        link count; DuckDB re-derives both counts from the construction
        rule."""
        from indigo_crawler_spark.operators.extract import extract_pages

        docs = _t(s, d, "documents")
        page_url = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        )
        alt_fr = F.concat(
            F.lit('<link rel="alternate" hreflang="fr" href="https://'),
            F.col("source"), F.lit('.example.com/fr/'),
            (F.col("doc_id") % 50).cast("string"), F.lit('">'),
        )
        cluster = F.element_at(
            F.array(
                F.lit(""),
                alt_fr,
                F.concat(
                    F.lit('<link rel="alternate" hreflang="en" href='),
                    F.lit('"'), page_url, F.lit('">'),
                    F.lit('<link rel="Alternate" hreflang="de" href="https://'),
                    F.col("source"), F.lit('.example.com/de/'),
                    (F.col("doc_id") % 50).cast("string"), F.lit('">'),
                ),
                F.concat(
                    alt_fr, alt_fr,
                    F.lit('<link rel="alternate" type="application/rss+xml"'),
                    F.lit(' href="/feed.xml">'),
                ),
                F.concat(
                    F.lit('<link rel="alternate" hreflang="x-default"'),
                    F.lit(' href="/alt/'),
                    (F.col("doc_id") % 50).cast("string"), F.lit('">'),
                ),
            ),
            (F.col("doc_id") % 5).cast("int") + 1,
        )
        html = F.encode(
            F.concat(
                F.lit("<html><head>"), cluster,
                F.lit('</head><body><a href="/child">c</a><p>'),
                F.col("text"), F.lit("</p></body></html>"),
            ),
            "UTF-8",
        )
        pages = docs.select(
            page_url.alias("canon_url"), F.lit(0).alias("depth"),
            html.alias("html"),
        )
        out = extract_pages(pages, hreflang=True)
        return out.select(
            F.col("canon_url").alias("url"),
            F.col("hreflang_added").cast("long").alias("n_alternates"),
            F.size("links").cast("long").alias("n_links"),
        )

    # ---- anchor-level rel=nofollow (SEMANTICS.md §Anchor nofollow) ----
    def _anchor_nofollow_links(s, d):
        """The REAL anchor-nofollow extraction (operators/extract.py →
        kernels/textextract.anchor_rel_nofollow) over pages carrying one
        plain anchor plus a variant anchor whose rel cycles through 6
        cases by doc_id — no rel, nofollow, mixed-case token list,
        noopener (kept), sponsored+ugc (kept — hints are not honored),
        and a nofollow anchor with a junk-scheme href that counts NOWHERE
        (not a link, not a drop). DuckDB re-derives the kept-link count
        and the dropped count from the construction rule."""
        from indigo_crawler_spark.operators.extract import extract_pages

        docs = _t(s, d, "documents")
        page_url = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
        )
        variant = F.element_at(
            F.array(
                F.lit('<a href="/v/1">plain</a>'),
                F.lit('<a rel="nofollow" href="/v/1">nf</a>'),
                F.lit('<a rel=" External NoFollow " href="/v/1">nf2</a>'),
                F.lit('<a rel="noopener noreferrer" href="/v/1">kept</a>'),
                F.lit('<a rel="sponsored ugc" href="/v/1">hints kept</a>'),
                F.lit('<a rel="nofollow" href="ftp://junk/x">nowhere</a>'),
            ),
            (F.col("doc_id") % 6).cast("int") + 1,
        )
        html = F.encode(
            F.concat(
                F.lit('<html><body><a href="/k/1">k</a>'),
                variant,
                F.lit("<p>"), F.col("text"), F.lit("</p></body></html>"),
            ),
            "UTF-8",
        )
        pages = docs.select(
            page_url.alias("canon_url"), F.lit(0).alias("depth"),
            html.alias("html"),
        )
        out = extract_pages(pages, anchor_nofollow=True)
        return out.select(
            F.col("canon_url").alias("url"),
            F.size("links").cast("long").alias("n_links"),
            F.col("anchor_dropped").cast("long").alias("anchor_dropped"),
        )

    # ---- tracking-parameter stripping (SEMANTICS.md §Tracking params) ----
    def _strip_tracking(s, d):
        """The REAL strip-tracking canonicalization (functions/udfs.
        make_canonicalize_udf(CanonPolicy(strip_tracking=True)) →
        kernels/canonicalize.strip_tracking_params) over urls whose query
        cycles through 6 cases by doc_id — tracked+real mix, tracked-only
        (the '?' must drop), tracked between real survivors, no query,
        mixed-case tracked key, and a %-escaped key that must SURVIVE (keys
        compare raw bytes). DuckDB re-derives the strip independently with its
        list functions over the same token grammar."""
        from indigo_crawler_spark.functions.udfs import make_canonicalize_udf
        from indigo_crawler_spark.kernels.canonicalize import CanonPolicy

        docs = _t(s, d, "documents")
        base = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        )
        qs = F.element_at(
            F.array(
                F.concat(
                    F.lit("utm_source=feed&page="),
                    (F.col("doc_id") % 10).cast("string"),
                ),
                F.concat(F.lit("gclid=g"), F.col("doc_id").cast("string")),
                F.lit("a=1&fbclid=x&b=2"),
                F.lit(""),
                F.concat(
                    F.lit("UTM_Campaign=c&q="),
                    (F.col("doc_id") % 5).cast("string"),
                ),
                F.lit("utm%5Fsource=e"),
            ),
            (F.col("doc_id") % 6).cast("int") + 1,
        )
        url = F.concat(
            base,
            F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
        )
        return docs.select(
            url.alias("url"),
            make_canonicalize_udf(CanonPolicy(strip_tracking=True))(url).alias(
                "stripped"
            ),
        )

    # ---- exclude-pattern gate (SEMANTICS.md §Exclude patterns) ----
    def _exclude_gate(s, d):
        """The REAL functions/traps.exclude_expr (OR-fold of rlike over
        cfg.exclude_patterns — kernels/traps.matches_exclude semantics)
        over urls whose path cycles through 6 shapes by doc_id: a logout
        link, a cart path, a facet query (?sort=), a binary (.exe tail),
        a plain article, and a page with 'sort' as a PATH segment (must
        NOT match the [?&]sort= pattern — anchoring matters). DuckDB
        re-derives the flag with regexp_matches over the same patterns."""
        from indigo_crawler_spark.config import CrawlConfig
        from indigo_crawler_spark.functions.traps import exclude_expr

        cfg = CrawlConfig(
            exclude_patterns=("/logout", "/cart/", r"[?&]sort=", r"\.exe$")
        )
        docs = _t(s, d, "documents")
        tail = F.element_at(
            F.array(
                F.lit("account/logout"),
                F.concat(F.lit("cart/item"), (F.col("doc_id") % 7).cast("string")),
                F.concat(
                    F.lit("list?page="), (F.col("doc_id") % 9).cast("string"),
                    F.lit("&sort=price"),
                ),
                F.concat(F.lit("dl/setup"), (F.col("doc_id") % 5).cast("string"), F.lit(".exe")),
                F.concat(F.lit("article/"), (F.col("doc_id") % 13).cast("string")),
                F.concat(F.lit("sort/guide"), (F.col("doc_id") % 3).cast("string")),
            ),
            (F.col("doc_id") % 6).cast("int") + 1,
        )
        url = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"), tail
        )
        return docs.select(
            "doc_id",
            url.alias("url"),
            exclude_expr(url, cfg).alias("excluded"),
        )

    # ---- extension deny gate (SEMANTICS.md §Extension deny) ----
    def _ext_gate(s, d):
        """The REAL functions/traps.url_extension_expr + ext_expr (the
        normative ``[^/]\\.([^./]+)$`` path rule, kernels/traps.py::
        url_extension / matches_ext semantics) over urls whose path cycles
        through 7 shapes by doc_id: a plain article (no extension), a .jpg
        image, a multi-dot .tar.gz archive (last dot wins), a dot-file
        (.htaccess — no extension), an UPPERCASE .PDF (case-insensitive
        match), a trailing-slash dir named like a .zip (no extension), and
        a .gz with a query tail (query stripped first). DuckDB re-derives
        extension and deny flag with the same regex over the same urls."""
        from indigo_crawler_spark.config import CrawlConfig
        from indigo_crawler_spark.functions.traps import (
            ext_expr,
            url_extension_expr,
        )

        cfg = CrawlConfig(exclude_extensions=("jpg", "gz", "pdf"))
        docs = _t(s, d, "documents")
        tail = F.element_at(
            F.array(
                F.concat(F.lit("article/"), (F.col("doc_id") % 13).cast("string")),
                F.concat(F.lit("img/photo"), (F.col("doc_id") % 7).cast("string"), F.lit(".jpg")),
                F.concat(F.lit("pkg/bundle"), (F.col("doc_id") % 5).cast("string"), F.lit(".tar.gz")),
                F.lit("conf/.htaccess"),
                F.concat(F.lit("doc/brochure"), (F.col("doc_id") % 9).cast("string"), F.lit(".PDF")),
                F.concat(F.lit("mirror"), (F.col("doc_id") % 3).cast("string"), F.lit(".zip/")),
                F.concat(F.lit("logs/dump.gz?page="), (F.col("doc_id") % 4).cast("string")),
            ),
            (F.col("doc_id") % 7).cast("int") + 1,
        )
        url = F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"), tail
        )
        return docs.select(
            "doc_id",
            url.alias("url"),
            url_extension_expr(url).alias("ext"),
            ext_expr(url, cfg).alias("denied"),
        )

    def _host_allowlist(s, d):
        """The REAL functions/traps.host_deny_expr (host allow-list gate,
        SEMANTICS.md §Host allow-list; kernels/traps.py::host_allowed
        semantics — exact lowercase equality against the curated set,
        empty = all allowed) over hosts cycling through 6 shapes by
        doc_id: two allowed hosts, a www.-prefixed spelling of an allowed
        host (NOT allowed — exact match, no suffix logic), a parameterized
        cdnN host, a third allowed host on another TLD, and a
        superstring host embedding an allowed name (NOT allowed — equality
        is not contains). DuckDB re-derives allowed-ness with the same IN
        list over the same hosts."""
        from indigo_crawler_spark.config import CrawlConfig
        from indigo_crawler_spark.functions.traps import host_deny_expr

        cfg = CrawlConfig(
            allow_hosts=(
                "news.example.org", "docs.example.org", "blog.example.net",
            )
        )
        docs = _t(s, d, "documents")
        host = F.element_at(
            F.array(
                F.lit("news.example.org"),
                F.lit("www.news.example.org"),
                F.lit("docs.example.org"),
                F.concat(
                    F.lit("cdn"), (F.col("doc_id") % 5).cast("string"),
                    F.lit(".example.com"),
                ),
                F.lit("blog.example.net"),
                F.lit("news.example.org.evil.com"),
            ),
            (F.col("doc_id") % 6).cast("int") + 1,
        )
        return docs.select(
            "doc_id",
            host.alias("host"),
            (~host_deny_expr(host, cfg)).alias("allowed"),
        )

    def _adaptive_revisit(s, d):
        """The REAL operators/recrawl.revisit_interval_expr (adaptive-recrawl
        interval derivation — SEMANTICS.md §Adaptive recrawl) over a
        synthetic two-fetch history on documents: fetch-1 digest =
        sha256(text); the refetch keeps the text for doc_id % 3 == 0 and
        appends ' [edited]' otherwise; doc_id % 7 == 0 rows have NO prior
        fetch (NULL prev digest — the first-fetch branch). Expected:
        first fetch → A=2; unchanged → prev_interval doubled then capped at
        8; changed → reset to 2. DuckDB re-derives digests with sha256()
        and the branch fold with CASE/LEAST."""
        from indigo_crawler_spark.operators.recrawl import (
            revisit_interval_expr,
        )

        docs = _t(s, d, "documents")
        d1 = F.sha2(F.col("text"), 256)
        refetch = F.when((F.col("doc_id") % 3) == 0, F.col("text")).otherwise(
            F.concat(F.col("text"), F.lit(" [edited]"))
        )
        d2 = F.sha2(refetch, 256)
        prev_digest = F.when((F.col("doc_id") % 7) == 0, F.lit(None)).otherwise(d1)
        prev_iv = ((F.col("doc_id") % 5) + 1).cast("int")
        return docs.select(
            "doc_id",
            (prev_digest.isNotNull() & (prev_digest != d2)).alias("changed"),
            revisit_interval_expr(d2, prev_iv, prev_digest, 2, 8).alias(
                "next_interval"
            ),
        )

    def _host_cap_budget(s, d):
        """The REAL operators/gates.host_cap_exprs (per-host lifetime emit
        cap — SEMANTICS.md §Host page cap) over a synthetic totals history
        on documents: per row, budget cycles 1..8 by doc_id and the host's
        lifetime emitted total cycles 0..11 (doc_id % 12, NULL — no totals
        row yet — when doc_id % 11 == 0); cap C=8. Expected: capped ⇔
        total ≥ 8; budget = 0 when capped else min(budget, 8 - total).
        DuckDB re-derives the fold with CASE/LEAST."""
        from indigo_crawler_spark.operators.gates import host_cap_exprs

        docs = _t(s, d, "documents")
        budget = ((F.col("doc_id") % 8) + 1).cast("int")
        total = F.when(
            (F.col("doc_id") % 11) == 0, F.lit(None).cast("long")
        ).otherwise((F.col("doc_id") % 12).cast("long"))
        capped, clipped = host_cap_exprs(budget, total, 8)
        return docs.select(
            "doc_id",
            capped.alias("capped"),
            clipped.alias("eff_budget"),
        )

    def _collapse_www(s, d):
        """The REAL canonicalization UDF with collapse_www on
        (kernels/canonicalize.collapse_www_host — SEMANTICS.md §WWW
        collapse) over urls whose host cycles through 6 shapes by doc_id:
        plain www., no www., double www.www. (collapses ALL labels — the
        fixed-point rule), `www.org` (remainder has no dot — SURVIVES),
        `www.www.org` (drops exactly ONE label, then stops — the case a
        naive `^(www\\.)+` regex gets wrong), and a non-leading `.www.`
        (untouched). Inputs are already canonical-form, so the only change
        is the host-label drop; DuckDB re-derives it with a recursive CTE
        applying the same one-label-while-remainder-has-a-dot step."""
        from indigo_crawler_spark.functions.udfs import make_canonicalize_udf
        from indigo_crawler_spark.kernels.canonicalize import CanonPolicy

        docs = _t(s, d, "documents")
        k = (F.col("doc_id") % 13).cast("string")
        host = F.element_at(
            F.array(
                F.concat(F.lit("www.h"), k, F.lit(".example.org")),
                F.concat(F.lit("h"), k, F.lit(".example.org")),
                F.concat(F.lit("www.www.a"), k, F.lit(".example.org")),
                F.lit("www.org"),
                F.lit("www.www.org"),
                F.concat(F.lit("sub"), k, F.lit(".www.example.org")),
            ),
            (F.col("doc_id") % 6).cast("int") + 1,
        )
        url = F.concat(
            F.lit("https://"), host, F.lit("/p/"), F.col("doc_id").cast("string")
        )
        return docs.select(
            "doc_id",
            url.alias("url"),
            make_canonicalize_udf(CanonPolicy(collapse_www=True))(url).alias(
                "collapsed"
            ),
        )

    def _sort_query(s, d):
        """The REAL canonicalization UDF with sort_query on
        (kernels/canonicalize.sort_query_params — SEMANTICS.md §Sorted
        query) over urls whose query cycles through 7 shapes by doc_id:
        reversed two-param, already-sorted two-param, single param, no
        query at all, duplicate keys (order by full token bytes), an
        '='-less flag token, and an empty token (sorts first, survives).
        Inputs are already canonical-form, so the only change is the query
        token order; DuckDB re-derives it with
        array_to_string(list_sort(string_split(...)))."""
        from indigo_crawler_spark.functions.udfs import make_canonicalize_udf
        from indigo_crawler_spark.kernels.canonicalize import CanonPolicy

        docs = _t(s, d, "documents")
        k = (F.col("doc_id") % 13).cast("string")
        query = F.element_at(
            F.array(
                F.concat(F.lit("b=2&a="), k),
                F.concat(F.lit("a=1&b="), k),
                F.concat(F.lit("a="), k),
                F.lit(""),
                F.lit("a=2&a=1"),
                F.concat(F.lit("flag&a="), k),
                F.concat(F.lit("a="), k, F.lit("&&b=1")),
            ),
            (F.col("doc_id") % 7).cast("int") + 1,
        )
        url = F.concat(
            F.lit("https://h"),
            k,
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
            F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
        )
        return docs.select(
            "doc_id",
            url.alias("url"),
            make_canonicalize_udf(CanonPolicy(sort_query=True))(url).alias(
                "sorted_url"
            ),
        )

    def _strip_session(s, d):
        """The REAL canonicalization UDF with strip_session on
        (kernels/canonicalize.strip_session_params / strip_session_path —
        SEMANTICS.md §Session identifiers) over urls cycling through 6
        shapes by doc_id: PHPSESSID query token (case-insensitive),
        sid-between-survivors, ASPSESSIONID<random> prefix rule,
        ;jsessionid path param mid-path with survivors, a non-session
        matrix param (SURVIVES — only jsessionid drops path-side), and a
        clean url (byte-identical). DuckDB re-derives both carriers with
        list/regexp functions over the same token grammars."""
        from indigo_crawler_spark.functions.udfs import make_canonicalize_udf
        from indigo_crawler_spark.kernels.canonicalize import CanonPolicy

        docs = _t(s, d, "documents")
        k = (F.col("doc_id") % 13).cast("string")
        tail = F.element_at(
            F.array(
                F.concat(F.lit("/p?PHPSESSID=x"), k, F.lit("&id=1")),
                F.concat(F.lit("/p?a=1&sid="), k, F.lit("&b=2")),
                F.concat(F.lit("/p?ASPSESSIONIDQQRST"), k, F.lit("=Z&a=2")),
                F.concat(F.lit("/cart;x=1;jsessionid=A"), k, F.lit(";y=2/view")),
                F.concat(F.lit("/a;matrix="), k, F.lit("/b?id=3")),
                F.concat(F.lit("/plain/"), k),
            ),
            (F.col("doc_id") % 6).cast("int") + 1,
        )
        url = F.concat(F.lit("https://h"), k, F.lit(".example.org"), tail)
        return docs.select(
            "doc_id",
            url.alias("url"),
            make_canonicalize_udf(CanonPolicy(strip_session=True))(url).alias(
                "stripped_url"
            ),
        )

    def _prefer_https(s, d):
        """The REAL canonicalization UDF with prefer_https on
        (SEMANTICS.md §HTTPS preference) over already-canonical urls
        cycling through 5 scheme/port shapes by doc_id: plain http
        (upgrades), plain https (byte-identical), http:8080 (explicit
        port survives the upgrade), http:443 (non-default for http —
        survives, reading https://h:443), and http with a query. Inputs
        are canonical-form, so the only change is the scheme prefix;
        DuckDB re-derives it with a prefix regexp_replace."""
        from indigo_crawler_spark.functions.udfs import make_canonicalize_udf
        from indigo_crawler_spark.kernels.canonicalize import CanonPolicy

        docs = _t(s, d, "documents")
        k = (F.col("doc_id") % 13).cast("string")
        url = F.element_at(
            F.array(
                F.concat(F.lit("http://h"), k, F.lit(".example.org/p")),
                F.concat(F.lit("https://h"), k, F.lit(".example.org/p")),
                F.concat(F.lit("http://h"), k, F.lit(".example.org:8080/p")),
                F.concat(F.lit("http://h"), k, F.lit(".example.org:443/p")),
                F.concat(F.lit("http://h"), k, F.lit(".example.org/p?a=1")),
            ),
            (F.col("doc_id") % 5).cast("int") + 1,
        )
        return docs.select(
            "doc_id",
            url.alias("url"),
            make_canonicalize_udf(CanonPolicy(prefer_https=True))(url).alias(
                "upgraded_url"
            ),
        )

    def _collapse_index(s, d):
        """The REAL canonicalization UDF with collapse_index on
        (kernels/canonicalize.collapse_index_path — SEMANTICS.md §Index
        collapse) over already-canonical urls cycling through 6 path
        shapes by doc_id: /a/index.html (drops), /index.html at root
        (→ /), uppercase /A/INDEX.HTML (final segment compares
        lowercased), a NON-final index.html segment (survives),
        /a/indexx.html (not in the pinned set — survives), and
        /a/default.aspx (drops). DuckDB re-derives the drop with a
        case-insensitive trailing-segment regexp_replace."""
        from indigo_crawler_spark.functions.udfs import make_canonicalize_udf
        from indigo_crawler_spark.kernels.canonicalize import CanonPolicy

        docs = _t(s, d, "documents")
        k = (F.col("doc_id") % 13).cast("string")
        path = F.element_at(
            F.array(
                F.concat(F.lit("/a"), k, F.lit("/index.html")),
                F.lit("/index.html"),
                F.concat(F.lit("/A"), k, F.lit("/INDEX.HTML")),
                F.concat(F.lit("/a"), k, F.lit("/index.html/b")),
                F.concat(F.lit("/a"), k, F.lit("/indexx.html")),
                F.concat(F.lit("/a"), k, F.lit("/default.aspx")),
            ),
            (F.col("doc_id") % 6).cast("int") + 1,
        )
        url = F.concat(F.lit("https://h"), k, F.lit(".example.org"), path)
        return docs.select(
            "doc_id",
            url.alias("url"),
            make_canonicalize_udf(CanonPolicy(collapse_index=True))(url).alias(
                "collapsed_url"
            ),
        )

    q["prefer_https"] = _prefer_https
    q["collapse_index"] = _collapse_index
    q["strip_session"] = _strip_session
    q["sort_query"] = _sort_query
    q["collapse_www"] = _collapse_www
    q["host_cap_budget"] = _host_cap_budget
    q["adaptive_revisit"] = _adaptive_revisit
    q["exclude_gate"] = _exclude_gate
    q["ext_gate"] = _ext_gate
    q["host_allowlist"] = _host_allowlist
    q["strip_tracking"] = _strip_tracking
    q["anchor_nofollow_links"] = _anchor_nofollow_links
    q["trap_flags"] = _trap_flags
    q["domain_topk"] = _domain_topk
    q["connected_components"] = _connected_components
    q["sitemap_locs"] = _sitemap_locs
    q["meta_robots_flags"] = _meta_robots_flags
    q["canonical_targets"] = _canonical_targets
    q["meta_refresh_targets"] = _meta_refresh_targets
    q["hreflang_alternates"] = _hreflang_alternates
    q["robots_wildcards"] = _robots_wildcards
    q["mirror_host_pairs"] = _mirror_host_pairs
    q["retry_bookkeeping"] = _retry_bookkeeping
    q["fail_host_backoff"] = _fail_host_backoff
    q["robots_update_fold"] = _robots_update_fold
    q["host_stats_report"] = _host_stats_report
    q["priority_aging"] = _priority_aging

    # ---- rows-only (no ANSI-SQL equivalent; exactness proven in pytest) ----
    q["xxhash64_hosts"] = lambda s, d: _t(s, d, "documents").select(
        "doc_id", F.xxhash64("source").alias("host_hash")
    )

    return q


# The full flagship loop, rounds 0 AND 1, in ANSI SQL: link discovery is
# closed-form ((doc_id*31 + 17j) % n — the same graph the html embeds), so
# the round-1 frontier advance (children − seen − frontier), the null-seed
# priority, per-host politeness and global sequencing are all checkable.
# All 10 seeds emit in round 0, so remaining = ∅ and round-1 candidates are
# exactly the discovered children.
_CRAWL_TWO_ROUNDS_SQL = """
WITH n AS (SELECT count(*) AS n FROM documents),
hc AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
seeds AS (SELECT doc_id, source FROM documents WHERE doc_id < 10),
scored0 AS (
  SELECT s.doc_id,
         'https://' || s.source || '.example.com/d/' || s.doc_id AS canon_url,
         s.source || '.example.com' AS host,
         (1.0/(1.0 + 0) + 1.0/(1.0 + s.doc_id)) + 1.0/CAST(length(bin(1 + hc.c)) AS DOUBLE) AS pr
  FROM seeds s JOIN hc ON hc.source = s.source
),
ranked0 AS (
  SELECT *, row_number() OVER (PARTITION BY host ORDER BY pr DESC, canon_url ASC) AS rk
  FROM scored0
),
kept0 AS (SELECT * FROM ranked0 WHERE rk <= 8),
seq0 AS (
  SELECT doc_id, canon_url,
         row_number() OVER (ORDER BY pr DESC, canon_url ASC) AS g
  FROM kept0
),
emitted0 AS (SELECT * FROM seq0 WHERE g <= 200),
child_cids AS (
  SELECT DISTINCT (e.doc_id * 31 + 17 * j.j) % (SELECT n FROM n) AS cid
  FROM emitted0 e, (SELECT unnest([0, 1, 2]) AS j) j
),
children AS (
  SELECT 'https://' || d.source || '.example.com/d/' || c.cid AS canon_url,
         d.source || '.example.com' AS host,
         d.source AS src
  FROM child_cids c JOIN documents d ON d.doc_id = c.cid
),
fresh AS (  -- not seen (= emitted0) and not in the allowed round-0 frontier (= seeds)
  SELECT ch.* FROM children ch
  WHERE ch.canon_url NOT IN (SELECT canon_url FROM emitted0)
    AND ch.canon_url NOT IN (SELECT 'https://' || source || '.example.com/d/' || doc_id FROM seeds)
),
scored1 AS (
  SELECT f.canon_url, f.host,
         (1.0/(1.0 + 1) + 0.0) + 1.0/CAST(length(bin(1 + hc.c)) AS DOUBLE) AS pr
  FROM fresh f JOIN hc ON hc.source = f.src
),
ranked1 AS (
  SELECT *, row_number() OVER (PARTITION BY host ORDER BY pr DESC, canon_url ASC) AS rk
  FROM scored1
),
kept1 AS (SELECT * FROM ranked1 WHERE rk <= 8),
seq1 AS (
  SELECT canon_url, row_number() OVER (ORDER BY pr DESC, canon_url ASC) AS g
  FROM kept1
),
emitted1 AS (SELECT * FROM seq1 WHERE g <= 200)
SELECT 0 AS round, canon_url,
       CAST((g - 1) // 100 AS BIGINT) AS batch_id, CAST(g AS BIGINT) AS global_rank
FROM emitted0
UNION ALL
SELECT 1 AS round, canon_url,
       CAST((g - 1) // 100 AS BIGINT) AS batch_id, CAST(g AS BIGINT) AS global_rank
FROM emitted1
"""

# Round 1 after a mid-crawl injection of documents 20..25 as depth-0 seeds
# (E42): the two-round closed-form graph, plus the injected set minus the
# engine's two skip rules — already seen (= emitted0, all seeds emit) and
# already pending (= the discovered-children frontier). Injected priority
# uses seed_rank 0 (1/(1+0) twice), discovered links use null-seed depth-1.
_CRAWL_INJECT_SQL = """
WITH n AS (SELECT count(*) AS n FROM documents),
hc AS (SELECT source, count(*) AS c FROM documents GROUP BY source),
seeds AS (SELECT doc_id, source FROM documents WHERE doc_id < 10),
scored0 AS (
  SELECT s.doc_id,
         'https://' || s.source || '.example.com/d/' || s.doc_id AS canon_url,
         s.source || '.example.com' AS host,
         (1.0/(1.0 + 0) + 1.0/(1.0 + s.doc_id)) + 1.0/CAST(length(bin(1 + hc.c)) AS DOUBLE) AS pr
  FROM seeds s JOIN hc ON hc.source = s.source
),
ranked0 AS (
  SELECT *, row_number() OVER (PARTITION BY host ORDER BY pr DESC, canon_url ASC) AS rk
  FROM scored0
),
kept0 AS (SELECT * FROM ranked0 WHERE rk <= 8),
seq0 AS (
  SELECT doc_id, canon_url,
         row_number() OVER (ORDER BY pr DESC, canon_url ASC) AS g
  FROM kept0
),
emitted0 AS (SELECT * FROM seq0 WHERE g <= 200),
child_cids AS (
  SELECT DISTINCT (e.doc_id * 31 + 17 * j.j) % (SELECT n FROM n) AS cid
  FROM emitted0 e, (SELECT unnest([0, 1, 2]) AS j) j
),
children AS (
  SELECT 'https://' || d.source || '.example.com/d/' || c.cid AS canon_url,
         d.source || '.example.com' AS host,
         d.source AS src
  FROM child_cids c JOIN documents d ON d.doc_id = c.cid
),
fresh AS (
  SELECT ch.* FROM children ch
  WHERE ch.canon_url NOT IN (SELECT canon_url FROM emitted0)
    AND ch.canon_url NOT IN (SELECT 'https://' || source || '.example.com/d/' || doc_id FROM seeds)
),
inj AS (
  SELECT 'https://' || d.source || '.example.com/d/' || d.doc_id AS canon_url,
         d.source || '.example.com' AS host,
         d.source AS src
  FROM documents d WHERE d.doc_id >= 20 AND d.doc_id < 26
),
inj_fresh AS (
  SELECT i.* FROM inj i
  WHERE i.canon_url NOT IN (SELECT canon_url FROM emitted0)
    AND i.canon_url NOT IN (SELECT canon_url FROM fresh)
),
cand1 AS (
  SELECT f.canon_url, f.host,
         (1.0/(1.0 + 1) + 0.0) + 1.0/CAST(length(bin(1 + hc.c)) AS DOUBLE) AS pr
  FROM fresh f JOIN hc ON hc.source = f.src
  UNION ALL
  SELECT i.canon_url, i.host,
         (1.0/(1.0 + 0) + 1.0/(1.0 + 0)) + 1.0/CAST(length(bin(1 + hc.c)) AS DOUBLE) AS pr
  FROM inj_fresh i JOIN hc ON hc.source = i.src
),
ranked1 AS (
  SELECT *, row_number() OVER (PARTITION BY host ORDER BY pr DESC, canon_url ASC) AS rk
  FROM cand1
),
kept1 AS (SELECT * FROM ranked1 WHERE rk <= 8),
seq1 AS (
  SELECT canon_url, row_number() OVER (ORDER BY pr DESC, canon_url ASC) AS g
  FROM kept1
),
emitted1 AS (SELECT * FROM seq1 WHERE g <= 200)
SELECT canon_url,
       CAST((g - 1) // 100 AS BIGINT) AS batch_id, CAST(g AS BIGINT) AS global_rank
FROM emitted1
"""

_CRAWL_ROUND0_SQL = """
WITH hc AS (
  SELECT source, count(*) AS c FROM documents GROUP BY source
),
seeds AS (
  SELECT doc_id, source FROM documents WHERE doc_id < 10
),
scored AS (
  SELECT
    'https://' || s.source || '.example.com/d/' || s.doc_id AS canon_url,
    s.source || '.example.com' AS host,
    (1.0/(1.0 + 0) + 1.0/(1.0 + s.doc_id)) + 1.0/CAST(length(bin(1 + hc.c)) AS DOUBLE) AS pr
  FROM seeds s JOIN hc ON hc.source = s.source
),
ranked AS (
  SELECT canon_url, host, pr,
         row_number() OVER (PARTITION BY host ORDER BY pr DESC, canon_url ASC) AS rank_in_host
  FROM scored
),
kept AS (SELECT * FROM ranked WHERE rank_in_host <= 8),
seq AS (
  SELECT canon_url, host, rank_in_host,
         row_number() OVER (ORDER BY pr DESC, canon_url ASC) AS global_rank
  FROM kept
)
SELECT canon_url, host,
       CAST((global_rank - 1) // 100 AS BIGINT) AS batch_id,
       CAST(rank_in_host AS BIGINT) AS rank_in_host,
       CAST(global_rank AS BIGINT) AS global_rank
FROM seq WHERE global_rank <= 200
"""


def _minhash_md5_sql(threshold: float = 0.2, k: int = 16, bands: int = 4, rows: int = 4) -> str:
    """DuckDB mirror of operators/text_dedup.minhash_md5_pairs — identical
    algebra: md5-string permutation minima, banded candidates, exact-Jaccard
    verify restricted to banded pairs."""
    sig_cols = ", ".join(
        f"min(md5('{i}:' || sh)) AS sig_{i}" for i in range(k)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5(concat_ws('|', {cols})) AS bh FROM sigs".format(
            b=b, cols=", ".join(f"sig_{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, shingle AS sh FROM (
    SELECT doc_id, unnest(list_distinct(
      [array_to_string(w[i:i+2], ' ') FOR i IN generate_series(1, greatest(len(w)-2, 1))]
    )) AS shingle
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents) t
  ) WHERE length(shingle) > 0
),
sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
banded AS ({band_selects}),
cands AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM banded l JOIN banded r ON l.band_id = r.band_id AND l.bh = r.bh AND l.doc_id < r.doc_id
),
touched AS (SELECT a AS doc_id FROM cands UNION SELECT b FROM cands),
vsh AS (SELECT sh.* FROM sh JOIN touched USING (doc_id)),
sz AS (SELECT doc_id, count(*) AS sz FROM vsh GROUP BY doc_id),
inter AS (
  SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS inter
  FROM vsh ga JOIN vsh gb ON ga.sh = gb.sh AND ga.doc_id < gb.doc_id
  GROUP BY 1, 2
)
SELECT i.a, i.b, ROUND(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.b
JOIN cands c ON c.a = i.a AND c.b = i.b
WHERE i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= {threshold}
"""


_TRAP_FLAGS_SQL = r"""
WITH urls AS (
  SELECT doc_id,
         'https://' || source || '.example.com/' ||
         repeat('s' || CAST(doc_id % 3 AS VARCHAR) || '/', CAST(doc_id % 6 + 1 AS INT)) ||
         't' || CAST(doc_id % 11 AS VARCHAR) AS url
  FROM documents
),
segs AS (
  SELECT doc_id,
         unnest(list_filter(
           string_split(
             regexp_replace(regexp_replace(url, '^[a-z]+://[^/]*', ''), '\?.*', ''),
             '/'),
           s -> s <> '')) AS seg
  FROM urls
),
counts AS (SELECT doc_id, seg, count(*) AS c FROM segs GROUP BY 1, 2),
stats AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS depth, CAST(max(c) AS BIGINT) AS max_rep
  FROM counts GROUP BY 1
)
SELECT u.doc_id, u.url,
       COALESCE(s.depth, 0) AS depth,
       COALESCE(s.max_rep, 0) AS max_rep,
       (COALESCE(s.depth, 0) > 4 OR COALESCE(s.max_rep, 0) > 2
        OR length(u.url) > 48) AS is_trap
FROM urls u LEFT JOIN stats s USING (doc_id)
"""

_DOMAIN_TOPK_SQL = """
WITH u AS (
  SELECT 'sub' || CAST(o_orderkey % 50 AS VARCHAR) || '.dom'
         || CAST(o_custkey % 7 AS VARCHAR) || '.org' AS host,
         o_totalprice AS priority,
         'https://sub' || CAST(o_orderkey % 50 AS VARCHAR) || '.dom'
         || CAST(o_custkey % 7 AS VARCHAR) || '.org/o/'
         || CAST(o_orderkey AS VARCHAR) AS canon_url
  FROM orders
),
d AS (
  SELECT *, CASE WHEN len(string_split(host, '.')) <= 2 THEN host
                 ELSE array_to_string(list_slice(string_split(host, '.'),
                        len(string_split(host, '.')) - 1,
                        len(string_split(host, '.'))), '.') END AS domain
  FROM u
)
SELECT canon_url, host, priority FROM (
  SELECT canon_url, host, priority,
         row_number() OVER (PARTITION BY domain
                            ORDER BY priority DESC, canon_url ASC) AS rk
  FROM d
) t WHERE rk <= 5
"""

_SITEMAP_LOCS_SQL = r"""
WITH x AS (
  SELECT doc_id,
         '<?xml version="1.0"?>' || chr(10) || '<urlset>' || chr(10) ||
         '<url><loc>https://' || source || '.example.com/d/'
         || CAST(doc_id AS VARCHAR) || '</loc></url>' || chr(10) ||
         '<url><loc>  https://' || source || '.example.com/q/'
         || CAST(doc_id AS VARCHAR) || '?a=1&amp;b='
         || CAST(doc_id % 7 AS VARCHAR) || '  </loc></url>' || chr(10) ||
         '</urlset>' || chr(10) AS xml
  FROM documents
),
l AS (
  SELECT doc_id,
         regexp_extract_all(xml, '<loc>\s*([^<]*?)\s*</loc>', 1) AS locs
  FROM x
)
SELECT doc_id, CAST(1 AS BIGINT) AS pos, replace(locs[1], '&amp;', '&') AS loc FROM l
UNION ALL
SELECT doc_id, CAST(2 AS BIGINT) AS pos, replace(locs[2], '&amp;', '&') AS loc FROM l
"""

_CANONICAL_TARGETS_SQL = """
SELECT 'https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR)
         AS url,
       CASE WHEN (doc_id % 6) IN (1, 2, 3)
            THEN 'https://' || source || '.example.com/c/'
                 || CAST(doc_id % 50 AS VARCHAR)
            END AS canonical_url
FROM documents
"""

_META_REFRESH_SQL = """
SELECT 'https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR)
         AS url,
       (doc_id % 6) = 1 AS redirect,
       CAST(CASE WHEN (doc_id % 6) IN (1, 2) THEN 2 ELSE 1 END AS BIGINT)
         AS n_links
FROM documents
"""

# independent re-derivation of operators/feedback.retry_exprs over the same
# status/attempt grid: pure integer logic (exhausted = failed AND attempt >=
# max_retries, retained = failed and not exhausted, fails_next = attempt+1)
_RETRY_BOOKKEEPING_SQL = """
WITH g AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INTEGER)
           WHEN 0 THEN 'ok' WHEN 1 THEN 'failed' ELSE 'banned'
         END AS status,
         CAST(doc_id % 4 AS INTEGER) AS attempt
  FROM documents
)
SELECT doc_id, status, attempt,
       status = 'failed' AS failed,
       status = 'failed' AND attempt >= 2 AS exhausted,
       status = 'failed' AND attempt < 2 AS retained,
       CAST(attempt + 1 AS INTEGER) AS fails_next
FROM g
"""

# independent re-derivation of functions/scoring.aged_priority_expr over
# the same grid: exact binary fractions throughout, so == not approx
_PRIORITY_AGING_SQL = """
SELECT doc_id,
       CAST(doc_id % 7 AS DOUBLE) * 0.25 AS priority,
       CAST(doc_id % 6 + 4 AS INTEGER) AS discovered_round,
       CAST(doc_id % 7 AS DOUBLE) * 0.25
         + 0.25 * CAST(9 - (doc_id % 6 + 4) AS DOUBLE) AS eff_priority
FROM documents
"""

# independent FULL re-derivation of operators/hoststats.host_stats in SQL
# over the same constructed grid: per-host status sums and span from the
# batches side, page/token mass from the texts side (failed rows and host
# hid==7 excluded, exercising the emit-only zero fold), full-outer on host
_HOST_STATS_REPORT_SQL = """
WITH g AS (
  SELECT 'hs' || CAST(doc_id % 11 AS VARCHAR) || '.example.com' AS host,
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 1 THEN 'failed' WHEN 2 THEN 'banned' ELSE 'ok'
         END AS status,
         CAST(doc_id % 5 AS INTEGER) AS round,
         text,
         CAST(doc_id % 11 AS INTEGER) AS hid
  FROM documents
), b AS (
  SELECT host,
         COUNT(*)::BIGINT AS emitted,
         SUM(CASE WHEN status = 'banned' THEN 1 ELSE 0 END)::BIGINT AS banned,
         SUM(CASE WHEN status = 'failed' THEN 1 ELSE 0 END)::BIGINT AS failed,
         MIN(round)::INTEGER AS first_round,
         MAX(round)::INTEGER AS last_round
  FROM g GROUP BY host
), t AS (
  SELECT host,
         COUNT(*)::BIGINT AS pages,
         SUM(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
             len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT
           AS words
  FROM g WHERE status <> 'failed' AND hid <> 7 GROUP BY host
)
SELECT COALESCE(b.host, t.host) AS host,
       COALESCE(b.emitted, 0)::BIGINT AS emitted,
       COALESCE(b.banned, 0)::BIGINT AS banned,
       COALESCE(b.failed, 0)::BIGINT AS failed,
       b.first_round, b.last_round,
       COALESCE(t.pages, 0)::BIGINT AS pages,
       COALESCE(t.words, 0)::BIGINT AS words
FROM b FULL OUTER JOIN t ON b.host = t.host
"""

# independent FULL re-derivation of operators/inject.fold_robots_latest in
# SQL over the same three-generation history: static (-1) ∪ round-2 ∪
# round-5 deltas, max(upd_round) per host wins — recomputed by DuckDB via
# an anti-joined max, not a closed-form answer
_ROBOTS_UPDATE_FOLD_SQL = """
WITH ids AS (
  SELECT DISTINCT CAST(doc_id % 13 AS INTEGER) AS hid FROM documents
), gens AS (
  SELECT hid, 'static-' || CAST(hid AS VARCHAR) AS robots_txt,
         CAST(-1 AS INTEGER) AS upd_round FROM ids
  UNION ALL
  SELECT hid, 'tighten-' || CAST(hid AS VARCHAR), CAST(2 AS INTEGER)
  FROM ids WHERE hid % 3 = 0
  UNION ALL
  SELECT hid, 'loosen-' || CAST(hid AS VARCHAR), CAST(5 AS INTEGER)
  FROM ids WHERE hid % 4 = 1
), latest AS (
  SELECT hid, MAX(upd_round) AS upd_round FROM gens GROUP BY hid
)
SELECT 'ru' || CAST(g.hid AS VARCHAR) || '.example.com' AS host,
       CAST(g.hid AS BIGINT) AS host_hash,
       g.robots_txt,
       g.upd_round
FROM gens g JOIN latest l ON g.hid = l.hid AND g.upd_round = l.upd_round
"""

# independent FULL re-derivation of operators/feedback.fold_fail_hosts in
# SQL over the same constructed grid: per-host failed counts, HAVING >=
# threshold 15, full-outer fold against the budgets dimension (missing
# hosts get default budget 8), greatest(existing, 6) where 6 = round 3 +
# 1 + backoff_rounds 2 — every stage recomputed by DuckDB
_FAIL_HOST_BACKOFF_SQL = """
WITH g AS (
  SELECT doc_id,
         'fh' || CAST(doc_id % 17 AS VARCHAR) || '.example.com' AS host,
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN 'ok' WHEN 2 THEN 'banned' ELSE 'failed'
         END AS status,
         CAST(doc_id % 17 AS INTEGER) AS hid
  FROM documents
), b AS (
  SELECT DISTINCT host,
         CAST(5 + hid % 3 AS INTEGER) AS budget,
         CAST(CASE WHEN hid % 4 = 0 THEN 9 ELSE 0 END AS INTEGER)
           AS backoff_until_round
  FROM g WHERE hid % 7 <> 3
), hot AS (
  SELECT host FROM g WHERE status = 'failed'
  GROUP BY host HAVING COUNT(*) >= 15
)
SELECT COALESCE(b.host, hot.host) AS host,
       CAST(COALESCE(b.budget, 8) AS INTEGER) AS budget,
       CAST(CASE WHEN hot.host IS NOT NULL
                 THEN GREATEST(COALESCE(b.backoff_until_round, 0), 6)
                 ELSE COALESCE(b.backoff_until_round, 0)
            END AS INTEGER) AS backoff_until_round,
       hot.host IS NOT NULL AS failhost
FROM b FULL OUTER JOIN hot ON b.host = hot.host
"""

# independent FULL re-derivation of operators/mirrors.mirror_pairs in SQL:
# the same distinct (host, sha) evidence, hot-sha guard (2..50 hosts per
# sha), sha-keyed self-join pair mining, per-host totals, and the integer
# cross-multiplied 80%-of-smaller-host threshold — every stage recomputed
# by DuckDB, not a closed-form answer
_MIRROR_HOST_PAIRS_SQL = """
WITH u AS (
  SELECT 'mir' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS host,
         CASE CAST(doc_id % 5 AS INTEGER)
           WHEN 0 THEN 'c' || CAST(doc_id % 23 AS VARCHAR)
           WHEN 1 THEN 'c' || CAST(doc_id % 23 AS VARCHAR)
           WHEN 2 THEN 'c' || CAST(doc_id % 46 AS VARCHAR)
           WHEN 3 THEN 'u' || CAST(doc_id AS VARCHAR)
           WHEN 4 THEN 'c' || CAST(doc_id % 3 AS VARCHAR)
         END AS sha
  FROM documents
), d AS (
  SELECT DISTINCT host, sha FROM u
), ph AS (
  SELECT host, COUNT(*) AS docs FROM d GROUP BY host
), ns AS (
  SELECT sha, COUNT(*) AS n_hosts FROM d GROUP BY sha
), m AS (
  SELECT d.host, d.sha FROM d JOIN ns USING (sha)
  WHERE ns.n_hosts BETWEEN 2 AND 50
), p AS (
  SELECT a.host AS host_a, b.host AS host_b, COUNT(*) AS shared
  FROM m a JOIN m b ON a.sha = b.sha AND a.host < b.host
  GROUP BY 1, 2
)
SELECT host_a, host_b, shared, pa.docs AS docs_a, pb.docs AS docs_b
FROM p
JOIN ph pa ON pa.host = p.host_a
JOIN ph pb ON pb.host = p.host_b
WHERE shared >= 2 AND shared * 100 >= 80 * LEAST(pa.docs, pb.docs)
"""

# independent re-derivation of kernels/robots.robots_allowed_rfc over the
# same 6 url shapes and the fixed wildcard robots.txt: shapes 0 (no rule
# matches), 2 (the trailing-$ anchor misses once a query follows .pdf) and
# 3 (the longer /public/*.pdf$ Allow outranks the /*.pdf$ Disallow) are
# allowed; shapes 1 (wildcard+anchor), 4 (query wildcard) and 5 (plain
# prefix) are denied
_ROBOTS_WILDCARDS_SQL = """
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/' ||
         CASE CAST(doc_id % 6 AS INTEGER)
           WHEN 0 THEN 'article/' || CAST(doc_id % 13 AS VARCHAR)
           WHEN 1 THEN 'a/x' || CAST(doc_id % 7 AS VARCHAR) || '.pdf'
           WHEN 2 THEN 'a/x' || CAST(doc_id % 7 AS VARCHAR) || '.pdf?dl=1'
           WHEN 3 THEN 'public/x' || CAST(doc_id % 5 AS VARCHAR) || '.pdf'
           WHEN 4 THEN 'cgi/run?id=' || CAST(doc_id % 9 AS VARCHAR)
           WHEN 5 THEN 'private/' || CAST(doc_id % 3 AS VARCHAR)
         END AS url
  FROM documents
)
SELECT doc_id, url, CAST(doc_id % 6 AS INTEGER) IN (0, 2, 3) AS allowed
FROM u
"""

# independent re-derivation of kernels/textextract.hreflang_targets over
# the same 5 cluster shapes: shape 0 carries no alternates, shapes 1-4 each
# yield exactly ONE surviving target (shape 2's self-alternate drops, shape
# 3's duplicate and feed alternates drop, shape 4's relative href resolves)
# and every page carries exactly one anchor
_HREFLANG_SQL = """
SELECT 'https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR)
         AS url,
       CAST(CASE WHEN (doc_id % 5) = 0 THEN 0 ELSE 1 END AS BIGINT)
         AS n_alternates,
       CAST(CASE WHEN (doc_id % 5) = 0 THEN 1 ELSE 2 END AS BIGINT)
         AS n_links
FROM documents
"""

# independent re-derivation of functions/traps.exclude_expr: the same 4
# patterns under RE2 regexp_matches (partial match, same as rlike/re.search
# on the pinned common dialect subset — SEMANTICS.md §Exclude patterns)
# independent re-derivation of kernels/canonicalize.collapse_www_host over
# the same 6 host shapes: a recursive CTE applies the EXACT kernel step —
# drop one leading 'www.' while the remainder still contains a dot — so the
# terminal (shortest) host per doc_id is the collapsed one; a naive
# '^(www\.)+' strip would over-collapse www.www.org
_COLLAPSE_WWW_SQL = """
WITH RECURSIVE p AS (
  SELECT doc_id,
         CASE doc_id % 6
           WHEN 0 THEN 'www.h' || (doc_id % 13) || '.example.org'
           WHEN 1 THEN 'h' || (doc_id % 13) || '.example.org'
           WHEN 2 THEN 'www.www.a' || (doc_id % 13) || '.example.org'
           WHEN 3 THEN 'www.org'
           WHEN 4 THEN 'www.www.org'
           ELSE 'sub' || (doc_id % 13) || '.www.example.org'
         END AS host
  FROM documents
), steps AS (
  SELECT doc_id, host FROM p
  UNION ALL
  SELECT doc_id, substr(host, 5) FROM steps
  WHERE host LIKE 'www.%' AND strpos(substr(host, 5), '.') > 0
), final AS (
  SELECT doc_id, arg_min(host, length(host)) AS chost
  FROM steps GROUP BY doc_id
)
SELECT p.doc_id,
       'https://' || p.host || '/p/' || p.doc_id AS url,
       'https://' || f.chost || '/p/' || p.doc_id AS collapsed
FROM p JOIN final f USING (doc_id)
"""

# independent re-derivation of the §HTTPS preference rule over the same 5
# already-canonical shapes: the only change is the scheme prefix (the
# default-port rule already ran against the original scheme at generation),
# so a prefix regexp_replace is the whole derivation
_PREFER_HTTPS_SQL = """
WITH p AS (
  SELECT doc_id,
         CASE doc_id % 5
           WHEN 0 THEN 'http://h' || (doc_id % 13) || '.example.org/p'
           WHEN 1 THEN 'https://h' || (doc_id % 13) || '.example.org/p'
           WHEN 2 THEN 'http://h' || (doc_id % 13) || '.example.org:8080/p'
           WHEN 3 THEN 'http://h' || (doc_id % 13) || '.example.org:443/p'
           ELSE 'http://h' || (doc_id % 13) || '.example.org/p?a=1'
         END AS url
  FROM documents
)
SELECT doc_id, url,
       regexp_replace(url, '^http://', 'https://') AS upgraded_url
FROM p
"""

# independent re-derivation of kernels/canonicalize.collapse_index_path over
# the same 6 shapes: a case-insensitive regexp_replace anchored at the END
# of the url drops exactly the final default-document segment (the pinned
# INDEX_DOCS set), keeping the slash; non-final segments never match
_COLLAPSE_INDEX_SQL = """
WITH p AS (
  SELECT doc_id,
         'https://h' || (doc_id % 13) || '.example.org' ||
         CASE doc_id % 6
           WHEN 0 THEN '/a' || (doc_id % 13) || '/index.html'
           WHEN 1 THEN '/index.html'
           WHEN 2 THEN '/A' || (doc_id % 13) || '/INDEX.HTML'
           WHEN 3 THEN '/a' || (doc_id % 13) || '/index.html/b'
           WHEN 4 THEN '/a' || (doc_id % 13) || '/indexx.html'
           ELSE '/a' || (doc_id % 13) || '/default.aspx'
         END AS url
  FROM documents
)
SELECT doc_id, url,
       regexp_replace(
         url,
         '(?i)/(index\\.html|index\\.htm|index\\.php|index\\.asp|index\\.aspx|default\\.htm|default\\.html|default\\.asp|default\\.aspx)$',
         '/'
       ) AS collapsed_url
FROM p
"""

# independent re-derivation of kernels/canonicalize.strip_session_params +
# strip_session_path over the same 6 url shapes: query tokens filter on the
# pinned key set + aspsessionid% prefix (split_part = bytes before the first
# '=', lowercased, never decoded), path segments keep their base + every
# ;-param whose key is not 'jsessionid' — both carriers in plain DuckDB
# list/lambda functions, no UDF
_STRIP_SESSION_SQL = """
WITH p AS (
  SELECT doc_id,
         'https://h' || (doc_id % 13) || '.example.org' AS origin,
         CASE doc_id % 6
           WHEN 0 THEN '/p'
           WHEN 1 THEN '/p'
           WHEN 2 THEN '/p'
           WHEN 3 THEN '/cart;x=1;jsessionid=A' || (doc_id % 13) || ';y=2/view'
           WHEN 4 THEN '/a;matrix=' || (doc_id % 13) || '/b'
           ELSE '/plain/' || (doc_id % 13)
         END AS path,
         CASE doc_id % 6
           WHEN 0 THEN 'PHPSESSID=x' || (doc_id % 13) || '&id=1'
           WHEN 1 THEN 'a=1&sid=' || (doc_id % 13) || '&b=2'
           WHEN 2 THEN 'ASPSESSIONIDQQRST' || (doc_id % 13) || '=Z&a=2'
           WHEN 3 THEN ''
           WHEN 4 THEN 'id=3'
           ELSE ''
         END AS q
  FROM documents
), s AS (
  SELECT doc_id, origin, path, q,
    array_to_string(
      list_transform(string_split(path, '/'), seg ->
        CASE WHEN strpos(seg, ';') = 0 THEN seg
        ELSE array_to_string(
          [string_split(seg, ';')[1]] ||
          list_filter(string_split(seg, ';')[2:],
                      pp -> lower(split_part(pp, '=', 1)) <> 'jsessionid'),
          ';')
        END
      ), '/') AS spath,
    array_to_string(
      list_filter(string_split(q, '&'),
        t -> NOT (lower(split_part(t, '=', 1)) IN
                   ('phpsessid','jsessionid','sessionid','session_id','sid',
                    'zenid','oscsid','cfid','cftoken')
              OR lower(split_part(t, '=', 1)) LIKE 'aspsessionid%')),
      '&') AS sq
  FROM p
)
SELECT doc_id,
       origin || path || CASE WHEN q = '' THEN '' ELSE '?' || q END AS url,
       origin || (CASE WHEN spath = '' THEN '/' ELSE spath END)
              || CASE WHEN sq = '' THEN '' ELSE '?' || sq END AS stripped_url
FROM s
"""

# independent re-derivation of kernels/canonicalize.sort_query_params over
# the same 7 query shapes: split on '&', list_sort (DuckDB binary/code-point
# order == Python byte order for these ASCII tokens), re-join — whole raw
# tokens, no decoding, exactly the SEMANTICS.md §Sorted query grammar
_SORT_QUERY_SQL = """
WITH p AS (
  SELECT doc_id,
         'https://h' || (doc_id % 13) || '.example.org/p/' || doc_id AS base,
         CASE doc_id % 7
           WHEN 0 THEN 'b=2&a=' || (doc_id % 13)
           WHEN 1 THEN 'a=1&b=' || (doc_id % 13)
           WHEN 2 THEN 'a=' || (doc_id % 13)
           WHEN 3 THEN ''
           WHEN 4 THEN 'a=2&a=1'
           WHEN 5 THEN 'flag&a=' || (doc_id % 13)
           ELSE 'a=' || (doc_id % 13) || '&&b=1'
         END AS q
  FROM documents
)
SELECT doc_id,
       base || CASE WHEN q = '' THEN '' ELSE '?' || q END AS url,
       base || CASE WHEN q = '' THEN ''
               ELSE '?' || array_to_string(list_sort(string_split(q, '&')), '&')
               END AS sorted_url
FROM p
"""

# independent re-derivation of operators/gates.host_cap_exprs over the same
# synthetic per-host totals history: NULL totals = 0, capped at total >= 8,
# else budget clipped to the remaining headroom
_HOST_CAP_SQL = """
WITH p AS (
  SELECT doc_id,
         CAST(doc_id % 8 + 1 AS INTEGER) AS budget,
         CASE WHEN doc_id % 11 = 0 THEN NULL
              ELSE CAST(doc_id % 12 AS BIGINT) END AS total
  FROM documents
)
SELECT doc_id,
       COALESCE(total, 0) >= 8 AS capped,
       CASE WHEN COALESCE(total, 0) >= 8 THEN 0
            ELSE CAST(LEAST(CAST(budget AS BIGINT),
                            8 - COALESCE(total, 0)) AS INTEGER)
       END AS eff_budget
FROM p
"""

# independent re-derivation of operators/recrawl.revisit_interval_expr over
# the same synthetic two-fetch history: sha256 digests compare byte-for-byte
# (both engines hash UTF-8 and print lowercase hex), the branch fold is
# CASE + LEAST with the 2^30 hard cap then the config cap 8, A = 2
_ADAPTIVE_REVISIT_SQL = """
WITH f AS (
  SELECT doc_id,
         sha256(text) AS d1,
         sha256(CASE WHEN doc_id % 3 = 0 THEN text
                     ELSE text || ' [edited]' END) AS d2
  FROM documents
), p AS (
  SELECT doc_id, d2,
         CASE WHEN doc_id % 7 = 0 THEN NULL ELSE d1 END AS pd,
         CAST(doc_id % 5 + 1 AS INTEGER) AS prev_iv
  FROM f
)
SELECT doc_id,
       (pd IS NOT NULL AND pd <> d2) AS changed,
       CAST(LEAST(CASE WHEN pd IS NULL THEN 2
                       WHEN pd = d2 THEN LEAST(CAST(prev_iv AS BIGINT) * 2, 1073741824)
                       ELSE 2 END, 8) AS INTEGER) AS next_interval
FROM p
"""

_EXCLUDE_GATE_SQL = r"""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/' ||
         CASE CAST(doc_id % 6 AS INTEGER)
           WHEN 0 THEN 'account/logout'
           WHEN 1 THEN 'cart/item' || CAST(doc_id % 7 AS VARCHAR)
           WHEN 2 THEN 'list?page=' || CAST(doc_id % 9 AS VARCHAR)
                       || '&sort=price'
           WHEN 3 THEN 'dl/setup' || CAST(doc_id % 5 AS VARCHAR) || '.exe'
           WHEN 4 THEN 'article/' || CAST(doc_id % 13 AS VARCHAR)
           WHEN 5 THEN 'sort/guide' || CAST(doc_id % 3 AS VARCHAR)
         END AS url
  FROM documents
)
SELECT doc_id, url,
       (regexp_matches(url, '/logout') OR regexp_matches(url, '/cart/')
        OR regexp_matches(url, '[?&]sort=')
        OR regexp_matches(url, '\.exe$')) AS excluded
FROM u
"""

# independent re-derivation of kernels/traps.url_extension / matches_ext:
# the same normative regex ([^/]\.([^./]+)$ — RE2 here, Python re in the
# kernel, Java in the engine expr) over the same authority-stripped,
# query-cut path, lowercased, then set membership against the same deny
# tuple the Spark query pins
_HOST_ALLOWLIST_SQL = r"""
WITH h AS (
  SELECT doc_id,
         CASE CAST(doc_id % 6 AS INTEGER)
           WHEN 0 THEN 'news.example.org'
           WHEN 1 THEN 'www.news.example.org'
           WHEN 2 THEN 'docs.example.org'
           WHEN 3 THEN 'cdn' || CAST(doc_id % 5 AS VARCHAR)
                       || '.example.com'
           WHEN 4 THEN 'blog.example.net'
           WHEN 5 THEN 'news.example.org.evil.com'
         END AS host
  FROM documents
)
SELECT doc_id, host,
       host IN ('news.example.org', 'docs.example.org', 'blog.example.net')
         AS allowed
FROM h
"""

_EXT_GATE_SQL = r"""
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/' ||
         CASE CAST(doc_id % 7 AS INTEGER)
           WHEN 0 THEN 'article/' || CAST(doc_id % 13 AS VARCHAR)
           WHEN 1 THEN 'img/photo' || CAST(doc_id % 7 AS VARCHAR) || '.jpg'
           WHEN 2 THEN 'pkg/bundle' || CAST(doc_id % 5 AS VARCHAR)
                       || '.tar.gz'
           WHEN 3 THEN 'conf/.htaccess'
           WHEN 4 THEN 'doc/brochure' || CAST(doc_id % 9 AS VARCHAR)
                       || '.PDF'
           WHEN 5 THEN 'mirror' || CAST(doc_id % 3 AS VARCHAR) || '.zip/'
           WHEN 6 THEN 'logs/dump.gz?page=' || CAST(doc_id % 4 AS VARCHAR)
         END AS url
  FROM documents
), e AS (
  SELECT doc_id, url,
         lower(regexp_extract(
           regexp_replace(
             regexp_replace(url, '^[a-z]+://[^/]*', ''), '\?.*', ''),
           '[^/]\.([^./]+)$', 1)) AS ext
  FROM u
)
SELECT doc_id, url, ext, ext IN ('jpg', 'gz', 'pdf') AS denied
FROM e
"""

# independent re-derivation of kernels/canonicalize.strip_tracking_params:
# same token grammar (split on '&', key = bytes before the first '=', the
# whole token when '=' is absent, lowercased key vs the pinned set), same
# pinned TRACKING_PARAMS list, survivors keep bytes and order, a query
# stripped empty drops its '?'
_STRIP_TRACKING_SQL = """
WITH u AS (
  SELECT doc_id,
         'https://' || source || '.example.com/p/'
           || CAST(doc_id AS VARCHAR) AS base,
         CASE CAST(doc_id % 6 AS INTEGER)
           WHEN 0 THEN 'utm_source=feed&page=' || CAST(doc_id % 10 AS VARCHAR)
           WHEN 1 THEN 'gclid=g' || CAST(doc_id AS VARCHAR)
           WHEN 2 THEN 'a=1&fbclid=x&b=2'
           WHEN 3 THEN ''
           WHEN 4 THEN 'UTM_Campaign=c&q=' || CAST(doc_id % 5 AS VARCHAR)
           WHEN 5 THEN 'utm%5Fsource=e'
         END AS qs
  FROM documents
),
s AS (
  SELECT base, qs,
         -- array_to_string of an EMPTY list is NULL in DuckDB, not ''
         COALESCE(array_to_string(list_filter(string_split(qs, '&'),
           x -> NOT list_contains(
             ['utm_source','utm_medium','utm_campaign','utm_term',
              'utm_content','utm_id','gclid','dclid','fbclid','msclkid',
              'yclid','twclid','igshid','mc_cid','mc_eid'],
             lower(split_part(x, '=', 1)))), '&'), '') AS kept
  FROM u
)
SELECT base || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS url,
       base || CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS stripped
FROM s
"""

_ANCHOR_NOFOLLOW_SQL = """
SELECT 'https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR)
         AS url,
       CAST(CASE WHEN (doc_id % 6) IN (1, 2, 5) THEN 1 ELSE 2 END AS BIGINT)
         AS n_links,
       CAST(CASE WHEN (doc_id % 6) IN (1, 2) THEN 1 ELSE 0 END AS BIGINT)
         AS anchor_dropped
FROM documents
"""

_META_ROBOTS_SQL = """
SELECT doc_id,
       (doc_id % 7) IN (1, 3, 4, 6) AS noindex,
       (doc_id % 7) IN (2, 3, 4) AS nofollow
FROM documents
"""

_CONNECTED_COMPONENTS_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 'o' || CAST(l_orderkey AS VARCHAR) AS a,
                  'p' || CAST(l_partkey AS VARCHAR) AS b
  FROM lineitem WHERE l_orderkey % 97 = 0
),
sym AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
reach(node, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, t.r FROM sym s JOIN reach t ON t.node = s.dst
)
SELECT node, min(r) AS component FROM reach GROUP BY node
"""


_PII_SYNTH_SQL = (
    "'call 555-123-4567 or 987-65-4321 email u' || CAST(doc_id AS VARCHAR)"
    " || '@ex.com ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR) || ' ' || text"
)


def _pii_counts_oracle() -> str:
    from indigo_crawler_spark.functions.pii import pii_counts_oracle_sql

    return (
        f"WITH t AS (SELECT doc_id, {_PII_SYNTH_SQL} AS t FROM documents) "
        f"SELECT doc_id, {pii_counts_oracle_sql('t')} FROM t"
    )


def _pii_redact_oracle() -> str:
    from indigo_crawler_spark.functions.pii import redact_oracle_sql

    return (
        f"WITH t AS (SELECT doc_id, {_PII_SYNTH_SQL} AS t FROM documents) "
        f"SELECT doc_id, {redact_oracle_sql('t')} AS redacted FROM t"
    )


def _pagerank_oracle() -> str:
    from indigo_crawler_spark.operators.pagerank import pagerank_oracle_sql

    inner = pagerank_oracle_sql(
        "SELECT CAST(o_custkey % 200 AS BIGINT) AS src,"
        " CAST(o_orderkey % 200 AS BIGINT) AS dst FROM orders",
        damping=0.85,
        iters=5,
    )
    return f"SELECT node, ROUND(rank, 9) AS rank FROM ({inner})"


def _pagerank_int_oracle() -> str:
    from indigo_crawler_spark.operators.pagerank import pagerank_int_oracle_sql

    return pagerank_int_oracle_sql(
        "SELECT CAST(o_custkey % 200 AS BIGINT) AS src,"
        " CAST(o_orderkey % 200 AS BIGINT) AS dst FROM orders",
        iters=5,
    )


def _text_normalize_oracle() -> str:
    # same messy prefix built from chr() codepoints; the chain order must
    # match kernels/textnorm.py: CRLF->LF, CR->LF, strip C0/DEL, strip
    # zero-width, NFC-compose
    messy = (
        "'e' || chr(769) || chr(8203) || chr(7) || 'A' || chr(13) ||"
        " chr(10) || 'B' || chr(13) || 'C ' || text"
    )
    chain = (
        "nfc_normalize(regexp_replace(regexp_replace("
        "replace(replace(t, chr(13) || chr(10), chr(10)), chr(13), chr(10)),"
        " '[\\x00-\\x08\\x0B-\\x1F\\x7F]', '', 'g'),"
        " '[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g'))"
    )
    return (
        f"WITH m AS (SELECT doc_id, {messy} AS t FROM documents) "
        f"SELECT doc_id, {chain} AS norm FROM m"
    )


def _decontaminate_oracle() -> str:
    # same gram fold as boilerplate_oracle_sql at n=5 (toks[i..i+4] joined
    # with spaces); eval side = every 37th doc's distinct grams
    n = 5
    parts = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return (
        "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+')"
        " AS toks FROM documents), "
        f"g AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(toks) >= {n} THEN"
        f" list_transform(range(1, len(toks) - {n - 2}), i -> {parts})"
        " ELSE [] END) AS gram FROM t), "
        "e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 37 = 0) "
        "SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits FROM g"
        " JOIN e USING (gram) GROUP BY g.doc_id"
    )


def _hash_sample_oracle() -> str:
    from indigo_crawler_spark.operators.sampling import (
        hash_uniform_oracle_sql,
        threshold,
    )

    draw = hash_uniform_oracle_sql("doc_id", salt="s1")
    t_def, t_en, t_de = threshold(0.25), threshold(0.75), threshold(1.0)
    return (
        f"WITH t AS (SELECT doc_id, lang, {draw} AS draw FROM documents) "
        f"SELECT doc_id, lang, draw FROM t WHERE draw < CASE lang"
        f" WHEN 'en' THEN {t_en} WHEN 'de' THEN {t_de} ELSE {t_def} END"
    )


def _repetition_oracle() -> str:
    from indigo_crawler_spark.functions.text_analysis import repetition_oracle_sql

    return repetition_oracle_sql("documents")


def _hash_split_oracle() -> str:
    from indigo_crawler_spark.functions.text_analysis import hash_split_oracle_sql

    return hash_split_oracle_sql("documents", "doc_id")


def _boilerplate_oracle() -> str:
    from indigo_crawler_spark.operators.boilerplate import boilerplate_oracle_sql

    return boilerplate_oracle_sql(n=5, min_docs=3, table="documents")


def oracle_sql() -> dict[str, str]:
    from indigo_crawler_spark.functions.text_analysis import langid_oracle_sql
    from indigo_crawler_spark.operators.similarity import int_lsh_near_pairs_oracle_sql
    from indigo_crawler_spark.operators.text_dedup import simhash_md5_oracle_sql

    return {
        "crawl_round0_schedule": _CRAWL_ROUND0_SQL,
        "crawl_two_rounds": _CRAWL_TWO_ROUNDS_SQL,
        "crawl_inject_round": _CRAWL_INJECT_SQL,
        "trap_flags": _TRAP_FLAGS_SQL,
        "domain_topk": _DOMAIN_TOPK_SQL,
        "connected_components": _CONNECTED_COMPONENTS_SQL,
        "sitemap_locs": _SITEMAP_LOCS_SQL,
        "anchor_nofollow_links": _ANCHOR_NOFOLLOW_SQL,
        "strip_tracking": _STRIP_TRACKING_SQL,
        "exclude_gate": _EXCLUDE_GATE_SQL,
        "ext_gate": _EXT_GATE_SQL,
        "host_allowlist": _HOST_ALLOWLIST_SQL,
        "adaptive_revisit": _ADAPTIVE_REVISIT_SQL,
        "host_cap_budget": _HOST_CAP_SQL,
        "collapse_www": _COLLAPSE_WWW_SQL,
        "sort_query": _SORT_QUERY_SQL,
        "strip_session": _STRIP_SESSION_SQL,
        "prefer_https": _PREFER_HTTPS_SQL,
        "collapse_index": _COLLAPSE_INDEX_SQL,
        "meta_robots_flags": _META_ROBOTS_SQL,
        "canonical_targets": _CANONICAL_TARGETS_SQL,
        "meta_refresh_targets": _META_REFRESH_SQL,
        "hreflang_alternates": _HREFLANG_SQL,
        "robots_wildcards": _ROBOTS_WILDCARDS_SQL,
        "mirror_host_pairs": _MIRROR_HOST_PAIRS_SQL,
        "retry_bookkeeping": _RETRY_BOOKKEEPING_SQL,
        "fail_host_backoff": _FAIL_HOST_BACKOFF_SQL,
        "robots_update_fold": _ROBOTS_UPDATE_FOLD_SQL,
        "host_stats_report": _HOST_STATS_REPORT_SQL,
        "priority_aging": _PRIORITY_AGING_SQL,
        "scan_prune": "SELECT doc_id, lang FROM documents",
        "filter_events": "SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'",
        "null_guard": "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 400000",
        "lower_source": "SELECT doc_id, lower(source) AS source_lower FROM documents",
        "price_expr": "SELECT o_orderkey, ROUND(o_totalprice * (1.0 - 0.1), 4) AS discounted FROM orders",
        "date_trunc_day": (
            "SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,"
            " count(*) AS n FROM events GROUP BY 1"
        ),
        "json_get": "SELECT event_id, json_extract_string(props, '$.k') AS k_str FROM events",
        "latest_by_key": (
            "SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,"
            " value FROM (SELECT *, row_number() OVER (PARTITION BY user_id"
            " ORDER BY ts DESC, event_id DESC) AS rk FROM events) t WHERE rk = 1"
        ),
        "explode_tokens": (
            "SELECT word, count(*) AS n FROM "
            "(SELECT unnest(string_split(text, ' ')) AS word FROM documents) t GROUP BY word"
        ),
        "anti_join": (
            "SELECT c_custkey FROM customer c WHERE NOT EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
            "AND o.o_totalprice > 450000)"
        ),
        "semi_join": (
            "SELECT c_custkey FROM customer c WHERE EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
        ),
        "join_agg": (
            "SELECT p_brand, count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem "
            "JOIN part ON l_partkey = p_partkey GROUP BY p_brand"
        ),
        "broadcast_join": (
            "SELECT r_name, count(*) AS n_nations FROM nation "
            "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
        ),
        "group_agg": (
            "SELECT event_type, count(*) AS n, ROUND(avg(value), 4) AS avg_value "
            "FROM events GROUP BY event_type"
        ),
        "count_distinct": (
            "SELECT count(DISTINCT l_partkey) AS n_parts, count(*) AS n FROM lineitem"
        ),
        "rollup_counts": (
            "SELECT event_type, count(*) AS n FROM events GROUP BY ROLLUP(event_type)"
        ),
        "cube_counts": (
            "SELECT event_type, CASE WHEN value > 50.0 THEN 'hi' ELSE 'lo' END AS value_band, "
            "count(*) AS n, ROUND(sum(value), 4) AS sum_value "
            "FROM events GROUP BY CUBE(event_type, CASE WHEN value > 50.0 THEN 'hi' ELSE 'lo' END)"
        ),
        "window_topk_per_customer": (
            "SELECT o_custkey, o_orderkey, o_totalprice, rk FROM ("
            "SELECT o_custkey, o_orderkey, o_totalprice, "
            "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk "
            "FROM orders) WHERE rk <= 3"
        ),
        "global_topk": (
            "SELECT o_orderkey, o_totalprice FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"
        ),
        "union_distinct": (
            "SELECT o_orderkey FROM orders WHERE o_totalprice > 450000 "
            "UNION SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'"
        ),
        "intersect_slices": (
            "SELECT o_orderkey FROM orders WHERE o_totalprice > 300000 "
            "INTERSECT SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'"
        ),
        "except_slices": (
            "SELECT o_orderkey FROM orders WHERE o_totalprice > 300000 "
            "EXCEPT ALL SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'"
        ),
        "backoff_update": (
            # full-outer fold; o_custkey ⊆ c_custkey in TPC-H so the outer
            # reduces to a left join. banned ⇔ any 'F' order; round_no=3,
            # backoff_rounds=2 ⇒ backoff_until = 3+1+2 = 6
            "WITH b AS (SELECT CAST(c_custkey AS VARCHAR) AS host, "
            "  CAST(c_nationkey + 1 AS BIGINT) AS budget FROM customer), "
            "s AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS host "
            "  FROM orders WHERE o_orderstatus = 'F') "
            "SELECT b.host, b.budget, "
            "CASE WHEN s.host IS NOT NULL THEN 6 ELSE 0 END::BIGINT "
            "AS backoff_until_round FROM b LEFT JOIN s ON b.host = s.host"
        ),
        "bloom_prefilter_semi": (
            "SELECT c_custkey FROM customer c WHERE EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
        ),
        "cuckoo_delete_probe": (
            "SELECT DISTINCT o_custkey FROM orders "
            "EXCEPT SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'"
        ),
        "token_counts": (
            "SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
            "len(regexp_split_to_array(trim(text), '\\s+')) END::BIGINT AS n_tokens "
            "FROM documents"
        ),
        "thin_host_flags": (
            "SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(w)::BIGINT AS "
            "total_words, SUM(w) < 51 * COUNT(*) AS thin FROM ("
            "SELECT source, CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
            "len(regexp_split_to_array(trim(text), '\\s+')) END AS w "
            "FROM documents) GROUP BY source"
        ),
        "regex_token_counts": (
            "SELECT doc_id, CAST(len(regexp_extract_all(text, "
            "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens "
            "FROM documents"
        ),
        "quality_stats": (
            "SELECT doc_id, length(text)::BIGINT AS n_chars, "
            "(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
            " len(regexp_split_to_array(trim(text), '\\s+')) END)::BIGINT AS n_words, "
            "ROUND((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))"
            " / CAST(NULLIF(length(text), 0) AS DOUBLE), 6) AS punct_ratio, "
            "ROUND((length(text) - length(regexp_replace(text, '\\s', '', 'g')))"
            " / CAST(NULLIF(length(text), 0) AS DOUBLE), 6) AS space_ratio, "
            "ROUND(length(regexp_replace(text, '\\s', '', 'g'))"
            " / CAST(NULLIF(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
            " len(regexp_split_to_array(trim(text), '\\s+')) END, 0) AS DOUBLE), 6)"
            " AS mean_word_len "
            "FROM documents"
        ),
        "repetition_stats": _repetition_oracle(),
        "pii_counts": _pii_counts_oracle(),
        "pii_redact": _pii_redact_oracle(),
        "hash_sample": _hash_sample_oracle(),
        "decontaminate_flags": _decontaminate_oracle(),
        "text_normalize": _text_normalize_oracle(),
        "pagerank_scores": _pagerank_oracle(),
        "pagerank_int_scores": _pagerank_int_oracle(),
        "hash_split": _hash_split_oracle(),
        "boilerplate_shingles": _boilerplate_oracle(),
        "token_shards": (
            # ANSI mirror of the two-phase distributed prefix sum: exclusive
            # running sum over doc_id order, shard = floor(excl / 5000)
            "WITH t AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0"
            " ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens"
            " FROM documents), "
            "c AS (SELECT doc_id, n_tokens, COALESCE(SUM(n_tokens) OVER ("
            "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
            "), 0) AS excl FROM t) "
            "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,"
            " CAST(floor(excl / 5000) AS BIGINT) AS shard_id FROM c"
        ),
        "exact_dedup_docs": (
            "SELECT min(doc_id) AS keep_id, count(*) AS n_copies "
            "FROM documents GROUP BY text"
        ),
        "ngram_jaccard_pairs": (
            "WITH g AS ("
            "  SELECT doc_id, shingle FROM ("
            "    SELECT doc_id, unnest(list_distinct("
            "      [array_to_string(w[i:i+2], ' ') "
            "       FOR i IN generate_series(1, greatest(len(w)-2, 1))]"
            "    )) AS shingle "
            "    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w "
            "          FROM documents) t"
            "  ) WHERE length(shingle) > 0"
            "), sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id), "
            "inter AS ("
            "  SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS inter "
            "  FROM g ga JOIN g gb ON ga.shingle = gb.shingle AND ga.doc_id < gb.doc_id "
            "  GROUP BY 1, 2) "
            "SELECT a, b, ROUND(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard "
            "FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b "
            "WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.2"
        ),
        "ann_int_dot_topk": (
            "WITH q AS (SELECT vec_id AS q_id, "
            "  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv "
            "  FROM embeddings WHERE vec_id < 30), "
            "c AS (SELECT vec_id AS n_id, "
            "  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS cv "
            "  FROM embeddings) "
            "SELECT q_id, n_id, dot, rank FROM ("
            "  SELECT q_id, n_id, CAST(list_dot_product(qv, cv) AS BIGINT) AS dot, "
            "         row_number() OVER (PARTITION BY q_id ORDER BY list_dot_product(qv, cv) DESC, n_id ASC) AS rank "
            "  FROM q, c WHERE q_id != n_id) WHERE rank <= 5"
        ),
        "ivf_int_topk": (
            # mirror of operators/similarity.ivf_int_topk (n_centroids=8,
            # nprobe=2, k=5, scale=1000): deterministic sampled centroids,
            # exact-integer ||v-c||^2 assignment (ties -> lower cid), exact
            # integer dot re-rank. list_dot_product returns DOUBLE but every
            # value here is an integer < 2^53, so comparisons are exact.
            "WITH p AS (SELECT vec_id, list_transform(embedding, "
            "  x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v "
            "  FROM embeddings), "
            "st AS (SELECT GREATEST(1, CAST(ceil(count(*) / 8.0) AS BIGINT)) AS step FROM p), "
            "cent AS (SELECT cid, cv FROM ("
            "  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv "
            "  FROM p WHERE vec_id % (SELECT step FROM st) = 0) WHERE cid < 8), "
            "assign AS (SELECT n_id, nv, cid AS cluster_id FROM ("
            "  SELECT p.vec_id AS n_id, p.v AS nv, c.cid, "
            "    row_number() OVER (PARTITION BY p.vec_id ORDER BY "
            "      list_dot_product(p.v, p.v) - 2*list_dot_product(p.v, c.cv) "
            "      + list_dot_product(c.cv, c.cv) ASC, c.cid ASC) AS rk "
            "  FROM p, cent c) WHERE rk = 1), "
            "probe AS (SELECT q_id, qv, cid AS cluster_id FROM ("
            "  SELECT p.vec_id AS q_id, p.v AS qv, c.cid, "
            "    row_number() OVER (PARTITION BY p.vec_id ORDER BY "
            "      list_dot_product(p.v, p.v) - 2*list_dot_product(p.v, c.cv) "
            "      + list_dot_product(c.cv, c.cv) ASC, c.cid ASC) AS rk "
            "  FROM p, cent c WHERE p.vec_id < 10) WHERE rk <= 2) "
            "SELECT q_id, n_id, dot, rank FROM ("
            "  SELECT pr.q_id, a.n_id, "
            "    CAST(list_dot_product(pr.qv, a.nv) AS BIGINT) AS dot, "
            "    row_number() OVER (PARTITION BY pr.q_id ORDER BY "
            "      list_dot_product(pr.qv, a.nv) DESC, a.n_id ASC) AS rank "
            "  FROM probe pr JOIN assign a ON pr.cluster_id = a.cluster_id "
            "  WHERE pr.q_id != a.n_id) WHERE rank <= 5"
        ),
        "minhash_md5_pairs": _minhash_md5_sql(),
        "simhash_md5_sigs": simhash_md5_oracle_sql(),
        "embedding_near_pairs": (
            "WITH q AS (SELECT vec_id, list_transform(embedding, "
            "  x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v "
            "  FROM embeddings WHERE vec_id < 60) "
            "SELECT a, b, dot FROM ("
            "  SELECT qa.vec_id AS a, qb.vec_id AS b, "
            "    CAST(list_dot_product(qa.v, qb.v) AS BIGINT) AS dot, "
            "    CAST(list_dot_product(qa.v, qa.v) AS HUGEINT) AS na2, "
            "    CAST(list_dot_product(qb.v, qb.v) AS HUGEINT) AS nb2 "
            "  FROM q qa JOIN q qb ON qa.vec_id < qb.vec_id) "
            "WHERE dot >= 0 AND 100 * CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) "
            "  >= 9 * na2 * nb2"
        ),
        "extract_fields": (
            # mirror of the _extract_fields construction rule: the parser
            # must recover exactly what the html embeds
            "SELECT doc_id, 'Doc ' || doc_id || ' ' || source AS title, "
            "'D' || doc_id AS h1, CAST(2 AS BIGINT) AS n_headings, "
            "lang AS meta_lang, source AS meta_src FROM documents"
        ),
        "lsh_int_near_pairs": int_lsh_near_pairs_oracle_sql(
            dim=64, t_num=3, t_den=10, bits=5, rotations=4,
            where="WHERE vec_id < 200",
        ),
        "langid_counts": langid_oracle_sql(),
        "doc_fingerprints": (
            "SELECT doc_id, min(md5(substr(text, i, 16))) AS fp_md5 FROM "
            "(SELECT doc_id, text, unnest(generate_series(1, greatest(length(text)-15, 1))) AS i "
            "FROM documents) GROUP BY doc_id"
        ),
        "media_bytes": (
            "SELECT doc_id AS media_id, "
            "CASE WHEN doc_id % 2 = 0 THEN 'fake/image' ELSE 'fake/video' END AS media_type, "
            "octet_length(encode(text))::BIGINT AS n_bytes FROM documents"
        ),
        # xxhash64_hosts, crawl_two_rounds: rows-only by design
    }
