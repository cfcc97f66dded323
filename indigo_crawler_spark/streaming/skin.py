"""Structured-Streaming skin over the batch round (SURVEY.md §2.10).

The engine is *batch rounds* by spec (BASELINE.json:6); this skin exists so
a stream of page-discovery events can drive the SAME round function without
reinventing semantics: ``foreachBatch`` ingests every micro-batch of newly
discovered pages into the fetchable store, then advances one scheduler
round. State (frontier/seen/blooms) lives in the CrawlState dir exactly as
in batch mode, so batch and streaming runs are interchangeable and resume
from the same manifests.

Streamed pages become FETCHABLE: ``ingest_pages`` canonicalizes, keys and
in-batch-dedups each micro-batch into ``page_store_stream``; the round's
fetch stage reads ``CrawlState.fetchable_store`` = page_store ∪
page_store_stream with the same min (warc_ts, url) tie-break per canon_url
as bootstrap (the union dedups only the pk-pruned slice a round actually
touches, so batch-mode rounds pay nothing). The static ``host_counts``
priority input is intentionally NOT updated by streamed pages — priorities
stay a pure function of the bootstrap corpus (SEMANTICS.md §Priority), and
the oracle mirrors this via ``OracleCrawl.add_pages``.

Late data: bound by ``withWatermark("warc_ts", ...)`` before the sink; rows
older than the watermark are dropped by Spark before reaching the round.
No streaming joins or session windows are needed (SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from indigo_crawler_spark.functions.keys import host_expr, host_hash_expr, pk_expr
from indigo_crawler_spark.functions.udfs import make_canonicalize_udf
from indigo_crawler_spark.operators.dedup import dedup_min_by
from indigo_crawler_spark.plans.round import CrawlState, last_complete_round, run_round


def ingest_pages(batch_df: DataFrame, state: CrawlState) -> None:
    """Append one micro-batch of raw pages (PAGES schema) into the fetchable
    store: canonicalize (quarantine nulls), key by (host, pk), keep the min
    (warc_ts, url) row per canon_url within the batch, append as
    ``page_store_stream``. Cross-batch/store duplicates are resolved at
    fetch time by ``CrawlState.fetchable_store`` with the same tie-break."""
    cfg = state.cfg
    pc = (
        batch_df.withColumn(
            "canon_url",
            make_canonicalize_udf(cfg.canon_policy)(F.col("url")),
        )
        .where(F.col("canon_url").isNotNull())
        .withColumn("host", host_expr("canon_url"))
    )
    rows = dedup_min_by(
        pc.withColumn(
            "pk", pk_expr(host_hash_expr(F.col("host")), cfg.num_buckets)
        ).select("canon_url", "host", "pk", "url", "warc_ts", "html", "lang"),
        "canon_url",
        ["warc_ts", "url"],
    )
    rows.write.mode("append").parquet(state.io.path("page_store_stream"))


def stream_rounds(
    pages_stream: DataFrame,
    state: CrawlState,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
):
    """Attach the batch round to a streaming source of pages.

    Returns the StreamingQuery. Each micro-batch: ingest new pages into the
    fetchable store, then run one round — streamed URLs already in the
    frontier are fetched the next time they are emitted."""

    def advance(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.isEmpty():
            ingest_pages(batch_df, state)
        done = last_complete_round(state)
        next_round = 0 if done is None else done + 1
        run_round(spark, state, next_round, with_counters=False)

    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .writeStream.foreachBatch(advance)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
