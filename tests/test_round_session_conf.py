"""A round scopes the session conf it changes: whatever it lowers for a
small round is handed back as found when the round ends."""

from __future__ import annotations

from fixtures.gen import TINY, fixture_bundle
from indigo_crawler_spark.config import CrawlConfig
from indigo_crawler_spark.plans.round import CrawlState, bootstrap, run_rounds
from indigo_crawler_spark.sources.fixture_df import (
    budgets_df,
    pages_df,
    robots_df,
    seeds_df,
)
from indigo_crawler_spark.sources.table_io import TableIO

KEY = "spark.sql.shuffle.partitions"


def test_round_restores_unset_shuffle_partitions(spark, tmp_path):
    """On a session that never set spark.sql.shuffle.partitions, a small
    round (which runs at a lowered partition count) must leave the
    effective value as it found it — not its own small-round value."""
    cfg = CrawlConfig(round_limit=50, num_buckets=16, bloom_bucket_capacity=64)
    fb = fixture_bundle(**TINY)
    state = CrawlState(io=TableIO(spark, str(tmp_path / "crawl")), cfg=cfg)
    bootstrap(
        spark,
        pages_df(spark, fb["pages"]),
        seeds_df(spark, fb["seeds"]),
        robots_df(spark, fb["robots"]),
        budgets_df(spark, fb["host_budgets"]),
        state,
    )
    configured = spark.conf.get(KEY)
    try:
        spark.conf.unset(KEY)
        before = spark.conf.get(KEY)
        assert before != configured  # the session default, not the fixture's
        run_rounds(spark, state, 1)
        assert spark.conf.get(KEY) == before
    finally:
        spark.conf.set(KEY, configured)
