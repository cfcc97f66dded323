"""A round scopes the session conf it changes: whatever it lowers for a
small round is handed back as found when the round ends."""

from __future__ import annotations

import pytest

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

@pytest.mark.parametrize(
    "key, small_round_value",
    [("spark.sql.shuffle.partitions", "8"), ("spark.sql.adaptive.enabled", "false")],
)
def test_round_restores_unset_conf(spark, tmp_path, key, small_round_value):
    """On a session that never set *key*, a small round (which runs at a
    lowered partition count with AQE off) must leave the key as it found it:
    unset, reading the session default — not its own small-round value."""
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
    configured = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        before = spark.conf.get(key)
        assert before != small_round_value  # the session default
        run_rounds(spark, state, 1)
        assert spark.conf.get(key, None) is None
        assert spark.conf.get(key) == before
    finally:
        if configured is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, configured)
