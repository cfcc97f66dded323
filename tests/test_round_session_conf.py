"""A round scopes the session conf it changes: whatever it lowers for a
small round is handed back as found when the round ends, and a round whose
frontier bound is unknown runs at the session's own settings."""

from __future__ import annotations

import pytest

from fixtures.gen import TINY, fixture_bundle
from indigo_crawler_spark.config import CrawlConfig
from indigo_crawler_spark.operators.inject import inject_seeds
from indigo_crawler_spark.plans import round as round_mod
from indigo_crawler_spark.plans.round import CrawlState, bootstrap, run_rounds
from indigo_crawler_spark.sources.fixture_df import (
    budgets_df,
    pages_df,
    robots_df,
    seeds_df,
)
from indigo_crawler_spark.sources.table_io import TableIO


def _bootstrapped(spark, root):
    cfg = CrawlConfig(round_limit=50, num_buckets=16, bloom_bucket_capacity=64)
    fb = fixture_bundle(**TINY)
    state = CrawlState(io=TableIO(spark, str(root)), cfg=cfg)
    bootstrap(
        spark,
        pages_df(spark, fb["pages"]),
        seeds_df(spark, fb["seeds"]),
        robots_df(spark, fb["robots"]),
        budgets_df(spark, fb["host_budgets"]),
        state,
    )
    return state


# TINY's frontier bound is far below _SMALL_ROUND_ROWS_PER_TASK rows, so a
# round runs its shuffles at the rule's floor of one reduce partition
@pytest.mark.parametrize(
    "key, small_round_value",
    [("spark.sql.shuffle.partitions", "1"), ("spark.sql.adaptive.enabled", "false")],
)
def test_round_restores_unset_conf(spark, tmp_path, key, small_round_value):
    """On a session that never set *key*, a small round (which runs at a
    lowered partition count with AQE off) must leave the key as it found it:
    unset, reading the session default — not its own small-round value."""
    state = _bootstrapped(spark, tmp_path / "crawl")
    configured = spark.conf.get(key, None)
    seen_in_round = []
    scope = round_mod.session_conf

    def spy(spark_, **overrides):
        seen_in_round.append(overrides.get(key))
        return scope(spark_, **overrides)

    try:
        spark.conf.unset(key)
        before = spark.conf.get(key)
        assert before != small_round_value  # the session default
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(round_mod, "session_conf", spy)
            run_rounds(spark, state, 1)
        assert seen_in_round[0] == small_round_value  # the round's own scope
        assert spark.conf.get(key, None) is None
        assert spark.conf.get(key) == before
    finally:
        if configured is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, configured)


def test_round_with_unknown_bound_keeps_session_conf(spark, tmp_path):
    """Injected seeds leave a round's frontier bound uncounted: the round
    plans at scale, so its round-wide scope sets neither the reduce-partition
    count nor AQE and runs at the session's values."""
    state = _bootstrapped(spark, tmp_path / "crawl")
    assert inject_seeds(
        state,
        spark.createDataFrame(
            [("https://brand-new-host.example.org/landing",)], "url string"
        ),
    ) == 1
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    session = {key: spark.conf.get(key) for key in keys}
    in_round = []
    scope = round_mod.session_conf

    def spy(spark_, **overrides):
        in_round.append(({key: spark_.conf.get(key) for key in keys}, overrides))
        return scope(spark_, **overrides)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(round_mod, "session_conf", spy)
        run_rounds(spark, state, 1)
    found, overrides = in_round[0]  # the round-wide scope, entered first
    assert found == session
    assert not set(overrides) & set(keys)
    assert {key: spark.conf.get(key) for key in keys} == session
