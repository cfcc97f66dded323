"""A small round sizes its reduce-partition count by its committed row bound
(``_SMALL_ROUND_ROWS_PER_TASK``), so the count changes with the crawl's
size. The committed state must not: the same TINY crawl — bloom and cuckoo
membership filters, a retire batch between rounds — run at the derived
count and at eight or more reduce partitions per round commits identical
rows in every table (the filter bytes included) and identical manifests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from fixtures.gen import TINY, fixture_bundle
from indigo_crawler_spark.config import CrawlConfig
from indigo_crawler_spark.operators.retire import retire_urls
from indigo_crawler_spark.plans import round as round_mod
from indigo_crawler_spark.plans.round import CrawlState, bootstrap, run_rounds
from indigo_crawler_spark.sources.fixture_df import (
    budgets_df,
    pages_df,
    robots_df,
    seeds_df,
)
from indigo_crawler_spark.sources.table_io import TableIO

N_ROUNDS = 3


def _crawl(spark, root, filter_kind, monkeypatch, rows_per_task):
    """Bootstrap + round 0, retire round 0's seen urls, then rounds 1..2;
    returns the reduce-partition count each round's scope set."""
    monkeypatch.setattr(round_mod, "_SMALL_ROUND_ROWS_PER_TASK", rows_per_task)
    counts = []
    scope = round_mod.session_conf

    def spy(spark_, **overrides):
        if "spark.sql.shuffle.partitions" in overrides:
            counts.append(int(overrides["spark.sql.shuffle.partitions"]))
        return scope(spark_, **overrides)

    monkeypatch.setattr(round_mod, "session_conf", spy)
    cfg = CrawlConfig(
        round_limit=50,
        num_buckets=16,
        filter_kind=filter_kind,
        # a small filter per pk: cuckoo buckets collide and kick, so a
        # fingerprint's slot depends on the order its batch inserts in
        bloom_bucket_capacity=16,
    )
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
    run_rounds(spark, state, 1)
    urls = state.io.read("seen/round=0").select(F.col("canon_url").alias("url"))
    assert retire_urls(state, urls) > 0
    run_rounds(spark, state, N_ROUNDS)
    monkeypatch.undo()
    return counts


def _committed(spark, root):
    """Every committed table (a dir holding ``_SUCCESS``) as sorted rows,
    plus every manifest."""
    tables = {}
    for dirpath, _dirs, files in os.walk(root):
        if "_SUCCESS" in files:
            rows = spark.read.parquet(dirpath).collect()
            tables[os.path.relpath(dirpath, root)] = sorted(
                (tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
                 for r in rows),
                key=repr,
            )
    manifests = {
        name: json.loads((root / "manifest" / name).read_text())
        for name in sorted(os.listdir(root / "manifest"))
    }
    return tables, manifests


@pytest.mark.parametrize("filter_kind", ["bloom", "cuckoo"])
def test_committed_state_independent_of_reduce_partitions(
    spark, tmp_path, monkeypatch, filter_kind
):
    derived = _crawl(
        spark,
        tmp_path / "derived",
        filter_kind,
        monkeypatch,
        round_mod._SMALL_ROUND_ROWS_PER_TASK,
    )
    # one row per reduce task: every round runs at its frontier bound's
    # count of partitions, 10 at TINY's smallest
    many = _crawl(spark, tmp_path / "many", filter_kind, monkeypatch, 1)
    assert derived == [1] * N_ROUNDS
    assert len(many) == N_ROUNDS and min(many) >= 8

    tables_d, manifests_d = _committed(spark, tmp_path / "derived")
    tables_m, manifests_m = _committed(spark, tmp_path / "many")
    assert {"seen_bloom/round=2", "retired", "frontier/round=3"} <= set(tables_d)
    assert sorted(tables_d) == sorted(tables_m)
    for name, rows in tables_d.items():
        assert rows == tables_m[name], name
    assert manifests_d == manifests_m
