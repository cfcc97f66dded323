"""TableIO.read(cached=True) — lazy-plan reuse semantics (r6).

The cache memoizes the DataFrame PLAN object per table, never data: a
cached read after a write/rewrite/delete must re-list the directory and see
the new content, because parquet relations pin their file listing at
creation time and part-file names change on every overwrite.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from indigo_crawler_spark.sources.table_io import TableIO


@pytest.fixture()
def io(spark, tmp_path):
    return TableIO(spark, str(tmp_path))


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v int")


def test_cached_read_reuses_plan_object(spark, io):
    io.write(_df(spark, [1, 2, 3]), "t")
    a = io.read("t", cached=True)
    b = io.read("t", cached=True)
    assert a is b  # same lazy plan, no relisting
    assert io.read("t") is not a  # uncached read never populates nor hits


def test_write_invalidates_cache(spark, io):
    io.write(_df(spark, [1, 2, 3]), "t")
    a = io.read("t", cached=True)
    assert sorted(r.v for r in a.collect()) == [1, 2, 3]
    io.write(_df(spark, [7, 8]), "t")
    b = io.read("t", cached=True)
    assert b is not a  # stale listing dropped at the write seam
    assert sorted(r.v for r in b.collect()) == [7, 8]


def test_rewrite_and_delete_invalidate(spark, io):
    io.write(_df(spark, [1, 2, 3]), "t")
    a = io.read("t", cached=True)
    io.rewrite(io.read("t").where(F.col("v") > 1), "t")
    b = io.read("t", cached=True)
    assert b is not a
    assert sorted(r.v for r in b.collect()) == [2, 3]
    io.delete("t")
    assert not io.exists("t")
    assert "t" not in io._read_cache


def test_missing_dir_never_cached(spark, io):
    from indigo_crawler_spark.plans import schemas

    empty = io.read("absent", schemas.SEEN, cached=True)
    assert empty.count() == 0
    assert "absent" not in io._read_cache
    io.write(_df(spark, [1]), "absent")
    assert io.read("absent", cached=True).count() == 1  # sees the new table


def test_nested_path_invalidation(spark, io):
    io.write(_df(spark, [1]), "chain/round=0")
    io.write(_df(spark, [2]), "chain/round=1")
    a0 = io.read("chain/round=0", cached=True)
    # a write to a SIBLING dir must not invalidate round=0 ...
    io.write(_df(spark, [3]), "chain/round=2")
    assert io.read("chain/round=0", cached=True) is a0
    # ... but a write to the parent path must drop every nested entry
    io._invalidate("chain")
    assert "chain/round=0" not in io._read_cache


def test_cached_read_keys_by_schema(spark, io):
    """Two cached reads of one table with different schemas each get their
    own plan and columns — a cached plan built under one schema is never
    handed to a read that asked for another."""
    io.write(spark.createDataFrame([(1, "a")], "v int, w string"), "t")
    narrow = io.read("t", StructType([StructField("v", IntegerType())]), cached=True)
    wide = io.read(
        "t",
        StructType([StructField("v", IntegerType()), StructField("w", StringType())]),
        cached=True,
    )
    assert narrow.columns == ["v"]
    assert wide.columns == ["v", "w"]
    assert [tuple(r) for r in wide.collect()] == [(1, "a")]
    assert io.read("t", narrow.schema, cached=True) is narrow
    io.write(_df(spark, [2]), "t")
    assert "t" not in io._read_cache  # a write drops every schema's plan
