"""Token-budget shard packing — the training-data handoff's last step:
assign each document a shard id so that consecutive documents (in a
deterministic total order) fill shards of ~``shard_tokens`` weight each,
and training jobs can read one shard = one work unit of near-uniform cost.

Packing rule (normative, SQL-checkable): order rows by *order_cols*, take
the EXCLUSIVE running sum of the weight column, and

    shard_id = floor(exclusive_cumsum / shard_tokens)

i.e. a document starts a new shard exactly when the weight already packed
reaches the budget. Shards may overshoot by at most one document (the
greedy close-at-boundary rule) — the property training pipelines want,
since splitting a document across shards is not an option. Oversized
single documents get a shard of their own; zero-weight documents ride the
current shard. The rule is a pure function of (order, weights), so the
assignment is deterministic and mirrored exactly by an ANSI window
``SUM(w) OVER (ORDER BY ... ROWS BETWEEN UNBOUNDED PRECEDING AND 1
PRECEDING)`` (driver query ``token_shards``).

Scale shape (100 TB): the classic two-phase distributed prefix sum — the
same shape as operators/politeness.global_rank, NOT a single-partition
window (the classic global-cumsum scalability trap):

1. range-partition + local sort on the order key; ONE driver collect of
   per-partition weight sums (`P` tiny rows) → exclusive partition offsets.
2. one mapInPandas pass: each partition adds its broadcast offset to its
   local running sum. No global shuffle beyond the range exchange; the
   collect is O(partitions), never O(rows).

The intermediate MUST stay cached until the output is materialized —
recomputation could re-sample different range bounds and invalidate the
offsets (same contract as global_rank; the caller-facing helpers here
handle persist/unpersist internally around their single action).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def pack_shards(
    df: DataFrame,
    shard_tokens: int,
    weight_col: str,
    order_cols: list[str],
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Assign ``shard_id`` (long) by the exclusive-cumsum packing rule.

    Returns (packed_df, cached): *cached* is the range-partitioned
    intermediate backing the output — the caller must keep it persisted
    until packed_df is materialized, then unpersist it (range bounds are
    sampled; a recompute could shift rows across partitions and break the
    offsets). Weights are read as longs; NULL weighs 0. *num_partitions*
    pins the range-exchange width (default: Spark/AQE decide — set it when
    the input's natural width would over- or under-parallelize the pass).
    """
    if shard_tokens <= 0:
        raise ValueError(f"shard_tokens must be positive, got {shard_tokens}")
    w = F.coalesce(F.col(weight_col).cast("long"), F.lit(0))
    range_args = ([num_partitions] if num_partitions else []) + list(order_cols)
    s = (
        df.withColumn("_w", w)
        .repartitionByRange(*range_args)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    s = s.persist()
    sums = s.groupBy("_pid").agg(F.sum("_w").alias("t")).collect()
    totals = {r["_pid"]: int(r["t"] or 0) for r in sums}
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]

    out_schema = StructType(
        [f for f in s.schema.fields if f.name not in ("_w", "_pid")]
        + [StructField("shard_id", LongType())]
    )
    col_names = [f.name for f in out_schema.fields]
    budget = int(shard_tokens)

    def assign(batches):
        local = 0  # running weight within this partition, across batches
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = offsets[int(pdf["_pid"].iloc[0])]
            csum = pdf["_w"].cumsum()  # inclusive
            excl = base + local + csum - pdf["_w"]  # exclusive prefix
            out = pdf.drop(columns=["_w", "_pid"])
            out["shard_id"] = (excl // budget).astype("int64")
            local += int(csum.iloc[-1])
            yield out[col_names]

    return s.mapInPandas(assign, out_schema), s


def shard_corpus(
    spark,
    corpus_path: str,
    out_path: str,
    shard_tokens: int,
) -> dict:
    """Shard-packed derived product of an exported corpus: rows keep every
    corpus column, gain ``shard_id``, and land in ``shard_id=N`` parquet
    directories sized to ~*shard_tokens* whitespace tokens each (stored
    ``n_words`` when the corpus is annotated, recomputed otherwise —
    identical either way, the expr is a pure function of text).

    Order is (canon_url) — content-addressed and stable across re-exports,
    so re-sharding an unchanged corpus is byte-identical. One range
    exchange + one O(partitions) collect + one write; the shard layout
    write clusters by shard_id so each shard dir is one file at production
    shuffle widths. Refuses an un-exported path; the shard manifest records
    budget and shard count; a shard dir is a derived product (not an
    extendable corpus).
    """
    from indigo_crawler_spark.plans.export import (
        _read_source,
        _write_product,
        _write_product_manifest,
    )

    src, df = _read_source(spark, corpus_path, "shard")
    if "n_words" not in df.columns:
        from indigo_crawler_spark.functions.text_analysis import (
            whitespace_token_count,
        )

        df = df.withColumn("n_words", whitespace_token_count(F.col("text")))
    packed, cached = pack_shards(
        df, shard_tokens, weight_col="n_words", order_cols=["canon_url"]
    )
    try:
        from pyspark.sql import Observation

        obs = Observation()
        packed = packed.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.max("shard_id").alias("last_shard"),
            F.sum(F.coalesce(F.col("n_words").cast("long"), F.lit(0))).alias(
                "tokens"
            ),
        )
        _write_product(packed, out_path, by="shard_id")
        got = obs.get
        rows = int(got["rows"])
        n_shards = int(got["last_shard"]) + 1 if rows else 0
        tokens = int(got["tokens"] or 0)
    finally:
        cached.unpersist()
    _write_product_manifest(
        out_path,
        src,
        rows,
        sharded_from=corpus_path,
        shard_tokens=int(shard_tokens),
        n_shards=n_shards,
        total_tokens=tokens,
    )
    return {
        "rows": rows,
        "n_shards": n_shards,
        "total_tokens": tokens,
        "out_path": out_path,
    }
