"""Deterministic stratified sampling / corpus mixing — the data-mixture
step of a training pipeline: keep each row with a per-stratum probability
(e.g. down-weight one language to 30%, keep another at 100%) WITHOUT any
RNG, so the sample is reproducible, repartition-stable, and extends
consistently when the corpus grows.

Mechanism (normative, SQL-checkable, integer-exact): a row's uniform draw
is the first 8 hex nibbles of ``md5(key || ':' || salt)`` read as a 32-bit
integer ``h ∈ [0, 2^32)``; the row survives iff ``h < floor(rate · 2^32)``.
Content-addressed like the F54 split (same reasoning: a row's fate is a
pure function of its key, never of partitioning or corpus contents), and
the comparison is integer-vs-integer — no float thresholds to drift
between engines. Changing *salt* draws an independent sample; strata pick
their threshold by the value of a column, with a default for unmatched
values.

Scale shape: one codegen'd filter over the scan — no shuffle, no Python,
no sampling pass; per-stratum kept/total counts ride one Observation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

TWO32 = 1 << 32


def hash_uniform_expr(key: Column | str, salt: str = "") -> Column:
    """32-bit content-addressed uniform draw: first 8 md5 hex nibbles of
    ``key:salt`` as a long in [0, 2^32)."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(c.cast("string"), F.lit(":" + salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def threshold(rate: float) -> int:
    """floor(rate · 2^32), clamped — the integer survival threshold."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return min(int(rate * TWO32), TWO32)


def keep_expr(
    key: Column | str,
    rate: float,
    by: Column | str | None = None,
    rates: dict[str, float] | None = None,
    salt: str = "",
) -> Column:
    """Boolean survival predicate. With *by*/*rates*, the row's stratum
    (the value of *by*) selects its rate; *rate* is the default for
    unmatched strata (and the only rate when *by* is None). NULL stratum
    uses the default."""
    u = hash_uniform_expr(key, salt)
    thr = F.lit(threshold(rate))
    if by is not None and rates:
        b = F.col(by) if isinstance(by, str) else by
        for value, r in sorted(rates.items()):
            thr = F.when(b == value, F.lit(threshold(r))).otherwise(thr)
    return u < thr


def hash_uniform_oracle_sql(key_expr: str, salt: str = "") -> str:
    """DuckDB mirror of hash_uniform_expr (nibble decode of md5 hex)."""
    h = f"md5(CAST({key_expr} AS VARCHAR) || ':{salt}')"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {j + 1}, 1)) - 1)"
        f" * {16 ** (7 - j)}"
        for j in range(8)
    )
    return f"CAST({terms} AS BIGINT)"


def sample_corpus(
    spark,
    corpus_path: str,
    out_path: str,
    rate: float,
    by: str | None = None,
    rates: dict[str, float] | None = None,
    salt: str = "",
) -> dict:
    """Sampled/mixed derived product of an exported corpus: rows surviving
    the content-addressed draw keyed on canon_url, all columns untouched
    (sampling selects rows, never rewrites them — annotations stay valid).
    With *by*/*rates* this is the mixture step: per-stratum keep rates over
    e.g. the ``langid`` or ``split`` column. Per-stratum in/kept counts
    ride ONE observe; ``sampled_from`` manifest refuses corpus extension.

    Deterministic end-to-end: the same (corpus, rate(s), salt) always
    yields the same sample, and a row's fate never changes when other rows
    appear — the property that makes incremental re-exports + re-sampling
    coherent. Returns ``{"rows_in", "rows_out", "by_stratum", "out_path"}``.
    """
    from indigo_crawler_spark.plans.export import (
        _read_source,
        _write_product,
        _write_product_manifest,
    )

    src, df = _read_source(spark, corpus_path, "sample")
    if rates and not by:
        raise ValueError("rates requires by")
    if by and by not in df.columns:
        raise RuntimeError(
            f"stratum column {by!r} not in corpus columns {df.columns} "
            "— annotate/split the export first"
        )
    keep = keep_expr("canon_url", rate, by=by, rates=rates, salt=salt)

    obs = Observation()
    stats = [
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(keep.cast("long")).alias("rows_out"),
    ]
    strata = sorted(rates) if rates else []
    for v in strata:
        m = F.col(by) == v
        stats.append(F.sum(m.cast("long")).alias(f"in_{v}"))
        stats.append(F.sum((m & keep).cast("long")).alias(f"out_{v}"))
    _write_product(df.observe(obs, *stats).where(keep), out_path)
    got = obs.get
    rows_in, rows_out = int(got["rows_in"]), int(got["rows_out"] or 0)
    by_stratum = {
        v: {"rows_in": int(got[f"in_{v}"] or 0), "rows_out": int(got[f"out_{v}"] or 0)}
        for v in strata
    }
    _write_product_manifest(
        out_path,
        src,
        rows_out,
        sampled_from=corpus_path,
        rate=rate,
        by=by,
        rates=rates,
        salt=salt,
        rows_in=rows_in,
        by_stratum=by_stratum,
    )
    return {
        "rows_in": rows_in,
        "rows_out": rows_out,
        "by_stratum": by_stratum,
        "out_path": out_path,
    }
