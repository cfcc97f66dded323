"""Corpus export — fold per-round ``fetched_text`` deltas into ONE stable
corpus table (SURVEY.md §2, E39/E41): the handoff from the crawl's
round-versioned state to a downstream training-data pipeline that wants "the
latest text for every url ever fetched" as a single partitioned parquet table.

Semantics: one row per canon_url, the text from the LATEST committed round
that fetched it — a url appears in more than one round only through the
retire → rediscovery path (operators/retire.py), and the re-crawl supersedes
the original. Ties are impossible (a round fetches a url at most once), so
``max_by(row, fetch_round)`` is deterministic.

Scale shape (100 TB): one union of the round deltas (a metadata-only plan
concat — no shuffle), one partial+final hash aggregation keyed on canon_url
(map-side combine collapses in-round-unique keys almost entirely), one
partitioned write bucketed by the same pk = pmod(xxh64(host), num_buckets)
the engine uses everywhere — so a downstream join against ``page_store`` or
a per-host groupBy starts co-located. No window, no driver collect; the row
count rides the write via ``observe``.

Incremental export (E41): a months-long crawl re-exports after every few
rounds, and re-folding ALL rounds each time is O(total corpus) per export.
When *out_path* already holds an export (its ``_export_manifest.json`` is
present), only the rounds AFTER the previous export's ``through_round`` are
folded: the delta's distinct pk set (≤ num_buckets values) selects which
corpus buckets can change, the previous export is read partition-pruned to
exactly those ``pk=`` directories, merged with the delta by the same
``max_by(fetch_round)`` (prev rounds < new rounds, so supersession order is
preserved by construction), and ONLY those bucket directories are replaced —
a staged write plus per-directory swap, so cost is O(delta + affected
buckets), not O(corpus). On an Iceberg deployment the swap maps to
``MERGE INTO`` / dynamic partition overwrite; here it is explicit so the
commit discipline is inspectable. The export manifest is written LAST; a
crash mid-swap is repaired on the next run (``__old`` backup restore, same
protocol as TableIO.rewrite) and re-running the export is idempotent because
the merge recomputes the same latest-row-per-url regardless of which buckets
already swapped.

A round whose ``fetched_text`` was reclaimed by ``--gc-drop-outputs``
(plans/state_gc.py) cannot be exported — detected from the gc manifest and
raised loudly rather than silently shipping a partial corpus. Incremental
export only needs the NEW rounds' deltas, so a state dir whose old products
were already gc-dropped can still extend an existing export (the corpus
itself carries the history) — only a from-scratch export is refused then.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from indigo_crawler_spark.functions.keys import host_expr, host_hash_expr, pk_expr
from indigo_crawler_spark.plans import schemas
from indigo_crawler_spark.plans.round import CrawlState, last_complete_round

MANIFEST = "_export_manifest.json"

# on-disk corpus schema; pk is a partition directory (pk=N), recovered via
# basePath partition discovery on read
CORPUS_SCHEMA = StructType(
    [
        StructField("canon_url", StringType()),
        StructField("host", StringType()),
        StructField("fetch_round", IntegerType()),
        StructField("text", StringType()),
        StructField("pk", IntegerType()),
    ]
)


def _read_export_manifest(out_path: str) -> dict | None:
    p = os.path.join(out_path, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _write_export_manifest(out_path: str, payload: dict) -> None:
    """Atomic publish (tmp + rename) — the export's commit record, written
    LAST so a crashed export never advances ``through_round``."""
    os.makedirs(out_path, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=out_path, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(out_path, MANIFEST))


def _pk_dir(out_path: str, pk: int) -> str:
    return os.path.join(out_path, f"pk={pk}")


def _repair_swaps(out_path: str) -> None:
    """Heal a crash mid-swap: a ``pk=N__old`` backup whose live dir is gone
    is restored (the previous export content is never lost mid-protocol)."""
    if not os.path.isdir(out_path):
        return
    for name in os.listdir(out_path):
        if name.endswith("__old"):
            live = os.path.join(out_path, name[: -len("__old")])
            if not os.path.isdir(live):
                os.rename(os.path.join(out_path, name), live)
            else:
                shutil.rmtree(os.path.join(out_path, name))


def _pk_rows(out_path: str, pk: int) -> int:
    """Row count for one bucket straight from the parquet footers — a
    driver-side metadata walk, zero Spark jobs (same discipline as
    TableIO.file_row_count)."""
    import pyarrow.parquet as pq

    d = _pk_dir(out_path, pk)
    total = 0
    if os.path.isdir(d):
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return total


# page-level indexing-signal columns a crawl may have written alongside the
# extracted text (SEMANTICS.md §Meta robots / §Canonical link), with the
# config flag that gates each — checked in this order
_SIGNAL_COLS = (
    ("noindex", BooleanType(), "meta_robots_enabled"),
    ("canonical_url", StringType(), "rel_canonical_enabled"),
    ("redirect", BooleanType(), "meta_refresh_enabled"),
)


def _fetched_text_signals(state: CrawlState, first: int, last: int) -> list[str]:
    """Which indexing-signal columns this crawl's fetched_text rounds carry
    (noindex under meta_robots_enabled, canonical_url under
    rel_canonical_enabled). The DATA decides, not this invocation's config:
    the signals are properties of the committed crawl, and an --export run
    without the flags must not silently ship pages the crawl marked
    non-indexable or canonical-superseded. Parquet footer schema of the
    first non-empty round — driver-side, zero Spark jobs (same access
    pattern as ``_pk_rows``). No files at all → fall back to the config
    flags."""
    import pyarrow.parquet as pq

    for r in range(first, last + 1):
        d = state.io.path(f"fetched_text/round={r}")
        if not os.path.isdir(d):
            continue
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                names = pq.ParquetFile(os.path.join(d, f)).schema_arrow.names
                return [c for c, _, _ in _SIGNAL_COLS if c in names]
    return [c for c, _, flag in _SIGNAL_COLS if getattr(state.cfg, flag)]


def _delta_union(
    state: CrawlState, first: int, last: int, num_buckets: int
) -> tuple[DataFrame, list[int]]:
    """Union of fetched_text rounds *first..last* with fetch_round/host/pk
    attached — refuses rounds already reclaimed by --gc-drop-outputs."""
    reclaimed = set((state.io.read_manifest("gc") or {}).get("reclaimed", []))
    signals = _fetched_text_signals(state, first, last)
    parts, rounds = [], []
    for r in range(first, last + 1):
        table = f"fetched_text/round={r}"
        if table in reclaimed:
            raise RuntimeError(
                f"{table} was reclaimed by gc --gc-drop-outputs; the corpus "
                f"through round {last} can no longer be assembled from this "
                "state dir"
            )
        # a committed round with zero fetches writes an empty table; missing
        # dir → empty frame via the schema fallback either way.
        # Signal columns the crawl wrote (noindex / canonical_url) ride the
        # read schema; rounds fetched before a flag existed read as NULL
        # (noindex coalesced to False below; NULL canonical = none).
        schema = StructType(
            schemas.FETCHED_TEXT.fields
            + [
                StructField(c, typ)
                for c, typ, _ in _SIGNAL_COLS
                if c in signals
            ]
        )
        parts.append(
            state.io.read(table, schema).withColumn("fetch_round", F.lit(r))
        )
        rounds.append(r)
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    cols = [
        F.col("canon_url"),
        host_expr("canon_url").alias("host"),
        F.col("fetch_round").cast("int").alias("fetch_round"),
        F.col("text"),
        pk_expr(host_hash_expr(host_expr("canon_url")), num_buckets).alias("pk"),
    ]
    if "noindex" in signals:
        cols.append(F.coalesce(F.col("noindex"), F.lit(False)).alias("noindex"))
    if "canonical_url" in signals:
        cols.append(F.col("canonical_url"))
    if "redirect" in signals:
        cols.append(
            F.coalesce(F.col("redirect"), F.lit(False)).alias("redirect")
        )
    return union.select(*cols), rounds


def _latest_per_url(df: DataFrame) -> DataFrame:
    """One partial+final hash agg: latest row per canon_url by fetch_round
    (host/pk ride the struct — they are functions of the url, so any row's
    values agree; text is the superseding fetch's). Signal columns
    (``noindex`` / ``canonical_url``) ride the struct too — the LATEST
    fetch's directives decide the url's corpus membership."""
    extra = [c for c, _, _ in _SIGNAL_COLS if c in df.columns]
    return (
        df.select(
            "canon_url",
            F.struct("fetch_round", "host", "text", "pk", *extra).alias("_row"),
        )
        .groupBy("canon_url")
        .agg(F.max_by("_row", F.col("_row.fetch_round")).alias("_row"))
        .select(
            "canon_url",
            "_row.host",
            "_row.fetch_round",
            "_row.text",
            "_row.pk",
            *[f"_row.{c}" for c in extra],
        )
    )


def _drop_flagged(
    df: DataFrame, col: str, metric: str
) -> tuple[DataFrame, Observation | None]:
    """Drop rows whose LATEST fetch set boolean *col* (REP noindex —
    SEMANTICS.md §Meta robots; delay-0 meta-refresh redirect — §Meta
    refresh) — after the latest-per-url merge (so a clean re-fetch restores
    the url), before annotation (dropped rows are never annotated). The
    dropped count (*metric*) rides the caller's write via Observation —
    zero extra jobs. No-op (None observation) when the corpus does not
    carry the column."""
    if col not in df.columns:
        return df, None
    obs = Observation()
    df = df.observe(
        obs,
        F.coalesce(F.sum(F.col(col).cast("int")), F.lit(0)).alias(metric),
    )
    return df.where(~F.col(col)).drop(col), obs


def _collapse_canonical(
    df: DataFrame, targets: DataFrame | None = None
) -> tuple[DataFrame, Observation | None]:
    """Honor rel=canonical (SEMANTICS.md §Canonical link): a row whose
    LATEST fetch declared a canonical target DIFFERENT from its own
    canon_url leaves the corpus iff that target is itself present — the
    canonical version supersedes its variants; a variant whose target was
    never fetched keeps its content. Presence is evaluated single-pass
    against the post-noindex, pre-collapse corpus (*targets* extends it for
    incremental merges where the target may live in an unrewritten bucket).
    One id-only self-join on the url key; the collapsed count rides the
    caller's write via Observation. No-op when the corpus carries no
    canonical_url column."""
    if "canonical_url" not in df.columns:
        return df, None
    present = df.select(F.col("canon_url").alias("canonical_url"))
    if targets is not None:
        present = present.unionByName(
            targets.select(F.col("canon_url").alias("canonical_url"))
        )
    present = present.distinct().withColumn("_present", F.lit(True))
    foreign = F.col("canonical_url").isNotNull() & (
        F.col("canonical_url") != F.col("canon_url")
    )
    collapse = foreign & F.coalesce(F.col("_present"), F.lit(False))
    obs = Observation()
    out = (
        df.join(present, on="canonical_url", how="left")
        .observe(
            obs,
            F.coalesce(F.sum(collapse.cast("int")), F.lit(0)).alias(
                "canonical_collapsed"
            ),
        )
        .where(~collapse)
        .drop("_present", "canonical_url")
    )
    return out, obs


def _annotate(df: DataFrame) -> DataFrame:
    """Training-pipeline annotation columns — pure deterministic functions
    of ``text`` built from the proven text-analysis exprs (each backed by a
    SQL-checked driver query on the documents table), so annotating AFTER
    the incremental merge reproduces exactly what a full export computes:
    ``text_sha`` (exact-dedup / provenance key), token + quality signals,
    stopword-overlap language id. All codegen'd column expressions — the
    text column crosses nothing; no Python in the plan."""
    from indigo_crawler_spark.functions.text_analysis import (
        langid_expr,
        quality_exprs,
    )

    q = quality_exprs(F.col("text"))
    return (
        df.withColumn("text_sha", F.sha2(F.col("text"), 256))
        .withColumn("n_chars", q["n_chars"])
        .withColumn("n_words", q["n_words"])
        .withColumn("punct_ratio", q["punct_ratio"])
        .withColumn("langid", langid_expr(F.col("text")))
    )


def _split_cols(df: DataFrame) -> DataFrame:
    """Deterministic train/valid/test assignment keyed on canon_url
    (functions/text_analysis.hash_split_expr — SQL-checked driver query
    `hash_split`). Content-addressed, so a url's split never changes when
    the corpus is extended incrementally or re-exported — computing it
    post-merge is therefore exactly equal to a full export's columns."""
    from indigo_crawler_spark.functions.text_analysis import hash_split_expr

    bucket, split = hash_split_expr(F.col("canon_url"))
    return df.withColumn("split_bucket", bucket).withColumn("split", split)


def _reannotate(df: DataFrame, annotated: bool, split: bool) -> DataFrame:
    """Add the annotation and/or split columns. Both are pure functions of
    text/canon_url, so a stage that rewrites ``text`` recomputes them after
    the rewrite instead of copying stale ones."""
    if annotated:
        df = _annotate(df)
    if split:
        df = _split_cols(df)
    return df


def _text_base(df: DataFrame) -> tuple[DataFrame, dict]:
    """For a stage that rewrites ``text``: the source projected to the base
    corpus schema, plus the ``annotated``/``split`` flags it carried (for
    _reannotate and the product manifest). The projection keeps stale
    annotations off any shuffle key and prunes the parquet read."""
    flags = {"annotated": "text_sha" in df.columns, "split": "split" in df.columns}
    return df.select(*CORPUS_SCHEMA.fieldNames()), flags


def _finish_corpus(
    df: DataFrame, annotate: bool, split: bool, targets: DataFrame | None = None
) -> tuple[DataFrame, dict[str, Observation]]:
    """The post-merge steps both export paths share, in order: drop noindex
    rows, drop redirect rows, collapse canonical variants (*targets* as in
    _collapse_canonical), then annotate and split. Returns the frame and the
    drop counters riding its write, keyed by metric name."""
    df, ni_obs = _drop_flagged(df, "noindex", "noindex_dropped")
    df, rd_obs = _drop_flagged(df, "redirect", "redirects_dropped")
    df, cc_obs = _collapse_canonical(df, targets)
    counters = {
        "noindex_dropped": ni_obs,
        "redirects_dropped": rd_obs,
        "canonical_collapsed": cc_obs,
    }
    return (
        _reannotate(df, annotate, split),
        {m: obs for m, obs in counters.items() if obs is not None},
    )


def _read_pk_dirs(
    spark, corpus_path: str, dirs: list[str], schema=None
) -> DataFrame:
    """Partition-pruned read of the given ``pk=`` dirs of *corpus_path*:
    basePath recovers the pk column without listing (or reading) the other
    buckets. An explicit *schema* prunes the parquet projection to it."""
    reader = spark.read.option("basePath", corpus_path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*dirs)


def _pk_dirs(path: str, pks) -> list[str]:
    """The ``pk=`` dirs of *path* among *pks* that exist."""
    return [d for pk in pks if os.path.isdir(d := _pk_dir(path, pk))]


# Provenance markers of the derived products (SEMANTICS.md §Corpus derived
# products) → the product's label and the function that writes it. A dir
# whose manifest carries any marker is not a corpus: export_corpus refuses
# to extend it, and a report (_REPORTS) is refused as a stage's source.
_DERIVED = {
    "normalized_from": ("NORMALIZED", "normalize_corpus"),
    "scrubbed_from": ("boilerplate-SCRUBBED", "scrub_corpus"),
    "redacted_from": ("PII-REDACTED", "redact_corpus"),
    "filtered_from": ("quality-FILTERED", "filter_corpus"),
    "deduped_from": ("DEDUPED", "dedup_corpus"),
    "sampled_from": ("SAMPLED", "sample_corpus"),
    "sharded_from": ("SHARD-PACKED", "shard_corpus"),
    "mirrored_from": ("MIRROR-REPORT", "mirror_report"),
    "kind": ("HOST-REPORT", "host_report"),
}
_REPORTS = ("mirrored_from", "kind")


def _read_source(spark, corpus_path: str, verb: str) -> tuple[dict, DataFrame]:
    """The source read of every derived stage: the source's export manifest
    and ONE lazy read of its ``pk=`` buckets. Refuses an un-exported dir, a
    report (its rows are host pairs or hosts, not documents) and a dir with
    no buckets; *verb* names the stage in the last message."""
    src = _read_export_manifest(corpus_path)
    if src is None:
        raise RuntimeError(f"no export manifest at {corpus_path} — export first")
    for marker in _REPORTS:
        if marker in src:
            raise RuntimeError(
                f"{corpus_path} holds a {_DERIVED[marker][0]} ({marker}="
                f"{src[marker]}), not a corpus — nothing to {verb}"
            )
    dirs = _pk_dirs(corpus_path, range(int(src["num_buckets"])))
    if not dirs:
        raise RuntimeError(
            f"corpus at {corpus_path} has no pk buckets — nothing to {verb}"
        )
    return src, _read_pk_dirs(spark, corpus_path, dirs)


def _write_product(df: DataFrame, out_path: str, by: str = "pk") -> None:
    """The layout write of every corpus product. The layout shuffle clusters
    rows by their output partition so each ``<by>=`` dir gets ONE file
    instead of one per upstream shuffle partition (at production shuffle
    widths that difference is partitions × buckets small files). File size
    per pk is governed by num_buckets — the same knob that sizes every other
    per-bucket structure in the engine."""
    df.repartition(F.col(by)).write.mode("overwrite").partitionBy(by).parquet(
        out_path
    )


def _write_product_manifest(out_path: str, src: dict, rows: int, **fields) -> None:
    """A derived product's manifest, written after its data: the source's
    ``through_round`` and ``num_buckets``, the product's row count, and
    *fields* — the ``<kind>_from`` marker plus the stage's own fields."""
    _write_export_manifest(
        out_path,
        {
            "through_round": int(src["through_round"]),
            "num_buckets": int(src["num_buckets"]),
            "rows": rows,
            **fields,
        },
    )


def export_corpus(
    state: CrawlState,
    out_path: str,
    through_round: int | None = None,
    annotate: bool = False,
    split: bool = False,
) -> dict:
    """Write/extend the latest-text-per-url corpus for committed rounds
    0..*through_round* (default: the resume anchor) at *out_path* as parquet
    partitioned by pk. Full export when *out_path* has no export manifest;
    incremental (only post-``through_round`` rounds folded, only affected pk
    buckets rewritten) when it does. ``annotate=True`` adds the
    training-pipeline columns (text_sha, token/quality signals, langid);
    ``split=True`` adds the content-addressed train/valid/test assignment
    (split_bucket, split) keyed on canon_url. Both choices are recorded in
    the export manifest and cannot be flipped on an existing corpus (the
    untouched buckets would have the wrong schema).
    Returns ``{"rows", "rounds", "out_path", "mode", "pks_rewritten"}``."""
    # refuse-before-compute: a target that already holds a DERIVED product
    # is wrong regardless of this crawl's state
    prev = _read_export_manifest(out_path)
    for marker, (label, producer) in _DERIVED.items():
        if prev is not None and marker in prev:
            raise RuntimeError(
                f"{out_path} holds a {label} derived product ({marker}="
                f"{prev[marker]}) — it cannot be extended as a corpus; re-run "
                f"{producer} after extending its source instead"
            )

    anchor = last_complete_round(state)
    if anchor is None:
        raise RuntimeError("no committed rounds — nothing to export")
    last = anchor if through_round is None else min(through_round, anchor)

    # pk must match the crawl's committed bucketing, not this invocation's
    # config (an --export CLI run never passes --num-buckets): the bootstrap
    # manifest is authoritative, same as filter_capacity. Config fallback
    # only for state dirs bootstrapped before the manifest carried the field.
    bm = state.io.read_manifest("bootstrap") or {}
    num_buckets = int(bm.get("num_buckets") or state.cfg.num_buckets)

    if prev is None:
        return _export_full(state, out_path, last, num_buckets, annotate, split)
    if int(prev["num_buckets"]) != num_buckets:
        raise RuntimeError(
            f"existing export at {out_path} used num_buckets="
            f"{prev['num_buckets']}, this crawl uses {num_buckets} — "
            "bucketing cannot be mixed within one corpus table"
        )
    if bool(prev.get("annotated", False)) != annotate:
        raise RuntimeError(
            f"existing export at {out_path} was written with annotated="
            f"{bool(prev.get('annotated', False))}; an incremental extend "
            "cannot change the corpus schema — re-export from scratch"
        )
    if bool(prev.get("split", False)) != split:
        raise RuntimeError(
            f"existing export at {out_path} was written with split="
            f"{bool(prev.get('split', False))}; an incremental extend "
            "cannot change the corpus schema — re-export from scratch"
        )
    prev_through = int(prev["through_round"])
    if last < prev_through:
        raise RuntimeError(
            f"existing export already covers rounds 0-{prev_through}; "
            f"cannot shrink it to 0-{last} (--export-through monotone)"
        )
    if last == prev_through:
        return {
            "rows": int(prev["rows"]),
            "rounds": [],
            "out_path": out_path,
            "mode": "noop",
            "pks_rewritten": 0,
        }
    return _export_incremental(
        state, out_path, prev, prev_through + 1, last, num_buckets, annotate,
        split,
    )


def _export_full(
    state: CrawlState,
    out_path: str,
    last: int,
    num_buckets: int,
    annotate: bool = False,
    split: bool = False,
) -> dict:
    delta, rounds = _delta_union(state, 0, last, num_buckets)
    obs = Observation()
    corpus, counters = _finish_corpus(_latest_per_url(delta), annotate, split)
    corpus = corpus.observe(obs, F.count(F.lit(1)).alias("rows"))
    _write_product(corpus, out_path)
    rows = int(obs.get["rows"])
    rows_by_pk = {
        str(pk): n
        for pk in range(num_buckets)
        if (n := _pk_rows(out_path, pk))
    }
    payload = {
        "through_round": last,
        "num_buckets": num_buckets,
        "rows": rows,
        "rows_by_pk": rows_by_pk,
        "annotated": annotate,
        "split": split,
    }
    for metric, counter in counters.items():
        payload[metric] = int(counter.get[metric])
    _write_export_manifest(out_path, payload)
    return {
        "rows": rows,
        "rounds": rounds,
        "out_path": out_path,
        "mode": "full",
        "pks_rewritten": len(rows_by_pk),
    }


def _export_incremental(
    state: CrawlState,
    out_path: str,
    prev: dict,
    first: int,
    last: int,
    num_buckets: int,
    annotate: bool = False,
    split: bool = False,
) -> dict:
    spark = state.io.spark
    _repair_swaps(out_path)
    delta, rounds = _delta_union(state, first, last, num_buckets)
    delta = delta.cache()  # read twice: affected-pk collect + merge
    try:
        affected = sorted(
            r["pk"] for r in delta.select("pk").distinct().collect()
        )
        rows_by_pk = dict(prev.get("rows_by_pk", {}))
        if affected:
            # partition-pruned read of ONLY the buckets the delta can touch
            existing = _pk_dirs(out_path, affected)
            if existing:
                # explicit base schema: parquet projection prunes any
                # annotation columns the previous export carried — they are
                # pure functions of text, recomputed below post-merge
                prev_rows = _read_pk_dirs(spark, out_path, existing, CORPUS_SCHEMA)
                if "noindex" in delta.columns:
                    # an exported row is by definition not-noindex at its
                    # fetch_round (dropped rows never reach the corpus); a
                    # newer delta fetch with the directive supersedes it in
                    # the latest-per-url merge and leaves below
                    prev_rows = prev_rows.withColumn("noindex", F.lit(False))
                if "canonical_url" in delta.columns:
                    # same settled-at-write-time rule: an exported row's
                    # canonical gate was evaluated when its bucket was
                    # written; only a newer fetch re-opens it
                    prev_rows = prev_rows.withColumn(
                        "canonical_url", F.lit(None).cast("string")
                    )
                if "redirect" in delta.columns:
                    prev_rows = prev_rows.withColumn("redirect", F.lit(False))
                merged = _latest_per_url(prev_rows.unionByName(delta))
            else:
                merged = _latest_per_url(delta)
            targets = None
            if "canonical_url" in merged.columns:
                # canonical targets may live in buckets this extend never
                # touches: presence = merged rows ∪ keys of the untouched
                # live buckets (canon_url column only — parquet-pruned read)
                other = _pk_dirs(
                    out_path, (pk for pk in range(num_buckets) if pk not in affected)
                )
                if other:
                    targets = _read_pk_dirs(
                        spark, out_path, other, CORPUS_SCHEMA
                    ).select("canon_url")
            merged, _ = _finish_corpus(merged, annotate, split, targets)
            stage = out_path.rstrip("/") + "__stage"
            shutil.rmtree(stage, ignore_errors=True)
            _write_product(merged, stage)
            # per-bucket swap: live → __old backup, staged → live, drop
            # backup. A crash at any point is healed by _repair_swaps and the
            # merge is idempotent on re-run (manifest still names the old
            # through_round until the very end).
            for pk in affected:
                live = _pk_dir(out_path, pk)
                staged = _pk_dir(stage, pk)
                if not os.path.isdir(staged):
                    continue  # delta rows all superseded by... impossible,
                    # but an empty merge output for a bucket is a no-op
                old = live + "__old"
                shutil.rmtree(old, ignore_errors=True)
                if os.path.isdir(live):
                    os.rename(live, old)
                os.rename(staged, live)
                shutil.rmtree(old, ignore_errors=True)
            shutil.rmtree(stage, ignore_errors=True)
            for pk in affected:
                rows_by_pk[str(pk)] = _pk_rows(out_path, pk)
    finally:
        delta.unpersist()
    rows = sum(rows_by_pk.values())
    _write_export_manifest(
        out_path,
        {
            "through_round": last,
            "num_buckets": num_buckets,
            "rows": rows,
            "rows_by_pk": rows_by_pk,
            "annotated": annotate,
            "split": split,
        },
    )
    return {
        "rows": rows,
        "rounds": rounds,
        "out_path": out_path,
        "mode": "incremental",
        "pks_rewritten": len(affected),
    }


def scrub_corpus(
    spark,
    corpus_path: str,
    out_path: str,
    min_docs: int = 10,
) -> dict:
    """Boilerplate-scrub derived product: every corpus row with lines that
    repeat across ≥ *min_docs* distinct documents removed
    (operators/boilerplate.remove_boilerplate_lines — nav chrome, cookie
    banners, footers), row count preserved, line order preserved. The
    pipeline position is export → SCRUB → filter → dedup: scrubbing before
    the quality gate keeps chrome from inflating n_words past the
    min-words threshold, and before dedup keeps shared chrome from masking
    real near-dup pairs (or manufacturing them).

    Scale shape: one shuffle keyed by 8-byte line hash (partial+final agg
    over (doc, hash) pairs), one broadcast anti join (the hot-line set is
    tiny relative to the corpus), one shuffle back by document for
    reassembly, one pk-layout write. Line TEXT is never a join key.

    Scrubbing changes ``text``, so any annotation/split columns the source
    carried are recomputed AFTER the scrub (they are pure functions of
    text/canon_url — the SQL-checked exprs), never copied stale. The output
    carries a ``scrubbed_from`` manifest and refuses corpus extension, same
    contract as the filter/dedup products. Line counters ride the write's
    action via Observation — zero extra count jobs.

    Returns ``{"rows", "hot_lines", "lines_in", "lines_dropped",
    "out_path"}``."""
    from indigo_crawler_spark.operators.boilerplate import (
        remove_boilerplate_lines,
    )

    src, df = _read_source(spark, corpus_path, "scrub")
    base, flags = _text_base(df)
    counters = {"lines": Observation(), "kept": Observation(), "hot": Observation()}
    scrubbed = remove_boilerplate_lines(
        base, min_docs=min_docs, text_col="text", id_col="canon_url",
        counters=counters,
    )
    obs = Observation()
    scrubbed = _reannotate(scrubbed, **flags).observe(
        obs, F.count(F.lit(1)).alias("rows")
    )
    _write_product(scrubbed, out_path)
    rows = int(obs.get["rows"])
    lines_in = int(counters["lines"].get["n"])
    lines_kept = int(counters["kept"].get["n"] or 0)
    hot_lines = int(counters["hot"].get["n"] or 0)
    _write_product_manifest(
        out_path, src, rows, scrubbed_from=corpus_path, min_docs=min_docs,
        hot_lines=hot_lines, lines_in=lines_in,
        lines_dropped=lines_in - lines_kept, **flags,
    )
    return {
        "rows": rows,
        "hot_lines": hot_lines,
        "lines_in": lines_in,
        "lines_dropped": lines_in - lines_kept,
        "out_path": out_path,
    }


def dedup_corpus(
    spark,
    corpus_path: str,
    out_path: str,
    near_threshold: float | None = None,
    shingle_n: int = 3,
) -> dict:
    """Exact-dedup derived product: ONE row per distinct text from an
    exported corpus — the operators/text_dedup.py exact-hash shape applied
    to the crawl's own data product. Keep-rule: the lexicographically
    smallest canon_url among the rows sharing a ``text_sha`` (deterministic,
    order-independent). One partial+final hash agg on the 32-byte sha key +
    one layout repartition; at 100 TB the shuffle moves (sha, packed row)
    once — no window, no collect. Recomputed in full per invocation: global
    dedup is a cross-bucket decision, so an incremental variant would need
    a sha→canonical sidecar (Iceberg MERGE territory) — the honest cost
    here is one agg over the corpus.

    With *near_threshold* set, a NEAR-dup pass follows the exact one:
    MinHash→LSH→exact-Jaccard pairs (operators/text_dedup.py — no false
    positives) over the exact-deduped rows, connected components over the
    pair graph (operators/components.py — A~B~C collapses to ONE keeper
    even when A≁C directly), keeper = the component's minimum canon_url.
    Scale: pairs move ids only; the component propagation is O(dup-cluster
    diameter) joins; the final filter is one left join against the
    (tiny relative to corpus) labeled-node set.

    Reads any corpus (annotated or not — ``text_sha`` is recomputed when
    absent); writes parquet partitioned by pk plus a manifest with the row
    counts. Returns ``{"rows_in", "rows_out", "out_path"}`` (+
    ``near_dropped`` in near mode)."""
    src, df = _read_source(spark, corpus_path, "dedup")
    if "text_sha" not in df.columns:
        df = df.withColumn("text_sha", F.sha2(F.col("text"), 256))
    others = [c for c in df.columns if c != "text_sha"]
    obs_in, obs_out = Observation(), Observation()
    deduped = (
        df.observe(obs_in, F.count(F.lit(1)).alias("rows"))
        .select("text_sha", F.struct(*others).alias("_row"))
        .groupBy("text_sha")
        .agg(F.min_by("_row", F.col("_row.canon_url")).alias("_row"))
        .select("text_sha", *[f"_row.{c}" for c in others])
    )
    near_exact = None
    if near_threshold is not None:
        from indigo_crawler_spark.operators.components import connected_components
        from indigo_crawler_spark.operators.text_dedup import minhash_dedup_pairs

        # exact-deduped rows feed BOTH the pair mining and the final filter
        deduped = deduped.cache()
        pairs = minhash_dedup_pairs(
            deduped.select(F.col("canon_url").alias("doc_id"), "text"),
            threshold=near_threshold,
            n=shingle_n,
        )
        labels = connected_components(pairs, "a", "b")
        near_exact = int(deduped.count())
        result = (
            deduped.join(labels, deduped["canon_url"] == labels["node"], "left")
            .where(
                F.col("component").isNull()
                | (F.col("component") == F.col("canon_url"))
            )
            .drop("node", "component")
        )
    else:
        result = deduped
    result = result.observe(obs_out, F.count(F.lit(1)).alias("rows"))
    _write_product(result, out_path)
    rows_in, rows_out = int(obs_in.get["rows"]), int(obs_out.get["rows"])
    out = {"rows_in": rows_in, "rows_out": rows_out, "out_path": out_path}
    near = {}
    if near_threshold is not None:
        out["near_dropped"] = near_exact - rows_out
        near = {"near_threshold": near_threshold, "near_dropped": out["near_dropped"]}
    _write_product_manifest(
        out_path, src, rows_out, deduped_from=corpus_path, rows_in=rows_in, **near
    )
    return out


def normalize_corpus(
    spark,
    corpus_path: str,
    out_path: str,
) -> dict:
    """Text-normalization derived product: every corpus row's text through
    the kernels/textnorm.py chain (CRLF fold → control/zero-width strip →
    Unicode NFC). The FIRST stage after export — canonically-equal byte
    variants must collapse before anything hashes text (exact dedup,
    shingles, content-addressed draws) and before line hashing in the
    scrub.

    One Arrow crossing of the text column (pandas_udf over the shared
    kernel — NFC has no Spark SQL builtin; the driver query
    ``text_normalize`` proves DuckDB's declarative chain matches
    byte-for-byte). changed-row count rides ONE observe; annotations/split
    recomputed from the normalized text; ``normalized_from`` manifest
    refuses corpus extension. Returns ``{"rows", "rows_changed",
    "out_path"}``."""
    from indigo_crawler_spark.functions.udfs import normalize_text_udf

    src, df = _read_source(spark, corpus_path, "normalize")
    base, flags = _text_base(df)
    normalized = base.withColumn("_norm", normalize_text_udf(F.col("text")))
    obs = Observation()
    normalized = normalized.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            (~F.col("_norm").eqNullSafe(F.col("text"))).cast("long")
        ).alias("changed"),
    )
    normalized = normalized.withColumn("text", F.col("_norm")).drop("_norm")
    _write_product(_reannotate(normalized, **flags), out_path)
    got = obs.get
    rows, changed = int(got["rows"]), int(got["changed"] or 0)
    _write_product_manifest(
        out_path, src, rows, normalized_from=corpus_path, rows_changed=changed,
        **flags,
    )
    return {"rows": rows, "rows_changed": changed, "out_path": out_path}


def redact_corpus(
    spark,
    corpus_path: str,
    out_path: str,
) -> dict:
    """PII-redaction derived product: every corpus row's text with emails,
    SSNs, phone numbers and IPv4 addresses replaced by ``<KIND>`` tokens
    (functions/pii.py — pure chained regexp_replace, dialect-pinned by the
    SQL-checked ``pii_redact`` driver query). The compliance pass sits
    between scrub and filter in the pipeline: redact before the quality
    gate so token masses don't shift after thresholds were applied, and
    before dedup so two pages differing only in (redacted) PII collapse.

    One codegen'd projection — the text column crosses nothing; per-kind
    match counts ride ONE observe on the read (summed pii_exprs — zero
    extra jobs). Annotation/split columns are recomputed from the REDACTED
    text (pure functions — same discipline as scrub); ``redacted_from``
    manifest refuses corpus extension. Returns ``{"rows",
    "matches_by_kind", "out_path"}``."""
    from indigo_crawler_spark.functions.pii import PII_ORDER, pii_exprs, redact_pii

    src, df = _read_source(spark, corpus_path, "redact")
    base, flags = _text_base(df)
    obs = Observation()
    counts = pii_exprs(F.col("text"))
    base = base.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        *[
            F.sum(F.coalesce(counts[f"n_{k}"], F.lit(0))).alias(k)
            for k in PII_ORDER
        ],
    )
    redacted = base.withColumn("text", redact_pii(F.col("text")))
    _write_product(_reannotate(redacted, **flags), out_path)
    got = obs.get
    rows = int(got["rows"])
    matches = {k: int(got[k] or 0) for k in PII_ORDER}
    _write_product_manifest(
        out_path, src, rows, redacted_from=corpus_path, matches_by_kind=matches,
        **flags,
    )
    return {"rows": rows, "matches_by_kind": matches, "out_path": out_path}


def filter_corpus(
    spark,
    corpus_path: str,
    out_path: str,
    min_words: int = 0,
    max_punct_ratio: float | None = None,
    langs: list[str] | None = None,
    max_dup_word_ratio: float | None = None,
    max_pii: int | None = None,
) -> dict:
    """Quality-filter derived product: rows of an exported corpus passing
    every enabled threshold — the training pipeline's "score it, gate it"
    step applied to the crawl's own data product, downstream of export and
    upstream of dedup.

    Predicates (each disabled at its default) over the E43 annotation
    columns — ``n_words >= min_words``, ``punct_ratio <= max_punct_ratio``
    (NULL punct_ratio = empty text fails when enabled), ``langid ∈ langs``.
    Signals are recomputed via ``_annotate`` when the source corpus is
    unannotated, so the gate is identical either way (the exprs are pure
    functions of ``text``, each backed by a SQL-checked driver query).

    ``max_dup_word_ratio`` adds the Gopher-style repetition gate (F53):
    keep rows with ``dup_word_occ / n_words <= R`` — machine-generated and
    template spam whose tell is internal repetition, invisible to the
    length/punct gates. The signal is computed in-flight from
    ``repetition_exprs`` (per-row array folds, zero shuffles — never a
    stored corpus column, since its O(distinct_words × words) per-row cost
    is only worth paying when the gate is on); empty text (n_words of the
    whitespace split on '' is 1 token of '', dup ratio 0) is left to the
    min_words/punct gates, matching the driver query's empty-row exclusion.

    Scale shape: one pruned read → codegen'd filter → one pk-layout write;
    no shuffle beyond the layout repartition, no Python in the plan. The
    per-reason drop counts ride ONE observe on the read (conditional sums,
    non-exclusive), not extra count jobs.
    """
    src, df = _read_source(spark, corpus_path, "filter")
    if "n_words" not in df.columns:
        df = _annotate(df)

    checks: list[tuple[str, object]] = []
    if min_words:
        checks.append(("min_words", F.col("n_words") >= min_words))
    if max_punct_ratio is not None:
        # empty text has NULL punct_ratio (0/0): fails the enabled gate
        checks.append(
            ("max_punct_ratio",
             F.coalesce(F.col("punct_ratio") <= max_punct_ratio, F.lit(False))),
        )
    if langs:
        checks.append(("langs", F.col("langid").isin(list(langs))))
    if max_dup_word_ratio is not None:
        from indigo_crawler_spark.functions.text_analysis import repetition_exprs

        rep = repetition_exprs(F.col("text"))
        ratio = F.try_divide(rep["dup_word_occ"], rep["n_words"])
        checks.append(
            ("max_dup_word_ratio",
             F.coalesce(ratio <= max_dup_word_ratio, F.lit(False))),
        )
    if max_pii is not None:
        # PII density gate (F60 exprs, computed in-flight like the
        # repetition signal): pages dense with contact identifiers are
        # directories/rosters — drop rather than redact. NULL text fails.
        from indigo_crawler_spark.functions.pii import pii_exprs

        n_pii = pii_exprs(F.col("text"))["n_pii"]
        checks.append(
            ("max_pii", F.coalesce(n_pii <= max_pii, F.lit(False)))
        )
    keep = F.lit(True)
    for _, pred in checks:
        keep = keep & pred

    obs = Observation()
    stats = [F.count(F.lit(1)).alias("rows_in"),
             F.sum(keep.cast("long")).alias("rows_out")]
    for name, pred in checks:
        stats.append(F.sum((~pred).cast("long")).alias(f"dropped_{name}"))
    _write_product(df.observe(obs, *stats).where(keep), out_path)
    got = obs.get
    rows_in, rows_out = int(got["rows_in"]), int(got["rows_out"] or 0)
    dropped = {name: int(got[f"dropped_{name}"] or 0) for name, _ in checks}
    _write_product_manifest(
        out_path,
        src,
        rows_out,
        filtered_from=corpus_path,
        rows_in=rows_in,
        filters={
            "min_words": min_words,
            "max_punct_ratio": max_punct_ratio,
            "langs": sorted(langs) if langs else None,
            "max_dup_word_ratio": max_dup_word_ratio,
            "max_pii": max_pii,
        },
        dropped_by_reason=dropped,
    )
    return {
        "rows_in": rows_in,
        "rows_out": rows_out,
        "dropped_by_reason": dropped,
        "out_path": out_path,
    }


def mirror_report(
    spark,
    corpus_path: str,
    out_path: str,
    min_overlap_pct: int = 80,
    min_shared: int = 2,
    max_hosts_per_sha: int = 50,
) -> dict:
    """Mirror-host report derived product (SEMANTICS.md §Mirror hosts):
    host pairs of an exported corpus whose distinct extracted-text sha
    sets overlap by ``min_overlap_pct``% of the smaller host — the same
    site served under several hosts (regional CDNs, vanity domains,
    scraped re-hosts). Every mirrored page costs each host a fetch, a
    seen entry, and a politeness slot; this report is the operator's
    input for excluding one spelling (``--exclude-pattern``) or capping
    it (``--max-pages-per-site``).

    Detection is operators/mirrors.py::mirror_pairs — exact,
    content-addressed, integer-thresholded (float-free), with the
    hot-sha guard against boilerplate fabricating pairs. Host comes from
    the corpus rows' canon_url; text_sha is recomputed when the corpus
    is unannotated (same expr as E43's annotation). Output: ONE parquet
    table (host_a, host_b, shared, docs_a, docs_b — tiny relative to the
    corpus) plus a manifest with the pair count and knobs. Returns
    ``{"pairs", "hosts", "out_path"}``.
    """
    from indigo_crawler_spark.operators.mirrors import mirror_pairs

    src, df = _read_source(spark, corpus_path, "report")
    if "text_sha" not in df.columns:
        df = df.withColumn("text_sha", F.sha2(F.col("text"), 256))
    d = df.select(
        host_expr(F.col("canon_url")).alias("host"), "text_sha"
    )
    pairs = mirror_pairs(
        d,
        min_overlap_pct=min_overlap_pct,
        min_shared=min_shared,
        max_hosts_per_sha=max_hosts_per_sha,
    ).orderBy("host_a", "host_b")
    pairs.write.mode("overwrite").parquet(os.path.join(out_path, "pairs"))
    got = spark.read.parquet(os.path.join(out_path, "pairs"))
    n_pairs = got.count()
    n_hosts = got.select(
        F.explode(F.array("host_a", "host_b")).alias("h")
    ).distinct().count()
    _write_product_manifest(
        out_path,
        src,
        n_pairs,
        mirrored_from=corpus_path,
        mirror_hosts=n_hosts,
        knobs={
            "min_overlap_pct": int(min_overlap_pct),
            "min_shared": int(min_shared),
            "max_hosts_per_sha": int(max_hosts_per_sha),
        },
    )
    return {"pairs": n_pairs, "hosts": n_hosts, "out_path": out_path}


def host_report(
    state: CrawlState, out_path: str, through_round: int | None = None
) -> dict:
    """Per-host crawl report derived product (SEMANTICS.md §Host report):
    how each host spent the crawl over committed rounds 0..*through_round*
    (default: the resume anchor) — emitted attempts, EP3 bans, transient
    failures, activity span, fetched page deltas and their word mass.
    This is the table the tuning knobs read from: emit volume feeds
    ``--max-pages-per-site``, failure bursts justify
    ``--fail-host-threshold``, word mass sanity-checks thin-host
    demotion, and together with the F84 mirror report it drives the
    exclude list.

    Detection is operators/hoststats.py::host_stats — all-integer, exact.
    fetch_batches rounds union ids + a status string, refusing gc-reclaimed
    rounds (gc-manifest check) and missing-but-committed rounds (corrupt
    state, e.g. a crash mid gc-drop before the manifest write) rather than
    silently reporting emitted=0; fetched_text rounds reuse the export's
    _delta_union (same gc refusal). Output: ONE parquet table ordered by host (host-scale,
    tiny) plus a manifest. Returns ``{"hosts", "out_path"}``."""
    from indigo_crawler_spark.operators.hoststats import host_stats

    anchor = last_complete_round(state)
    if anchor is None:
        raise RuntimeError("no committed rounds — nothing to report")
    last = anchor if through_round is None else min(through_round, anchor)

    # refuse gc-reclaimed and missing rounds EXACTLY like _delta_union does
    # for fetched_text: a committed round always writes its fetch_batches
    # dir (empty frame for a zero-emit round), so silently reading a
    # missing dir as empty would report emitted=0 for rounds that DID emit
    # — e.g. after a crash mid `gc --gc-drop-outputs` that deleted the
    # table but never recorded it in the gc manifest
    reclaimed = set((state.io.read_manifest("gc") or {}).get("reclaimed", []))
    parts = []
    for r in range(last + 1):
        table = f"fetch_batches/round={r}"
        if table in reclaimed:
            raise RuntimeError(
                f"{table} was reclaimed by gc --gc-drop-outputs; the host "
                f"report through round {last} can no longer be assembled "
                "from this state dir"
            )
        if not state.io.exists(table):
            raise RuntimeError(
                f"{table} is missing but round {r} is committed and the gc "
                "manifest does not name it — state dir is corrupt"
            )
        parts.append(
            state.io.read(table, schemas.FETCH_BATCHES)
            .select("host", "status", "round")
        )
    batches = parts[0]
    for p in parts[1:]:
        batches = batches.unionByName(p)
    texts, _ = _delta_union(state, 0, last, state.cfg.num_buckets)
    stats = host_stats(batches, texts.select("host", "text")).orderBy("host")

    stats.write.mode("overwrite").parquet(os.path.join(out_path, "hosts"))
    got = state.io.spark.read.parquet(os.path.join(out_path, "hosts"))
    n = got.count()
    _write_export_manifest(
        out_path,
        {"through_round": last, "rows": n, "kind": "host_report"},
    )
    return {"hosts": n, "out_path": out_path}
