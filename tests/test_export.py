"""Corpus export (plans/export.py): per-round fetched_text deltas fold into
one latest-text-per-url table, oracle-exact, re-crawl-aware, gc-aware."""

from __future__ import annotations

import pytest

from fixtures.gen import TINY, fixture_bundle
from indigo_crawler_spark.config import CrawlConfig
from indigo_crawler_spark.operators.sampling import sample_corpus
from indigo_crawler_spark.plans import export
from indigo_crawler_spark.plans.export import export_corpus
from indigo_crawler_spark.plans.round import (
    CrawlState,
    bootstrap,
    run_rounds,
    session_conf,
)
from indigo_crawler_spark.plans.state_gc import gc_state
from indigo_crawler_spark.operators.retire import retire_urls
from indigo_crawler_spark.sources.fixture_df import (
    budgets_df,
    pages_df,
    robots_df,
    seeds_df,
)
from indigo_crawler_spark.sources.table_io import TableIO
from oracle.simulator import OracleCrawl

N_BEFORE, N_TOTAL = 2, 6


def test_export_latest_text_per_url(spark, tmp_path):
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
    run_rounds(spark, state, N_BEFORE)
    oc = OracleCrawl(fb["pages"], fb["seeds"], fb["robots"], fb["host_budgets"], cfg)
    results = oc.run(N_BEFORE)

    # retire round 0's fetches so the link graph re-crawls some of them —
    # exactly the path that makes a url appear in TWO fetched_text rounds
    retired = [e["canon_url"] for e in results[0].emitted]
    retire_urls(state, spark.createDataFrame([(u,) for u in retired], "url string"))
    oc.retire(retired)
    run_rounds(spark, state, N_TOTAL)
    results += [oc.step(r) for r in range(N_BEFORE, N_TOTAL)]

    # oracle view of the export semantic: latest text per url, in round order
    want: dict[str, tuple[int, str]] = {}
    for r, res in enumerate(results):
        for url, text in res.texts.items():
            want[url] = (r, text)
    refetched = {u for u, (r, _) in want.items() if u in set(retired) and r >= N_BEFORE}
    assert refetched, "fixture must re-crawl at least one retired url"

    out = str(tmp_path / "corpus")
    report = export_corpus(state, out)
    assert report["rounds"] == list(range(N_TOTAL))
    got = {
        row["canon_url"]: (row["fetch_round"], row["text"])
        for row in spark.read.parquet(out).collect()
    }
    assert report["rows"] == len(got)  # one row per url, observe agrees
    assert got == want

    # pk partitioning matches the engine's bucketing (co-location contract)
    pks = {row["pk"] for row in spark.read.parquet(out).select("pk").collect()}
    assert pks <= set(range(cfg.num_buckets))

    # gc-dropped products make the corpus unassemblable — loud refusal
    gc_state(state, keep_outputs=False)
    with pytest.raises(RuntimeError, match="reclaimed"):
        export_corpus(state, str(tmp_path / "corpus2"))


def test_export_incremental_equals_full(spark, tmp_path):
    """E41: extending an existing export folds ONLY the new rounds and
    rewrites ONLY the pk buckets the delta touches — and the result is
    bit-equal (rows, fetch_rounds, partitioning) to a from-scratch full
    export of the same round range."""
    import os

    cfg = CrawlConfig(round_limit=50, num_buckets=64, bloom_bucket_capacity=64)
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
    run_rounds(spark, state, N_BEFORE)
    inc = str(tmp_path / "corpus_inc")
    r0 = export_corpus(state, inc)
    assert r0["mode"] == "full" and r0["rounds"] == list(range(N_BEFORE))

    # snapshot each bucket dir's file listing so untouched buckets are
    # provably untouched (parquet part files carry unique names)
    listing_before = {
        d: sorted(os.listdir(os.path.join(inc, d)))
        for d in os.listdir(inc)
        if d.startswith("pk=")
    }

    # retire round 0's fetches so some urls re-crawl (supersession must hold
    # across the incremental boundary), then extend the crawl
    retired = [
        row["canon_url"]
        for row in state.io.read("fetch_batches/round=0", None).collect()
    ]
    retire_urls(state, spark.createDataFrame([(u,) for u in retired], "url string"))
    run_rounds(spark, state, N_TOTAL)

    r1 = export_corpus(state, inc)
    assert r1["mode"] == "incremental"
    assert r1["rounds"] == list(range(N_BEFORE, N_TOTAL))
    assert 0 < r1["pks_rewritten"] <= cfg.num_buckets

    full = str(tmp_path / "corpus_full")
    r2 = export_corpus(state, full)
    assert r2["mode"] == "full"

    def snap(path):
        return {
            row["canon_url"]: (row["fetch_round"], row["text"], row["host"], row["pk"])
            for row in spark.read.parquet(path).collect()
        }

    got_inc, got_full = snap(inc), snap(full)
    assert got_inc == got_full
    assert r1["rows"] == r2["rows"] == len(got_full)
    # at least one url superseded ACROSS the boundary: fetched in rounds
    # <N_BEFORE originally, latest row now from a later round
    assert any(
        u in set(retired) and fr >= N_BEFORE for u, (fr, *_rest) in got_inc.items()
    )

    # buckets the delta did not touch kept their exact files (no rewrite)
    listing_after = {
        d: sorted(os.listdir(os.path.join(inc, d)))
        for d in os.listdir(inc)
        if d.startswith("pk=")
    }
    untouched = [
        d
        for d in listing_before
        if d in listing_after and listing_before[d] == listing_after[d]
    ]
    rewritten = [d for d in listing_before if d not in untouched]
    assert len(rewritten) <= r1["pks_rewritten"]

    # re-export with nothing new: a no-op, nothing rewritten
    r3 = export_corpus(state, inc)
    assert r3["mode"] == "noop" and r3["pks_rewritten"] == 0
    assert r3["rows"] == r1["rows"]

    # gc-drop old products, crawl on: a fresh full export is impossible, but
    # the existing corpus still extends — the corpus carries its own history
    gc_state(state, keep_outputs=False)
    run_rounds(spark, state, N_TOTAL + 2)
    with pytest.raises(RuntimeError, match="reclaimed"):
        export_corpus(state, str(tmp_path / "corpus3"))
    r4 = export_corpus(state, inc)
    assert r4["mode"] == "incremental"
    assert r4["rounds"] == [N_TOTAL, N_TOTAL + 1]


def test_export_repair_half_swap(spark, tmp_path):
    """A crash between the two renames of a bucket swap leaves pk=N__old
    with no live dir; the next export run restores it before merging."""
    import os

    from indigo_crawler_spark.plans.export import _repair_swaps

    out = tmp_path / "corpus"
    (out / "pk=3").mkdir(parents=True)
    (out / "pk=3" / "part-0.parquet").write_bytes(b"x")
    # half-swapped: live renamed away, staged rename never happened
    os.rename(out / "pk=3", out / "pk=3__old")
    _repair_swaps(str(out))
    assert (out / "pk=3" / "part-0.parquet").exists()
    assert not (out / "pk=3__old").exists()
    # stale backup WITH a live dir is dropped, live wins
    (out / "pk=5").mkdir()
    (out / "pk=5__old").mkdir()
    _repair_swaps(str(out))
    assert (out / "pk=5").exists() and not (out / "pk=5__old").exists()


def test_export_annotated_and_dedup(spark, tmp_path):
    """E43: annotation columns are exact per-row functions of text (sha
    vs hashlib, word count vs Python split), an annotated incremental
    extend equals a fresh annotated full export, the annotated/plain
    choice cannot be flipped on an existing corpus, and the deduped
    derived product keeps exactly one row (min canon_url) per distinct
    text."""
    import hashlib

    from indigo_crawler_spark.plans.export import dedup_corpus

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
    run_rounds(spark, state, N_BEFORE)
    inc = str(tmp_path / "corpus_annot")
    r0 = export_corpus(state, inc, annotate=True)
    assert r0["mode"] == "full"

    rows = spark.read.parquet(inc).collect()
    assert len(rows) == r0["rows"] > 0
    for row in rows:
        assert row["text_sha"] == hashlib.sha256(
            row["text"].encode("utf-8")
        ).hexdigest()
        assert row["n_words"] == (len(row["text"].split()) if row["text"].strip() else 0)
        assert row["n_chars"] == len(row["text"])
        assert row["langid"] in {"de", "en", "es", "fr", "und"}

    # plain extend of an annotated corpus (and vice versa) refused loudly
    with pytest.raises(RuntimeError, match="annotated"):
        export_corpus(state, inc, annotate=False)

    run_rounds(spark, state, N_BEFORE + 2)
    r1 = export_corpus(state, inc, annotate=True)
    assert r1["mode"] == "incremental"
    full = str(tmp_path / "corpus_full")
    r2 = export_corpus(state, full, annotate=True)

    def snap(path):
        return {
            row["canon_url"]: tuple(
                row[c]
                for c in (
                    "fetch_round", "text", "pk",
                    "text_sha", "n_chars", "n_words", "punct_ratio", "langid",
                )
            )
            for row in spark.read.parquet(path).collect()
        }

    assert snap(inc) == snap(full)

    # dedup derived product: one row per distinct text, keeper = min url
    dd = str(tmp_path / "corpus_dedup")
    rep = dedup_corpus(spark, inc, dd)
    got = spark.read.parquet(dd).collect()
    by_sha: dict[str, str] = {}
    want_keeper: dict[str, str] = {}
    for row in spark.read.parquet(inc).collect():
        k = row["text_sha"]
        if k not in want_keeper or row["canon_url"] < want_keeper[k]:
            want_keeper[k] = row["canon_url"]
    for row in got:
        by_sha[row["text_sha"]] = row["canon_url"]
    assert rep["rows_out"] == len(want_keeper) == len(got)
    assert rep["rows_in"] == r1["rows"]
    assert by_sha == want_keeper

    # a dedup dir is a derived product, not an extendable corpus
    with pytest.raises(RuntimeError, match="DEDUPED"):
        export_corpus(state, dd)


def test_dedup_collapses_duplicates(spark, tmp_path):
    """A corpus with actual duplicate texts collapses: min-url keeper per
    sha, spanning pk buckets (the cross-bucket decision the incremental
    export honestly refuses to make)."""
    from indigo_crawler_spark.plans.export import (
        _write_export_manifest,
        dedup_corpus,
    )

    rows = [
        ("https://a.example.org/1", "a.example.org", 0, "same text", 3),
        ("https://b.example.org/2", "b.example.org", 1, "same text", 7),
        ("https://c.example.org/3", "c.example.org", 0, "same text", 11),
        ("https://d.example.org/4", "d.example.org", 2, "other", 3),
        ("https://e.example.org/5", "e.example.org", 0, "other", 7),
    ]
    src = str(tmp_path / "corpus")
    df = spark.createDataFrame(
        rows, "canon_url string, host string, fetch_round int, text string, pk int"
    )
    df.repartition("pk").write.partitionBy("pk").parquet(src)
    _write_export_manifest(
        src, {"through_round": 1, "num_buckets": 16, "rows": len(rows)}
    )

    out = str(tmp_path / "dedup")
    rep = dedup_corpus(spark, src, out)
    assert (rep["rows_in"], rep["rows_out"]) == (5, 2)
    got = {
        row["text"]: row["canon_url"]
        for row in spark.read.parquet(out).collect()
    }
    assert got == {
        "same text": "https://a.example.org/1",
        "other": "https://d.example.org/4",
    }


def test_export_quality_filter(spark, tmp_path):
    """E44: quality-filter derived product — gate semantics recomputed in
    Python over the annotated columns (each already SQL-checked via the
    quality_stats/langid_counts driver queries); annotated and unannotated
    sources filter identically; per-reason drop counts; extension refusal;
    filter → dedup chaining."""
    from indigo_crawler_spark.plans.export import dedup_corpus, filter_corpus

    cfg = CrawlConfig(round_limit=50, num_buckets=16, bloom_bucket_capacity=64)
    fb = fixture_bundle(**TINY)
    # the TINY corpus is quality-uniform (n_words≈19, punct≈0, langid und);
    # seed three distinctive pages so every gate drops something real
    from datetime import datetime, timezone

    def page(url, body):
        return {
            "url": url,
            "warc_ts": datetime(2023, 12, 31, tzinfo=timezone.utc),
            "html": b"<html><body><p>" + body + b"</p></body></html>",
            "text": None,
            "lang": "en",
        }

    # quiet allow-all hosts (h7/h19/h20 use robots template 0) so all three
    # land in an early fetch batch
    extra = [
        page(
            "https://h7.example.org/english",
            b"the cat and the dog is in the house that it was for with not",
        ),
        page("https://h19.example.org/punchy", b"!!! ??? *** !!! w"),
        page("https://h20.example.org/tiny", b"um"),
    ]
    fb = {
        **fb,
        "pages": fb["pages"] + extra,
        "seeds": fb["seeds"]
        + [{"url": p["url"], "seed_rank": 100 + i} for i, p in enumerate(extra)],
    }
    state = CrawlState(io=TableIO(spark, str(tmp_path / "crawl")), cfg=cfg)
    bootstrap(
        spark,
        pages_df(spark, fb["pages"]),
        seeds_df(spark, fb["seeds"]),
        robots_df(spark, fb["robots"]),
        budgets_df(spark, fb["host_budgets"]),
        state,
    )
    run_rounds(spark, state, 2)
    ann = str(tmp_path / "corpus_ann")
    plain = str(tmp_path / "corpus_plain")
    export_corpus(state, ann, annotate=True)
    export_corpus(state, plain, annotate=False)

    rows = spark.read.parquet(ann).collect()
    min_words, max_punct, langs = 3, 0.5, ["und"]
    want_keep = {
        r["canon_url"]
        for r in rows
        if r["n_words"] >= min_words
        and (r["punct_ratio"] is not None and r["punct_ratio"] <= max_punct)
        and r["langid"] in langs
    }
    assert 0 < len(want_keep) < len(rows), "thresholds must split the corpus"

    out = str(tmp_path / "filtered")
    rep = filter_corpus(
        spark, ann, out, min_words=min_words, max_punct_ratio=max_punct,
        langs=langs,
    )
    got_keep = {r["canon_url"] for r in spark.read.parquet(out).collect()}
    assert got_keep == want_keep
    assert rep["rows_in"] == len(rows) and rep["rows_out"] == len(want_keep)
    # per-reason counts (non-exclusive) recomputed in Python
    assert rep["dropped_by_reason"]["min_words"] == sum(
        1 for r in rows if not r["n_words"] >= min_words
    )
    assert rep["dropped_by_reason"]["langs"] == sum(
        1 for r in rows if r["langid"] not in langs
    )

    # unannotated source: signals recomputed on the fly, identical gate
    out2 = str(tmp_path / "filtered_plain")
    rep2 = filter_corpus(
        spark, plain, out2, min_words=min_words, max_punct_ratio=max_punct,
        langs=langs,
    )
    assert {
        r["canon_url"] for r in spark.read.parquet(out2).collect()
    } == want_keep
    assert rep2["dropped_by_reason"] == rep["dropped_by_reason"]

    # a filtered dir refuses corpus extension
    with pytest.raises(RuntimeError, match="FILTERED"):
        export_corpus(state, out)
    # filter → dedup chains (the full training-pipeline shape)
    dd = dedup_corpus(spark, out, str(tmp_path / "filtered_dedup"))
    assert 0 < dd["rows_out"] <= rep["rows_out"]


def test_export_split_and_scrub(spark, tmp_path):
    """Round-5 third wave: --export-split columns are exact md5 functions of
    canon_url and survive an incremental extend bit-identically; the
    boilerplate-scrub derived product removes exactly the cross-document
    hot lines, preserves row count and line order, recomputes annotations
    from the SCRUBBED text, and refuses corpus extension."""
    import hashlib

    from indigo_crawler_spark.functions.text_analysis import SPLIT_BOUNDS
    from indigo_crawler_spark.plans.export import scrub_corpus

    cfg = CrawlConfig(round_limit=50, num_buckets=16, bloom_bucket_capacity=64)
    fb = fixture_bundle(**TINY)
    from datetime import datetime, timezone

    NAV, FOOT = b"home about contact", b"copyright example corp"

    def page(url, body):
        return {
            "url": url,
            "warc_ts": datetime(2023, 12, 31, tzinfo=timezone.utc),
            "html": b"<html><body><p>" + NAV + b"</p><p>" + body
            + b"</p><p>" + FOOT + b"</p></body></html>",
            "text": None,
            "lang": "en",
        }

    extra = [
        page("https://h7.example.org/chrome-a", b"unique body alpha content"),
        page("https://h19.example.org/chrome-b", b"unique body beta content"),
        page("https://h20.example.org/chrome-c", b"unique body gamma content"),
    ]
    fb = {
        **fb,
        "pages": fb["pages"] + extra,
        "seeds": fb["seeds"]
        + [{"url": p["url"], "seed_rank": 100 + i} for i, p in enumerate(extra)],
    }
    state = CrawlState(io=TableIO(spark, str(tmp_path / "crawl")), cfg=cfg)
    bootstrap(
        spark,
        pages_df(spark, fb["pages"]),
        seeds_df(spark, fb["seeds"]),
        robots_df(spark, fb["robots"]),
        budgets_df(spark, fb["host_budgets"]),
        state,
    )
    run_rounds(spark, state, N_BEFORE)

    inc = str(tmp_path / "corpus_split")
    r0 = export_corpus(state, inc, annotate=True, split=True)
    assert r0["mode"] == "full"
    rows = spark.read.parquet(inc).collect()
    assert len(rows) == r0["rows"] > 0
    lo, hi = SPLIT_BOUNDS
    for row in rows:
        b = int(hashlib.md5(row["canon_url"].encode()).hexdigest()[:4], 16) % 100
        assert row["split_bucket"] == b
        assert row["split"] == (
            "train" if b < lo else ("valid" if b < hi else "test")
        )

    # flip refusal, both directions
    with pytest.raises(RuntimeError, match="split"):
        export_corpus(state, inc, annotate=True, split=False)

    # incremental extend == fresh full, split columns included
    run_rounds(spark, state, N_BEFORE + 2)
    r1 = export_corpus(state, inc, annotate=True, split=True)
    assert r1["mode"] == "incremental"
    full = str(tmp_path / "corpus_split_full")
    export_corpus(state, full, annotate=True, split=True)

    def snap(path):
        return {
            row["canon_url"]: tuple(
                row[c]
                for c in ("fetch_round", "text", "pk", "text_sha",
                          "split_bucket", "split")
            )
            for row in spark.read.parquet(path).collect()
        }

    assert snap(inc) == snap(full)

    # ---- scrub: the three chrome pages share NAV and FOOT lines ----
    nav, foot = NAV.decode(), FOOT.decode()
    rows = spark.read.parquet(inc).collect()  # post-extend snapshot
    pre = {r["canon_url"]: r["text"] for r in rows}
    chrome_urls = [p["url"] for p in extra]
    assert all(u in pre for u in chrome_urls), "chrome pages must be fetched"
    for u in chrome_urls:
        assert nav in pre[u] and foot in pre[u]

    # Python oracle over corpus-wide line frequencies (the synthetic TINY
    # texts repeat template lines across docs too, so the hot set is wider
    # than just the injected chrome)
    from collections import Counter

    doc_freq = Counter()
    for text in pre.values():
        doc_freq.update(set(text.split("\n")))
    hot = {ln for ln, n in doc_freq.items() if n >= 3}
    assert {nav, foot} <= hot

    out = str(tmp_path / "scrubbed")
    rep = scrub_corpus(spark, inc, out, min_docs=3)
    got = {r["canon_url"]: r for r in spark.read.parquet(out).collect()}
    assert rep["rows"] == len(got) == len(pre)  # row count preserved
    assert rep["hot_lines"] == len(hot)
    assert rep["lines_dropped"] == sum(
        1 for t in pre.values() for ln in t.split("\n") if ln in hot
    )
    for u, text in pre.items():
        want_lines = [ln for ln in text.split("\n") if ln not in hot]
        assert got[u]["text"] == "\n".join(want_lines), u
        # annotations recomputed from the SCRUBBED text, split preserved
        assert got[u]["text_sha"] == hashlib.sha256(
            got[u]["text"].encode("utf-8")
        ).hexdigest()
        assert got[u]["split_bucket"] == {r["canon_url"]: r for r in rows}[u][
            "split_bucket"
        ]

    # a scrubbed dir is a derived product, not an extendable corpus
    with pytest.raises(RuntimeError, match="SCRUBBED"):
        export_corpus(state, out)


def test_filter_dup_word_ratio_gate(spark, tmp_path):
    """F53 gate in filter_corpus: rows whose repeated-word occurrence ratio
    exceeds the threshold are dropped; ratio recomputed in Python over the
    same whitespace tokenization."""
    from collections import Counter

    from indigo_crawler_spark.plans.export import (
        _write_export_manifest,
        filter_corpus,
    )

    rows = [
        ("https://a.example.org/1", "a.example.org", 0,
         "buy now buy now buy now buy now", 3),
        ("https://b.example.org/2", "b.example.org", 0,
         "a perfectly ordinary sentence with distinct words", 7),
        ("https://c.example.org/3", "c.example.org", 0,
         "the cat sat on the mat near the door", 11),
    ]
    src = str(tmp_path / "corpus")
    spark.createDataFrame(
        rows, "canon_url string, host string, fetch_round int, text string, pk int"
    ).repartition("pk").write.partitionBy("pk").parquet(src)
    _write_export_manifest(
        src, {"through_round": 0, "num_buckets": 16, "rows": len(rows)}
    )

    def ratio(text):
        toks = text.strip().split()
        c = Counter(toks)
        return sum(n for n in c.values() if n > 1) / len(toks)

    thr = 0.5
    want = {u for u, _, _, t, _ in rows if ratio(t) <= thr}
    assert want == {
        "https://b.example.org/2", "https://c.example.org/3"
    }  # "buy now" spam at ratio 1.0 drops; "the" x3 = 3/9 passes

    out = str(tmp_path / "filtered")
    rep = filter_corpus(spark, src, out, max_dup_word_ratio=thr)
    got = {r["canon_url"] for r in spark.read.parquet(out).collect()}
    assert got == want
    assert rep["dropped_by_reason"] == {"max_dup_word_ratio": 1}


@pytest.fixture(scope="module")
def crawled_export(spark, tmp_path_factory):
    """One committed round of TINY and its annotated, split export."""
    root = tmp_path_factory.mktemp("derived")
    cfg = CrawlConfig(round_limit=50, num_buckets=16, bloom_bucket_capacity=64)
    fb = fixture_bundle(**TINY)
    state = CrawlState(io=TableIO(spark, str(root / "crawl")), cfg=cfg)
    bootstrap(
        spark,
        pages_df(spark, fb["pages"]),
        seeds_df(spark, fb["seeds"]),
        robots_df(spark, fb["robots"]),
        budgets_df(spark, fb["host_budgets"]),
        state,
    )
    run_rounds(spark, state, 1)
    corpus = str(root / "corpus")
    export_corpus(state, corpus, annotate=True, split=True)
    return state, corpus, root


def _make_product(spark, kind, state, corpus, out):
    from indigo_crawler_spark.operators.sampling import sample_corpus
    from indigo_crawler_spark.operators.sharding import shard_corpus
    from indigo_crawler_spark.plans import export

    make = {
        "normalize": lambda: export.normalize_corpus(spark, corpus, out),
        # min_docs=2: a one-round corpus has no line in 10 documents
        "scrub": lambda: export.scrub_corpus(spark, corpus, out, min_docs=2),
        "redact": lambda: export.redact_corpus(spark, corpus, out),
        "filter": lambda: export.filter_corpus(spark, corpus, out),
        "dedup": lambda: export.dedup_corpus(spark, corpus, out),
        "sample": lambda: sample_corpus(spark, corpus, out, rate=1.0),
        "shards": lambda: shard_corpus(spark, corpus, out, shard_tokens=1000),
        "mirror": lambda: export.mirror_report(spark, corpus, out),
        "host": lambda: export.host_report(state, out),
    }
    return make[kind]()


@pytest.mark.parametrize(
    "kind, label",
    [
        ("normalize", "NORMALIZED"),
        ("scrub", "SCRUBBED"),
        ("redact", "REDACTED"),
        ("filter", "FILTERED"),
        ("dedup", "DEDUPED"),
        ("sample", "SAMPLED"),
        ("shards", "SHARD"),
        ("mirror", "MIRROR"),
        ("host", "HOST"),
    ],
)
def test_derived_product_refuses_extension(spark, crawled_export, kind, label):
    """SEMANTICS.md §Corpus derived products: a dir holding ANY derived
    product refuses extension as a corpus — the two reports included (a
    mirror report used to be extended as a partial corpus, a host report
    crashed on its missing num_buckets). A report is refused as a derived
    stage's source too."""
    state, corpus, root = crawled_export
    out = str(root / kind)
    _make_product(spark, kind, state, corpus, out)
    with pytest.raises(RuntimeError, match=label):
        export_corpus(state, out)
    if kind in ("mirror", "host"):
        with pytest.raises(RuntimeError, match="not a corpus"):
            _make_product(spark, "normalize", state, out, str(root / f"{kind}_src"))


# an emptied frame per derived stage; "all" stands for the corpus row count
_EMPTIED = {
    # every row is below the word floor
    "filter": (
        lambda spark, src, out: export.filter_corpus(spark, src, out, min_words=10**9),
        {"rows_in": "all", "rows_out": 0},
    ),
    # a zero rate keeps no row
    "sample": (
        lambda spark, src, out: sample_corpus(spark, src, out, rate=0.0),
        {"rows_in": "all", "rows_out": 0},
    ),
    # no line repeats across a million documents: the hot-line set is empty
    "scrub": (
        lambda spark, src, out: export.scrub_corpus(spark, src, out, min_docs=10**6),
        {"rows": "all", "hot_lines": 0},
    ),
    # no pair is this similar: the near-dup pair frame is empty
    "dedup": (
        lambda spark, src, out: export.dedup_corpus(
            spark, src, out, near_threshold=0.99
        ),
        {"rows_in": "all", "near_dropped": 0},
    ),
}


@pytest.mark.parametrize("kind", sorted(_EMPTIED))
def test_derived_stage_counts_an_emptied_frame(spark, crawled_export, kind):
    """With AQE on, a stage whose frame ends up empty before an action still
    reports its true counts. AQE's empty-relation propagation used to prune
    the observed node, and Observation.get failed."""
    _, corpus, root = crawled_export
    make, want = _EMPTIED[kind]
    rows = spark.read.parquet(corpus).count()
    with session_conf(spark, **{"spark.sql.adaptive.enabled": "true"}):
        got = make(spark, corpus, str(root / f"{kind}_emptied"))
    assert {k: got[k] for k in want} == {
        k: rows if v == "all" else v for k, v in want.items()
    }
