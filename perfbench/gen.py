"""Seeded synthetic crawl corpus owned by the benchmark.

Every value is a pure function of ``(seed, field, row index)`` through
``first 8 bytes of sha256("{seed}:{field}:{i}")`` — the same rules as
``fixtures/gen.py``, so seed 42 reproduces the repo's fixture corpus
bit for bit, and any other seed gives a statistically identical corpus
(same zipf host skew, link fan-out and cohorts) with different content.

The seed draws the pages: which host each page sits on, its path, links,
words and language. The site population is fixed: every host's
robots.txt and budget override use seed 42 whatever the seed, so two seeds
crawl the same web of sites through different pages. The few heaviest
zipf hosts hold most of the pages, and a per-seed draw of their policies
(a deny-all robots.txt on the top host, say) would change the crawl's
shape, not just its content.

The seed is a closure variable of the worker-side generator, so it is
pickled into every Python worker with the function: a module global would
be re-read from each worker's own import and silently stay at its default.
The engine receives only the DataFrames built here.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

_WORDS = (
    "amber basalt cedar delta ember fjord garnet harbor indigo juniper "
    "kelp lumen mesa nectar onyx prism quartz reef sierra tundra "
    "umber vortex willow xenon yonder zephyr copper dune ivory lotus "
    "marble nimbus"
).split()
_LANGS = ("en", "zh", "de", "es")
_ROBOTS = (
    "User-agent: *\nDisallow:",
    "User-agent: *\nDisallow: /",
    "User-agent: *\nDisallow: /p/1",
    "User-agent: indigo-spark\nDisallow: /p/3",
)
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
SITE_SEED = 42


@dataclass(frozen=True)
class Shape:
    pages: int
    hosts: int
    seeds: int


class Corpus:
    """Row generator for one (seed, shape); cheap to build on a worker."""

    def __init__(self, seed: int, n_rows: int, n_hosts: int):
        self.seed = seed
        self.n_rows = n_rows
        self.n_hosts = n_hosts
        self._prefix = b"%d:" % seed
        weights = [1.0 / (r**1.2) for r in range(1, n_hosts + 1)]
        total = sum(weights)
        cdf, acc = [], 0.0
        for w in weights:
            acc += w / total
            cdf.append(acc)
        cdf[-1] = 1.0
        self._cdf = np.asarray(cdf, dtype=np.float64)

    def h(self, field: str, *idx: int, prefix: bytes | None = None) -> int:
        key = (prefix or self._prefix) + ":".join([field, *map(str, idx)]).encode()
        return int.from_bytes(hashlib.sha256(key).digest()[:8], "big")

    def site_h(self, field: str, rank: int) -> int:
        return self.h(field, rank, prefix=b"%d:" % SITE_SEED)

    def _hosts(self, ids: list[int]) -> dict[int, str]:
        us = np.fromiter((self.h("host", i) for i in ids), dtype=np.uint64, count=len(ids))
        ranks = np.searchsorted(self._cdf, us / 2.0**64, side="left") + 1
        return {i: f"h{int(r)}.example.org" for i, r in zip(ids, ranks)}

    def _path(self, i: int) -> str:
        return f"p/{self.h('path', i) % 10**6}"

    def urls(self, ids: list[int]) -> dict[int, str]:
        hosts = self._hosts(ids)
        out = {}
        for i in ids:
            if i % 13 == 0:  # denormalized variant exercising the canonicalizer
                out[i] = f"HTTPS://{hosts[i].upper()}:443/./{self._path(i)}%7e#frag"
            else:
                out[i] = f"https://{hosts[i]}/{self._path(i)}"
        return out

    def pages(self, ids: list[int]) -> pd.DataFrame:
        """The ``pages`` rows for *ids*: url, warc_ts, html, text, lang."""
        children = {
            i: [(i * 31 + j * 17) % self.n_rows for j in range(self.h("nl", i) % 12)]
            for i in ids
        }
        linked = {c for i in ids if i % 7 for c in children[i]}
        urls = self.urls(sorted(set(ids) | linked))
        html = []
        for i in ids:
            parts = [
                f"<html><head><title>T{i}</title><script>x</script></head>"
                f"<body><h1>H{i}</h1>"
            ]
            for j, c in enumerate(children[i]):
                href = "/" + self._path(c) if i % 7 == 0 else urls[c]
                parts.append(f'<a href="{href}">a{j}</a>')
            for j in range(2):
                words = " ".join(
                    _WORDS[self.h("w", i, j * 8 + k) % len(_WORDS)] for k in range(8)
                )
                parts.append(f"<p>{words}</p>")
            parts.append("</body></html>")
            blob = "".join(parts).encode("utf-8")
            if i % 11 == 0:
                blob += b"\xff"  # invalid-UTF-8 cohort
            html.append(blob)
        return pd.DataFrame(
            {
                "url": [urls[i] for i in ids],
                "warc_ts": [_EPOCH + timedelta(seconds=i) for i in ids],
                "html": html,
                "text": pd.Series([None] * len(ids), dtype="object"),
                "lang": [_LANGS[self.h("lang", i) % 4] for i in ids],
            }
        )

    def seeds(self, n_seeds: int) -> list[tuple[str, int]]:
        """The first *n_seeds* distinct page urls by row index, ranked."""
        rows, seen, i = [], set(), 0
        while len(rows) < n_seeds and i < self.n_rows:
            batch = list(range(i, min(i + 4 * n_seeds, self.n_rows)))
            urls = self.urls(batch)
            for j in batch:
                if urls[j] not in seen and len(rows) < n_seeds:
                    seen.add(urls[j])
                    rows.append((urls[j], len(rows)))
            i = batch[-1] + 1
        return rows

    def robots(self) -> list[tuple]:
        from indigo_crawler_spark.kernels.keys import host_hash

        return [
            (host, host_hash(host), _ROBOTS[self.site_h("rb", rank) % 4], _EPOCH)
            for rank in range(1, self.n_hosts + 1)
            for host in [f"h{rank}.example.org"]
        ]

    def budgets(self) -> list[tuple]:
        """Budget overrides for the heaviest 5% of hosts (zipf rank order)."""
        from indigo_crawler_spark.kernels.keys import host_hash

        return [
            (host, host_hash(host), 2 + self.site_h("bud", rank) % 7, 2 if rank % 9 == 8 else 0)
            for rank in range(max(1, int(self.n_hosts * 0.05)))
            for host in [f"h{rank + 1}.example.org"]
        ]

    def digest(self, n_seeds: int, samples: int = 64) -> str:
        """Content digest over a strided page sample plus every driver-side
        input: equal seeds and shapes give equal digests."""
        d = hashlib.sha256(repr((self.seed, self.n_rows, self.n_hosts)).encode())
        stride = max(1, self.n_rows // samples)
        pdf = self.pages(list(range(0, self.n_rows, stride)))
        for row in pdf.itertuples(index=False):
            d.update(repr(tuple(row)).encode())
        for part in (self.seeds(n_seeds), self.robots(), self.budgets()):
            d.update(repr(part).encode())
        return d.hexdigest()


def inputs(spark, seed: int, shape: Shape, parallelism: int) -> dict:
    """The four engine inputs as DataFrames: pages is generated on the
    executors, the small dimensions on the driver."""
    from indigo_crawler_spark.plans import schemas

    n_rows, n_hosts = shape.pages, shape.hosts

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        corpus = Corpus(seed, n_rows, n_hosts)  # seed bound here, per worker
        for pdf in batches:
            yield corpus.pages([int(i) for i in pdf["id"]])

    corpus = Corpus(seed, n_rows, n_hosts)
    return {
        "pages": spark.range(n_rows, numPartitions=parallelism).mapInPandas(
            gen, schemas.PAGES
        ),
        "seeds": spark.createDataFrame(corpus.seeds(shape.seeds), schemas.SEEDS),
        "robots": spark.createDataFrame(corpus.robots(), schemas.ROBOTS),
        "host_budgets": spark.createDataFrame(corpus.budgets(), schemas.HOST_BUDGETS),
    }
