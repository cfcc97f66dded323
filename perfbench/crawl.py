"""The benchmark's workloads: one closed-loop crawl per run, timed from
outside the engine, with its outputs checked after timing.

A run generates its corpus from the seed, crawls it once untimed on a
throwaway state dir (bootstrap + round 0) to warm the JVM, the Python
workers and every plan the round builds, then repeats the same crawl on a
fresh state dir with every engine call timed. Each round starts after the
previous one commits. The untimed repeat also checks determinism: the
timed bootstrap and round 0 must commit exactly what the warm-up did.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

from perfbench import gen, tracing

ANCHOR_ROUNDS = 24
ANCHOR_URLS = 7407  # URLs a 24-round small_rounds crawl schedules at seed 42
RETIRE_BATCH = 40
STAGES = ("normalize", "scrub", "redact", "filter", "dedup", "sample", "shards")


ROUND_S = 5.0  # nominal warm round wall: a run crawls --seconds / ROUND_S rounds


@dataclass(frozen=True)
class Workload:
    name: str
    shape: gen.Shape
    cfg: dict
    # a retire batch after round 0 and every 6 rounds, so the next round
    # inserts beside deletes; traced runs also export the crawl mid-way and
    # at the end and run the derived chain on the export
    churn: bool = False


# bench.py's long-horizon crawl: a deep frontier (round_limit small
# next to the corpus) so every round does real scheduling work
_LONG_HORIZON = dict(round_limit=500, num_buckets=32, seen_compact_every=8,
                     ban_every=97, backoff_rounds=2)
_CORPUS = gen.Shape(30_000, 1_500, 600)
WORKLOADS = {
    w.name: w
    for w in (
        Workload("small_rounds", _CORPUS, _LONG_HORIZON),
        Workload("churn_export", _CORPUS, {**_LONG_HORIZON, "filter_kind": "cuckoo"}, churn=True),
    )
}


def n_rounds(seconds: int) -> int:
    return max(2, round(seconds / ROUND_S))


def _json(value):
    """*value* as it reads back from expected.json (string keys, lists)."""
    return json.loads(json.dumps(value))


def _commit_record(manifest: dict) -> dict:
    """The deterministic part of a round manifest."""
    return _json({"counters": manifest["counters"], "digests": manifest["digests"]})


def _manifest(payload: dict) -> dict:
    """A bootstrap payload without its optional wall-clock timings."""
    return _json({k: v for k, v in payload.items() if k != "timings"})


def _plain(result: dict) -> dict:
    """Numbers and flags of an engine result dict (paths dropped)."""
    return {k: v for k, v in result.items() if isinstance(v, (int, float, bool, list))}


@dataclass
class Op:
    kind: str  # bootstrap | round | retire | export | stage
    name: str
    wall: float = 0.0
    ok: bool = True
    errors: list = field(default_factory=list)
    result: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)  # traced mode only
    span: int | None = None


class Crawl:
    """One run of one workload."""

    def __init__(self, spark, workload: Workload, seed: int, rounds: int,
                 work: str, trace: bool, expected: dict | None, parallelism: int):
        self.spark = spark
        self.w = workload
        self.seed = seed
        self.rounds = rounds
        self.work = work
        self.trace = trace
        self.expected = expected
        self.parallelism = parallelism
        self.ops: list[Op] = []
        self.digest = None
        self.gen_s = 0.0
        self.warm_s = 0.0
        self.tracer = tracing.Tracer() if trace else None
        self.t_first_call: float | None = None

    # ---- setup ------------------------------------------------------------
    def setup(self) -> bool:
        """Inputs and the warm-up crawl; False (with a failed operation
        recorded) when they raise."""
        from indigo_crawler_spark.config import CrawlConfig

        try:
            self.cfg = CrawlConfig(**self.w.cfg)
            t0 = time.monotonic()
            corpus = gen.Corpus(self.seed, self.w.shape.pages, self.w.shape.hosts)
            self.digest = corpus.digest(self.w.shape.seeds)
            other = gen.Corpus(self.seed + 1, self.w.shape.pages, self.w.shape.hosts)
            self.digest_differs = other.digest(self.w.shape.seeds) != self.digest
            self.inputs = gen.inputs(self.spark, self.seed, self.w.shape, self.parallelism)
            self.gen_s = time.monotonic() - t0
            self.warm = self._warm_up()
            self.warm_s = time.monotonic() - t0 - self.gen_s
        except Exception:  # noqa: BLE001 — reported as a failed operation
            self.ops.append(Op("setup", "warm_up", ok=False,
                               errors=[traceback.format_exc(limit=4)]))
            return False
        return True

    def _state(self, name: str, traced: bool):
        from indigo_crawler_spark.plans.round import CrawlState
        from indigo_crawler_spark.sources.table_io import TableIO

        root = os.path.join(self.work, name)
        shutil.rmtree(root, ignore_errors=True)
        io = (tracing.TracedIO(self.spark, root, tracer=self.tracer) if traced
              else TableIO(self.spark, root))
        return CrawlState(io=io, cfg=self.cfg)

    def _bootstrap(self, state) -> dict:
        from indigo_crawler_spark.plans.round import bootstrap

        i = self.inputs
        return bootstrap(self.spark, i["pages"], i["seeds"], i["robots"],
                         i["host_budgets"], state)

    def _warm_up(self) -> dict:
        from indigo_crawler_spark.plans.round import run_round

        state = self._state("warm", traced=False)
        try:
            return {"bootstrap": _manifest(self._bootstrap(state)),
                    "round_0": _commit_record(run_round(self.spark, state, 0))}
        finally:
            shutil.rmtree(state.io.root, ignore_errors=True)

    # ---- timed crawl --------------------------------------------------------
    def _timed(self, kind: str, name: str, fn) -> Op:
        op = Op(kind, name)
        self.ops.append(op)
        if self.trace:
            before = self._layer_counts(jobs_first=True)
        if self.t_first_call is None:
            self.t_first_call = time.time()
        t0 = time.perf_counter()
        try:
            if self.trace:
                with self.tracer.span(f"{kind}.{name}") as s:
                    op.result = fn()
                op.span = s["id"]
            else:
                op.result = fn()
        except Exception:  # noqa: BLE001 — a failed operation is counted, never retried
            op.ok = False
            op.errors.append(traceback.format_exc(limit=4))
        op.wall = time.perf_counter() - t0
        if self.trace:
            self._attribute(op, before)
        return op

    def run(self) -> None:
        from indigo_crawler_spark.plans.round import run_round

        self.state = self._state("crawl", traced=self.trace)
        if self.trace:
            self.py4j = tracing.Py4jCounter(self.spark)
            self.jobs = tracing.dag_scheduler(self.spark)
            self.sql = tracing.SqlStore(self.spark)
        op = self._timed("bootstrap", "bootstrap", lambda: self._bootstrap(self.state))
        if not op.ok:
            return
        mid = max(0, self.rounds // 2 - 1)
        for r in range(self.rounds):
            op = self._timed("round", str(r), lambda r=r: run_round(self.spark, self.state, r))
            if not op.ok:
                return
            if self.w.churn and r % 6 == 0:
                if not self._timed("retire", f"after_round_{r}", lambda r=r: self._retire(r)).ok:
                    return
            if self.w.churn and self.trace and r == mid:
                if not self._timed("export", "full", self._export).ok:
                    return
        if self.w.churn and self.trace:
            if not self._timed("export", "incremental", self._export).ok:
                return
            self._chain()

    def _retire(self, r: int) -> dict:
        from pyspark.sql import functions as F

        from indigo_crawler_spark.operators.retire import retire_urls
        from indigo_crawler_spark.plans import schemas

        sample = (
            self.state.io.read(f"fetch_batches/round={r}", schemas.FETCH_BATCHES)
            .orderBy("global_rank")
            .limit(RETIRE_BATCH)
            .select(F.col("canon_url").alias("url"))
        )
        return {"retired": retire_urls(self.state, sample)}

    def _export(self) -> dict:
        from indigo_crawler_spark.plans.export import export_corpus

        return _plain(export_corpus(self.state, os.path.join(self.work, "corpus"), annotate=True))

    def _chain(self) -> None:
        from indigo_crawler_spark.operators.sampling import sample_corpus
        from indigo_crawler_spark.operators.sharding import shard_corpus
        from indigo_crawler_spark.plans import export

        s = self.spark
        steps = {
            "normalize": lambda a, b: export.normalize_corpus(s, a, b),
            "scrub": lambda a, b: export.scrub_corpus(s, a, b, min_docs=10),
            "redact": lambda a, b: export.redact_corpus(s, a, b),
            "filter": lambda a, b: export.filter_corpus(s, a, b, min_words=3),
            "dedup": lambda a, b: export.dedup_corpus(s, a, b),
            "sample": lambda a, b: sample_corpus(s, a, b, rate=0.9),
            "shards": lambda a, b: shard_corpus(s, a, b, shard_tokens=20_000),
        }
        src = os.path.join(self.work, "corpus")
        for name in STAGES:
            dst = os.path.join(self.work, f"stage_{name}")
            if not self._timed("stage", name, lambda a=src, b=dst, f=steps[name]: _plain(f(a, b))).ok:
                return
            src = dst

    # ---- traced-mode attribution ---------------------------------------------
    def _layer_counts(self, jobs_first: bool) -> dict:
        # the job-counter read is itself one py4j command: take it before the
        # py4j count when opening an operation and after it when closing
        out = {"jobs": self.jobs.nextJobId()} if jobs_first else {}
        out.update(cpu=time.process_time(), py4j=self.py4j.calls, py4j_self=self.py4j.self_s)
        if not jobs_first:
            out["jobs"] = self.jobs.nextJobId()
        return out

    def _attribute(self, op: Op, before: dict) -> None:
        after = self._layer_counts(jobs_first=False)
        op.layer = {"jobs": after["jobs"] - before["jobs"],
                    "driver_cpu_s": after["cpu"] - before["cpu"],
                    "py4j_calls": after["py4j"] - before["py4j"]}
        op.layer.update({f"python.{k}": v for k, v in self.sql.drain().items()})
        if op.span is None:
            return
        start = self.tracer.spans[op.span]["start"]
        writes = self.tracer.children(op.span, "table_io.write")
        commits = self.tracer.children(op.span, "table_io.commit")
        op.layer["trace_self_s"] = (after["py4j_self"] - before["py4j_self"]
                                    + sum(s["trace_s"] for s in writes))
        op.layer["writes"] = len(writes)
        op.layer["bytes_written"] = sum(s.get("bytes", 0) for s in writes)
        for fam in tracing.FAMILIES:
            op.layer[f"write_s.{fam}"] = sum(
                s["end"] - s["start"] for s in writes if s["family"] == fam)
        op.layer["commit_s"] = sum(s["end"] - s["start"] for s in commits)
        fb = [s["end"] for s in writes if s["family"] == "fetch_batches"]
        op.layer["prefix_s"] = (min(fb) - start) if fb else 0.0

    # ---- correctness ----------------------------------------------------------
    def check(self) -> None:
        """Untimed output checks; a mismatch fails the operation it names."""
        by_name = {(o.kind, o.name): o for o in self.ops}
        exp = self.expected or {}

        def fail(key, msg):
            op = by_name.get(key)
            if op is not None:
                op.ok = False
                op.errors.append(msg)

        boot = by_name.get(("bootstrap", "bootstrap"))
        if not self.digest_differs:
            fail(("bootstrap", "bootstrap"), "seed and seed+1 give the same corpus digest")
        if exp and self.digest != exp["corpus_digest"]:
            fail(("bootstrap", "bootstrap"), "corpus digest differs from the recorded one")
        if boot and boot.ok:
            got = _manifest(boot.result)
            if got != self.warm["bootstrap"]:
                fail(("bootstrap", "bootstrap"), "bootstrap manifest differs from the warm-up's")
            if exp and got != exp["bootstrap"]:
                fail(("bootstrap", "bootstrap"), "bootstrap manifest differs from the recorded one")
        rounds = [o for o in self.ops if o.kind == "round" and o.result]
        for o in rounds:
            rec = _commit_record(o.result)
            if o.name == "0" and rec != self.warm["round_0"]:
                fail(("round", "0"), "round 0 commit differs from the warm-up's")
            want = exp.get("rounds", [])
            if int(o.name) < len(want) and rec != want[int(o.name)]:
                fail(("round", o.name), "round commit differs from the recorded one")
        same_length = exp.get("rounds_run") == self.rounds  # exports depend on it
        for o in self.ops:
            if o.kind in ("retire", "export", "stage") and o.ok:
                want = exp.get(o.kind, {}).get(o.name) if same_length else None
                if want is not None and _json(o.result) != want:
                    fail((o.kind, o.name), f"{o.kind} {o.name} result differs from the recorded one")
                if o.kind == "retire" and not o.result["retired"]:
                    fail((o.kind, o.name), "retire batch retired nothing")
        if rounds:
            self._check_state([int(o.name) for o in rounds], fail)

    def _check_state(self, done: list[int], fail) -> None:
        from pyspark.sql import functions as F

        from indigo_crawler_spark.plans import schemas
        from indigo_crawler_spark.plans.round import fsck

        io = self.state.io
        for r, flags in sorted(fsck(self.state).items()):
            if any(v is False for v in flags.values()):
                fail(("round", str(r)), f"fsck: round {r} is not clean: {flags}")
        emitted = None
        for r in done:
            df = io.read(f"fetch_batches/round={r}", schemas.FETCH_BATCHES).select(
                "canon_url", F.lit(r).alias("round"))
            emitted = df if emitted is None else emitted.unionByName(df)
        repeats = emitted.groupBy("canon_url").agg(F.max("round").alias("again"),
                                                   F.count("*").alias("n")).where("n > 1")
        if io.exists("retired"):  # a retired URL may be rediscovered and emitted again
            repeats = repeats.join(io.read("retired", schemas.RETIRED), "canon_url", "left_anti")
        for row in repeats.limit(20).collect():
            fail(("round", str(row["again"])), f"URL emitted twice: {row['canon_url']}")

    # ---- results --------------------------------------------------------------
    def record(self) -> dict:
        """Expected values for this seed, as stored in expected.json."""
        out = {
            "rounds_run": self.rounds,
            "corpus_digest": self.digest,
            "bootstrap": next(_manifest(o.result) for o in self.ops if o.kind == "bootstrap"),
            "rounds": [_commit_record(o.result) for o in self.ops if o.kind == "round"],
        }
        for kind in ("retire", "export", "stage"):
            got = {o.name: o.result for o in self.ops if o.kind == kind}
            if got:
                out[kind] = got
        return out

    def emitted(self) -> int:
        return sum(o.result["counters"]["emitted"] for o in self.ops
                   if o.kind == "round" and o.result)

    def end_to_end(self) -> dict:
        rounds = [o for o in self.ops if o.kind == "round" and o.result]
        walls = [o.wall for o in rounds]
        boot = [o.wall for o in self.ops if o.kind == "bootstrap"]
        return {
            "bootstrap_s": boot[0] if boot else 0.0,
            "round_p50_s": statistics.median(walls) if walls else 0.0,
            "scheduled_per_s": self.emitted() / sum(walls) if walls else 0.0,
        }

    def per_layer(self) -> dict:
        def med(kind, key):
            vals = [o.layer.get(key, 0.0) for o in self.ops if o.kind == kind and o.layer]
            return float(statistics.median(vals)) if vals else 0.0

        def total(kind, key=None, name=None):
            return float(sum((o.layer.get(key, 0.0) if key else o.wall)
                             for o in self.ops
                             if o.kind == kind and (name is None or o.name == name)))

        m = {
            "round.jobs": med("round", "jobs"),
            "round.driver_cpu_s": med("round", "driver_cpu_s"),
            "round.py4j_calls": med("round", "py4j_calls"),
            "round.prefix_s": med("round", "prefix_s"),
            "round.commit_s": med("round", "commit_s"),
            "bootstrap.jobs": med("bootstrap", "jobs"),
            "bootstrap.driver_cpu_s": med("bootstrap", "driver_cpu_s"),
            "table_io.writes": med("round", "writes"),
            "table_io.bytes_written": med("round", "bytes_written"),
            "table_io.write_s.page_store": med("bootstrap", "write_s.page_store"),
        }
        for fam in tracing.FAMILIES[1:]:
            m[f"table_io.write_s.{fam}"] = med("round", f"write_s.{fam}")
        for part in ("round", "bootstrap"):
            for key in ("rows_in", "bytes_in", "bytes_out"):
                m[f"python.{part}.{key}"] = med(part, f"python.{key}")
        m.update({
            "retire.wall_s": total("retire"),
            "retire.urls": float(sum(o.result.get("retired", 0) for o in self.ops
                                     if o.kind == "retire")),
            "retire.jobs": total("retire", "jobs"),
            "export.full_s": total("export", name="full"),
            "export.incremental_s": total("export", name="incremental"),
            "export.rows": float(next((o.result.get("rows", 0) for o in self.ops
                                       if o.kind == "export" and o.name == "incremental"), 0)),
        })
        for name in STAGES:
            m[f"export.stage_s.{name}"] = total("stage", name=name)
        m["export.total_s"] = total("export") + total("stage")
        m["synthetic.gen_s"] = self.gen_s
        walls = [o.wall for o in self.ops if o.kind == "round" and o.result]
        m["trace.round_p50_s"] = statistics.median(walls) if walls else 0.0
        m["trace.self_s"] = med("round", "trace_self_s")
        return m

    def trace_dump(self, path: str) -> None:
        """Spans plus each operation's wall, outcome and layer counts."""
        self.tracer.dump(path, ops=[
            {"kind": o.kind, "name": o.name, "wall": o.wall, "ok": o.ok,
             "span": o.span, "layer": o.layer} for o in self.ops])
