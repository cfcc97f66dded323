"""Crawl benchmark: one seeded, closed-loop crawl workload per process.

    python3 perfbench/run.py --workload small_rounds --seed 42 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it, starting with ``#``, record the session
sizing and the host-noise diagnostics of the run.

``--seconds`` sets the timed crawl length as a fixed round count
(``--seconds`` / a nominal 5 s round, at least 2), so two versions of the
engine always do the same work. ``--rounds N`` overrides it; ``--record``
rewrites the workload's expected values in expected.json (seed 42 only).

All state, Spark scratch and temp files live under ``.perfbench_work/`` in
the current directory and are removed at exit, except the span dump of
traced runs (``.perfbench_work/traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")


def process_start() -> float:
    """Epoch time this process started, from /proc (interpreter start-up
    included); the module import time where /proc is unavailable."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
        return btime + start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration):
        return time.time()


T_START = process_start()


def session_conf(work: str) -> dict:
    """Spark settings sized to this host: task slots plus their Python
    workers within the cpu count, driver heap from MemTotal."""
    cpus = len(os.sched_getaffinity(0))
    slots = max(1, cpus // 2)
    with open("/proc/meminfo") as f:
        mem_mb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal")) // 1024
    heap_mb = min(4096, max(1024, mem_mb // 8))
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{slots}]",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.sql.shuffle.partitions": str(4 * slots),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.ui.retainedExecutions": "10000",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.app.name": "indigo-perfbench",
    }


def start_spark(conf: dict):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any failure to exit ends in a kill
            proc.kill()
            proc.wait()


def parse_args(argv):
    from perfbench.crawl import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rounds", type=int, default=None)
    p.add_argument("--record", action="store_true")
    return p.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import indigo_crawler_spark.plans.round  # noqa: F401 — the engine under test
        from perfbench import crawl, tracing
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    if args.record and args.seed != 42:
        print("perfbench: --record keeps the default seed's values; use --seed 42", file=sys.stderr)
        return 2
    workload = crawl.WORKLOADS[args.workload]
    rounds = args.rounds or crawl.n_rounds(args.seconds)

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    conf = session_conf(work)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the generator and the engine from the checkout;
    # every temp and scratch path stays under the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = conf["spark.local.dir"]
    expected = None
    if args.seed == 42 and not args.record and os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f).get(args.workload)

    spin_before = tracing.spin_probe()
    t0 = time.time()
    spark = start_spark(conf)
    session_s = time.time() - t0
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        run = crawl.Crawl(spark, workload, args.seed, rounds, work, bool(args.trace),
                          expected, parallelism=2 * int(conf["spark.master"][6:-1]))
        ticks = tracing.cpu_ticks()
        if run.setup():
            ticks = tracing.cpu_ticks()
            run.run()
            run.check()
        host = tracing.cpu_share(ticks, tracing.cpu_ticks())
        rss_mb = tracing.peak_rss_mb(jvm.pid if jvm else None)
        if args.trace:
            run.trace_dump(os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    host.update(spin_before_s=spin_before, spin_after_s=tracing.spin_probe(),
                peak_rss_mb=rss_mb)

    failed = [o for o in run.ops if not o.ok]
    for o in failed:
        print(f"perfbench: {o.kind} {o.name} failed:\n" + "\n".join(o.errors), file=sys.stderr)
    if args.record:
        if failed:
            print("perfbench: not recording a failed run", file=sys.stderr)
            return 1
        if workload.name == "small_rounds" and rounds == crawl.ANCHOR_ROUNDS \
                and run.emitted() != crawl.ANCHOR_URLS:
            print(f"perfbench: anchor broken: {run.emitted()} URLs scheduled, "
                  f"expected {crawl.ANCHOR_URLS}", file=sys.stderr)
            return 1
        data = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                data = json.load(f)
        data[workload.name] = run.record()
        with open(EXPECTED, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
            f.write("\n")

    if args.trace:
        values = run.per_layer()
        values.update({f"host.{k}": float(v) for k, v in host.items()})
    else:
        values = {"setup_s": (run.t_first_call or time.time()) - T_START, **run.end_to_end()}
    units = metric_units("per_layer" if args.trace else "end_to_end")
    print("# session " + json.dumps(conf, sort_keys=True))
    print("# host " + json.dumps({k: round(v, 4) for k, v in host.items()}, sort_keys=True))
    print("# crawl " + json.dumps({
        "workload": workload.name, "seed": args.seed, "rounds": rounds,
        "urls_scheduled": run.emitted(), "setup_parts_s": {
            "process_to_session": round(t0 - T_START, 3), "session": round(session_s, 3),
            "inputs": round(run.gen_s, 3), "warm_up": round(run.warm_s, 3)}, "corpus_digest": run.digest,
        "round_walls": [round(o.wall, 4) for o in run.ops if o.kind == "round"],
    }))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(run.ops),
        "failed": len(failed),
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }))
    return 0


def metric_units(section: str) -> dict:
    """name -> unit for one metric section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
