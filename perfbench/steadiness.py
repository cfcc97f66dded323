"""Run the benchmark once per seed, one run at a time, and summarize the
spread of every end-to-end metric.

    python3 perfbench/steadiness.py --workloads small_rounds churn_export \\
        --seeds 101-110 --out perfbench/results/set_a.json
    python3 perfbench/steadiness.py --compare perfbench/results/set_a.json \\
        perfbench/results/set_b.json

The spread of a metric is the distance between its first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of its median.
``--compare`` also prints how far the second set's median moved from the
first's, in the worse direction, as a share of the first median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def run_set(workloads, seed_list, seconds, trace) -> dict:
    out = {}
    for w in workloads:
        runs = []
        for seed in seed_list:
            cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", str(trace)]
            t0 = time.time()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.time() - t0
            last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
            result = json.loads(last) if last.startswith("{") else {}
            notes = {ln.split(" ", 2)[1]: json.loads(ln.split(" ", 2)[2])
                     for ln in proc.stdout.splitlines() if ln.startswith("# ")}
            runs.append({"seed": seed, "exit": proc.returncode, "wall_s": wall,
                         "result": result, "host": notes.get("host"),
                         "crawl": notes.get("crawl")})
            print(f"{w} seed={seed} exit={proc.returncode} wall={wall:.1f}s "
                  f"correct={result.get('correct')} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result.get("metrics", {}).items()
                             if trace == 0),
                  flush=True)
        metrics = {}
        for name in runs[0]["result"].get("metrics", {}):
            metrics[name] = summarize([r["result"]["metrics"][name]["value"] for r in runs])
        out[w] = {"runs": runs, "metrics": metrics,
                  "wall_s": summarize([r["wall_s"] for r in runs])}
    return out


def compare(path_a: str, path_b: str) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = {m["name"]: m for m in json.load(f)["end_to_end"]}
    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)
    for w in a:
        for name, m in spec.items():
            sa, sb = a[w]["metrics"][name], b[w]["metrics"][name]
            sign = 1 if m["better"] == "lower" else -1
            shift = sign * (sb["median"] - sa["median"]) / sa["median"]
            print(f"{w:14s} {name:16s} bound={m['bound']:.2f} "
                  f"median {sa['median']:.4g} -> {sb['median']:.4g} worse-by={shift:+.3f} "
                  f"spread {sa['spread']:.3f} / {sb['spread']:.3f}")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", nargs="+", default=[])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    p.add_argument("--compare", nargs=2)
    args = p.parse_args()
    if args.compare:
        compare(*args.compare)
        return
    result = run_set(args.workloads, seeds(args.seeds), args.seconds, args.trace)
    for w, r in result.items():
        for name, s in r["metrics"].items():
            print(f"{w:14s} {name:24s} median={s['median']:.4g} spread={s['spread']:.3f}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
