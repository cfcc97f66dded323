"""Tracing for the benchmark's traced mode, all of it outside the engine.

Spans wrap the benchmark's own calls into the engine and the methods of the
``TableIO`` subclass it hands to ``CrawlState``; counts come from Spark's
job counter, a py4j command counter and the SQL status store. Spans are
kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import resource
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from indigo_crawler_spark.sources.table_io import TableIO

# table name -> write family reported as table_io.write_s.<family>
FAMILIES = ("page_store", "fetch_batches", "seen", "fetched_text", "frontier",
            "filter", "host_budgets", "other")
_FAMILY_OF = {"seen_bloom": "filter"}


def family(table: str) -> str:
    head = table.split("/", 1)[0]
    head = _FAMILY_OF.get(head, head)
    return head if head in FAMILIES else "other"


class Tracer:
    """Spans with name, start, end and parent. Spans opened on the engine's
    pooled threads take the operation span open on the main thread as
    their parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._op
        rec = {"name": name, "parent": parent, "start": time.monotonic(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        if threading.current_thread() is threading.main_thread() and len(stack) == 1:
            self._op = rec["id"]
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            if not stack and self._op == rec["id"]:
                self._op = None

    def children(self, span_id: int, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id and s["name"].startswith(prefix)]

    def dump(self, path: str, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


@dataclass
class TracedIO(TableIO):
    """``TableIO`` whose data and commit methods record spans."""

    tracer: Tracer = field(default=None, repr=False)

    def _measure(self, span: dict, table: str) -> None:
        t0 = time.perf_counter()
        span["bytes"] = _dir_bytes(self.path(table))
        span["trace_s"] = time.perf_counter() - t0  # tracing's own cost

    def write(self, df, table, partition_by=None):
        with self.tracer.span("table_io.write", table=table, family=family(table)) as s:
            super().write(df, table, partition_by)
        self._measure(s, table)

    def rewrite(self, df, table):
        with self.tracer.span("table_io.write", table=table, family=family(table)) as s:
            super().rewrite(df, table)
        self._measure(s, table)

    def file_row_count(self, table):
        with self.tracer.span("table_io.commit", table=table):
            return super().file_row_count(table)

    def write_manifest(self, name, payload):
        with self.tracer.span("table_io.commit", table=f"manifest/{name}"):
            super().write_manifest(name, payload)


class Py4jCounter:
    """Counts py4j commands sent by this process by wrapping the gateway
    client's ``send_command``; also sums the wrapper's own cost."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self.self_s = 0.0
        self._lock = threading.Lock()
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def send_command(*args, **kwargs):
            t0 = time.perf_counter()
            with self._lock:
                self.calls += 1
                self.self_s += time.perf_counter() - t0
            return inner(*args, **kwargs)

        client.send_command = send_command


def dag_scheduler(spark):
    """The DAGScheduler, whose ``nextJobId()`` counts every job submitted
    from any thread."""
    return spark.sparkContext._jsc.sc().dagScheduler()


# ---- Python boundary, from the SQL status store -------------------------

_PY_NODES = ("ArrowEvalPython", "MapInPandas", "FlatMapCoGroupsInPandas",
             "FlatMapGroupsInPandas", "BatchEvalPython", "MapInArrow")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip=')
_EDGE = re.compile(r"^\s*(\d+)->(\d+);")


def _number(text: str) -> float:
    value, _, unit = text.strip().split(" (")[0].partition(" ")
    return float(value.replace(",", "")) * _UNITS.get(unit, 1)


def _node_metrics(label: str) -> tuple[str, dict]:
    name = re.search(r"<b>(.*?)</b>", label).group(1)
    parts = label.split("<br>")
    metrics = {}
    for i, part in enumerate(parts):
        if part.endswith("total (min, med, max (stageId: taskId))") and i + 1 < len(parts):
            metrics[part.split(" total (")[0]] = _number(parts[i + 1])
        elif ": " in part and "(" not in part.split(": ")[0]:
            key, _, value = part.partition(": ")
            metrics[key] = _number(value)
    return name, metrics


def python_boundary(dot: str) -> dict:
    """Rows and bytes crossing into and out of Python workers in one
    execution's plan graph (DOT text from ``SparkPlanGraph.makeDotFile``).
    rows_in follows each Python node's inputs down to the nearest operator
    that counts rows."""
    nodes, inputs = {}, {}
    for line in dot.splitlines():
        m = _NODE.match(line)
        if m:
            nodes[m.group(1)] = _node_metrics(m.group(2))
            continue
        m = _EDGE.match(line)
        if m:
            inputs.setdefault(m.group(2), []).append(m.group(1))

    def rows(node_id: str, depth: int = 0) -> float:
        _, metrics = nodes.get(node_id, ("", {}))
        for key in ("number of output rows", "shuffle records written"):
            if key in metrics:
                return metrics[key]
        if depth > 32:
            return 0.0
        return sum(rows(c, depth + 1) for c in inputs.get(node_id, []))

    out = {"rows_in": 0.0, "bytes_in": 0.0, "bytes_out": 0.0}
    for node_id, (name, metrics) in nodes.items():
        if name in _PY_NODES:
            out["rows_in"] += sum(rows(c) for c in inputs.get(node_id, []))
            out["bytes_in"] += metrics.get("data sent to Python workers", 0.0)
            out["bytes_out"] += metrics.get("data returned from Python workers", 0.0)
    return out


class SqlStore:
    """Reads executions the SQL status store gained since the last call."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self._store.executionsCount()

    def drain(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        count = self._store.executionsCount()
        out = {"rows_in": 0.0, "bytes_in": 0.0, "bytes_out": 0.0}
        page = self._store.executionsList(self._seen, count - self._seen)
        self._seen = count
        it = page.iterator()
        while it.hasNext():
            eid = it.next().executionId()
            dot = self._store.planGraph(eid).makeDotFile(self._store.executionMetrics(eid))
            for key, value in python_boundary(dot).items():
                out[key] += value
        return out


# ---- host noise ----------------------------------------------------------


def spin_probe(n: int = 1_000_000, reps: int = 3) -> float:
    """Median wall of a fixed single-thread Python loop."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        x = 0
        for i in range(n):
            x += i
        walls.append(time.perf_counter() - t0)
    return sorted(walls)[reps // 2]


def cpu_ticks() -> tuple[list[int], int]:
    """Aggregate /proc/stat cpu ticks and the number of cpus listed."""
    with open("/proc/stat") as f:
        lines = f.read().splitlines()
    ticks = [int(v) for v in lines[0].split()[1:9]]
    return ticks, sum(1 for ln in lines if re.match(r"cpu\d", ln))


def cpu_share(before: tuple[list[int], int], after: tuple[list[int], int]) -> dict:
    """busy cores and steal share of busy time between two cpu_ticks()."""
    d = [a - b for a, b in zip(after[0], before[0])]
    user, nice, system, idle, iowait, irq, softirq, steal = d
    busy = user + nice + system + irq + softirq + steal
    total = busy + idle + iowait
    return {
        "busy_cores": busy / total * after[1] if total else 0.0,
        "steal_frac": steal / busy if busy else 0.0,
    }


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of the driver process plus the JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid:
        try:
            with open(f"/proc/{jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0
