"""Meta-test — determinism rules enforced by grep (SURVEY.md §5).

The engine package must contain no RNG, no wall-clock, no classic per-row
``udf(`` (BASELINE.json:15), and no ``collect()`` in the round path other
than the sanctioned small aggregates (counters, lineage digests, emitted-pk
pruning list — all O(P) or O(counters), never O(rows)).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from indigo_crawler_spark.kernels.canonicalize import CanonPolicy

ENGINE = Path(__file__).resolve().parent.parent / "indigo_crawler_spark"
ORACLE = ENGINE.parent / "oracle"

BANNED = [
    (r"\brandom\b", "RNG"),
    (r"\btime\.time\(", "wall clock"),
    (r"\buuid\b", "uuid"),
    (r"(?<![\w.])udf\(", "classic per-row udf"),
    (r"\bdatetime\.now\b", "wall clock"),
]

# files allowed to call .collect()/.isEmpty() — each use is O(P) or O(1)
# (similarity.py: the IVF index build collects ≤n_centroids vectors once;
# export.py: the incremental export's affected-pk list is ≤num_buckets rows;
# components.py: one single-row convergence count per propagation iteration;
# sharding.py: the prefix-sum offsets collect is one row per partition;
# pagerank.py: one scalar dangling-mass aggregate per iteration)
COLLECT_ALLOWED = {
    "round.py", "lineage.py", "skew.py", "politeness.py", "skin.py",
    "similarity.py", "export.py", "components.py", "sharding.py",
    "pagerank.py",
}


def _sources():
    return sorted(ENGINE.rglob("*.py"))


def test_no_banned_tokens():
    for path in _sources():
        src = path.read_text()
        for pat, why in BANNED:
            assert not re.search(pat, src), f"{path.name}: banned token ({why})"


def test_collect_only_where_sanctioned():
    for path in _sources():
        src = path.read_text()
        if re.search(r"\.collect\(\)|\.isEmpty\(\)|\.toPandas\(\)", src):
            assert path.name in COLLECT_ALLOWED, (
                f"{path.name}: driver-side materialization outside sanctioned files"
            )


def test_oracle_shares_kernels():
    sim = (Path(__file__).resolve().parent.parent / "oracle" / "simulator.py").read_text()
    for kernel in ("canonicalize", "priority", "robots", "textextract"):
        assert f"kernels.{kernel}" in sim, f"oracle must import shared kernel {kernel}"


def test_canon_rules_stay_behind_one_module():
    """The six URL-alias rules travel as one CanonPolicy: outside the kernel
    that applies them, no function takes a parameter named after a rule."""
    kernel = ENGINE / "kernels" / "canonicalize.py"
    offenders = []
    for path in sorted([*ENGINE.rglob("*.py"), *ORACLE.rglob("*.py")]):
        if path == kernel:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                params = [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]
                offenders += [
                    f"{path.relative_to(ENGINE.parent)}:{node.lineno} {p.arg}"
                    for p in params
                    if p is not None and p.arg in CanonPolicy._fields
                ]
    assert not offenders, offenders


# (file relative to the repo root, enclosing function) pairs allowed to call
# spark.conf.set/unset: the one scoped setter, and the permanent AQE-off of
# the analog-query table reader ``_t`` (its comment says why no scope can
# cover it)
CONF_SETTERS = {
    ("indigo_crawler_spark/plans/round.py", "session_conf"),
    ("__spark_entry__.py", "_t"),
}


def _conf_calls(tree: ast.AST):
    """Yield (enclosing function name or None, lineno) for every
    ``<x>.conf.set(...)`` / ``<x>.conf.unset(...)`` call in *tree*."""

    def walk(node, func):
        for child in ast.iter_child_nodes(node):
            inner = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("set", "unset")
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "conf"
            ):
                yield inner, child.lineno
            yield from walk(child, inner)

    yield from walk(tree, None)


def test_session_conf_set_only_in_one_scope():
    """The engine scopes a session conf one way, ``session_conf``: no other
    code under the engine, the oracle, ``__spark_entry__.py``, jobs or tools sets
    or unsets a session conf key."""
    root = ENGINE.parent
    files = [
        *ENGINE.rglob("*.py"),
        *ORACLE.rglob("*.py"),
        *(root / "jobs").rglob("*.py"),
        *(root / "tools").rglob("*.py"),
        root / "__spark_entry__.py",
    ]
    found, offenders = set(), []
    for path in sorted(files):
        rel = path.relative_to(root).as_posix()
        for func, line in _conf_calls(ast.parse(path.read_text())):
            if (rel, func) in CONF_SETTERS:
                found.add((rel, func))
            else:
                offenders.append(f"{rel}:{line} in {func}")
    assert not offenders, offenders
    assert found == CONF_SETTERS  # a vacuous walk would pass the check above
