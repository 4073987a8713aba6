"""Registry-wide physical-plan lint: EVERY registered query's executed
plan is checked for the anti-patterns that kill a 100 TB / 1000-executor
scale-up. test_plans.py asserts specific positive properties (pushdown,
broadcast) on representative queries; this sweep asserts the negative
properties on all of them, so a regression in ANY query is caught the
round it appears.

Rules:
- `CartesianProduct` never appears (equi-joins must stay hash joins;
  the intentional band/theta joins compile to BroadcastNestedLoopJoin
  with a broadcast-small side, never a shuffled cartesian).
- `BatchEvalPython` never appears (row-at-a-time Python UDFs are
  banned; Python only ever runs Arrow-batched via MapInPandas /
  FlatMapGroupsInPandas / FlatMapCoGroupsInPandas).
- `Exchange SinglePartition` is allowed ONLY as the merge step of a
  keyless (scalar) aggregation, where each task contributes exactly one
  partial-aggregate row — O(num_tasks) rows through the exchange, not
  data. Any other single-partition funnel (global Window.orderBy,
  coalesce(1), un-keyed sort) is a straggler at scale and fails here.
"""

from __future__ import annotations

import re

import pytest

from thrill_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")

# Exchange SinglePartition whose child is a keyless partial aggregate:
# the scalar-merge pattern (one row per upstream task).
# (HashAggregate prints "keys=[]", SortAggregate prints "key=[]")
_SCALAR_MERGE_CHILD = re.compile(
    r"^[\s:+|-]*(\*\(\d+\)\s*)?(Hash|Sort|ObjectHash)?Aggregate\(keys?=\[\],"
    r" functions=\[(partial_|merge_)"
)


def _single_partition_violations(plan: str) -> list[str]:
    lines = plan.splitlines()
    bad = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        child = lines[i + 1] if i + 1 < len(lines) else ""
        if not _SCALAR_MERGE_CHILD.match(child):
            bad.append(f"line {i}: {line.strip()} over {child.strip()[:80]}")
    return bad


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_lint(spark, name):
    df = QUERIES[name](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for pat in FORBIDDEN:
        assert pat not in plan, f"{name}: {pat} in executed plan"
    viol = _single_partition_violations(plan)
    assert not viol, f"{name}: non-scalar single-partition funnel:\n" + "\n".join(viol)


# Modules allowed to call createDataFrame: the Arrow local-relation
# helper itself and the user-facing ingestion (collections with
# inferred or nested schemas). Every other driver-built table goes
# through session.local_frame, so none of them starts a Python worker.
_CREATE_DATAFRAME_ALLOWED = {"session.py": {"local_frame"}, "api.py": None, "sources/io.py": None}


def _method_calls(tree, attr):
    """(enclosing module-level function name or None, line) of every
    `<expr>.<attr>(...)` call in a module AST."""
    import ast

    out = []

    def visit(node, fn):
        if fn is None and isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr
        ):
            out.append((fn, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return out


def test_driver_tables_are_local_relations():
    import ast
    import pathlib

    import thrill_spark

    root = pathlib.Path(thrill_spark.__file__).parent
    bad = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for fn, line in _method_calls(ast.parse(path.read_text()), "createDataFrame"):
            if rel in _CREATE_DATAFRAME_ALLOWED:
                allowed = _CREATE_DATAFRAME_ALLOWED[rel]
                if allowed is None or fn in allowed:
                    continue
            bad.append(f"{rel}:{line} (in {fn})")
    assert not bad, "createDataFrame outside session.local_frame:\n" + "\n".join(bad)


# Functions of plans/algorithms.py allowed to call localCheckpoint: the
# two checkpoint helpers and the suffix ladder's bucket sort. Every
# iterative loop checkpoints through _fixpoint, whose round checkpoint
# also decides convergence.
_LOCAL_CHECKPOINT_ALLOWED = {"_honest_ckpt", "_ckpt_with_sig", "suffix_array"}


def test_loops_checkpoint_through_fixpoint():
    import ast
    import pathlib

    import thrill_spark.plans.algorithms as A

    tree = ast.parse(pathlib.Path(A.__file__).read_text())
    bad = [
        f"algorithms.py:{line} (in {fn})"
        for fn, line in _method_calls(tree, "localCheckpoint")
        if fn not in _LOCAL_CHECKPOINT_ALLOWED
    ]
    assert not bad, "localCheckpoint outside the checkpoint helpers:\n" + "\n".join(bad)
