"""Plan inspection helpers: formatted-plan text, and one walker over plan
trees that counts a query's Python passes and cache reads."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries across all scans in the plan."""
    txt = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", txt):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column sets actually read from each scan (column-pruning witness)."""
    txt = explain_str(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<(.*?)>", txt):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c]
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)


def n_broadcast_hints(df: DataFrame) -> int:
    """Count of user-forced broadcast hints in the analyzed logical plan
    (AQE-chosen broadcasts don't show up here — only explicit hints do)."""
    analyzed = df._jdf.queryExecution().analyzed().toString()
    return analyzed.count("ResolvedHint")


# plan nodes whose operator runs a Python worker: MapInPandas,
# ArrowEvalPython, BatchEvalPython, FlatMapGroupsInPandas, MapInArrow, and
# their physical Exec twins
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def walk(node):
    """Every node of a plan tree, logical or physical, depth first,
    looking through AQE wrappers and query stages into the final plan,
    but NOT into cached relations."""
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from walk(node.executedPlan())
    elif name.endswith("QueryStageExec"):
        yield from walk(node.plan())
    else:
        kids = node.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))


def python_passes(df: DataFrame) -> tuple[list[tuple[str, int]], int]:
    """``(passes, cache_reads)`` of ``df``'s optimized logical plan.

    ``passes`` holds one ``(label, key)`` per Python node: ``label`` is
    the node's one-line description with expression IDs dropped, and
    ``key`` the semantic hash of the node and its whole input subtree
    (Catalyst's canonical form, expression IDs normalized), so two
    entries with one key are the same Python pass planned twice.
    ``cache_reads`` counts InMemoryRelation leaves. Each distinct cached
    plan is walked once, as it is materialized once."""
    jvm = df.sparkSession._jvm
    seen: set[int] = set()
    passes: list[tuple[str, int]] = []
    reads = 0
    todo = [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        for node in walk(todo.pop()):
            name = node.getClass().getSimpleName()
            if name in ("InMemoryRelation", "InMemoryTableScanExec"):
                rel = node if name == "InMemoryRelation" else node.relation()
                reads += name == "InMemoryRelation"
                cache = jvm.System.identityHashCode(rel.cacheBuilder())
                if cache not in seen:
                    seen.add(cache)
                    todo.append(rel.cachedPlan())
            elif _PYTHON_NODE.search(name):
                label = re.sub(r"#\d+L?", "", node.simpleString(4))
                passes.append((label, node.canonicalized().semanticHash()))
    return passes, reads
