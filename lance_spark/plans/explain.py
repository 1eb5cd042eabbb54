"""Plan inspection: explain_plan / analyze_plan / plan_summary.

Parity with the reference's observability surface (scanner.rs:3651-3675
``explain_plan`` / ``analyze_plan``, dataset.py:4719-4748) on Catalyst
plans, plus the plan-shape assertions the reference's tests rely on
(scanner.rs tests match explain strings; ours assert on summaries).

``plan_summary`` is what keeps the 100 TB contract honest in CI: tests
assert that filters reached the scan (PushedFilters), projections pruned
the schema (ReadSchema), small dims broadcast, and no shuffle appears where
none is needed.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The string Spark would print for df.explain(mode) (EXPLAIN)."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def analyze_plan(df: DataFrame) -> str:
    """EXPLAIN ANALYZE equivalent: execute df's OWN QueryExecution (a noop
    write planned a SEPARATE QueryExecution, so the returned plan stayed
    un-executed — AQE still printed isFinalPlan=false and every metric was
    zero; r12 review fix), then return the final adaptive plan string plus
    a per-node metrics tree."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    # run THIS plan: no driver-side collect, just a JVM-side row count
    qe.executedPlan().execute().count()
    plan = qe.executedPlan().toString()
    try:
        lines = _metrics_tree(qe.executedPlan())
        return plan + "\n== Metrics ==\n" + "\n".join(lines)
    except Exception:  # py4j surface drift: the plan alone is still useful
        return plan


def _metrics_tree(jplan) -> list:
    """One line per executed-plan node, indented by depth, with its
    SQLMetric values (SparkPlan.toString never prints metrics)."""
    out = []
    for depth, node in walk_plan(jplan):
        parts = [f"{name}={value}" for _, name, value in node_metrics(node)]
        out.append("  " * depth + node.nodeName() + (": " + ", ".join(parts) if parts else ""))
    return out


def walk_plan(jplan):
    """Pre-order ``(depth, node)`` over an executed SparkPlan, piercing
    AQE's wrappers: AdaptiveSparkPlanExec exposes its final plan through
    ``executedPlan`` (its ``children`` is empty), and each materialized
    QueryStageExec hides its subtree behind ``plan``."""
    stack = [(0, jplan)]
    seen = 0
    while stack and seen < 10_000:
        depth, node = stack.pop()
        seen += 1
        yield depth, node
        kids = []
        try:
            cname = node.getClass().getSimpleName()
            if "AdaptiveSparkPlan" in cname:
                kids.append(node.executedPlan())
            if "QueryStage" in cname:
                kids.append(node.plan())
        except Exception:  # py4j surface drift: walk the plain children
            pass
        try:
            ch = node.children()
            kids.extend(ch.apply(i) for i in range(ch.size()))
        except Exception:
            pass
        stack.extend((depth + 1, k) for k in reversed(kids))


def node_metrics(node) -> list:
    """``(accumulator id or None, name, value)`` for each SQLMetric of one
    plan node; the name is the metric's description (e.g. ``number of
    output rows``)."""
    out = []
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        try:
            acc_id = int(metric.id())
        except Exception:
            acc_id = None
        try:
            nm = metric.name()
            name = str(nm.get()) if nm.isDefined() else str(kv._1())
        except Exception:
            name = str(kv._1())
        out.append((acc_id, name, int(metric.value())))
    return out


def plan_summary(df: DataFrame) -> dict:
    """Structured digest of the executed (pre-run) physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "pushed_filters": [p for p in pushed if p],
        "read_columns": sorted(
            {c for rs in _read_schemas(plan) for c in _top_level_fields(rs)}
        ),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "shuffles": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "scans": plan.count("FileScan") + plan.count("BatchScan"),
        "plan": plan,
    }




def _read_schemas(plan: str) -> list[str]:
    """Balanced-bracket extraction of every ReadSchema struct body — the
    old ``[^>]*`` regex truncated at the first ``>`` of a NESTED type,
    inventing nested field names as top-level columns and dropping real
    ones (r12 review fix)."""
    out = []
    for m in re.finditer(r"ReadSchema: struct<", plan):
        depth, i = 1, m.end()
        while i < len(plan) and depth:
            if plan[i] == "<":
                depth += 1
            elif plan[i] == ">":
                depth -= 1
            i += 1
        out.append(plan[m.end() : i - 1])
    return out


def _top_level_fields(struct_body: str) -> list[str]:
    """Field names at bracket depth 0 of a struct body
    ('a:struct<x:int,y:int>,b:array<int>' → ['a', 'b'])."""
    fields, depth, start = [], 0, 0
    for i, ch in enumerate(struct_body + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            piece = struct_body[start:i]
            if ":" in piece:
                fields.append(piece.split(":", 1)[0].strip())
            start = i + 1
    return fields


def assert_pushed(df: DataFrame, column: str) -> None:
    s = plan_summary(df)
    # word-boundary match: a bare substring test let 'id' pass against a
    # pushed filter on 'uid'/'order_id' (r12 review fix)
    pat = re.compile(rf"\b{re.escape(column)}\b")
    assert any(pat.search(p) for p in s["pushed_filters"]), (
        f"filter on {column} did not reach the scan:\n{s['plan']}"
    )


def assert_reads_only(df: DataFrame, columns: set[str]) -> None:
    s = plan_summary(df)
    extra = set(s["read_columns"]) - set(columns)
    assert not extra, f"scan reads more columns than needed: {sorted(extra)}\n{s['plan']}"
