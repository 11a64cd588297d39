"""Plan linter: inspect a DataFrame's physical plan for the anti-patterns
that kill 100 TB jobs — callable from tests and notebooks before a query
ships. ``tests/test_registry_lint.py`` runs it over every registry query,
with each query's expected plan shape (the expectations of the retired
``061f3a8:tools/explain_plans.py``).

Each finding is (severity, code, message). Severities: "error" (will not
survive scale), "warn" (survives, but usually unintended).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

Finding = tuple[str, str, str]


def formatted_plan(df: DataFrame) -> str:
    qe = df._jdf.queryExecution()
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(jmode)


def lint_plan(
    df: DataFrame,
    allow_nested_loop: bool = False,
    allow_python_udf: bool = False,
) -> list[Finding]:
    """Return anti-pattern findings for ``df``'s physical plan.

    Checks:
    - CartesianProduct — always an error (all-pairs blowup);
    - BroadcastNestedLoopJoin — error unless ``allow_nested_loop`` (a
      deliberate broadcast cross join, e.g. brute-force scoring against a
      tiny query set, is legitimate);
    - BatchEvalPython — row-at-a-time Python UDF in the plan; error unless
      ``allow_python_udf`` (ArrowEvalPython / MapInPandas are fine — they
      are the vectorized tier);
    - single-partition Window (no PARTITION BY) — warn: every row moves to
      ONE task;
    - Exchange rangepartitioning feeding a global Sort — warn: global sorts
      are output-formatting concerns, not pipeline stages.
    """
    plan = formatted_plan(df)
    findings: list[Finding] = []
    if "CartesianProduct" in plan:
        findings.append(
            ("error", "cartesian", "CartesianProduct in plan — all-pairs blowup")
        )
    if "BroadcastNestedLoopJoin" in plan and not allow_nested_loop:
        findings.append(
            (
                "error",
                "nested-loop",
                "BroadcastNestedLoopJoin — non-equi join fell off the hash path",
            )
        )
    if "BatchEvalPython" in plan and not allow_python_udf:
        findings.append(
            (
                "error",
                "python-udf",
                "BatchEvalPython — row-at-a-time Python UDF in the hot path "
                "(use builtin expressions or a pandas_udf)",
            )
        )
    # a no-PARTITION-BY window plans as Exchange SinglePartition → Sort →
    # Window: the SinglePartition exchange is the telltale
    if "Arguments: SinglePartition" in plan and re.search(r"\(\d+\) Window", plan):
        findings.append(
            (
                "warn",
                "global-window",
                "Window over a SinglePartition exchange (no PARTITION BY) — "
                "all rows move to one task",
            )
        )
    if re.search(r"Exchange rangepartitioning.*\n.*Sort", plan) or (
        "Exchange rangepartitioning" in plan and "Sort" in plan
    ):
        findings.append(
            (
                "warn",
                "global-sort",
                "range-partitioned Exchange + Sort — global sort in the pipeline",
            )
        )
    return findings


def assert_scale_safe(df: DataFrame, **allow) -> None:
    """Raise AssertionError listing every "error"-severity finding."""
    errors = [f for f in lint_plan(df, **allow) if f[0] == "error"]
    if errors:
        raise AssertionError(
            "plan is not scale-safe:\n"
            + "\n".join(f"  [{code}] {msg}" for _sev, code, msg in errors)
        )


_WINDOW_LINE = re.compile(r"^[\s:+\-*]*Window (\[)")


def unpartitioned_windows(df: DataFrame) -> list[str]:
    """EXACT single-partition-window detector on the OPTIMIZED LOGICAL
    plan (r10). A logical ``Window`` node prints
    ``Window [exprs], [partitionSpec], [orderSpec]``; the no-PARTITION-BY
    form has only two top-level bracket groups. This is distinct from
    :func:`lint_plan`'s physical heuristic, which can false-positive when
    a scalar aggregate's ``Exchange SinglePartition`` coexists with a
    correctly partitioned window elsewhere in the plan (and which matched
    ``WindowGroupLimit`` lines — the pushed-down top-k group limit, whose
    FIRST bracket group is the partition spec).

    Returns the offending plan lines (empty list = no unpartitioned
    window anywhere in the logical plan).
    """
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    bad: list[str] = []
    for line in logical.splitlines():
        if not _WINDOW_LINE.match(line):
            continue
        rest = line[line.index("Window ") + len("Window ") :]
        depth = 0
        start = -1
        groups: list[str] = []
        for i, ch in enumerate(rest):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(rest[start : i + 1])
                elif depth < 0:
                    depth = 0
        # 3 groups → [exprs], [partitionSpec], [orderSpec]: partitioned.
        # 2 groups is ambiguous: `PARTITION BY x` without ORDER BY prints
        # `[exprs], [partCols]`, while `ORDER BY x` without PARTITION BY
        # prints `[exprs], [orderSpec]` — only the order spec carries the
        # ` ASC NULLS `/` DESC NULLS ` sort markers.
        if len(groups) >= 3:
            continue
        second = groups[1] if len(groups) > 1 else ""
        if " ASC NULLS " in second or " DESC NULLS " in second:
            bad.append(line.strip()[:160])
        elif len(groups) < 2:
            # truncated/unexpected print shape — flag loudly rather than
            # silently passing
            bad.append(line.strip()[:160])
    return bad
