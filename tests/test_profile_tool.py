"""Tests of ``tools/``: a smoke test of ``tools/query_profile.py`` (one cheap
query, one rep, in its own process: the tool starts its own session with an
event log), a lint that no tool is named after a standard-library module,
and a lint that no tool names a checkout by its absolute path.
``python tools/X.py`` puts ``tools/`` first on ``sys.path``, so such a tool
would shadow that module for every script there: a ``tools/profile.py``
breaks pyspark's import of cProfile, which imports ``profile``."""

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

from test_registry_lint import SF_DIR

ROOT = Path(__file__).resolve().parents[1]


def test_profile_reports_walls_jobs_and_labels(tmp_path):
    out = tmp_path / "out"
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "query_profile.py"), "graph_sssp",
         "--sf-dir", SF_DIR, "--reps", "1", "--out", str(out)],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rec = json.loads(proc.stdout)["graph_sssp"]
    for phase in ("build_s", "plan_s", "exec_s"):
        assert rec[phase]["min"] > 0
    assert rec["jobs"] > 0
    # the rounds' convergence counts carry the package's "round k" label
    assert rec["labels"]["round 1"]["jobs"] > 0
    assert (out / "graph_sssp.txt").read_text().startswith("== Physical Plan ==")


def test_no_tool_shadows_a_stdlib_module():
    stems = {path.stem for path in (ROOT / "tools").glob("*.py")}
    assert sorted(stems & sys.stdlib_module_names) == []


def _in_a_checkout(literal: str) -> bool:
    path = Path(literal)
    return path.is_absolute() and any(
        (d / "__spark_entry__.py").exists() for d in (path, *path.parents)
    )


def test_tools_find_the_checkout_from_their_own_path():
    """A tool finds the checkout from ``__file__``: a path literal into a
    checkout would make a run from another copy use that checkout's code
    or write into it."""
    found = {
        path.name: node.value
        for path in (ROOT / "tools").glob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and _in_a_checkout(node.value)
    }
    assert found == {}
