"""Three lints. Operators never mutate session confs: ``plans/bundle.py``
builds plans from several threads over one session, so a conf an operator
sets leaks into every plan built meanwhile. ``cli.py`` and ``plans/`` read
files only through ``sources/readers.py``, so every read shares one set of
csv options (and one traced call site). Every eager action in ``cli.py``,
``plans/``, ``sources/readers.py`` and ``sources/sinks.py`` runs inside a
``with job_label(...)`` block, so each of its jobs says in the event log
what it is for."""

import ast
from pathlib import Path

import iatlas_cbioportal_export_spark.operators as operators

OPERATORS_DIR = Path(operators.__file__).parent
PACKAGE_DIR = OPERATORS_DIR.parent


def test_no_operator_sets_session_conf():
    offenders = [
        f"{path.name}:{lineno}"
        for path in sorted(OPERATORS_DIR.glob("**/*.py"))
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if ".conf.set(" in line
    ]
    assert offenders == []


def test_cli_and_plans_read_only_through_readers():
    offenders = [
        f"{path.name}:{lineno}"
        for path in [PACKAGE_DIR / "cli.py", *sorted((PACKAGE_DIR / "plans").glob("*.py"))]
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if "spark.read" in line
    ]
    assert offenders == []


# Calls that run Spark jobs: actions, reader/writer format methods (a read
# without a declared schema runs header, inference or footer jobs; a reader
# chain that calls ``.schema(...)`` is exempt) and
# localCheckpoint, which runs the plan's shuffle stages when it is built
# even with eager=False (adaptive execution plans them).
_EAGER_METHODS = {
    "collect", "count", "toPandas", "csv", "json", "parquet", "orc", "xml", "save",
    "localCheckpoint",
}


_READ_METHODS = {"csv", "json", "parquet", "orc", "xml"}


def _declares_schema(expr: ast.expr) -> bool:
    """Whether a reader chain such as ``spark.read.schema(s).option(...)``
    calls ``.schema(...)``: a read with a declared schema only lists its
    files on the driver and runs no job."""
    while isinstance(expr, (ast.Call, ast.Attribute)):
        if isinstance(expr, ast.Call):
            if isinstance(expr.func, ast.Attribute) and expr.func.attr == "schema":
                return True
            expr = expr.func
        else:
            expr = expr.value
    return False


def _is_eager(call: ast.Call) -> bool:
    func = call.func
    return (
        isinstance(func, ast.Attribute)
        and func.attr in _EAGER_METHODS
        and getattr(func.value, "id", None) != "F"  # F.count is a column function
        and not (func.attr in _READ_METHODS and _declares_schema(func.value))
    )


def _is_job_label(expr: ast.expr) -> bool:
    return (
        isinstance(expr, ast.Call)
        and isinstance(expr.func, ast.Name)
        and expr.func.id == "job_label"
    )


def _unlabelled_eager_calls(path: Path) -> list[str]:
    offenders = []

    def visit(node: ast.AST, labelled: bool) -> None:
        if isinstance(node, (ast.FunctionDef, ast.Lambda)):
            labelled = False  # a body runs when called, not where defined
        elif isinstance(node, ast.With):
            labelled = labelled or any(_is_job_label(i.context_expr) for i in node.items)
        elif isinstance(node, ast.Call) and _is_eager(node) and not labelled:
            offenders.append(f"{path.name}:{node.lineno}")
        for child in ast.iter_child_nodes(node):
            visit(child, labelled)

    visit(ast.parse(path.read_text()), False)
    return offenders


def test_eager_actions_are_labelled():
    sources = PACKAGE_DIR / "sources"
    paths = [
        PACKAGE_DIR / "cli.py",
        *sorted((PACKAGE_DIR / "plans").glob("*.py")),
        sources / "readers.py",
        sources / "sinks.py",
    ]
    offenders = [o for path in paths for o in _unlabelled_eager_calls(path)]
    assert offenders == []
