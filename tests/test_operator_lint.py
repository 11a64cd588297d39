"""Four lints. Operators never mutate session confs: ``plans/bundle.py``
builds plans from several threads over one session, so a conf an operator
sets leaks into every plan built meanwhile. ``cli.py`` and ``plans/`` read
files only through ``sources/readers.py``, so every read shares one set of
csv options (and one traced call site). Every eager action in ``cli.py``,
``plans/``, ``sources/readers.py`` and ``sources/sinks.py`` runs inside a
``with job_label(...)`` block, so each of its jobs says in the event log
what it is for. Every defaulted parameter of a public package function is
set by some call (``test_every_option_has_a_caller``): a value no caller
sets is a constant, and as a parameter it only multiplies the
configurations tests and benchmarks would have to cover."""

import ast
from pathlib import Path

import iatlas_cbioportal_export_spark.operators as operators

OPERATORS_DIR = Path(operators.__file__).parent
PACKAGE_DIR = OPERATORS_DIR.parent
REPO_DIR = PACKAGE_DIR.parent


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


def _defaulted_params(fn: ast.FunctionDef) -> list[str]:
    positional = fn.args.posonlyargs + fn.args.args
    defaulted = positional[len(positional) - len(fn.args.defaults):]
    keyword_only = [
        a for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None
    ]
    return [a.arg for a in defaulted + keyword_only]


def _called_name(call: ast.Call) -> str | None:
    func = call.func
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def test_every_option_has_a_caller():
    """A call sets a parameter when it names the function (by name, in any
    module) and passes the parameter by keyword or passes enough positional
    arguments to reach it; ``*args``/``**kwargs`` set every parameter. A
    function also referenced as a value (passed, aliased, a default) may be
    called through a variable, so all its parameters count as set. Callers
    are the package, ``__spark_entry__.py``, ``bench.py``, ``tools/``,
    ``perfbench/`` and ``tests/``."""
    functions: dict[str, list[tuple[str, ast.FunctionDef]]] = {}
    for path in sorted(PACKAGE_DIR.glob("**/*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                rel = path.relative_to(PACKAGE_DIR).as_posix()
                functions.setdefault(node.name, []).append((rel, node))

    callers = [
        *sorted(PACKAGE_DIR.glob("**/*.py")),
        REPO_DIR / "__spark_entry__.py",
        REPO_DIR / "bench.py",
        *[
            path
            for folder in ("tools", "perfbench", "tests")
            for path in sorted((REPO_DIR / folder).glob("**/*.py"))
        ],
    ]
    set_params: dict[str, set[str]] = {name: set() for name in functions}
    referenced: set[str] = set()
    for path in callers:
        tree = ast.parse(path.read_text())
        call_funcs = set()
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            call_funcs.add(id(call.func))
            name = _called_name(call)
            if name not in functions:
                continue
            star = any(isinstance(a, ast.Starred) for a in call.args) or any(
                k.arg is None for k in call.keywords
            )
            for _, fn in functions[name]:
                positional = fn.args.posonlyargs + fn.args.args
                reached = positional if star else positional[: len(call.args)]
                set_params[name].update(a.arg for a in reached)
                if star:
                    set_params[name].update(a.arg for a in fn.args.kwonlyargs)
            set_params[name].update(k.arg for k in call.keywords if k.arg)
        # a bare name refers to a package function only where the module
        # imports or defines it (``hits = ...`` elsewhere is a local)
        bound = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)} | {
            alias.asname or alias.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for alias in n.names
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and node.id in bound:
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            else:
                continue
            if name in functions and isinstance(node.ctx, ast.Load):
                if id(node) not in call_funcs:
                    referenced.add(name)

    unset = [
        f"{rel}:{fn.lineno} {name}({param}=)"
        for name, defs in sorted(functions.items())
        if name not in referenced
        for rel, fn in defs
        for param in _defaulted_params(fn)
        if param not in set_params[name]
    ]
    assert unset == [], f"{len(unset)} parameters no caller sets:\n" + "\n".join(unset)
