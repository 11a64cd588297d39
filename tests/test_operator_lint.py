"""Lints. Operators never mutate session confs: ``plans/bundle.py``
builds plans from several threads over one session, so a conf an operator
sets leaks into every plan built meanwhile. ``cli.py`` and ``plans/`` read
files only through ``sources/readers.py``, so every read shares one set of
csv options (and one traced call site). Every eager action in ``cli.py``,
``plans/``, ``sources/readers.py`` and ``sources/sinks.py`` runs inside a
``with job_label(...)`` block, so each of its jobs says in the event log
what it is for. Every public package function is reached by production
code (``test_every_public_function_has_a_caller``) and every defaulted
parameter of one is set by some production call
(``test_every_option_has_a_caller``): code only tests call is kept for the
tests' sake, and a value no caller sets is a constant, which as a
parameter only multiplies the configurations tests and benchmarks would
have to cover. Tests import only names that exist."""

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


# What runs the program. Tests and examples are not callers: a function or
# an option only a test uses is surface kept for the test's own sake.
_CALLERS = [
    *sorted(PACKAGE_DIR.glob("**/*.py")),
    REPO_DIR / "__spark_entry__.py",
    REPO_DIR / "bench.py",
    *[
        path
        for folder in ("tools", "perfbench")
        for path in sorted((REPO_DIR / folder).glob("**/*.py"))
    ],
]

# Public functions ``name`` and options ``name(param=)`` that need no
# production caller, each with its reason.
_NEEDS_NO_CALLER = {
    "get_spark(master=)": "deployment setting: the cluster to run on",
    "get_spark(shuffle_partitions=)": "deployment setting: sized to the cluster",
    "genome_nexus_annotator(retries=)": "deployment setting of the annotation service",
    "genome_nexus_annotator(backoff_s=)": "deployment setting of the annotation service",
    "genome_nexus_annotator(max_variants_per_request=)":
        "deployment setting: the annotation service's request limit",
    "write_study_bundle(attr_meta=)":
        "reference twin: test_reference_differential_bundle.py passes the "
        "reference's attribute metadata to compare bundles byte for byte",
    "count_equality":
        "reference twin of the reference's row-count check, compared in "
        "test_reference_differential_bundle.py and _maf.py",
    "schema_matches_exactly":
        "reference twin of the reference's MAF column check, compared in "
        "test_reference_differential_maf.py",
    "assert_scale_safe": "plan gate test_registry_lint.py runs over the registry",
    "unpartitioned_windows": "plan gate test_registry_lint.py runs over the registry",
}


def _bound_names(tree: ast.Module) -> set[str]:
    """Names a bare ``ast.Name`` can mean a package function by: the
    module's own top-level functions and what it imports (``hits = ...``
    elsewhere is a local)."""
    return {n.name for n in tree.body if isinstance(n, ast.FunctionDef)} | {
        alias.asname or alias.name
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
        for alias in n.names
    }


def _live_code():
    """Public package functions by name, and the production code that can
    run: every caller file's module-level code (class bodies included),
    then, to a fixpoint, the body of each package function that live code
    names, by a load of its name or attribute. A name in
    ``_NEEDS_NO_CALLER`` is live too; a package ``__init__.py`` that
    re-exports a name is no caller of it. Returns
    ``(functions, reached, live)``: ``live`` is a list of
    ``(bound names, node)``."""
    functions: dict[str, list[tuple[str, ast.FunctionDef]]] = {}
    bodies: dict[str, list[tuple[set[str], ast.FunctionDef]]] = {}
    live: list[tuple[set[str], ast.AST]] = []
    pending = [name for name in _NEEDS_NO_CALLER if "(" not in name]
    for path in _CALLERS:
        tree = ast.parse(path.read_text())
        bound = _bound_names(tree)
        for node in tree.body:
            if PACKAGE_DIR in path.parents and isinstance(node, ast.FunctionDef):
                bodies.setdefault(node.name, []).append((bound, node))
                if not node.name.startswith("_"):
                    rel = path.relative_to(PACKAGE_DIR).as_posix()
                    functions.setdefault(node.name, []).append((rel, node))
            elif not (path.name == "__init__.py" and isinstance(node, ast.ImportFrom)):
                live.append((bound, node))

    def names(bound: set[str], top: ast.AST):
        for node in ast.walk(top):
            if isinstance(node, ast.Name) and node.id in bound:
                yield node.id
            elif isinstance(node, ast.Attribute):
                yield node.attr

    pending += [n for bound, top in live for n in names(bound, top)]
    reached: set[str] = set()
    while pending:
        name = pending.pop()
        if name in reached or name not in bodies:
            continue
        reached.add(name)
        for bound, fn in bodies[name]:
            live.append((bound, fn))
            pending += names(bound, fn)
    return functions, reached, live


def test_every_public_function_has_a_caller():
    """A public package function that no production code reaches (see
    :func:`_live_code`) is code kept only for its tests."""
    functions, reached, _ = _live_code()
    unreached = [
        f"{rel}:{fn.lineno} {name}"
        for name, defs in sorted(functions.items())
        if name not in reached
        for rel, fn in defs
    ]
    assert unreached == [], f"{len(unreached)} functions no caller reaches:\n" + "\n".join(
        unreached
    )


def test_every_option_has_a_caller():
    """A call sets a parameter when it names the function (by name, in any
    module) and passes the parameter by keyword or passes enough positional
    arguments to reach it; ``*args``/``**kwargs`` set every parameter. A
    function also referenced as a value (passed, aliased, a default) may be
    called through a variable, so all its parameters count as set. Only
    calls in live production code count (see :func:`_live_code`)."""
    functions, _, live = _live_code()
    set_params: dict[str, set[str]] = {name: set() for name in functions}
    referenced: set[str] = set()
    for bound, top in live:
        call_funcs = set()
        for call in ast.walk(top):
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
        for node in ast.walk(top):
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
        if param not in set_params[name] and f"{name}({param}=)" not in _NEEDS_NO_CALLER
    ]
    assert unset == [], f"{len(unset)} parameters no caller sets:\n" + "\n".join(unset)


def _package_imports(tree: ast.Module):
    """Every ``from iatlas_cbioportal_export_spark... import`` in ``tree``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            PACKAGE_DIR.name
        ):
            yield node


def test_tests_import_only_what_exists():
    """Every ``from iatlas_cbioportal_export_spark... import name`` in a test
    names a module and attribute that exist, so a deleted function shows up
    here as one named failure rather than as a collection error that skips
    the whole test file."""
    import importlib
    import importlib.util

    missing = []
    for path in sorted((REPO_DIR / "tests").glob("*.py")):
        for node in _package_imports(ast.parse(path.read_text())):
            try:
                module = importlib.import_module(node.module)
            except ImportError:
                missing.append(f"{path.name}:{node.lineno} {node.module}")
                continue
            missing += [
                f"{path.name}:{node.lineno} {node.module}.{alias.name}"
                for alias in node.names
                if not hasattr(module, alias.name)
                and not (  # a submodule not imported yet
                    hasattr(module, "__path__")
                    and importlib.util.find_spec(f"{node.module}.{alias.name}")
                )
            ]
    assert missing == []


def test_tests_call_only_parameters_that_exist():
    """Every call in a test to a package function it imports (``name(...)``,
    or ``module.name(...)`` for an imported package module) passes only
    keywords the function takes and no more positional arguments than it
    has. A deleted parameter then fails here by name, also in test files
    that skip when an optional input (the reference checkout, the slow
    tier) is absent."""
    import importlib
    import inspect

    bad = []
    for path in sorted((REPO_DIR / "tests").glob("*.py")):
        tree = ast.parse(path.read_text())
        bound = {}
        for node in _package_imports(tree):
            module = importlib.import_module(node.module)
            for alias in node.names:
                target = getattr(module, alias.name, None)
                if target is None and hasattr(module, "__path__"):
                    target = importlib.import_module(f"{node.module}.{alias.name}")
                bound[alias.asname or alias.name] = target
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            func = call.func
            if isinstance(func, ast.Name) and func.id in bound:
                target = bound[func.id]
            elif (
                isinstance(func, ast.Attribute)
                and isinstance(func.value, ast.Name)
                and inspect.ismodule(bound.get(func.value.id))
            ):
                target = getattr(bound[func.value.id], func.attr, None)
            else:
                continue
            if not callable(target) or inspect.ismodule(target):
                continue
            try:
                params = inspect.signature(target).parameters.values()
            except (TypeError, ValueError):
                continue
            kinds = {p.kind for p in params}
            where = f"{path.name}:{call.lineno} {ast.unparse(func)}"
            if inspect.Parameter.VAR_KEYWORD not in kinds:
                names = {
                    p.name for p in params if p.kind != inspect.Parameter.POSITIONAL_ONLY
                }
                bad += [
                    f"{where}({k.arg}=)"
                    for k in call.keywords
                    if k.arg and k.arg not in names
                ]
            positional = [
                p
                for p in params
                if p.kind
                in (
                    inspect.Parameter.POSITIONAL_ONLY,
                    inspect.Parameter.POSITIONAL_OR_KEYWORD,
                )
            ]
            if inspect.Parameter.VAR_POSITIONAL not in kinds and not any(
                isinstance(a, ast.Starred) for a in call.args
            ):
                if len(call.args) > len(positional):
                    bad.append(f"{where} takes {len(positional)} positional, given {len(call.args)}")
    assert bad == [], "\n".join(bad)
