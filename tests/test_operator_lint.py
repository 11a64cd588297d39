"""Operators never mutate session confs: ``plans/bundle.py`` builds plans
from several threads over one session, so a conf an operator sets leaks
into every plan built meanwhile. ``cli.py`` and ``plans/`` read files only
through ``sources/readers.py``, so every read shares one set of csv options
(and one traced call site)."""

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
