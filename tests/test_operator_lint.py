"""Operators never mutate session confs: ``plans/bundle.py`` builds plans
from several threads over one session, so a conf an operator sets leaks
into every plan built meanwhile."""

from pathlib import Path

import iatlas_cbioportal_export_spark.operators as operators

OPERATORS_DIR = Path(operators.__file__).parent


def test_no_operator_sets_session_conf():
    offenders = [
        f"{path.name}:{lineno}"
        for path in sorted(OPERATORS_DIR.glob("**/*.py"))
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        if ".conf.set(" in line
    ]
    assert offenders == []
