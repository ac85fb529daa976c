"""Layering pin: operators are the algebra the query modules compose,
so no operators module may import a query module (queries*.py). The
check runs in a fresh interpreter, because the test session has
already imported the query registry."""

from __future__ import annotations

import subprocess
import sys

from tests.conftest import REPO_ROOT

_PROBE = """
import importlib, pkgutil, sys
sys.path.insert(0, sys.argv[1])
import tradesignal_mtm_runner_spark.operators as ops
for m in pkgutil.iter_modules(ops.__path__):
    importlib.import_module("tradesignal_mtm_runner_spark.operators." + m.name)
print(sorted(k for k in sys.modules
             if k.split(".")[-1].startswith("queries")))
"""


def test_operators_import_no_query_module():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, REPO_ROOT],
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    ).stdout.strip()
    assert out == "[]", f"operators pulled in query modules: {out}"
