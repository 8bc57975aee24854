"""The benchmark's hold on the program: every name ``perfbench/`` imports
from the package resolves, and its traced-run wrappers install. A renamed
or deleted name otherwise shows up only as a failed benchmark run. Neither
check starts a Spark session."""

from __future__ import annotations

import ast
import importlib
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "thymeflow_back_spark"


def _package_imports():
    """(file, module, name) for every ``from thymeflow_back_spark… import
    name`` in perfbench, in-function imports included."""
    for path in sorted((ROOT / "perfbench").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
                if node.module.split(".")[0] == PACKAGE:
                    for alias in node.names:
                        yield path.name, node.module, alias.name


IMPORTS = list(_package_imports())


def test_perfbench_imports_something():
    assert len(IMPORTS) >= 10


@pytest.mark.parametrize("file,module,name", IMPORTS, ids=[f"{f}:{m}.{n}" for f, m, n in IMPORTS])
def test_perfbench_import_resolves(file, module, name):
    mod = importlib.import_module(module)
    if not hasattr(mod, name):
        importlib.import_module(f"{module}.{name}")


def test_perfbench_tracing_installs():
    """Both wiring functions patch classes in place, so they run in a
    child process that exits afterwards."""
    code = (
        "from perfbench.trace import Tracer\n"
        "from perfbench.workloads import Run, install_endpoint_tracing, install_setup_tracing\n"
        "tracer = Tracer(installed=True)\n"
        "install_endpoint_tracing(tracer)\n"
        "install_setup_tracing(tracer, Run(spark=None, seed=0, seconds=0, tracer=tracer, work_dir=''))\n"
        "print('installed')\n"
    )
    done = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                          text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-2000:]
    assert done.stdout.strip().endswith("installed")
