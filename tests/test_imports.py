"""Every module of both packages imports, and both process entry
points start: a dangling import of a moved or removed module fails
here. The market engine never imports the training-data suite."""

from __future__ import annotations

import importlib
import os
import pkgutil
import subprocess
import sys

import binancedatapipeline_spark
import trainingdata_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _raise(name):
    raise ImportError(f"cannot import {name}")


def _modules(pkg) -> list[str]:
    return [m.name for m in pkgutil.walk_packages(
        pkg.__path__, pkg.__name__ + ".", onerror=_raise)]


def test_every_module_imports():
    names = _modules(binancedatapipeline_spark)
    assert "binancedatapipeline_spark.warehouse" in names
    for name in names:
        importlib.import_module(name)


def test_every_suite_module_imports():
    names = _modules(trainingdata_spark)
    assert "trainingdata_spark.textops.dedup" in names
    for name in names:
        importlib.import_module(name)


def test_market_package_never_imports_the_suite():
    code = (
        "import importlib, sys\n"
        f"for name in {_modules(binancedatapipeline_spark)!r}:\n"
        "    importlib.import_module(name)\n"
        "print(sorted(m for m in sys.modules if m.startswith('trainingdata_spark')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == "[]", out.stdout


def test_cli_help_runs():
    out = subprocess.run(
        [sys.executable, "-m", "binancedatapipeline_spark", "--help"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "serve" in out.stdout and "rollback" in out.stdout


def test_suite_cli_help_runs():
    out = subprocess.run(
        [sys.executable, "-m", "trainingdata_spark", "--help"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "fit-langid" in out.stdout and "model" in out.stdout
