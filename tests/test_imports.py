"""Package entry points import first thing in a clean interpreter: no
import cycle between route81_spark.pipeline and route81_spark.ops."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize(
    "module",
    [
        "route81_spark.jobs",
        "route81_spark.pipeline",
        "route81_spark.main",
        "route81_spark.envelope",
        "route81_spark.jobs.consumer",
    ],
)
def test_module_imports_first_in_clean_interpreter(module):
    proc = subprocess.run(
        [sys.executable, "-c", f"import {module}"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
