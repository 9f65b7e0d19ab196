"""The package and the driver-mimic work from any checkout and any
working directory: scratch staging lands in the checkout that was
imported, and tools/drive_contract.py run from elsewhere still lets
its Python workers import the package."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

from python_etl_sample_spark.api import SMOKE_SF_DIR

REPO = Path(__file__).resolve().parents[1]


def _env_without_pythonpath() -> dict:
    return {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}


def test_scratch_root_follows_the_imported_checkout(tmp_path):
    shutil.copytree(
        REPO / "python_etl_sample_spark",
        tmp_path / "python_etl_sample_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import python_etl_sample_spark as p\n"
            "from python_etl_sample_spark.scratch import scratch_path\n"
            "print(p.__file__)\n"
            "print(scratch_path('staged', '/fixtures/sf0.001'))",
        ],
        cwd=tmp_path,
        env=_env_without_pythonpath(),
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    package, path = out.stdout.splitlines()
    assert Path(package).is_relative_to(tmp_path), package
    assert Path(path).is_relative_to(tmp_path / ".scratch"), path


def test_drive_contract_runs_from_outside_the_checkout(tmp_path):
    """multimodal_decode runs a Python UDF, so its worker must import
    the package although the working directory is not the checkout."""
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "drive_contract.py")],
        cwd=tmp_path,
        env={
            **_env_without_pythonpath(),
            "PARITY_ONLY": "multimodal_decode",
            "PARITY_SF_DIR": SMOKE_SF_DIR,
        },
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    assert "multimodal_decode: MATCH" in out.stdout
    assert "hash-match 1, mismatch 0" in out.stdout
