"""Every registered query must hash-match its DuckDB oracle at sf0.001.

This is a fast local replica of the driver's t2 gate (sf0.01); the full
check is ``python tools/oracle_check.py /root/testdata/sf0.01``.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from ccxt_ohlcv_fetcher_spark.plans import load_all
from tools.oracle_check import compare

REGISTRY = load_all()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = REGISTRY[name]
    spark_pdf = spec.builder(spark, sf_dir).toPandas()
    if spec.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check (driver parity)
        return
    oracle_pdf = duck.execute(spec.oracle).df()
    problems = compare(spark_pdf, oracle_pdf)
    assert not problems, f"{name}: {problems}"


def test_oracle_check_imports_the_package_beside_it(tmp_path):
    """oracle_check puts its own checkout first on sys.path: loaded from
    a copy of the checkout, it checks the copy's package."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    copy = tmp_path / "checkout"
    for d in ("ccxt_ohlcv_fetcher_spark", "tools"):
        shutil.copytree(
            os.path.join(repo, d), copy / d,
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    code = (
        "import importlib.util, sys\n"
        "spec = importlib.util.spec_from_file_location('oracle_check', sys.argv[1])\n"
        "spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "import ccxt_ohlcv_fetcher_spark\n"
        "print(ccxt_ohlcv_fetcher_spark.__file__)\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code, str(copy / "tools" / "oracle_check.py")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.splitlines()[-1].startswith(str(copy) + os.sep), out.stdout
