"""Differential tests: every registered query vs its DuckDB oracle at
sf0.001 (the driver runs the same comparison at sf0.01).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from data_ingestion_auto_spark import plans
from tools.parity import REPO, compare


def _all_names():
    return sorted(plans.REGISTRY)


@pytest.mark.parametrize("name", _all_names())
def test_query_parity(name, spark, duck, sf_dir):
    q = plans.REGISTRY[name]
    sdf = q.spark(spark, sf_dir).toPandas()
    if q.oracle is None:
        assert len(sdf) >= 0  # rows-only check: must execute
        return
    ddf = duck.execute(q.oracle).fetchdf()
    errs = compare(name, sdf, ddf)
    assert not errs, f"{name}: " + "\n".join(errs)
    assert len(sdf) > 0, f"{name}: empty result proves nothing"


def test_parity_tool_runs_from_any_directory(tmp_path, sf_dir):
    """``tools/parity.py`` started outside the repository, with no
    PYTHONPATH of its own: its Python workers must still import the
    package (a ``mapInPandas`` query runs the package inside them)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "parity.py"), sf_dir,
         "binary_grid_decode_roundtrip"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stdout + done.stderr[-4000:]
    assert "ok   binary_grid_decode_roundtrip" in done.stdout
