"""Session factory: the package runs from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from blueforty___etl_data_pipeline_spark.session import get_spark
import __spark_entry__ as entrymod
spark = get_spark(app_name="cwd-check", master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
rows = entrymod.queries()["multimodal_features"](spark, {sf!r}).collect()
print(len(rows))
spark.stop()
"""


@pytest.mark.slow
def test_python_workers_import_package_from_any_cwd(tmp_path, sf_small):
    """A mapInPandas query (its function is pickled by reference to this
    package) runs in a fresh session started from an unrelated working
    directory with no PYTHONPATH: the workers find the package through
    the session's executor PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _CWD_SCRIPT.format(repo=REPO, sf=sf_small)],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert int(proc.stdout.strip().splitlines()[-1]) > 0
