"""Session invariants that only show outside the test process: Python
workers must import the package whatever the caller's working directory
is (``q_media_frames`` runs its kernel in a worker via ``mapInPandas``).
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from spark_ml_spark.operators.multimodal import q_media_frames
from spark_ml_spark.session import get_spark
spark = get_spark("cwd_probe", cpus=2)
print("ROWS", q_media_frames(spark, {sf!r}).count())
spark.stop()
"""


def test_media_frames_runs_outside_the_repo(tmp_path, sf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=REPO, sf=sf_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0, out.stdout[-2000:]
