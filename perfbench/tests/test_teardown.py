"""The benchmark leaves no process behind.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probe import session_procs  # noqa: E402
from run import sweep  # noqa: E402


def _wait_empty(sid: int, grace: float) -> list[dict]:
    deadline = time.time() + grace
    while session_procs(sid) and time.time() < deadline:
        time.sleep(0.05)
    return session_procs(sid)


def test_no_descendant_survives_spark_teardown(tmp_path):
    """A session that starts Spark and its Python workers, then calls the
    benchmark's teardown, ends with no JVM or pyspark.daemon left."""
    code = ("import sys; sys.path.insert(0, 'perfbench'); import worker\n"
            "from dup_ocropy_spark.session import get_spark\n"
            "s = get_spark('local[2]', extra_conf={'spark.ui.showConsoleProgress': 'false'})\n"
            "worker.warm_workers(s, 2)\n"
            "worker.stop_spark(s)\n")
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_LOCAL_DIRS=str(tmp_path),
               SPARK_DRIVER_MEMORY="1g",
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_path}")
    child = subprocess.Popen([sys.executable, "-c", code], cwd=ROOT, env=env,
                             start_new_session=True)
    try:
        assert child.wait(timeout=150) == 0
        left = _wait_empty(child.pid, grace=2.0)
        assert left == [], f"left running: {left}"
    finally:
        sweep(child.pid)


def test_sweep_kills_and_reports_survivors():
    child = subprocess.Popen(["sleep", "60"], start_new_session=True)
    killed = sweep(child.pid)
    child.wait(timeout=10)
    assert len(killed) == 1 and "sleep 60" in killed[0]
    assert session_procs(child.pid) == []
