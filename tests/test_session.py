"""Session defaults: what ``get_spark`` builds when no env var sizes it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import REPO_ROOT


def test_get_spark_defaults_to_the_process_core_count():
    """With SPARK_GRAFT_CPUS and SPARK_GRAFT_SHUFFLE unset, the session
    runs local[N] with N shuffle partitions, N being the cores this
    process may run on. Runs in a subprocess: the suite's own session
    is already built, and getOrCreate would hand it back."""
    n = len(os.sched_getaffinity(0))
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE")
    }
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, env.get("PYTHONPATH")) if p
    )
    code = (
        "import json\n"
        "from clusterforge_spark.session import get_spark\n"
        "s = get_spark('session-defaults')\n"
        "print(json.dumps([s.sparkContext.master,"
        " s.conf.get('spark.sql.shuffle.partitions')]))\n"
        "s.stop()\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    master, parts = json.loads(proc.stdout.strip().splitlines()[-1])
    assert master == f"local[{n}]"
    assert parts == str(n)
