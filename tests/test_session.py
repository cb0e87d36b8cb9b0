"""Session factory defaults."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_cpus_is_the_affinity_count():
    """Without ``SPARK_GRAFT_CPUS`` a plain ``get_spark()`` sizes
    ``local[n]`` to the cores this process may run on (``nproc``), not
    a fixed count that oversubscribes a small box."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from hadoop_coded_wordcount_spark.session import DEFAULT_CPUS;"
            "print(DEFAULT_CPUS)",
        ],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert int(out) == len(os.sched_getaffinity(0))
