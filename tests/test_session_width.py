"""The session's shuffle width follows its cores, and the session reads
no engine environment variable beyond the core count and the UDS switch."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SESSION_PY = os.path.join(ROOT, "questdb_spark", "session.py")


def test_default_shuffle_width_is_default_parallelism():
    """With every ``SPARK_GRAFT_*`` variable cleared, ``local[2]`` gets
    two shuffle partitions."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    code = (
        "from questdb_spark.session import get_session\n"
        "s = get_session(master='local[2]')\n"
        "print('WIDTH', s.conf.get('spark.sql.shuffle.partitions'))\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True,
        timeout=300, check=True,
    ).stdout
    assert "WIDTH 2" in out.splitlines(), out


def test_session_reads_only_known_env_vars():
    """``session.py`` names no ``SPARK_GRAFT_*`` variable except the core
    count and the Python-worker UDS switch."""
    with open(SESSION_PY) as f:
        tree = ast.parse(f.read())
    names = {
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and n.value.startswith("SPARK_GRAFT_")
    }
    assert names <= {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_PY_UDS"}, names
