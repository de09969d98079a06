"""Process set-up shared by the benchmark and its selection tool.

``isolate`` keeps every file the run makes inside the checkout and strips
every ``SPARK_GRAFT_*`` variable, so the engine runs on its own defaults;
``start_session`` passes only ``master`` (plus the event-log settings of a
traced run) to ``questdb_spark.session.get_session``.
"""

from __future__ import annotations

import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(tmp: str) -> None:
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Python workers (pandas UDFs) import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(extra_conf: dict | None = None):
    from questdb_spark.session import get_session

    spark = get_session(
        app_name="perfbench", master=f"local[{cores()}]", extra_conf=extra_conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """End the py4j gateway JVM this process launched and wait for it.

    The gateway exits when its stdin closes; it is killed if it lingers."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def cpu_s(pids) -> float:
    """User plus system CPU seconds consumed so far by the given pids."""
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        ticks += int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pids) -> float:
    """Sum of ``VmHWM`` (peak resident set) over the given live pids."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            continue
    return total_kb / 1024.0


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
