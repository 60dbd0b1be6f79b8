"""The one way the benchmark starts and stops Spark, shared by the main run
and the set-up probe so both sides of any comparison use identical settings:
``local[N]`` with N = min(4, CPUs this process may run on), the UI off, a
fixed driver memory, and every scratch file inside the run's work directory."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

MAX_CORES = 4
DRIVER_MEMORY = "1g"


def cores() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def prepare_env(work: Path) -> None:
    """Route every temp file of this process, the JVM and the Python workers
    into ``work``, and let the workers import the checkout's package; must
    run before Spark starts."""
    root = str(Path(__file__).resolve().parent.parent)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR: one process may run several
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the package reads its default shuffle width from here; keep the default
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)


def conf(work: Path, event_log: Path | None = None) -> dict[str, str]:
    out = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        out["spark.eventLog.enabled"] = "true"
        out["spark.eventLog.dir"] = event_log.as_uri()
        # one plain JSON-lines file (Spark 4 defaults to rolling, compressed)
        out["spark.eventLog.rolling.enabled"] = "false"
        out["spark.eventLog.compress"] = "false"
    return out


def start(work: Path, event_log: Path | None = None):
    """Import the package and return a ready ``session.get_spark`` session
    plus the seconds that took (imports and JVM launch included)."""
    t0 = time.perf_counter()
    from quantms_utils_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores()}]",
                      extra_conf=conf(work, event_log))
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait for the JVM to exit. The JVM ends when its
    stdin pipe closes, and takes pyspark's worker daemon with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        # also when stop() failed, e.g. on a connection a signal broke
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
