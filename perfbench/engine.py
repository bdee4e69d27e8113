"""Start and stop the engine's Spark session for one benchmark run."""

from __future__ import annotations

import os
import signal
import subprocess
import time

from perfbench.common import descendants, session_conf


def start_session(run_dir: str, trace: bool, app: str):
    """``xboard_spark.session.get_spark`` with the run directory's paths
    and, when tracing, an uncompressed event log under SPARK_LOCAL_DIRS.
    Returns (spark, seconds spent in get_spark)."""
    from xboard_spark.session import get_spark

    conf = session_conf(run_dir)
    if trace:
        log_dir = event_log_dir()
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=conf)
    dt = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, dt


def event_log_dir() -> str:
    return os.path.join(os.environ["SPARK_LOCAL_DIRS"], "eventlog")


def versions(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
    }


def stop_session(spark) -> None:
    """Stop Spark, shut the gateway down, and wait for the JVM and the
    Python workers it started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    workers = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        _wait_gone(workers)


def _wait_gone(pids, timeout_s: float = 30.0) -> None:
    """Workers exit when the JVM closes their pipes; kill any that do not."""
    deadline = time.time() + timeout_s
    while pids and time.time() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.05)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    """Running, not exited (a zombie waiting to be reaped has exited)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False
