"""Spark session lifecycle for one benchmark run.

The session is the program's own (``pipeline.get_spark``), capped at
``nproc`` cores. The static settings a run needs are passed to the JVM
launch through ``PYSPARK_SUBMIT_ARGS``: no UI, scratch and ``java.io.tmpdir``
inside the run's temp dir, and, for traced runs, an uncompressed
single-file event log. Python workers inherit ``PYTHONPATH`` pointing at
the checkout, so they import ``unipdf_spark`` from any working directory.

The run process makes itself a child subreaper, so the Python daemon and
workers the JVM starts are handed to it, not to init, if the JVM ends
first; ``reap_descendants`` then stops and waits for every process left
below it before the run exits.
"""

from __future__ import annotations

import ctypes
import os
import shlex
import signal
import subprocess
import time

DRIVER_MEM = "2g"
PR_SET_CHILD_SUBREAPER = 36


def configure_env(root: str, tmp: str, cores: int,
                  event_log_dir: str | None) -> None:
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.executorEnv.PYTHONPATH": root,
        # a small parquet input splits into FILES_PER_CORE x cores scan
        # partitions (two waves, so a slow core does not set the job time)
        "spark.sql.files.minPartitionNum": str(2 * cores),
    }
    if event_log_dir:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for key, value in confs.items():
        args += ["--conf", f"{key}={value}"]
    # no hsperfdata file in /tmp: a run writes only inside its checkout
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def start(cores: int):
    from unipdf_spark.pipeline import get_spark

    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process(spark) -> subprocess.Popen | None:
    return getattr(spark.sparkContext._gateway, "proc", None)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _tree(root: int) -> list[int]:
    kids = _children()
    todo, out = [root], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(spark) -> float:
    """Peak resident set of the JVM plus every process below it (the
    Python daemon and its workers): the sum of their ``VmHWM``."""
    proc = jvm_process(spark)
    if proc is None:
        raise RuntimeError("no JVM process handle on the Spark gateway")
    return sum(_hwm_kb(pid) for pid in _tree(proc.pid)) / 1024.0


def stop(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers it started) has exited."""
    proc = jvm_process(spark)
    tree = _tree(proc.pid)[1:] if proc else []
    spark.stop()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout)
    deadline = time.monotonic() + timeout
    for pid in tree:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


def become_subreaper() -> bool:
    """Have orphaned descendants re-parented to this process (Linux)."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def reap_descendants(grace: float = 10.0) -> list[int]:
    """Stop every process still below this one and wait until each has
    ended: SIGTERM first, SIGKILL after ``grace`` seconds, giving up after
    twice that. Returns the pids that were still running when called."""
    me = os.getpid()
    left = [pid for pid in _tree(me)[1:] if _alive(pid)]
    for pid in left:
        _signal(pid, signal.SIGTERM)
    start = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        below = _tree(me)[1:]
        waited = time.monotonic() - start
        if not below or waited > 2 * grace:
            return left
        if waited > grace:
            for pid in below:
                _signal(pid, signal.SIGKILL)
        time.sleep(0.05)


def _signal(pid: int, sig: int) -> None:
    try:
        os.kill(pid, sig)
    except ProcessLookupError:
        pass
