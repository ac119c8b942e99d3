"""Run environment pinned from inside the benchmark: cores, import path,
scratch dirs and JVM heap; one fresh Spark JVM per run, none left
behind."""

from __future__ import annotations

import os
import signal
import subprocess
import time
from pathlib import Path

STRAY_WAIT_S = 30.0
SPARK_MARKERS = (b"org.apache.spark.deploy.SparkSubmit", b"pyspark-shell")


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def heap_size() -> str:
    """A quarter of the box, between 1g and 4g: the session default (48g)
    is sized for a far larger host."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def pin(repo: Path, work: Path) -> dict[str, str]:
    """Export what the Spark JVM and its Python workers must inherit;
    scratch space stays inside ``work``."""
    local = work / "spark-local"
    tmp = work / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    prev = os.environ.get("PYTHONPATH", "")
    env = {
        "PYTHONPATH": f"{repo}:{prev}" if prev else str(repo),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "SPARK_DRIVER_MEM": heap_size(),
        "SPARK_GRAFT_CPUS": str(cores()),
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return env


def _cmdline(pid: str) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read()
    except OSError:
        return b""


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def _pids() -> list[str]:
    return [p for p in os.listdir("/proc") if p.isdigit()]


def spark_jvms() -> list[int]:
    return [int(p) for p in _pids() if any(m in _cmdline(p) for m in SPARK_MARKERS)]


def wait_no_stray_jvms() -> bool:
    """True once no Spark JVM is alive; waits a little for one that is
    still shutting down."""
    deadline = time.monotonic() + STRAY_WAIT_S
    while spark_jvms():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.5)
    return True


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in _pids():
        pp = _ppid(p)
        if pp is not None:
            children.setdefault(pp, []).append(int(p))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Summed peak resident set (VmHWM) of this process and every process
    it started that is still alive: the JVM and its Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(
                    (int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return total_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the JVM's stdin (it exits on EOF), and wait
    until every process this one started has ended: the JVM and the Python
    workers it forked, which outlive it briefly as orphans."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(os.getpid())
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - already closed is fine
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while alive := [p for p in started + descendants(os.getpid()) if _alive(p)]:
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.2)
