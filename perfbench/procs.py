"""The processes a benchmark run starts, and stopping all of them.

``SparkSession.stop()`` leaves the driver JVM running: it exits only once
it reads EOF on its stdin, which happens when the Python process that
launched it exits, and its shutdown then outlives that process. The
Python worker daemons the JVM forked exit after it, on their own EOF.
``stop_session`` closes that pipe itself and waits until the JVM and
every process under it have ended, so nothing of a run outlives it.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _stat(pid: int) -> list[str] | None:
    """The /proc stat fields after the command name (state first), or
    None when ``pid`` is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def tree(root_pid: int) -> list[int]:
    """``root_pid`` and every process under it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited, unreaped process is not."""
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z"


def wait_gone(pids, timeout_s: float) -> None:
    """Wait until every process in ``pids`` has ended: ``timeout_s`` for
    them to end on their own, then SIGKILL for the rest."""
    pids = set(pids)
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        pids = {p for p in pids if alive(p)}
        if not pids:
            return
        if not killed and time.monotonic() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.05)


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop ``spark``, then its JVM and the Python workers under it, and
    return once all of them have ended. ``spark`` is None when the session
    failed to start; a JVM already launched for it is stopped all the
    same."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    below = tree(proc.pid) if proc is not None else []
    try:
        if spark is not None:
            spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        # workers the JVM forked, reparented once it exited
        wait_gone(below, timeout_s)
        wait_gone(tree(os.getpid())[1:], timeout_s)
