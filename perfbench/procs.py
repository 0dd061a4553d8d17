"""Stop every process a benchmark run starts, and wait until each has ended.

A PySpark session starts a JVM (``spark-submit``) as a child of this
process, and the JVM starts Python worker daemons of its own.
``SparkSession.stop`` leaves the JVM running: it only exits when its
stdin reaches EOF, which happens when this process exits, and then it
and its workers wind down after this process is gone.  So a run stops
them itself:

* ``become_subreaper`` makes this process the reaper of its orphaned
  descendants (Linux ``PR_SET_CHILD_SUBREAPER``), so a worker whose JVM
  has exited is re-parented here rather than to init and can be waited
  for;
* ``stop_spark`` stops the session, closes the JVM's stdin so that it
  exits, and waits for it;
* ``stop_descendants`` terminates whatever is still running below this
  process (SIGTERM, then SIGKILL) and waits until none is left.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time
import traceback

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            PR_SET_CHILD_SUBREAPER, ctypes.c_ulong(1), ctypes.c_ulong(0),
            ctypes.c_ulong(0), ctypes.c_ulong(0))
    except (OSError, AttributeError):
        pass


def descendants(root: int | None = None) -> list[int]:
    """Pids of the live (not zombie) processes below ``root``."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    zombies = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        if fields[0] in ("Z", "X"):
            zombies.add(pid)
    found, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            found.append(c)
            todo.append(c)
    return [p for p in found if p not in zombies]


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal(pids, sig) -> None:
    for p in pids:
        try:
            os.kill(p, sig)
        except ProcessLookupError:
            pass


def stop_descendants(grace_s: float = 10.0, kill_after_s: float = 5.0) -> list[int]:
    """Wait up to ``grace_s`` for the processes below this one to end,
    then SIGTERM them, and SIGKILL what is left ``kill_after_s`` later;
    return once none is left.  Returns the pids that had to be
    signalled."""
    signalled: list[int] = []
    t0 = time.monotonic()
    stage = 0
    while True:
        _reap()
        alive = descendants()
        if not alive:
            return signalled
        waited = time.monotonic() - t0
        if stage == 0 and waited >= grace_s:
            _signal(alive, signal.SIGTERM)
            signalled.extend(alive)
            stage = 1
        elif stage == 1 and waited >= grace_s + kill_after_s:
            _signal(alive, signal.SIGKILL)
            stage = 2
        time.sleep(0.05)


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session and its JVM; return when the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Exception:
        traceback.print_exc()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is None:
        return
    try:
        # the JVM's gateway server exits at EOF on its stdin
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        print(f"JVM {proc.pid} still running {timeout_s:.0f} s after stop; killing it",
              file=sys.stderr)
        proc.kill()
        proc.wait()
