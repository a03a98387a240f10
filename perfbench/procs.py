"""Processes a run starts: the Spark JVM and the Python workers under it.

A run ends only once every one of them has ended: `become_subreaper` at
the start, `stop_jvm` and then `stop_descendants` on every way out. Nothing
here imports the program, so a run that cannot import it still cleans up.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

PR_SET_CHILD_SUBREAPER = 36


def parent_pids() -> dict[int, int]:
    """{pid: parent pid} of every process, from /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                # the command name may hold spaces: ppid follows its ")"
                out[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return out


def children() -> list[int]:
    me = os.getpid()
    return [pid for pid, ppid in parent_pids().items() if ppid == me]


def become_subreaper() -> None:
    """Orphaned descendants (Python workers whose JVM ended) are re-parented
    to this process rather than to init, so stop_descendants reaches them."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_jvm(timeout: float = 60.0) -> None:
    """End the py4j gateway JVM and wait for it. Without this the JVM only
    exits once it reads EOF on stdin, after this process has gone."""
    context = sys.modules.get("pyspark.core.context")
    gateway = context and context.SparkContext._gateway
    if not gateway:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    context.SparkContext._gateway = None
    context.SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits on EOF
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def stop_descendants(timeout: float = 30.0) -> None:
    """Terminate, then kill, every remaining descendant and reap each one.
    Grandchildren reach this process as their parents end, so it repeats
    until none is left."""
    deadline = time.monotonic() + timeout
    while True:
        pids = children()
        if not pids:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        while True:
            try:
                pid, _status = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
