"""Counters read from /proc, outside the program, and process cleanup.

``psutil`` is not available, so memory high-water marks and I/O bytes
come straight from /proc/<pid>/status and /proc/<pid>/io.
"""

from __future__ import annotations

import os
import signal
import time


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def io_write_bytes(pid: int) -> int:
    """Bytes the process caused to be sent to storage (write_bytes)."""
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            if line.startswith("write_bytes:"):
                return int(line.split()[1])
    raise RuntimeError(f"no write_bytes for pid {pid}")


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait for ``pids`` to exit; return the ones still running."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _alive(p)]
    return left


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it
    (Python workers included), and wait until all have ended."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spawned = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    stragglers = wait_gone(spawned, 15)
    for p in stragglers:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(stragglers, 15)
