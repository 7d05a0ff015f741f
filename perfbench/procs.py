"""Process-tree helpers built on /proc (psutil is not available).

The benchmark makes itself a child subreaper, so Spark's Python workers
that outlive the JVM are re-parented to the benchmark instead of init and
stay visible as descendants until they exit.
"""

from __future__ import annotations

import ctypes
import errno
import os
import signal
import time

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat(pid: int) -> tuple[int, str] | None:
    """(parent pid, state letter) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            data = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name is parenthesised and may contain spaces
    fields = data[data.rindex(b")") + 2:].split()
    return int(fields[1]), fields[0].decode()


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live process below ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def reap() -> None:
    """Collect exit statuses of finished children (zombies)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def live_descendants() -> list[int]:
    reap()
    return [p for p in descendants() if (_stat(p) or (0, "Z"))[1] != "Z"]


def peak_rss_mb(pids: list[int]) -> dict[int, float]:
    """Peak resident set (VmHWM) of each of ``pids`` still alive, in MB."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def cpu_steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far (all CPUs)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def wait_for_no_descendants(timeout_s: float) -> list[int]:
    """Poll until no live descendant remains; return those left at timeout."""
    deadline = time.monotonic() + timeout_s
    left = live_descendants()
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = live_descendants()
    return left


def kill_all(pids: list[int], grace_s: float = 3.0) -> None:
    """SIGTERM, then SIGKILL whatever is still alive after ``grace_s``."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError as exc:
                if exc.errno != errno.ESRCH:
                    raise
        pids = wait_for_no_descendants(grace_s)
        if not pids:
            return
