"""Process-tree accounting from /proc: CPU time and members of a session,
host steal, and the clean-up that leaves no process behind."""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


def stats():
    """Yield (pid, fields) for every process; fields[0] is the state, [3]
    the session id, [11:15] utime, stime, cutime, cstime in ticks."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fp:
                raw = fp.read()
        except OSError:  # exited while we listed
            continue
        yield int(name), raw[raw.rindex(")") + 2 :].split()


def session_members(sid: int) -> list[int]:
    return [pid for pid, f in stats() if int(f[3]) == sid and pid != os.getpid()]


def session_cpu_s() -> float:
    """User+sys CPU seconds of every process in this process's session,
    including the children they have reaped (the JVM, the Python daemon and
    its workers all stay in the session of the process that started Spark)."""
    sid = os.getsid(0)
    ticks = sum(
        sum(int(x) for x in f[11:15]) for _, f in stats() if int(f[3]) == sid
    )
    return ticks / _TICK


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host from the first line of /proc/stat."""
    with open("/proc/stat") as fp:
        vals = [int(x) for x in fp.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def become_subreaper() -> None:
    """Orphans of our descendants are re-parented to this process instead of
    PID 1, so :func:`reap` can collect them rather than leave zombies."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def describe(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fp:
            cmd = fp.read().replace(b"\0", b" ").decode(errors="replace").strip()
        with open(f"/proc/{pid}/stat") as fp:
            state = fp.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return f"{pid} (gone)"
    return f"{pid} [{state}] {cmd[:120]}"


def kill_session(sid: int) -> None:
    for pid in session_members(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def reap(timeout: float = 10.0) -> None:
    """Wait for every child of this process, including re-parented orphans,
    until none is left or ``timeout`` passes."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)
