"""Run a command so that no process it starts outlives it.

The supervisor makes itself a child subreaper (Linux ``prctl``): every
process the command starts that loses its parent, such as the Spark JVM
left when the driver's Python exits or the PySpark worker daemon (which
moves to a process group of its own), is re-parented to the supervisor
instead of to init. Once the command has exited, timed out or the
supervisor is asked to stop, every remaining descendant is sent SIGTERM,
then SIGKILL after a grace period, and reaped; the supervisor returns only
when none is left.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

from perfbench.host import children

PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 20.0


def _set_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants(pid: int) -> list[int]:
    out, todo = [], children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children(p))
    return out


def _reap() -> None:
    """Collect every exited child without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = GRACE_S) -> None:
    """SIGTERM every descendant, SIGKILL what is left after ``grace_s``, and
    return once each has ended and been reaped."""
    me = os.getpid()
    sig, deadline = signal.SIGTERM, time.monotonic() + grace_s
    while True:
        _reap()
        left = descendants(me)
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run(cmd: list[str], env: dict, timeout_s: float) -> int:
    """Run ``cmd`` under supervision; its exit code, or 1 when it timed out
    or the supervisor was stopped by SIGTERM, SIGINT or SIGHUP."""
    _set_subreaper()
    stopped: list[int] = []

    def on_signal(signum, _frame):
        stopped.append(signum)
        raise KeyboardInterrupt

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, on_signal)
    code = 1
    try:
        proc = subprocess.Popen(cmd, env=env)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            print(f"timed out after {timeout_s:.0f} s", file=sys.stderr, flush=True)
    except KeyboardInterrupt:
        code = 1
    finally:
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, signal.SIG_IGN)
        stop_descendants()
    return 1 if stopped else code
