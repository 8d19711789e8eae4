"""Run the benchmark in a child process and stop whatever it leaves behind.

Spark starts processes the benchmark cannot wait for itself: the JVM's
Python daemon and its workers are the JVM's children, and multiprocessing
starts a resource tracker that outlives the pool. This process marks
itself a child subreaper (Linux ``prctl``), so every descendant that loses
its parent is re-parented here instead of to init. After the child exits
it terminates every descendant still alive, kills the ones that ignore
that, and reaps each, so no process of the run outlives the command.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

import procstat

PR_SET_CHILD_SUBREAPER = 36
# set in the child so that run.py runs the benchmark instead of this
CHILD_ENV = "PERFBENCH_CHILD"
TERM_GRACE_S = 10   # after SIGTERM, before SIGKILL
CHILD_GRACE_S = 60  # a terminated child's time to stop Spark itself


def _reap_all(deadline: float) -> None:
    """Reap every child until none is left or ``deadline`` passes."""
    while time.time() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)


def _signal_tree(sig: int) -> None:
    for pid in procstat.descendants(os.getpid()):
        try:
            os.kill(pid, sig)
        except OSError:
            pass


def supervise(argv: list) -> int:
    """Run ``argv`` as the benchmark child; return its exit code once it
    and every process it started have ended."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        sys.exit(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")
    child = subprocess.Popen(argv, env={**os.environ, CHILD_ENV: "1"})
    stop_at = []

    def forward(signum, _frame):
        stop_at.append(time.time() + CHILD_GRACE_S)
        try:
            child.send_signal(signal.SIGTERM)
        except OSError:
            pass

    signal.signal(signal.SIGTERM, forward)
    signal.signal(signal.SIGINT, forward)
    code = None
    # reap adopted orphans as they exit, until the child itself has ended
    while code is None:
        pid, status = os.waitpid(-1, os.WNOHANG)
        if pid == child.pid:
            code = os.waitstatus_to_exitcode(status)
        elif pid == 0:
            if stop_at and time.time() > stop_at[0]:
                child.kill()
            time.sleep(0.05)
    child.returncode = code
    _signal_tree(signal.SIGTERM)
    _reap_all(time.time() + TERM_GRACE_S)
    _signal_tree(signal.SIGKILL)
    _reap_all(time.time() + TERM_GRACE_S)
    if stop_at:
        return 143
    return code
