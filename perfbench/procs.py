"""Every process a run starts has ended before the run exits.

A run starts the Spark JVM, which starts the PySpark worker daemon and
its workers, and multiprocessing pools (corpus rendering, the kernel
probes), which start multiprocessing's resource tracker.  Some of
these outlive their parent by design: the resource tracker exits only
once its parent has exited, and the worker daemon exits on its own
after the JVM signals it.

So the run makes itself a child subreaper (Linux ``prctl``): a process
whose parent ends is re-parented to the run instead of to init.
``stop_all`` then stops the resource tracker the way multiprocessing
does, asks every remaining child to stop, kills the ones that do not,
and reaps each one, until the run has no child left.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time
from multiprocessing import resource_tracker

PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    """Pids of this process's children (zombies included), from /proc."""
    me = os.getpid()
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the field after ") state" is the parent pid
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we read it
        if ppid == me:
            kids.append(int(d))
    return kids


def stop_all(grace: float = 10.0, limit: float = 30.0) -> list[int]:
    """Stop and reap every child; SIGTERM first, SIGKILL after ``grace``
    seconds.  Returns the pids that had to be signalled."""
    tracker = resource_tracker._resource_tracker
    if getattr(tracker, "_stop", None) is not None:
        tracker._stop()  # closes its pipe, then waits for it to exit
    t0 = time.monotonic()
    signalled: list[int] = []
    while time.monotonic() - t0 < limit:
        kids = _children()
        if not kids:
            break
        for pid in kids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    continue  # had exited; now reaped
                if pid not in signalled:
                    signalled.append(pid)
                    os.kill(pid, signal.SIGTERM)
                elif time.monotonic() - t0 > grace:
                    os.kill(pid, signal.SIGKILL)
            except (ChildProcessError, ProcessLookupError):
                continue
        time.sleep(0.05)
    return signalled
