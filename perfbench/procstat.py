"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is this process plus every descendant: the Spark JVM it
launches, the pyspark daemon, and the Python workers the daemon forks.
Memory is the tree's summed proportional set size (``smaps_rollup``).
CPU counts ``utime + stime`` of live processes plus ``cutime + cstime``
(children already reaped), so a worker that exits mid-pass still counts
once its parent reaps it.

``become_subreaper`` and ``end_descendants`` make sure no process of
the tree outlives the benchmark: multiprocessing's resource tracker
would otherwise exit only after the benchmark has, and the pyspark
daemon a moment after the JVM.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and all its descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by the tree (user + system, reaped
    children included)."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of the tree right now, in MiB, as summed PSS: a
    page shared by n processes counts 1/n in each. Summed RSS would
    count the whole JVM twice while it forks a helper process (Hadoop's
    local file system runs shell commands), which happens at random
    points of a pass."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


class PeakRss:
    """Background sampler of the tree's resident memory; ``peak_mb`` is
    the highest total seen between ``start()`` and ``stop()``. One
    sample of a JVM's ``smaps_rollup`` costs ~40 ms of CPU on a 4-core
    host, so the default interval keeps sampling under 10% of one core."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb


_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants (the pyspark daemon once the JVM has
    exited) re-parented to this process instead of to init, so that
    ``end_descendants`` still sees them and can reap them."""
    ctypes.CDLL(None, use_errno=True).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def end_descendants(grace_s: float = 20.0, term_s: float = 5.0) -> list[int]:
    """Stop multiprocessing's resource tracker, give every other
    descendant ``grace_s`` to exit on its own, then SIGTERM and, after
    ``term_s``, SIGKILL what is left, reaping each. Returns the pids
    that had to be signalled."""
    from multiprocessing import resource_tracker

    stop_tracker = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop_tracker is not None:
        stop_tracker()  # closes its pipe, then waits for it to exit
    signalled: list[int] = []
    start = time.monotonic()
    while True:
        _reap()
        rest = tree_pids()[1:]
        if not rest:
            return signalled
        waited = time.monotonic() - start
        if waited >= grace_s + 2 * term_s:
            return signalled  # unkillable (uninterruptible sleep); give up
        if waited >= grace_s + term_s:
            _signal_all(rest, signal.SIGKILL)
        elif waited >= grace_s and not signalled:
            signalled = rest
            _signal_all(rest, signal.SIGTERM)
        time.sleep(0.05)
