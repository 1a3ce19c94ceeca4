"""Process-tree sampling from /proc: peak resident memory of this
process and all its descendants (the JVM and its Python workers), the
distinct Python processes the JVM spawned, and the guest's busy and
stolen CPU ticks.

Memory is summed as PSS (proportional set size): Python workers are
forked from one daemon and share most pages with it, so a plain RSS sum
counts those pages once per worker and jumps with the worker count."""

from __future__ import annotations

import os
import signal
import threading
import time


def cpu_ticks() -> tuple[int, int]:
    """``(busy, stolen)`` clock ticks summed over all CPUs since boot,
    from /proc/stat: busy is user + nice + system + irq + softirq,
    stolen is time a vCPU had work while the hypervisor ran another
    guest on its core."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def _stat(pid: int) -> tuple[int, str] | None:
    """(ppid, comm) of a live pid, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm is parenthesised and may hold spaces: split at the last ')'
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    return int(raw[raw.rindex(")") + 2:].split()[1]), comm


def descendants(root: int) -> list[tuple[int, str]]:
    """(pid, comm) of every live descendant of ``root``."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(st[0], []).append((int(entry), st[1]))
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid[0])
    return out


def _pss(pid: int) -> int:
    """PSS of a live pid in bytes (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class TreeSampler(threading.Thread):
    """Samples the tree every ``interval_s`` until stopped."""

    def __init__(self, interval_s: float = 0.1):
        super().__init__(name="perfbench-sampler", daemon=True)
        self.interval_s = interval_s
        self.peak_rss = 0
        self.peak_parts: dict[str, float] = {}
        self.py_children: set[int] = set()
        self.samples = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        me = os.getpid()
        kids = descendants(me)
        parts = {"driver": _pss(me), "jvm": 0, "python_workers": 0,
                 "other": 0}
        for pid, comm in kids:
            part = ("jvm" if comm == "java" else "python_workers"
                    if comm.startswith("python") else "other")
            parts[part] += _pss(pid)
        rss = sum(parts.values())
        if rss > self.peak_rss:
            # what the peak was made of, for explaining an outlier
            self.peak_rss = rss
            self.peak_parts = {k: v / 2**20 for k, v in parts.items()}
            self.peak_parts["n_python_workers"] = sum(
                comm.startswith("python") for _, comm in kids)
        self.py_children.update(pid for pid, comm in kids
                                if comm.startswith("python"))
        self.samples += 1

    def run(self) -> None:
        while not self._halt.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()


def become_subreaper() -> None:
    """Adopt orphaned descendants (PR_SET_CHILD_SUBREAPER): a Python
    worker whose JVM exits first is re-parented to this process, not to
    init, so ``reap_tree`` still sees it and waits for it."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1,
                                            0, 0, 0)


def reap_tree(timeout_s: float = 20.0) -> None:
    """Wait for every descendant of this process to end; SIGTERM, then
    SIGKILL, whatever is still alive when the wait runs out."""
    deadline = time.monotonic() + timeout_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid, _ in descendants(os.getpid()):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            _reap_zombies()
            if not descendants(os.getpid()):
                return
            time.sleep(0.1)


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
