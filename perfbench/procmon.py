"""Process-tree RSS and CPU sampled from /proc (no psutil).

The tree is the benchmark's own process plus every descendant: the Spark
JVM it launches and the JVM's Python workers.  A background thread samples
the summed RSS every ``interval`` seconds and keeps the peak since the last
``reset_peak``.  CPU time is read on demand: the live tree's utime+stime
plus what its already-reaped children accumulated.

``become_subreaper``, ``die_with_parent`` and ``kill_and_reap`` let the
supervising process end every process a run started, however it ends.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:          # the process exited between listing and read
        return None
    # field 2 (comm) may contain spaces; everything after its ')' is fixed
    return text[text.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` exists; returns those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and (_stat_fields(p) or ["Z"])[0] != "Z"]
    return alive


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, not to init,
    so that they stay in ``tree(os.getpid())`` and are reaped here."""
    libc = ctypes.CDLL(None, use_errno=True)
    pr_set_child_subreaper = 36
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def die_with_parent() -> None:
    """In a child before exec: SIGKILL it when its parent dies."""
    libc = ctypes.CDLL(None, use_errno=True)
    pr_set_pdeathsig = 1
    libc.prctl(pr_set_pdeathsig, signal.SIGKILL, 0, 0, 0)


def kill_and_reap(child: subprocess.Popen) -> None:
    """SIGKILL ``child`` and every live descendant of this process, and
    wait until all of them have ended and been reaped."""
    def kill_descendants():
        for pid in tree(os.getpid())[1:]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    kill_descendants()
    child.wait()
    while True:     # orphans are re-parented here as their parents die
        kill_descendants()
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def tree_cpu_seconds(root: int) -> float:
    """utime+stime of the live tree plus reaped children (cutime+cstime)."""
    ticks = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # after comm: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _HZ


class RssSampler:
    """Background sampler of the tree's summed RSS; ``stop`` joins it."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(self.root)

    def peak_mb(self) -> float:
        with self._lock:
            return max(self._peak, tree_rss_bytes(self.root)) / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
