"""CPU time and resident memory of a process tree, read from /proc.

The benchmark's process tree is this Python driver, the Spark JVM it
launches, and the Python daemon and workers the JVM forks. A background
thread samples every `interval` seconds (0.1 s by default):

- CPU is each process's own user+system time (fields 14 and 15 of
  /proc/<pid>/stat), last value seen minus its value when sampling started
  (0 for processes born later). A process that lives and dies between two
  samples is missed; Spark reuses its Python workers, so few do.
- RSS is field 24. The peak is the sum over processes of each one's own
  highest sample: the workers' peaks fall at slightly different moments,
  and the peak of the per-sample sum swung with where they fell against
  the samples. reset_peak() starts a new peak window, so a caller can take
  one peak per repetition.
"""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def parse_stat(text: str):
    """(ppid, cpu ticks, rss pages, state) from one /proc/<pid>/stat line.
    The command name (field 2) may hold spaces and parentheses, so fields
    are counted from the last ')'."""
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); field k sits at rest[k - 3]
    return int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[21]), rest[0]


def read_all(proc: str = "/proc") -> dict:
    """{pid: parse_stat(...)} for every readable process."""
    out = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat", encoding="utf-8", errors="replace") as fh:
                out[int(name)] = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open, or unreadable
    return out


def tree(stats: dict, root: int) -> set:
    """pids of `root` and all its descendants in a {pid: (ppid, ...)} map."""
    children: dict = {}
    for pid, st in stats.items():
        children.setdefault(st[0], []).append(pid)
    seen, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in seen or pid not in stats:
            continue
        seen.add(pid)
        todo.extend(children.get(pid, ()))
    return seen


class TreeSampler:
    """Samples the tree rooted at `root` from start() to stop()."""

    def __init__(self, root: int = None, interval: float = 0.1, proc: str = "/proc"):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.proc = proc
        self._base: dict = {}
        self._last: dict = {}
        self._peak: dict = {}  # pid -> highest RSS pages seen
        self.samples = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()  # the thread and callers both sample
        self._thread = None

    def sample(self) -> float:
        """Take one sample now; returns the tree's CPU seconds so far."""
        stats = read_all(self.proc)
        with self._lock:
            for pid in tree(stats, self.root):
                _, ticks, pages, _ = stats[pid]
                self._last[pid] = max(ticks, self._last.get(pid, 0))
                self._peak[pid] = max(pages, self._peak.get(pid, 0))
            self.samples += 1
            return self.cpu_s

    def reset_peak(self) -> None:
        """Forget the peaks seen so far; the next sample starts a new window."""
        with self._lock:
            self._peak = {}

    def start(self) -> "TreeSampler":
        stats = read_all(self.proc)
        self._base = {pid: stats[pid][1] for pid in tree(stats, self.root)}
        self._last = dict(self._base)
        self.sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="procstat", daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> "TreeSampler":
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            if self._thread.is_alive():
                raise RuntimeError("procstat sampler thread did not stop")
        self.sample()
        return self

    def peak_rss_bytes(self, skip_pid: int = None) -> int:
        """The tree's peak, with one process (say the JVM) left out if given."""
        return sum(v for pid, v in self._peak.items() if pid != skip_pid) * PAGE

    @property
    def cpu_s(self) -> float:
        ticks = sum(t - self._base.get(pid, 0) for pid, t in self._last.items())
        return ticks / CLK_TCK


def rss_bytes(pid: int, proc: str = "/proc") -> int:
    """Resident memory of one process now."""
    with open(f"{proc}/{pid}/stat", encoding="utf-8", errors="replace") as fh:
        return parse_stat(fh.read())[2] * PAGE


def host_ticks(path: str = "/proc/stat") -> tuple:
    """(steal, total) CPU ticks of the whole machine since boot. Steal is
    time a virtual CPU was runnable but the hypervisor ran someone else:
    the share of it over a timed region says how much of the region's
    wall time other tenants took."""
    with open(path, encoding="utf-8") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def live_descendants(root: int = None) -> set:
    """pids below `root` (root itself excluded) that have not exited
    (zombies, exited but not yet reaped, do not count)."""
    root = os.getpid() if root is None else root
    stats = read_all()
    return {pid for pid in tree(stats, root) if pid != root and stats[pid][3] != "Z"}
