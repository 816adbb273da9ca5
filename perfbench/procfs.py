"""CPU time and resident memory of a process tree, read from /proc.

The tree is the benchmark's own process plus every descendant: the
Spark driver JVM that pyspark launches, the pyspark daemon the JVM
forks, and the Python workers the daemon forks. CPU time of a
descendant that already exited is still counted once its parent has
reaped it, because the kernel then adds it to the parent's
cutime/cstime fields.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if
    the process is gone. The name is in parentheses and may itself
    contain spaces or parentheses, so split after the last ')'."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """root and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        # fields[0] is the state, fields[1] the parent pid
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime + cutime + cstime summed over pids, in seconds."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # stat fields 14-17, i.e. indexes 11-14 after the name
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def rss_bytes(pids: list[int]) -> int:
    """Resident set size summed over pids, in bytes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total


class TreeSampler:
    """Polls a process tree on a background thread while the block
    runs, and keeps the peak of its summed resident memory and the CPU
    seconds the tree used in the block.

        with TreeSampler(os.getpid()) as s:
            ...
        s.peak_rss  # bytes
        s.cpu_s  # seconds
        s.max_procs  # most processes seen at once
    """

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_rss = 0
        self.max_procs = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        pids = tree_pids(self.root)
        self.peak_rss = max(self.peak_rss, rss_bytes(pids))
        self.max_procs = max(self.max_procs, len(pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._cpu0 = cpu_seconds(tree_pids(self.root))
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.cpu_s = cpu_seconds(tree_pids(self.root)) - self._cpu0
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
