"""CPU time and resident memory of the program's processes, read from
/proc, plus the host record every result carries."""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return s[s.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below `root` (the JVM, the Python worker
    daemon and its workers), not `root` itself."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pids: list[int]) -> float:
    """user + sys of the processes and of their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _CLK


def pss_mb(pids: list[int]) -> float:
    """Summed proportional set size: pages the forked Python workers
    share are counted once overall, not once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024


def tree(root: int) -> list[int]:
    return [root] + descendants(root)


class ProcessMeter:
    """CPU seconds and peak summed RSS of a process tree (the JVM, its
    Python worker daemon and workers) over a window; RSS is sampled by
    a background thread."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0
        self.cpu_s = 0.0

    def _sample(self):
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb,
                                   pss_mb(tree(self.root)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._cpu0 = cpu_seconds(tree(self.root))
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.cpu_s = cpu_seconds(tree(self.root)) - self._cpu0
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def cpu_control_probe(loops: int = 2_000_000) -> float:
    """Seconds one core takes for a fixed pure-Python integer loop: the
    same-host check that makes results from different hosts visibly
    incomparable."""
    t0 = time.perf_counter()
    x = 0
    for i in range(loops):
        x += i * i % 7
    return time.perf_counter() - t0


def host_record() -> dict:
    return {"nproc": nproc(), "loadavg_before": os.getloadavg(),
            "cpu_control_s": round(cpu_control_probe(), 4)}


def nproc() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))
