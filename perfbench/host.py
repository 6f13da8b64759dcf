"""Host stamp and the resident-memory sampler."""

from __future__ import annotations

import os
import platform
import threading


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (``/proc/stat``); its growth over a run shows a noisy neighbour."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def stamp() -> dict:
    """What a later A/B needs to judge whether two records are comparable."""
    import numpy
    import pyspark

    return {
        "nproc": nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_start": list(os.getloadavg()),
        "steal_s_start": steal_s(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "machine": platform.machine(),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may contain spaces; fields resume after ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_rss_mb(root: int) -> float:
    """Resident memory of every process below ``root`` (the Spark JVM and
    the Python workers it forks), not counting ``root`` itself."""
    kids = _children()
    total, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


class PeakRss:
    """Samples ``descendants_rss_mb`` of this process every ``period`` s on
    a daemon thread; ``stop()`` joins it and returns the peak."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0.0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, descendants_rss_mb(me))
            self._halt.wait(self.period)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._halt.set()
        self._thread.join(timeout=10)
        return self.peak
