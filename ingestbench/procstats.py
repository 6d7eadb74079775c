"""Machine and process-tree readings from ``/proc``.

- contamination stamps, so a noisy run can be told from the output
  alone: stolen CPU seconds over the run, 1-minute load, a fixed
  pure-Python spin, and the core width;
- the process tree of this benchmark (the Python driver, the JVM it
  launched, and the ``pyspark.daemon`` Python workers), its CPU time
  split into JVM and Python-worker time, and its peak RSS, sampled.
"""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: Iterations of the spin probe (~0.1 s of pure Python on an idle core).
_SPIN_N = 2_000_000
#: Interval of the peak-RSS sampler.
_RSS_EVERY_S = 0.25


def steal_seconds() -> float:
    """Cumulative stolen CPU time of the machine (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _HZ if len(fields) > 8 else 0.0


def load_1min() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def spin_ms() -> float:
    """Wall time of a fixed pure-Python loop: slow when the core is shared."""
    t = time.perf_counter()
    acc = 0
    for i in range(_SPIN_N):
        acc += i
    return (time.perf_counter() - t) * 1e3


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after it start at ") "
    return data[data.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants() -> list[int]:
    """Every live process below this one."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_seconds() -> dict[str, float]:
    """CPU seconds (user + system) of the JVM and of the Python workers
    below this process. Workers that exited are counted through the
    reaped-children time of the daemon that forked them."""
    jvm = py = 0.0
    for pid in descendants():
        st = _stat(pid)
        if st is None:
            continue
        own = (int(st[11]) + int(st[12])) / _HZ
        reaped = (int(st[13]) + int(st[14])) / _HZ
        cmd = _cmdline(pid)
        if "java" in cmd.split(" ")[0]:
            jvm += own
        elif "pyspark.daemon" in cmd or "pyspark/daemon" in cmd:
            py += own + reaped
        elif "pyspark.worker" in cmd:
            py += own
    return {"jvm": jvm, "pyworker": py}


def tree_rss_mb() -> float:
    total = 0
    for pid in [os.getpid(), *descendants()]:
        st = _stat(pid)
        if st is not None:
            total += int(st[21]) * _PAGE
    return total / 2**20


class PeakRss:
    """Samples the process tree's RSS in a background thread."""

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(_RSS_EVERY_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


class Stamps:
    """Contamination stamps taken at the start and end of a run."""

    def __init__(self, width: int) -> None:
        self.width = width
        self.nproc = os.cpu_count() or 1
        self.load_start = load_1min()
        self.spin_start_ms = spin_ms()
        self._steal0 = steal_seconds()

    def finish(self) -> dict[str, float]:
        return {
            "width": self.width,
            "nproc": self.nproc,
            "steal_s": round(steal_seconds() - self._steal0, 2),
            "load1_start": self.load_start,
            "load1_end": load_1min(),
            "spin_ms_start": round(self.spin_start_ms, 2),
            "spin_ms_end": round(spin_ms(), 2),
        }
