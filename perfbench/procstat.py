"""Resource use of a process tree (the Spark JVM and its Python
workers), read from ``/proc``; psutil is not installed.

CPU and I/O counters are cumulative, so they are read only when a
window opens and closes. Resident memory is not, so one sampler thread
polls it; that thread is the only one this module starts.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_MB = 1 << 20


def _read(path: str) -> str:
    with open(path) as f:
        return f.read()


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, CPU ticks of the process and its reaped children)."""
    try:
        s = _read(f"/proc/{pid}/stat")
    except OSError:
        return None
    # fields after "pid (comm)": state ppid ... utime(14) stime cutime cstime
    f = s[s.rindex(")") + 2 :].split()
    return int(f[1]), sum(int(x) for x in f[11:15])


def _cmdline(pid: int) -> str:
    try:
        return _read(f"/proc/{pid}/cmdline").replace("\0", " ")
    except OSError:
        return ""


def _all_pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid in _all_pids():
        st = _stat(pid)
        if st is not None:
            children.setdefault(st[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def child_jvm(parent: int) -> int | None:
    """The java process this process launched (pyspark's gateway)."""
    for pid in descendants(parent)[1:]:
        if "java" in os.path.basename(_cmdline(pid).split(" ", 1)[0]):
            return pid
    return None


def other_spark_jvms() -> list[int]:
    """Spark JVMs running on this host (call before starting one)."""
    return [
        pid
        for pid in _all_pids()
        if "org.apache.spark.deploy.SparkSubmit" in _cmdline(pid)
    ]


def online_cpus() -> str:
    try:
        return _read("/sys/devices/system/cpu/online").strip()
    except OSError:
        return "unknown"


@dataclass
class Usage:
    cpu_s: float = 0.0
    peak_rss_mb: float = 0.0
    read_mb: float = 0.0
    write_mb: float = 0.0


class Sampler:
    """Measures windows of a process tree rooted at ``root``: CPU
    seconds (user+sys, reaped children included), peak summed RSS, and
    the root's rchar/wchar deltas."""

    def __init__(self, root: int, interval: float = 0.05):
        self.root = root
        self.interval = interval
        self._pids = descendants(root)
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, name="procstat", daemon=True)
        self._thread.start()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _rss_mb(self) -> float:
        total = 0
        for pid in self._pids:
            try:
                total += int(_read(f"/proc/{pid}/statm").split()[1])
            except (OSError, IndexError, ValueError):
                pass
        return total * _PAGE / _MB

    def _poll(self) -> None:
        n = 0
        while not self._stop.wait(self.interval):
            n += 1
            if n % 10 == 0:  # pick up newly forked Python workers
                self._pids = descendants(self.root)
            rss = self._rss_mb()
            with self._lock:
                self._peak = max(self._peak, rss)

    def _cpu_s(self) -> float:
        self._pids = descendants(self.root)
        return sum(st[1] for st in map(_stat, self._pids) if st is not None) / _TICK

    def _io_mb(self) -> tuple[float, float]:
        try:
            kv = dict(line.split(": ") for line in _read(f"/proc/{self.root}/io").splitlines())
        except OSError:
            return 0.0, 0.0
        return int(kv["rchar"]) / _MB, int(kv["wchar"]) / _MB

    @contextmanager
    def window(self):
        usage = Usage()
        cpu0, (r0, w0) = self._cpu_s(), self._io_mb()
        with self._lock:
            self._peak = self._rss_mb()
        try:
            yield usage
        finally:
            cpu1, (r1, w1) = self._cpu_s(), self._io_mb()
            with self._lock:
                peak = max(self._peak, self._rss_mb())
            usage.cpu_s, usage.peak_rss_mb = cpu1 - cpu0, peak
            usage.read_mb, usage.write_mb = r1 - r0, w1 - w0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return those still alive."""
    deadline = time.monotonic() + timeout
    alive = pids
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and _state(p) != "Z"]
        if alive:
            time.sleep(0.1)
    return alive


def _state(pid: int) -> str:
    try:
        s = _read(f"/proc/{pid}/stat")
    except OSError:
        return "Z"
    return s[s.rindex(")") + 2]
