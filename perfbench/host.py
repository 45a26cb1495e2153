"""Process and host probes read from /proc: process age, tree RSS, load, steal.

Everything here degrades to ``None``/no-op where /proc is missing, so the
benchmark's own tests run anywhere; the numbers only mean something on Linux.
"""

from __future__ import annotations

import os
import threading
import time


def process_start_wall() -> float:
    """Wall-clock time (``time.time()`` scale) at which this process started.

    Uses the kernel's start tick of this pid against ``/proc/uptime`` so the
    interpreter start-up before any benchmark code ran is included. Falls
    back to "now" where /proc is unavailable.
    """
    try:
        with open("/proc/self/stat") as f:
            # field 22 (starttime, clock ticks since boot); the comm field
            # may contain spaces, so split after its closing parenthesis
            fields = f.read().rsplit(")", 1)[1].split()
        start_ticks = int(fields[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except (OSError, IndexError, ValueError):
        return time.time()
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - max(age, 0.0)


def tree_pids(root: int) -> list[int]:
    """``root`` followed by all its live descendants."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listdir and open
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its
    descendants, including the reaped children of each."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime..cstime
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(root: int) -> float:
    """Summed RSS of ``root`` and its descendants (driver, JVM, workers)."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(
                    (int(line.split()[1]) for line in f if line.startswith("VmRSS:")), 0
                )
        except (OSError, ValueError):
            pass
    return total_kb / 1024.0


class RssSampler:
    """Samples the process tree's RSS on a daemon thread; keeps the peak."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> RssSampler:
        if os.path.isdir("/proc/self"):
            self._thread = threading.Thread(target=self._loop, daemon=True)
            self._thread.start()
        return self

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)


def cpu_snapshot() -> dict:
    """1-minute load average and cumulative CPU jiffies (total, steal)."""
    snap: dict = {"t": time.time(), "load1": None, "jiffies": None, "steal": None}
    try:
        with open("/proc/loadavg") as f:
            snap["load1"] = float(f.read().split()[0])
        with open("/proc/stat") as f:
            cpu = [int(x) for x in f.readline().split()[1:]]
        snap["jiffies"] = sum(cpu)
        snap["steal"] = cpu[7] if len(cpu) > 7 else 0
    except (OSError, ValueError):
        pass
    return snap


def host_summary(start: dict, end: dict) -> dict:
    """Load at both ends of a run and the share of CPU time stolen during it."""
    steal = None
    if start["jiffies"] is not None and end["jiffies"] is not None:
        dj = end["jiffies"] - start["jiffies"]
        steal = (end["steal"] - start["steal"]) / dj if dj > 0 else 0.0
    return {
        "load1_start": start["load1"],
        "load1_end": end["load1"],
        "steal_frac": steal,
        "cpus": os.cpu_count(),
    }
