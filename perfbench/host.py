"""Host-side samplers read from /proc and the file tree (no psutil).

* MemSampler: peak summed resident memory of a process and all its
  descendants (the Python driver, the JVM it launches, and the JVM's
  Python workers), polled from a background thread.  Each process
  counts its proportional share (PSS) so pages shared after a fork
  count once: plain RSS would bill the JVM's whole heap twice whenever
  it forks a short-lived helper (Hadoop's local file system runs
  `chmod` that way), and bill numpy's pages once per Python worker.
* tree_mb: durable bytes of a checkpoint or state dir.
* HostNote: /proc/loadavg and the CPU steal share over a run, recorded
  beside each run as an annotation, never as a metric.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # process exited between listdir and open
            continue
        # the comm field may contain spaces; ppid follows its ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # exited, or a kernel thread without an mm
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_pss(root_pid: int) -> dict[int, int]:
    """pid -> PSS (KiB) of root_pid and every descendant."""
    kids = _children_map()
    out, stack = {}, [root_pid]
    while stack:
        pid = stack.pop()
        out[pid] = _pss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return out


class MemSampler:
    """Polls tree_pss every `interval` seconds while started; `peak` is
    the largest sum seen (MiB), `peak_detail` its split by process name.
    Use as a context manager around the measured window.  One sample
    costs ~40 ms of CPU (smaps_rollup walks the JVM's mappings), so the
    default interval keeps the sampler under a tenth of a core."""

    def __init__(self, root_pid: int | None = None, interval: float = 0.5):
        self.root_pid = root_pid or os.getpid()
        self.interval = interval
        self.peak = 0.0
        self.peak_detail: dict = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        pss = tree_pss(self.root_pid)
        total = sum(pss.values()) / 1024.0
        if total > self.peak:
            self.peak = total
            by_comm: dict[str, float] = {}
            for pid, kb in pss.items():
                c = _comm(pid)
                by_comm[c] = by_comm.get(c, 0.0) + kb / 1024.0
            self.peak_detail = {"procs": len(pss), "mb_by_comm": by_comm}

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "MemSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def tree_mb(path: str) -> float:
    """Bytes (MiB) of every file under path."""
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(dirpath, n))
            except OSError:  # removed while walking
                pass
    return total / (1024.0 * 1024.0)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        # cpu user nice system idle iowait irq softirq steal ...
        return [int(x) for x in f.readline().split()[1:]]


class HostNote:
    """Load average at start and end plus the CPU steal share between
    them: lets a reader discount a run taken while the VM was starved."""

    def __init__(self) -> None:
        self.load_start = self._loadavg()
        self._cpu0 = _cpu_times()

    @staticmethod
    def _loadavg() -> list[float]:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]

    def finish(self) -> dict:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(delta[:8]) or 1
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "loadavg_start": self.load_start,
            "loadavg_end": self._loadavg(),
            "steal_frac": round(steal / total, 4),
            "cpus": os.cpu_count(),
        }
