"""Outside-in process accounting from ``/proc``: CPU and RSS of the Spark
JVM and its Python workers, i.e. every descendant of this process."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# RSS sampling period, and how often the sampler looks for new processes
# (Python workers spawned during the job).
_INTERVAL_S = 0.02
_RESCAN_S = 0.5


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may hold spaces or parens: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int | None = None) -> list[int]:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of ``pids`` plus what their reaped children used."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11..14] = utime, stime, cutime, cstime (proc(5) 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total


class JobSampler:
    """Samples summed RSS of the process tree while a job runs; CPU is the
    difference of two exact readings taken at start and stop.

    Usage: ``with JobSampler() as s: run_job()`` then read ``s.cpu_s`` and
    ``s.peak_rss``."""

    def __init__(self) -> None:
        self.cpu_s = 0.0
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._cpu0 = 0.0

    def _sample(self) -> None:
        pids = descendants()
        rescan_at = time.monotonic() + _RESCAN_S
        while True:
            self.peak_rss = max(self.peak_rss, rss_bytes(pids))
            if self._stop.wait(_INTERVAL_S):
                return
            if time.monotonic() >= rescan_at:
                pids = descendants()
                rescan_at = time.monotonic() + _RESCAN_S

    def __enter__(self) -> JobSampler:
        self._cpu0 = cpu_seconds(descendants())
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        pids = descendants()
        self.peak_rss = max(self.peak_rss, rss_bytes(pids))
        self.cpu_s = cpu_seconds(pids) - self._cpu0


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until ``pids`` have exited; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"
