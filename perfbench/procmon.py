"""Process-tree sampler: peak RSS and CPU time of everything in one
session (the measured process, its JVM and the JVM's Python workers),
read from ``/proc`` at a fixed interval on a background thread."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _session_stats(sid: int) -> tuple[list[int], dict[str, int], float]:
    """(pids, RSS bytes per process kind, total CPU seconds incl. reaped
    children) of the processes whose session id is ``sid``. Kinds:
    ``driver`` (the session leader), ``jvm``, ``other`` (Python workers)."""
    pids, rss, cpu = [], {"driver": 0, "jvm": 0, "other": 0}, 0.0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2:].split()
        if int(f[3]) != sid:
            continue
        pid = int(name)
        pids.append(pid)
        cpu += sum(int(x) for x in f[11:15]) / _TICK
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        kind = "driver" if pid == sid else "jvm" if comm == "java" else "other"
        rss[kind] += int(f[21]) * _PAGE
    return pids, rss, cpu


def session_pids(sid: int) -> list[int]:
    return _session_stats(sid)[0]


class TreeSampler:
    """Samples the session of ``sid`` every ``interval`` seconds."""

    def __init__(self, sid: int, interval: float = 0.2) -> None:
        self.sid, self.interval = sid, interval
        self.samples: list[tuple[float, int, float]] = []
        self.peak_by_kind: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            _pids, by_kind, cpu = _session_stats(self.sid)
            rss = sum(by_kind.values())
            if rss > self.peak_rss():
                self.peak_by_kind = by_kind
            self.samples.append((time.time(), rss, cpu))
            self._stop.wait(self.interval)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_rss(self) -> int:
        return max((s[1] for s in self.samples), default=0)

    def peak_rss_mb(self) -> float:
        return self.peak_rss() / 2**20

    def cpu_util(self, t0: float, t1: float, cores: int) -> float:
        """Tree CPU time ÷ (wall × cores) between the first and last
        samples taken inside [t0, t1]."""
        inside = [s for s in self.samples if t0 <= s[0] <= t1]
        if len(inside) < 2 or inside[-1][0] <= inside[0][0]:
            return 0.0
        return ((inside[-1][2] - inside[0][2])
                / ((inside[-1][0] - inside[0][0]) * cores))
