"""Process-tree memory and age from /proc (psutil is not available)."""

from __future__ import annotations

import os
import threading
import time


class ProcessAge:
    """Seconds since this process started: /proc gives the start in clock
    ticks, so the age is read once and advanced with the high-resolution
    clock from there."""

    def __init__(self):
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        with open("/proc/self/stat") as f:
            # field 22 (starttime, ticks since boot); the command name in
            # field 2 may hold spaces, so split after its closing parenthesis
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        self._age0 = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        self._clock0 = time.perf_counter()

    def now(self) -> float:
        return self._age0 + (time.perf_counter() - self._clock0)


def tree_pids(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo += [int(c) for c in f.read().split()]
        except OSError:  # exited while we walked
            continue
    return out


def alive(pid: int) -> bool:
    """True while `pid` runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def _hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


class TreePeak:
    """Peak resident memory of a process tree: the sum over every process
    seen of its own peak (VmHWM). Peaks are reset when sampling starts, so
    only the measured window counts; a background thread polls so that
    processes exiting before the end still contribute."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        for pid in tree_pids(self.root):
            kb = _hwm_kb(pid)
            if kb is not None and kb > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        for pid in tree_pids(self.root):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # reset VmHWM to the current RSS
            except OSError:
                pass
        self._sample()
        self._thread.start()

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return sum(self.peak_kb.values()) / 1024.0
