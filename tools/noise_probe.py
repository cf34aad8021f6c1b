"""Host-noise monitor: append one line of JSON per sample to
BENCH/noise_log.jsonl — single-threaded DRAM-triad bandwidth plus a
cache-bound int-loop rate. On this shared host a co-tenant saturates the
memory bus in bursts (observed: Spark jobs 7-15x slower while /proc/stat
reads idle); the triad number identifies quiet windows so bench/scaling
runs can be scheduled honestly.

Usage: python tools/noise_probe.py [interval_sec] [count]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOG = os.path.join(REPO, "BENCH", "noise_log.jsonl")


def triad_gbps(n: int = 20_000_000) -> float:
    """Single-thread 3-stream DRAM triad sample — THE ambient-bandwidth
    probe. This is the one implementation; bench.py and the decomposition
    tools import it so the numbers stay comparable across artifacts.
    """
    a = np.random.rand(n)
    b = np.random.rand(n)
    c = np.empty_like(a)
    tb = np.empty_like(a)
    # hoist the scale out of the timed region: np.add(a, 2.0*b, out=c)
    # would allocate + stream the temporary inside the timer (~5 streams),
    # deflating the reported 3-stream triad bandwidth ~1.7x
    np.multiply(b, 2.0, out=tb)
    t0 = time.perf_counter()
    np.add(a, tb, out=c)
    dt = time.perf_counter() - t0
    return (3 * 8 * n / dt) / 1e9


def int_loop_mips(n: int = 5_000_000) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return n / (time.perf_counter() - t0) / 1e6


def main() -> None:
    interval = float(sys.argv[1]) if len(sys.argv) > 1 else 120.0
    count = int(sys.argv[2]) if len(sys.argv) > 2 else 10**9
    for _ in range(count):
        rec = {
            "ts": round(time.time(), 1),
            "triad_gbps": round(triad_gbps(), 3),
            "int_mips": round(int_loop_mips(), 2),
            "load1": round(os.getloadavg()[0], 2),
        }
        with open(LOG, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(json.dumps(rec), flush=True)
        time.sleep(interval)


if __name__ == "__main__":
    main()
