"""Host speed reference: a fixed task timed between ops, outside them.

The benchmark runs on a shared host whose speed drifts: within one run the
same ops got 10-20 % slower or faster together from one pass to the next,
set-up included, with no change to the code. Each CPU of the run can slow
down on its own (the same loop, pinned to each of the 4 CPUs in turn, once
took 10, 10, 10 and 15 ms), and Spark's tasks run on all of them. So after
every op a fixed pure-Python loop and a numpy sort, which use none of the
engine, are timed pinned to each CPU the process may use. Their mean time
over their time on the idle sizing host is the host factor: above 1 the
host runs slower than nominal. The timed metrics divide each time by the
factor of its own stretch of the run, so they read as seconds on the
nominal host.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

LOOP_N = 100_000
SORT_N = 200_000
# Median seconds of the two tasks on one CPU of the sizing host (4-core VM, idle).
NOMINAL_LOOP_S = 0.0085
NOMINAL_SORT_S = 0.0022


class HostRef:
    def __init__(self):
        self._values = np.random.default_rng(0).random(SORT_N)
        self._cpus = sorted(os.sched_getaffinity(0))

    def _time_tasks(self) -> tuple[float, float]:
        t0 = time.perf_counter()
        acc = 0
        for i in range(LOOP_N):
            acc += i * i % 7
        t1 = time.perf_counter()
        np.sort(self._values)
        return t1 - t0, time.perf_counter() - t1

    def sample(self) -> float:
        """Time the reference tasks once on each CPU and return the host factor."""
        loop, sort = [], []
        try:
            for cpu in self._cpus:
                os.sched_setaffinity(0, {cpu})
                loop_s, sort_s = self._time_tasks()
                loop.append(loop_s)
                sort.append(sort_s)
        finally:
            os.sched_setaffinity(0, self._cpus)
        return math.sqrt(
            statistics.fmean(loop) / NOMINAL_LOOP_S * statistics.fmean(sort) / NOMINAL_SORT_S
        )
