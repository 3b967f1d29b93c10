"""Box-speed probe: a fixed CPU task, timed before and after each run.

The probe's absolute time depends on the machine and its core count, so a
reading is only ever compared with another reading of the same run, under
the same `nproc` key. A run labels itself contended when its two readings
differ by more than a factor `CONTENDED_RATIO`: something else took the cores
while it measured.
"""

from __future__ import annotations

import os
import time

import numpy as np

CONTENDED_RATIO = 1.5


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def box_speed(repeats: int = 3, warmup: int = 1) -> float:
    """Fastest of `repeats` timings of a fixed task: matrix multiplies
    (BLAS spreads them over every core) and a single-core Python loop.
    The untimed `warmup` rounds warm caches and the BLAS thread pool."""
    times = []
    for i in range(warmup + repeats):
        a = np.random.default_rng(0).standard_normal((512, 512))
        t0 = time.perf_counter()
        for _ in range(12):
            a = np.tanh(a @ a.T / 512.0)
        acc = 0
        for j in range(300_000):
            acc += j * j % 7
        if i >= warmup:
            times.append(time.perf_counter() - t0)
    return min(times)


def verdict(before: float, after: float) -> dict:
    return {
        "nproc": nproc(),
        "before_s": before,
        "after_s": after,
        "contended": max(before, after) / min(before, after) > CONTENDED_RATIO,
    }
