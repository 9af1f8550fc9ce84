"""Host-speed canary: a fixed computation timed beside the benchmark.

The benchmark runs on a few vCPUs of a shared host whose speed changes with
its other tenants: while the host is busy the same job, and every kernel in
it, takes up to about 2.5 times as long, without the change showing as CPU
steal. The canary is a separate process that, every ``PERIOD_S`` seconds
(about a twentieth of one core) for the whole run, moves to the next core
in turn and times a fixed mix of interpreter work and NumPy sorts of an
array that fits in the core's cache. It times CPU time, not wall time, so
the engine's threads on the same core delay it without lengthening it, and
it visits every core because the host slows single vCPUs too: pinned to
one core, it once read 40 % slower for three runs in a row while the job
on the other cores did not slow. It stays inside its core's caches because
a canary that streamed through memory slowed with the benchmark's own
memory traffic, by more than the job did. A timed phase (a set-up, a job)
is converted to nominal-host seconds by ``NOMINAL_S`` over the median
canary time inside that phase's windows.

Nothing the canary does depends on the seed or on the program, so a change
to the program moves the measured times and, as far as the two meet only in
shared caches and the host, not the canary's.

    python3 perfbench/hostspeed.py OUT_FILE   # the canary process
"""

from __future__ import annotations

import itertools
import os
import statistics
import subprocess
import sys
import time

import numpy as np

#: canary time (s) at which nominal-host seconds read about as measured ones
#: on the 4-vCPU VM the baseline was taken on while its host was quiet
NOMINAL_S = 0.004
PERIOD_S = 0.2

_N = 1 << 14  # 128 KB of float64
_SORTS = 50


def _inputs():
    rng = np.random.Generator(np.random.PCG64(12345))
    return rng.random(_N), [f"w{i % 977}" for i in range(20_000)]


def _work(a, words) -> float:
    counts: dict[str, int] = {}
    for w in words:
        counts[w] = counts.get(w, 0) + 1
    for _ in range(_SORTS):
        c = np.sort(a)
    return float(c[_N // 2]) + len(counts)


def _canary(out_path: str):
    cores = sorted(os.sched_getaffinity(0))
    inputs = _inputs()
    with open(out_path, "w") as out:
        for i in itertools.count():
            os.sched_setaffinity(0, {cores[i % len(cores)]})
            c0 = time.thread_time()
            _work(*inputs)
            dt = time.thread_time() - c0
            out.write(f"{time.monotonic():.6f} {dt:.6f}\n")
            out.flush()
            time.sleep(PERIOD_S)


class Canary:
    """Runs the canary process for the life of a ``with`` block; afterwards
    ``factor(windows)`` gives NOMINAL_S over the median canary time of the
    samples that ended inside the given (start, end) ``time.monotonic``
    windows."""

    def __init__(self, out_path: str):
        self.out_path = out_path
        self.proc = None
        self.samples: list[tuple[float, float]] = []

    def __enter__(self):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), self.out_path])
        return self

    def __exit__(self, *exc):
        self.proc.kill()
        self.proc.wait()
        with open(self.out_path) as f:
            self.samples = [tuple(map(float, line.split())) for line in f
                            if line.endswith("\n")]
        return False

    def median_s(self, windows) -> float:
        inside = [dt for t, dt in self.samples if any(a <= t <= b for a, b in windows)]
        if not inside:  # windows shorter than one period: the nearest sample
            mid = [(a + b) / 2 for a, b in windows]
            inside = [min(self.samples, key=lambda s: min(abs(s[0] - m) for m in mid))[1]]
        return statistics.median(inside)

    def factor(self, windows) -> float:
        """Multiplier from measured seconds to nominal-host seconds."""
        return NOMINAL_S / self.median_s(windows)


if __name__ == "__main__":
    _canary(sys.argv[1])
