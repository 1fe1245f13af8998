"""How fast the host runs code, sampled while a run measures.

On a shared host the same work takes 1.3-1.6x the CPU time when
neighbours are busy: stolen time is charged to no one, but a core slowed
by its neighbours is charged in full. ``run.py`` times a fixed pure-Python
loop every ``PERIOD_S`` in a thread of its own process, outside the
measured process tree; ``runner.py`` scales each CPU figure by the samples
taken while it ran, to the speed of a reference host. The loop slows less
than the JVM does, so this removes most, not all, of the host's effect.
"""

from __future__ import annotations

import bisect
import threading
import time

#: seconds between samples
PERIOD_S = 0.25
#: CPU seconds ``loop_cpu_s`` takes on an uncontended reference host (a
#: 4-core KVM guest on an Intel Xeon); normalized figures are scaled to it
REF_S = 0.025
#: samples this far outside an interval still count for it
MARGIN_S = 0.5


def loop_cpu_s() -> float:
    """CPU seconds this thread takes for a fixed pure-Python loop."""
    t0 = time.thread_time()
    x = 0
    for i in range(300_000):
        x = (x * 31 + i) % 1_000_003
    return time.thread_time() - t0


def sample(path: str, stop: threading.Event) -> None:
    """Append ``<monotonic time> <loop CPU seconds>`` lines to ``path``
    until ``stop`` is set."""
    with open(path, "w") as fh:
        while not stop.wait(PERIOD_S):
            c = loop_cpu_s()
            fh.write(f"{time.monotonic()} {c}\n")
            fh.flush()


class Speed:
    """The samples of one run, read back from ``path``."""

    def __init__(self, path: str):
        self.t: list[float] = []
        self.c: list[float] = []
        with open(path) as fh:
            for line in fh:
                parts = line.split()
                if len(parts) == 2:
                    self.t.append(float(parts[0]))
                    self.c.append(float(parts[1]))
        if not self.t:
            raise RuntimeError("no host speed samples were taken")

    def loop_s(self, t0: float, t1: float) -> float:
        """Mean loop time of the samples in [t0, t1] widened by
        MARGIN_S, or of the nearest sample if there is none."""
        lo = bisect.bisect_left(self.t, t0 - MARGIN_S)
        hi = bisect.bisect_right(self.t, t1 + MARGIN_S)
        if hi > lo:
            return sum(self.c[lo:hi]) / (hi - lo)
        i = min(lo, len(self.t) - 1)
        if i > 0 and t0 - self.t[i - 1] < self.t[i] - t1:
            i -= 1
        return self.c[i]

    def scale(self, cpu_s: float, t0: float, t1: float) -> float:
        """CPU seconds spent in [t0, t1], at the reference host's speed."""
        return cpu_s * REF_S / self.loop_s(t0, t1)
