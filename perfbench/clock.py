"""Wall time with the hypervisor's steal taken out.

On a virtual machine the hypervisor can deschedule a busy vCPU; Linux
counts that time as ``steal`` in ``/proc/stat``. Work on such a vCPU
takes longer by the stolen share, and that share drifts over minutes
with the load of other guests (0.4%–20% of all CPU time on the
machine this benchmark was built on), which no choice of workload can
average out. ``StealMeter`` samples the machine's tick counters in a
background thread, so any interval's wall time can be reported as the
time the guest actually had its CPUs: wall × (1 − stolen share of the
busy ticks in the interval). Without steal, or where ``/proc/stat``
does not exist, that is the wall time itself.
"""

from __future__ import annotations

import bisect
import threading
import time


def _ticks() -> tuple[int, int] | None:
    """(steal, busy) ticks summed over the machine's CPUs; busy counts
    every state but idle and iowait, steal included."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return steal, user + nice + system + irq + softirq + steal


class StealMeter:
    def __init__(self, period: float = 0.2):
        self.period = period
        self.samples: list[tuple[float, int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        t = _ticks()
        if t is not None:
            self.samples.append((time.time(), *t))

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self) -> StealMeter:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    def share(self, a: float, b: float) -> float:
        """Stolen share of the busy CPU ticks between the samples that
        bracket [a, b]."""
        if len(self.samples) < 2:
            return 0.0
        times = [s[0] for s in self.samples]
        i = max(0, bisect.bisect_right(times, a) - 1)
        j = min(len(times) - 1, max(i + 1, bisect.bisect_left(times, b)))
        steal = self.samples[j][1] - self.samples[i][1]
        busy = self.samples[j][2] - self.samples[i][2]
        return steal / busy if busy > 0 else 0.0

    def own(self, a: float, b: float) -> float:
        """Seconds of [a, b] the guest had its CPUs."""
        return (b - a) * (1.0 - self.share(a, b))
