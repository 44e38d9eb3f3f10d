"""Op timing with the hypervisor's steal taken out.

On a virtual machine the hypervisor may run other guests on the CPUs the
run asked for. The guest kernel counts that time as ``steal`` in
``/proc/stat``. On a shared 4-core host it reached a quarter of the
demanded CPU time in some runs, and every op of such a run took longer
by about that share.

A ``Stopwatch`` reads the machine-wide CPU counters at both ends of an
interval. ``demand`` is the CPU time the guest wanted over it (busy plus
stolen) and ``stolen`` the part it did not get. The interval's time is
its wall time times ``1 - stolen / demand``: the wall time at the CPU
share the guest was given. With no steal it is the wall time.
"""

from __future__ import annotations

import time


def cpu_ticks() -> tuple[int, int]:
    """(demanded, stolen) CPU ticks of the machine so far."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq + steal, steal


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    demand = end[0] - start[0]
    return (end[1] - start[1]) / demand if demand > 0 else 0.0


class Stopwatch:
    """``with Stopwatch() as sw: ...``; then ``sw.wall`` is the wall time
    and ``sw.s`` the wall time with the steal share taken out."""

    wall = s = share = 0.0

    def __enter__(self) -> Stopwatch:
        self._ticks = cpu_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        self.share = steal_share(self._ticks, cpu_ticks())
        self.s = self.wall * (1.0 - self.share)
