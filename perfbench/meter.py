"""Wall-clock timing stamped with hypervisor steal.

Every time the benchmark reports is a raw ``perf_counter`` wall. On a
shared virtual machine the hypervisor takes vCPUs away from the guest
("steal") whenever other tenants are busy, so each timed interval is
also stamped with its steal share, read from ``/proc/stat`` the way
``bench.py`` reads it: steal jiffies over busy jiffies (user, nice,
system, irq, softirq and steal). The share never rescales a time. It
decides whether a time is trusted: a timed pass under more steal than
``STEAL_MAX_SHARE`` is re-run (``run.py``), and every record keeps the
shares next to the walls.
"""

from __future__ import annotations

import time

# bench.py's STEAL_FLAG_MAX_SHARE: above it a time is not trusted
STEAL_MAX_SHARE = 0.05


def busy_steal() -> tuple[int, int]:
    """(steal, busy) jiffies over all CPUs."""
    with open("/proc/stat") as fh:
        user, nice, system, _, _, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq + steal


def steal_share(j0: tuple[int, int], j1: tuple[int, int]) -> float | None:
    """Steal over busy jiffies between two ``busy_steal`` readings; None
    when no CPU time passed between them."""
    busy = j1[1] - j0[1]
    return (j1[0] - j0[0]) / busy if busy > 0 else None


def trusted(steal: float | None) -> bool:
    return steal is None or steal <= STEAL_MAX_SHARE


class Stopwatch:
    """``with Stopwatch() as sw: ...`` sets ``sw.wall`` and ``sw.steal``
    (the steal share over the interval, or None)."""

    wall = 0.0
    steal: float | None = None

    def __enter__(self) -> "Stopwatch":
        self._j0 = busy_steal()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        self.steal = steal_share(self._j0, busy_steal())

    def as_dict(self) -> dict:
        return {"wall_s": self.wall, "steal_share": self.steal}
