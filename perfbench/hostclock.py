"""Wall time net of the host's CPU steal.

The benchmark runs on virtual CPUs of a shared host. While the host
runs other guests on our CPUs, the kernel counts the time as *steal*
in ``/proc/stat``, and every span measured then reads longer although
the program did no more work. ``unstolen`` scales a span's wall time
by the share of the busy CPU time that was not stolen during it: the
time the span would have taken on CPUs of its own.
"""

from __future__ import annotations


def steal_ticks() -> tuple[int, int]:
    """(stolen, busy) CPU ticks of this machine so far, over all CPUs;
    busy counts every tick but idle and iowait, steal included."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t) - t[3] - t[4]


def steal_share(since: tuple[int, int]) -> float:
    """Share of the busy CPU ticks since ``since`` that were stolen."""
    stolen, busy = steal_ticks()
    return (stolen - since[0]) / max(1, busy - since[1])


def unstolen(seconds: float, since: tuple[int, int]) -> float:
    """``seconds`` of wall time that began at ``since``, less its
    stolen share."""
    return seconds * (1.0 - steal_share(since))
