"""The host: how fast it runs plain code, and how much CPU it withholds.

A shared VM runs the same work at very different speeds from one minute
to the next: on a 4-core VM the same pass over the ``batch_kernels``
gates took 2.9 s in one quarter hour and 4.9 s in another, with no CPU
steal in either. A run therefore probes the host between its timed
units: a fixed pure-Python loop, timed over and over for a tenth of a
second, while the program under test is idle. ``scale`` turns the
probes into a factor that takes a run's times to the reference host,
the speed at which the probe loop takes ``REFERENCE_MS`` (a 4-core VM
with nothing else running): a time measured while the loop ran 1.5
times slower than that is reported as two thirds of itself.

The correction is partial. The loop is single-threaded Python, and the
workloads keep JVM and Python threads on all cores busy, so CPU steal
slows them more than it slows the loop; the repeated timed units, of
which each run reports the fastest, are what absorbs short bursts of
steal. The loop does no I/O and allocates nothing that outlives it, so
a change to the program cannot make it faster or slower, except by
leaving threads busy while the program should be idle.
"""

from __future__ import annotations

import statistics
import time

PROBE_LOOP = 100_000
PROBE_S = 0.1
REFERENCE_MS = 6.0


def _loop() -> int:
    s = 0
    for i in range(PROBE_LOOP):
        s += i * i % 7
    return s


def probe() -> list[float]:
    """Milliseconds per run of the probe loop, for as many runs as fit in
    ``PROBE_S`` seconds."""
    out = []
    end = time.perf_counter() + PROBE_S
    while not out or time.perf_counter() < end:
        t0 = time.perf_counter()
        _loop()
        out.append(1e3 * (time.perf_counter() - t0))
    return out


def probe_ms(probes: list[float]) -> float:
    """The probe loop's time on this host: the 10th percentile of the
    probes, which leaves out the probes that other threads held up."""
    return statistics.quantiles(probes, n=10)[0]


def scale(probes: list[float]) -> float:
    """The factor from this host's times to the reference host's (1
    without probes)."""
    return REFERENCE_MS / probe_ms(probes) if len(probes) > 1 else 1.0


def cpu_times() -> list[int]:
    """The host's cumulative CPU times from /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time between two readings that the
    hypervisor gave to other guests, in percent."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))
