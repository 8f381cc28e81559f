"""Host-speed probe: a fixed piece of pure-Python work, timed.

The benchmark shares a few cores of a host with other tenants. The host's
load moves every timing of a run together: on a 4-vCPU VM the same code
ran 1.8x slower while the host was busy, and the probe below slowed by the
same factor. `run.py` times the probe just before it starts a workload run
and just after the run's processes have all exited, so nothing of the
benchmark or the engine runs beside it, and reports the run's timings
scaled to the reference host speed:

    reported time = measured time * REF_PROBE_S / probe time

(a rate is scaled the other way). A commit that makes the engine faster
still reads faster; a busy host no longer does. The unscaled values go to
the run's detail record.
"""

from __future__ import annotations

import random
import statistics
import time

#: median `probe_once` time on the reference host (a 4-vCPU shared VM,
#: Python 3.11) while the host was quiet
REF_PROBE_S = 0.05

_DATA = [random.Random(0).random() for _ in range(200_000)]


def probe_once() -> float:
    t0 = time.perf_counter()
    # an interpreter loop (branchy, cache-resident) ...
    acc = 0
    for i in range(500_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    # ... and a sort over a list larger than the L2 cache
    sorted(_DATA)
    return time.perf_counter() - t0


def probe(repeat: int = 9) -> float:
    """Median of `repeat` probe runs, seconds."""
    return statistics.median(probe_once() for _ in range(repeat))


def adjust(metrics: dict[str, float], probe_s: float) -> dict[str, float]:
    """Scale times (`*_s`) and rates (`*_eps`) to the reference host speed;
    other metrics pass through."""
    k = REF_PROBE_S / probe_s
    return {name: v * k if name.endswith("_s") else v / k if name.endswith("_eps") else v
            for name, v in metrics.items()}
