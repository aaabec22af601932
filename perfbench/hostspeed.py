"""Host-speed diagnostic: a fixed pure-Python kernel that shares no code
with the program under test.

The benchmark times it before and after every timed pass and records the
figures next to the metrics. When two sets of runs of the same code
disagree, a matching shift here points at the host, not the code. It is a
diagnostic only: no metric is normalised by it.
"""

from __future__ import annotations

import time


def _kernel() -> int:
    # integer arithmetic, string building and dict traffic: the same mix
    # of interpreter work the extraction layers do, on fixed data
    acc = 0
    table: dict[str, int] = {}
    for i in range(60_000):
        key = f"k{i % 997}-{i % 13}"
        table[key] = table.get(key, 0) + (i * 2654435761) % 1_000_003
        acc ^= len(key) * i & 0xFFFF
    words = " ".join(str(v) for v in table.values()).split()
    return acc + len(sorted(words))


def kernel_ms() -> float:
    """Wall milliseconds of one run of the kernel."""
    t0 = time.perf_counter()
    _kernel()
    return (time.perf_counter() - t0) * 1e3
