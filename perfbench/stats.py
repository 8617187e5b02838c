"""Pure statistics and host-noise rules of the benchmark (no Spark).

Host steal: on a shared VM the hypervisor runs other guests on our
vCPUs; the time shows up as ``steal`` in ``/proc/stat``. A pass whose
steal share of CPU time is at or above ``QUIET_STEAL_FRAC`` is loud: its
wall time measures the neighbours, not the program, so it is reported
but kept out of the throughput and latency figures.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics

# A pass is quiet when the hypervisor stole less than this share of
# the host's CPU time while it ran.
QUIET_STEAL_FRAC = 0.05
# The stationarity check flags a run whose first and last thirds of
# quiet timed passes differ by more than this share of their median
# (the largest bound BENCHMARK.json may set).
STATIONARITY_BOUND = 0.25
# A tail quantile is reported only with at least this many samples
# beyond it.
TAIL_MIN_BEYOND = 10


def read_cpu_times(path: str = "/proc/stat") -> tuple[int, int, int]:
    """(steal, idle, total) jiffies of the aggregate ``cpu`` line. Idle
    includes iowait; guest time is already counted inside user/nice,
    so it is left out of the total."""
    with open(path) as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    fields += [0] * (10 - len(fields))
    return fields[7], fields[3] + fields[4], sum(fields[:8])


def cpu_window(before: tuple, after: tuple) -> dict:
    """Steal share, stolen and busy CPU seconds between two
    ``read_cpu_times`` readings."""
    hz = os.sysconf("SC_CLK_TCK")
    steal, idle, total = (a - b for a, b in zip(after, before))
    return {
        "steal_frac": steal / total if total > 0 else 0.0,
        "steal_cpu_s": steal / hz,
        "busy_cpu_s": (total - idle - steal) / hz,
    }


def quiet(passes: list[dict], threshold: float = QUIET_STEAL_FRAC) -> list[dict]:
    """The passes whose steal share stayed below ``threshold``."""
    return [p for p in passes if p["steal_frac"] < threshold]


def quantile(samples: list[float], q: float) -> float:
    """Linear-interpolation quantile (numpy's default method)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_quantile(
    samples: list[float], q: float, min_beyond: int = TAIL_MIN_BEYOND
) -> float | None:
    """``quantile(samples, q)``, or None while fewer than
    ``min_beyond`` samples lie strictly beyond it: a p90 of 40 samples
    rests on four values and is not reported."""
    if not samples:
        return None
    v = quantile(samples, q)
    return v if sum(1 for s in samples if s > v) >= min_beyond else None


def stationarity(walls: list[float], bound: float = STATIONARITY_BOUND) -> dict:
    """Compare the median wall of the first and last thirds of the
    quiet timed passes (the first and last pass when there are fewer
    than six). ``drift`` is (last - first) / median of all;
    ``stationary`` is None for a single pass."""
    if len(walls) < 2:
        return {"drift": None, "stationary": None}
    k = max(1, len(walls) // 3)
    first = statistics.median(walls[:k])
    last = statistics.median(walls[-k:])
    drift = (last - first) / statistics.median(walls)
    return {"drift": drift, "stationary": abs(drift) <= bound}


def rows_digest(rows: list[tuple]) -> str:
    """Order-independent digest of a result: the sha256 of its sorted
    row reprs, so two executions agree iff they return the same
    multiset of rows."""
    h = hashlib.sha256()
    for r in sorted(repr(r) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()
