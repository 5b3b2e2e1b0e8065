"""Load generation and latency statistics.

Open loop: requests arrive on a precomputed Poisson schedule and are served
in arrival order by ONE server thread (``LocalSearcher`` is not safe to
share across threads). Each request is timed from when it was *due*, so a
stall is charged to every request that queued behind it (no coordinated
omission). When the server is idle the dispatcher sleeps until the next due
time; how far past the due time it woke is the generator's lateness.

Closed loop: one client sends the next request of a fixed list as soon as
the previous one returns; requests/s over the list is the capacity.

A failed request counts with latency +inf.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field
from typing import Callable, Sequence

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank q-quantile (0 < q < 1) of ``values``; +inf entries
    (failed requests) sort last. Raises ValueError unless at least
    MIN_BEYOND samples lie beyond the percentile."""
    n = len(values)
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile out of range: {q}")
    if n == 0 or n * (1.0 - q) < MIN_BEYOND - 1e-9:
        raise ValueError(
            f"p{q * 100:g} needs >= {math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)} "
            f"samples, have {n}"
        )
    s = sorted(values)
    return s[max(0, math.ceil(q * n) - 1)]


def highest_percentile(n: int, candidates=(0.99, 0.95, 0.9, 0.75, 0.5)) -> float | None:
    """The highest candidate quantile with MIN_BEYOND samples beyond it."""
    for q in candidates:
        if n * (1.0 - q) >= MIN_BEYOND - 1e-9:
            return q
    return None


@dataclass
class Sample:
    op: str
    due: float  # schedule time (clock units)
    start: float  # service start
    end: float
    ok: bool

    @property
    def latency(self) -> float:
        """From due time to completion; +inf when the request failed."""
        return self.end - self.due if self.ok else math.inf

    @property
    def queue_wait(self) -> float:
        return max(0.0, self.start - self.due)

    @property
    def service(self) -> float:
        return self.end - self.start


@dataclass
class OpenLoopResult:
    samples: list[Sample] = field(default_factory=list)
    late: list[float] = field(default_factory=list)  # dispatcher wake-up lateness

    def latencies(self, op: str | None = None) -> list[float]:
        return [s.latency for s in self.samples if op is None or s.op == op]


def run_open_loop(
    schedule: Sequence[float],
    ops: Sequence[str],
    serve: Callable[[int], bool],
    clock: Callable[[], float] = time.perf_counter,
    sleep: Callable[[float], None] = time.sleep,
) -> OpenLoopResult:
    """Serve request i (op ``ops[i]``) due at ``t0 + schedule[i]``;
    ``serve(i)`` returns False (or raises) for a failed request."""
    res = OpenLoopResult()
    t0 = clock()
    for i, off in enumerate(schedule):
        due = t0 + off
        now = clock()
        if now < due:
            sleep(due - now)
            now = clock()
            res.late.append(max(0.0, now - due))
        start = now
        try:
            ok = bool(serve(i))
        except Exception:  # a failed request is a data point, not a crash
            ok = False
        res.samples.append(Sample(ops[i], due, start, clock(), ok))
    return res


def run_closed_loop(
    n: int,
    ops: Sequence[str],
    serve: Callable[[int], bool],
    clock: Callable[[], float] = time.perf_counter,
) -> tuple[list[Sample], float]:
    """One client serves requests 0..n-1 back to back; returns (samples,
    elapsed)."""
    out: list[Sample] = []
    t0 = clock()
    for i in range(n):
        s = clock()
        try:
            ok = bool(serve(i))
        except Exception:
            ok = False
        out.append(Sample(ops[i], s, s, clock(), ok))
    return out, clock() - t0
