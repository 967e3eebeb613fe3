"""CPU-steal sampling for benchmark windows.

On a shared VM other tenants take CPU time from this one ("steal"); a timing
taken while steal is high measures the neighbours, not the engine.  The
benchmark scripts sample the aggregate ``cpu`` line of ``/proc/stat`` around
each timed window and report (or retry on) the window's steal share.

    with StealWindow() as w:
        run()
    print(w.frac)             # steal ticks / all ticks during the window

    seconds, steal, attempts = best_of(run)
"""

from __future__ import annotations

import time


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) ticks since boot from the aggregate ``cpu`` line.

    The total sums user, nice, system, idle, iowait, irq, softirq and steal.
    The guest fields after steal are left out: the kernel already counts
    guest time in user and nice, so adding them would count it twice.
    """
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return sum(vals), vals[7]


class StealWindow:
    """Context manager; after exit, ``frac`` is the steal share of all CPU
    ticks spent between enter and exit."""

    frac: float = 0.0

    def __enter__(self) -> "StealWindow":
        self._start = cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        (c0, s0), (c1, s1) = self._start, cpu_ticks()
        self.frac = (s1 - s0) / max(c1 - c0, 1)


def best_of(fn, max_attempts: int = 3, threshold: float = 0.02) -> tuple[float, float, int]:
    """Steal-guarded timing of ``fn`` (the contract ``bench.py`` uses).

    One untimed warm run, then up to ``max_attempts`` timed runs.  The first
    window whose steal share is at most ``threshold`` is kept; if none is
    that clean, the fastest window is.  Returns (seconds, steal share of
    the kept window, attempts made).
    """
    fn()
    best_t = best_s = None
    for attempt in range(1, max_attempts + 1):
        with StealWindow() as w:
            t0 = time.time()
            fn()
            t = round(time.time() - t0, 3)
        if best_t is None or t < best_t or w.frac <= threshold:
            best_t, best_s = t, w.frac
        if w.frac <= threshold:
            break
    return best_t, best_s, attempt
