"""Bounded wait for a calm box before a timed measurement (``bench.py``).

The 1-minute load average lags: jobs that just finished still count.
``quiet_window`` waits, for at most ``wait_timeout_s``, until it falls
below ``wait_for_load``, and yields the load it saw last so the
measurement can record the conditions it ran under.
"""

from __future__ import annotations

import contextlib
import time


def _read_loadavg() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None


@contextlib.contextmanager
def quiet_window(wait_for_load: float | None = 2.0, wait_timeout_s: float = 180.0):
    """Wait (bounded) for the 1-minute loadavg to drop below
    ``wait_for_load``; yield the loadavg observed when the wait ended
    (None if unreadable). ``wait_for_load=None`` skips the wait."""
    load = _read_loadavg()
    if wait_for_load is not None:
        deadline = time.monotonic() + wait_timeout_s
        while load is not None and load > wait_for_load:
            left = deadline - time.monotonic()
            if left <= 0:
                break
            time.sleep(min(5.0, left))
            load = _read_loadavg()
    yield load
