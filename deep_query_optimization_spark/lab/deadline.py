"""Wall-clock backstop for budget-bounded loops: a SIGALRM timer that
raises :class:`HardDeadlineError` out of a call wedged in a py4j wait."""

from __future__ import annotations

import contextlib
import time


class HardDeadlineError(Exception):
    """Raised inside the main thread when a hard_deadline expires."""


@contextlib.contextmanager
def hard_deadline(seconds: float):
    """Process-level wall-clock backstop for budget-bounded loops.

    Cooperative budget checks (between queries, between batches) cannot
    bound a SINGLE wedged call: a query stuck in a non-cancellable
    Spark phase blocks the main thread in a py4j socket read, past
    every in-loop deadline check (observed: a generation run holding
    its budget hostage 12+ minutes after expiry). SIGALRM's Python
    handler runs in the main thread even there — the signal interrupts
    the blocked syscall — so a handler that RAISES breaks the loop out
    of the wedge. Callers catch :class:`HardDeadlineError`, persist
    their checkpoint (completed work is all in memory), and exit.

    Main-thread only (signal semantics); no-op on platforms without
    SIGALRM. Nesting IS supported: on exit the outer timer's REMAINING
    time (minus what the inner body consumed) is re-armed, so a
    per-query inner cap composes with a whole-run outer budget. The
    inner deadline wins the signal slot while active — an outer expiry
    that falls inside the inner window fires when the outer timer is
    re-armed (its remaining time has gone negative, so it is re-armed
    at the minimum interval and fires immediately).

    Completion race: if SIGALRM is delivered after the body finished
    but before the timer is cleared, the expiry is NOT raised for the
    already-complete body — the handler only raises while the body is
    active (armed flag cleared as the first statement of the finally).

    Yields a state dict with ``expired``: an intermediate layer may
    CATCH AND RE-WRAP the raised HardDeadlineError (py4j converts any
    exception escaping its socket wait into Py4JNetworkError /
    Py4JJavaError), so callers that guard such calls must consult
    ``state["expired"]`` in their generic exception handler, not just
    catch HardDeadlineError."""
    import signal

    state = {"expired": False}
    if not hasattr(signal, "SIGALRM"):  # non-POSIX: backstop unavailable
        yield state
        return

    armed = [True]

    def _raise(signum, frame):
        if armed[0]:
            state["expired"] = True
            raise HardDeadlineError(f"hard deadline of {seconds:.0f}s expired")

    prev_handler = signal.signal(signal.SIGALRM, _raise)
    # setitimer keeps sub-second resolution (alarm() truncates to int)
    prev_remaining = signal.setitimer(signal.ITIMER_REAL, max(seconds, 0.001))[0]
    t0 = time.monotonic()
    try:
        yield state
    finally:
        armed[0] = False
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, prev_handler)
        if prev_remaining > 0:
            # re-arm the outer deadline with whatever time it has left;
            # an already-expired outer fires (in the outer handler) at
            # the minimum re-arm interval
            signal.setitimer(
                signal.ITIMER_REAL,
                max(prev_remaining - (time.monotonic() - t0), 0.001),
            )
