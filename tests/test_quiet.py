"""``quiet.quiet_window``, the bench-only bounded loadavg wait kept out
of the library's import graph, and the timing backstops that replaced
the old sentinel protocol: ``lab.deadline.hard_deadline``, the runner's
wedge cap and the generator's ``stop_when`` latch."""

import os
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest

from deep_query_optimization_spark import quiet
from deep_query_optimization_spark.lab import executor
from deep_query_optimization_spark.lab.deadline import HardDeadlineError, hard_deadline
from deep_query_optimization_spark.lab.executor import SparkQueryRunner


def test_library_does_not_import_quiet():
    """Timing, generation and training never consult box state: the
    quiet-window module stays unloaded after importing them."""
    code = (
        "import sys\n"
        "import deep_query_optimization_spark.engine\n"
        "import deep_query_optimization_spark.lab\n"
        "import deep_query_optimization_spark.generator.guided\n"
        "import deep_query_optimization_spark.estimator.model\n"
        "print('deep_query_optimization_spark.quiet' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False"


def test_quiet_window_wait_is_bounded_and_yields_load(monkeypatch):
    monkeypatch.setattr(quiet, "_read_loadavg", lambda: 50.0)
    t0 = time.monotonic()
    with quiet.quiet_window(wait_for_load=2.0, wait_timeout_s=0.3) as load:
        waited = time.monotonic() - t0
    assert load == 50.0
    assert 0.3 <= waited < 1.5  # the last poll is cut to the time left

    # a calm box passes straight through
    monkeypatch.setattr(quiet, "_read_loadavg", lambda: 0.5)
    t0 = time.monotonic()
    with quiet.quiet_window(wait_for_load=2.0, wait_timeout_s=60.0) as load:
        assert time.monotonic() - t0 < 1.0
    assert load == 0.5


def test_hard_deadline_breaks_a_wedged_call():
    """SIGALRM backstop: a call blocked past the deadline is broken by
    HardDeadlineError in the main thread; completed state survives for
    the caller's checkpoint. On time, the timer is disarmed cleanly."""
    done = []
    with pytest.raises(HardDeadlineError):
        with hard_deadline(0.2):
            done.append(1)
            time.sleep(5)  # the wedge: sleeps well past the deadline
            done.append(2)
    assert done == [1]  # work before the wedge survives

    # a loop that finishes in time exits normally and disarms the alarm
    with hard_deadline(5.0):
        done.append(3)
    time.sleep(0.3)  # an undisarmed 0.2s timer would fire here
    assert done == [1, 3]


def test_hard_deadline_nests_inner_fires_first():
    with hard_deadline(30.0):
        with pytest.raises(HardDeadlineError):
            with hard_deadline(0.2):
                time.sleep(5.0)
        # outer survived the inner expiry and its remaining time was
        # re-armed: the body continues under the outer deadline
        time.sleep(0.05)


def test_hard_deadline_outer_restored_and_still_fires():
    t0 = time.monotonic()
    with pytest.raises(HardDeadlineError):
        with hard_deadline(0.8):
            with hard_deadline(0.3):
                time.sleep(0.1)  # inner completes without firing
            time.sleep(5.0)  # outer must still fire at ~0.8s total
    assert time.monotonic() - t0 < 3.0


def test_hard_deadline_completion_race_not_raised():
    """A SIGALRM landing after the body finished must not raise for a
    run that completed on time (the armed-flag guard).

    The deadline sits just past the body, so the timer is near zero
    when the finally runs. On a loaded box sleep(0.019) can
    legitimately overrun the 0.02 s deadline; a legitimate expiry is
    not the phantom this test pins, so only a raise for a body that
    finished in time fails."""
    for _ in range(20):
        t0 = time.monotonic()
        try:
            with hard_deadline(0.02):
                time.sleep(0.019)
        except HardDeadlineError:
            assert time.monotonic() - t0 >= 0.02, "phantom expiry: body finished in time"
    assert signal.getitimer(signal.ITIMER_REAL)[0] == 0.0


def _wedge_runner(monkeypatch, inner):
    """A bare SparkQueryRunner whose timed run is ``inner``, with the
    production wedge-cap pad shrunk so the cap fires in a fraction of a
    second."""
    monkeypatch.setattr(executor, "WEDGE_CAP_PAD_S", 0.2)
    runner = SparkQueryRunner.__new__(SparkQueryRunner)
    runner.timeout_s = 0.1
    runner.wedge_cap_factor = 0.5
    runner.wedged = False
    monkeypatch.setattr(runner, "_run_timed_inner", inner)
    return runner


def test_wedged_runner_drains_within_cap(monkeypatch):
    """A query the watchdog cannot cancel (simulated: _run_timed_inner
    blocks far past timeout_s) is censored at the per-query SIGALRM cap
    and latches ``wedged`` — the generation loop's stop_when then exits
    instead of waiting for the whole-budget backstop."""

    def _wedge(df):
        time.sleep(120.0)  # ignores every cooperative cancel
        return 120.0

    runner = _wedge_runner(monkeypatch, _wedge)
    t0 = time.monotonic()
    elapsed = runner._run_timed(object())
    assert runner.wedged
    assert time.monotonic() - t0 < 5.0
    assert elapsed == pytest.approx(time.monotonic() - t0, abs=1.0)


def test_wedge_detected_when_error_is_rewrapped(monkeypatch):
    """py4j converts an exception escaping its socket wait into its own
    error type — a masked expiry must still censor + latch wedged."""

    def _wedge_rewrapping(df):
        try:
            time.sleep(120.0)
        except Exception:
            raise RuntimeError("An error occurred while calling o1.save")

    runner = _wedge_runner(monkeypatch, _wedge_rewrapping)
    t0 = time.monotonic()
    elapsed = runner._run_timed(object())
    assert runner.wedged
    assert time.monotonic() - t0 < 5.0
    assert elapsed > 0


def test_stop_when_halts_balanced_generation():
    from deep_query_optimization_spark.catalog import Database
    from deep_query_optimization_spark.generator.guided import BalancedQueryGen

    snap = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "deep_query_optimization_spark/snapshots/sf0.01_schema.json",
    )
    db = Database.load(snap)
    calls = [0]

    def runner(sql: str) -> float:
        calls[0] += 1
        return 0.05

    bal = BalancedQueryGen(db, runner, seed=7, stop_when=lambda: calls[0] >= 3)
    bal.generate(500, time_budget_s=30.0)
    assert calls[0] <= 4  # stopped by the latch, not the target
