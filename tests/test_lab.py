"""Lab executor tests — mock-based control flow (reference
``lab/tests/test_query_executor.py:23-62`` style) + one real Spark
integration path, and the timing backstops: ``lab.deadline.hard_deadline``,
the runner's wedge cap and the generator's ``stop_when`` latch."""

from __future__ import annotations

import csv
import os
import signal
import time
from dataclasses import dataclass, field

import pytest

from deep_query_optimization_spark.catalog import DataType
from deep_query_optimization_spark.lab import executor
from deep_query_optimization_spark.lab.deadline import HardDeadlineError, hard_deadline
from deep_query_optimization_spark.lab.executor import (
    DatasetExecutor,
    FileQueryExecutor,
    QueryLog,
    SparkQueryRunner,
)
from deep_query_optimization_spark.relational import (
    ColumnRef,
    Condition,
    Projection,
    Query,
    TableRef,
)


@dataclass
class FakeRunner:
    """Duck-typed SparkQueryRunner substitute."""

    calls: list[str] = field(default_factory=list)
    runtime: float = 0.05

    def time(self, sql: str) -> float:
        self.calls.append(sql)
        return self.runtime


def test_query_log_rotation(tmp_path):
    log = QueryLog(str(tmp_path / "q.csv"), max_rows=2)
    for i in range(5):
        log.append(f"SELECT {i}", 0.1 * i)
    files = sorted(p.name for p in tmp_path.glob("q*.csv"))
    assert files == ["q.1.csv", "q.2.csv", "q.csv"]
    with open(tmp_path / "q.csv") as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["query", "runtime", "plan"]
    assert len(rows) == 3  # header + 2


def test_file_executor_dedup_and_resume(tmp_path):
    qfile = tmp_path / "queries.sql"
    qfile.write_text("SELECT 1\nSELECT 2\nSELECT 1\nSELECT 3\n")
    done = tmp_path / "done.txt"
    runner = FakeRunner()
    ex = FileQueryExecutor(runner=runner, done_path=str(done), shuffle=False)
    out = ex.execute_file(str(qfile))
    assert [s for s, _ in out] == ["SELECT 1", "SELECT 2", "SELECT 3"]  # deduped
    # resume: nothing re-run
    runner2 = FakeRunner()
    ex2 = FileQueryExecutor(runner=runner2, done_path=str(done), shuffle=False)
    assert ex2.execute_file(str(qfile)) == []
    assert runner2.calls == []


def test_dataset_executor_checkpoint_and_drift(tmp_path):
    ckpt = tmp_path / "ckpt.txt"
    runner = FakeRunner(runtime=0.2)
    ex = DatasetExecutor(runner=runner, checkpoint_path=str(ckpt), report_every=2)
    rows = [(f"SELECT {i}", 0.1) for i in range(4)]
    out = ex.execute(rows)
    assert len(out) == 4
    assert ex.reports and ex.reports[0]["mean_drift"] == pytest.approx(2.0)
    # resume skips everything
    runner2 = FakeRunner()
    ex2 = DatasetExecutor(runner=runner2, checkpoint_path=str(ckpt))
    assert ex2.execute(rows) == []


def test_runner_contradiction_short_circuit(spark, tables, tmp_path):
    """A contradictory query must return 0.0 without running a job."""
    log = QueryLog(str(tmp_path / "log.csv"))
    runner = SparkQueryRunner(spark, log=log, clear_cache=False)
    li = TableRef("lineitem")
    q = Query()
    q.add_projection(Projection(ColumnRef(li, "l_quantity", DataType.FLOAT), "MIN"))
    q.add_condition(Condition(ColumnRef(li, "l_quantity", DataType.FLOAT), ">", 10.0))
    q.add_condition(Condition(ColumnRef(li, "l_quantity", DataType.FLOAT), "<", 5.0))
    assert runner.time_query(q) == 0.0
    with open(tmp_path / "log.csv") as f:
        rows = list(csv.reader(f))
    assert rows[1][2] == "CONTRADICTION"


def test_runner_logs_predictions(spark, tables, tmp_path):
    """With a predictor attached, every timed run logs the (query,
    predicted, actual) triple — estimation serving execution."""
    log = QueryLog(str(tmp_path / "pred.csv"), with_predictions=True)
    runner = SparkQueryRunner(spark, clear_cache=False, log=log, predictor=lambda sql: 0.125)
    rt = runner.time("SELECT MIN(l_quantity) AS m FROM lineitem")
    assert rt > 0
    with open(tmp_path / "pred.csv") as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["query", "runtime", "plan", "predicted"]
    assert float(rows[1][3]) == 0.125


def test_runner_times_real_query(spark, tables, tmp_path):
    runner = SparkQueryRunner(spark, clear_cache=False, log=QueryLog(str(tmp_path / "log.csv")))
    rt = runner.time("SELECT MIN(l_quantity) AS m FROM lineitem WHERE l_orderkey > 100")
    assert rt > 0
    rt2, plan_json, physical = runner.analyze("SELECT COUNT(*) AS c FROM orders")
    assert rt2 > 0
    assert "Aggregate" in plan_json
    assert "noop" in physical.lower() or "Scan" in physical


def test_runner_merged_range_executes(spark, tables):
    """Non-contradictory ranges merge and still execute correctly."""
    runner = SparkQueryRunner(spark, clear_cache=False)
    li = TableRef("lineitem")
    q = Query()
    q.add_projection(Projection(ColumnRef(li, "l_quantity", DataType.FLOAT), "MIN"))
    q.add_condition(Condition(ColumnRef(li, "l_quantity", DataType.FLOAT), ">", 10.0))
    q.add_condition(Condition(ColumnRef(li, "l_quantity", DataType.FLOAT), ">", 20.0))
    assert runner.time_query(q) > 0


def test_timeout_returns_censored_runtime(spark, tables):
    """A query canceled by the watchdog returns its elapsed wall (a
    right-censored label at the cap) instead of raising — workload
    generation must survive the slow queries it goes looking for."""
    runner = SparkQueryRunner(spark, clear_cache=False, timeout_s=1.0)
    rt = runner.time(
        "SELECT MIN(a.l_quantity * b.l_quantity * c.l_quantity) "
        "FROM lineitem a, lineitem b, lineitem c"
    )
    assert rt >= 1.0
    # the session must remain usable after the cancellation
    assert runner.time("SELECT COUNT(*) AS c FROM orders") > 0


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
