"""Timed query execution — the benchmark lab.

Reference ``dqo/lab/query_executor.py``:

- ``QueryExecutor.time`` (``:52-62``): cache-busting then timed run.
  Postgres cache busting was ``DEALLOCATE ALL; DISCARD PLANS``; the
  Spark analog is ``spark.catalog.clearCache()`` (noop unless something
  was explicitly cached — Spark has no plan cache to discard, so the
  honest protocol is the double-run below).
- ``QueryExecutor.analyze`` (``:64-77``): EXPLAIN ANALYZE → (runtime,
  plan JSON). Ours captures Spark's *optimized* logical plan JSON plus
  the executed physical plan string — what the featurizer consumes.
- ``QueryExecutor.execute`` (``:79-103``): run twice, keep the second
  timing (cancels JIT/codegen/footer-cache effects).
- ``FileQueryExecutor`` (``:106-203``): query-per-line files, dedup,
  shuffle, skip-already-run.
- ``DatasetExecutor`` (``:206-290``): re-run a labeled dataset with
  checkpoint/resume and a drift report every ``report_every`` queries.
- timeout: reference used ``statement_timeout=600s``
  (``postgres.py:244-259``); ours is a watchdog that cancels the job
  group (``SparkContext.cancelJobGroup``).

Execution sink is a ``noop`` write: full pipeline runs, nothing is
collected to the driver — runtimes measure the cluster, not the
driver's deserialization.
"""

from __future__ import annotations

import csv
import os
import random
import threading
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from deep_query_optimization_spark.lab.deadline import HardDeadlineError, hard_deadline
from deep_query_optimization_spark.relational.query import Query
from deep_query_optimization_spark.relational.rewrite import optimize_query

DEFAULT_TIMEOUT_S = 600.0  # reference postgres.py:244
# slack past ``timeout_s * wedge_cap_factor`` before the per-query
# SIGALRM wedge cap fires (SparkQueryRunner.wedge_cap_factor)
WEDGE_CAP_PAD_S = 30.0


class QueryLog:
    """Rotating CSV logger of ("query", runtime, "plan") rows
    (reference ``dqo/log_utils/__init__.py`` + the CSV schema of
    ``ExtendedQueriesDataset``). With ``with_predictions`` a fourth
    ``predicted`` column records the cost model's estimate alongside
    the measured runtime — the reference's end state (estimation
    serving execution), and the raw material for calibration reports."""

    def __init__(self, path: str, max_rows: int = 10_000, with_predictions: bool = False) -> None:
        self.base = Path(path)
        self.max_rows = max_rows
        self.with_predictions = with_predictions
        self._rows_in_file = 0
        self._index = 0
        self.base.parent.mkdir(parents=True, exist_ok=True)

    def _current(self) -> Path:
        if self._index == 0:
            return self.base
        return self.base.with_suffix(f".{self._index}{self.base.suffix}")

    def append(self, sql: str, runtime: float, plan: str = "", predicted: float | None = None) -> None:
        if self._rows_in_file >= self.max_rows:
            self._index += 1
            self._rows_in_file = 0
        new = not self._current().exists()
        with open(self._current(), "a", newline="") as f:
            w = csv.writer(f)
            if new:
                header = ["query", "runtime", "plan"]
                if self.with_predictions:
                    header.append("predicted")
                w.writerow(header)
            row = [sql, runtime, plan]
            if self.with_predictions:
                row.append("" if predicted is None else predicted)
            w.writerow(row)
        self._rows_in_file += 1


@dataclass
class SparkQueryRunner:
    """``runner(sql) -> runtime_s`` for the generators, plus analyze().

    ``double_run=True`` applies the reference's run-twice-keep-second
    discipline (``query_executor.py:79-103``)."""

    spark: SparkSession
    clear_cache: bool = True
    double_run: bool = False
    timeout_s: float = DEFAULT_TIMEOUT_S
    log: QueryLog | None = None
    group_prefix: str = "dqo-lab"
    # >0 enables the per-query SIGALRM backstop: a query the watchdog's
    # cancelJobGroup cannot reach (wedged in a non-cancellable Spark
    # phase) is broken out of its py4j wait at ``timeout_s *
    # wedge_cap_factor + WEDGE_CAP_PAD_S`` and censored at its elapsed
    # wall, instead of holding the whole run hostage until the caller's
    # whole-budget deadline. ``wedged`` is latched so callers can
    # checkpoint and exit — the interrupted py4j connection is not
    # guaranteed healthy for further queries. Main-thread only.
    wedge_cap_factor: float = 0.0
    wedged: bool = False
    # optional cost-model hook (e.g. ``engine.estimate``): every timed
    # run then logs (query, predicted, actual) — estimation serving
    # execution, per-query scoring driver-side; bulk scoring of a whole
    # encoded workload goes through the Arrow-batched ``predict_udf``
    # instead (tools/calibration_report.py)
    predictor: Callable[[str], float] | None = None

    def _predict(self, sql: str) -> float | None:
        if self.predictor is None:
            return None
        try:
            return float(self.predictor(sql))
        except Exception:
            return None  # a scoring failure must never fail the run

    def _run_timed(self, df: DataFrame) -> float:
        """Timed noop-sink run. A query canceled by the watchdog
        RETURNS its elapsed wall (a right-censored label at the cap)
        instead of raising — a workload-generation loop must survive
        the slow queries it deliberately goes looking for.

        With ``wedge_cap_factor`` set, a run the watchdog could not
        cancel is additionally bounded by a SIGALRM hard cap: it too
        returns censored-at-elapsed, but latches ``self.wedged`` so the
        caller can stop cleanly (lab.deadline.hard_deadline docstring)."""
        if self.wedge_cap_factor > 0 and threading.current_thread() is threading.main_thread():
            t0 = time.perf_counter()
            hd = {"expired": False}
            try:
                with hard_deadline(self.timeout_s * self.wedge_cap_factor + WEDGE_CAP_PAD_S) as hd:
                    return self._run_timed_inner(df)
            except HardDeadlineError:
                # only the INNER window's expiry is a per-query
                # wedge; an OUTER whole-run deadline (nested
                # hard_deadline re-armed with negative remaining at
                # our exit) must propagate to the caller's own
                # HardDeadlineError checkpoint path, not be
                # mislabeled "Spark connection suspect"
                if not hd["expired"]:
                    raise
                self.wedged = True
                return time.perf_counter() - t0
            except Exception:
                # py4j re-wraps an exception escaping its socket
                # wait (Py4JNetworkError / "error while calling
                # o*.save") — a masked expiry is still a wedge
                if hd["expired"]:
                    self.wedged = True
                    return time.perf_counter() - t0
                raise
        return self._run_timed_inner(df)

    def _run_timed_inner(self, df: DataFrame) -> float:
        sc = self.spark.sparkContext
        group = f"{self.group_prefix}-{id(df)}-{time.monotonic_ns()}"
        sc.setJobGroup(group, "dqo lab timed run", interruptOnCancel=True)
        fired = threading.Event()

        def cancel() -> None:
            fired.set()
            sc.cancelJobGroup(group)

        timer = threading.Timer(self.timeout_s, cancel)
        timer.start()
        t0 = time.perf_counter()
        try:
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:
            # censor ONLY genuine watchdog cancellations; a query that
            # fails for another reason while racing the timer must
            # still surface its real error
            if fired.is_set() and "cancel" in str(e).lower():
                return time.perf_counter() - t0
            raise
        finally:
            timer.cancel()
            try:
                sc.setJobGroup("", "")
            except Exception:
                # a SIGALRM raise out of the py4j wait (wedge cap) can
                # leave the connection desynced; the group reset must
                # not mask the HardDeadlineError being propagated
                pass
        return time.perf_counter() - t0

    def time(self, sql: str) -> float:
        """Reference ``QueryExecutor.time`` (``:52-62``)."""
        if self.clear_cache:
            self.spark.catalog.clearCache()
        df = self.spark.sql(sql)
        pred = self._predict(sql)
        runtime = self._run_timed(df)
        if self.double_run and not self.wedged:
            runtime = self._run_timed(df)
        if self.log is not None:
            self.log.append(sql, runtime, predicted=pred)
        return runtime

    def analyze(self, sql: str) -> tuple[float, str, str]:
        """Reference ``QueryExecutor.analyze`` (``:64-77``): returns
        (runtime_s, optimized_plan_json, executed_plan_str)."""
        if self.clear_cache:
            self.spark.catalog.clearCache()
        df = self.spark.sql(sql)
        pred = self._predict(sql)
        runtime = self._run_timed(df)
        qe = df._jdf.queryExecution()
        plan_json = qe.optimizedPlan().toJSON()
        physical = qe.executedPlan().toString()
        if self.log is not None:
            self.log.append(sql, runtime, plan_json, predicted=pred)
        return runtime, plan_json, physical

    def time_query(self, query: Query) -> float:
        """Engine-side optimizer hook: merge/contradiction rewrite first
        (``relational/rewrite.py``); a contradictory query never reaches
        the cluster — at 100 TB that's a full scan saved."""
        q = query.copy()
        if optimize_query(q):
            if self.log is not None:
                self.log.append(query.to_sql(), 0.0, "CONTRADICTION")
            return 0.0
        return self.time(q.to_sql())

    __call__ = time


@dataclass
class FileQueryExecutor:
    """Reference ``lab/query_executor.py:106-203``: execute
    query-per-line files with dedup, shuffle, and skip-already-run."""

    runner: SparkQueryRunner
    done_path: str | None = None
    shuffle: bool = True
    seed: int | None = None

    def _load_done(self) -> set[str]:
        if self.done_path and os.path.exists(self.done_path):
            with open(self.done_path) as f:
                return {line.rstrip("\n") for line in f}
        return set()

    def _mark_done(self, sql: str) -> None:
        if self.done_path:
            with open(self.done_path, "a") as f:
                f.write(sql + "\n")

    def execute_file(self, path: str) -> list[tuple[str, float]]:
        with open(path) as f:
            queries = [line.strip() for line in f if line.strip()]
        queries = list(dict.fromkeys(queries))  # dedup, keep order
        if self.shuffle:
            random.Random(self.seed).shuffle(queries)
        done = self._load_done()
        out: list[tuple[str, float]] = []
        for sql in queries:
            if sql in done:
                continue
            runtime = self.runner.time(sql)
            self._mark_done(sql)
            out.append((sql, runtime))
        return out


@dataclass
class DatasetExecutor:
    """Reference ``lab/query_executor.py:206-290``: re-run a labeled
    (sql, expected_runtime) dataset with checkpoint/resume; emit a
    drift report every ``report_every`` queries."""

    runner: SparkQueryRunner
    checkpoint_path: str | None = None
    report_every: int = 100
    reports: list[dict] = field(default_factory=list)

    def _load_checkpoint(self) -> int:
        if self.checkpoint_path and os.path.exists(self.checkpoint_path):
            with open(self.checkpoint_path) as f:
                return int(f.read().strip() or 0)
        return 0

    def _save_checkpoint(self, i: int) -> None:
        if self.checkpoint_path:
            with open(self.checkpoint_path, "w") as f:
                f.write(str(i))

    def execute(self, rows: Iterable[tuple[str, float]]) -> list[tuple[str, float, float]]:
        rows = list(rows)
        start = self._load_checkpoint()
        out: list[tuple[str, float, float]] = []
        drift_acc: list[float] = []
        for i, (sql, expected) in enumerate(rows):
            if i < start:
                continue
            actual = self.runner.time(sql)
            out.append((sql, expected, actual))
            if expected > 0:
                drift_acc.append(actual / expected)
            self._save_checkpoint(i + 1)
            if (i + 1) % self.report_every == 0 and drift_acc:
                self.reports.append(
                    {
                        "at": i + 1,
                        "mean_drift": sum(drift_acc) / len(drift_acc),
                        "n": len(drift_acc),
                    }
                )
                drift_acc = []
        return out
