"""Feedback-guided and histogram-balancing workload generators.

Reference ``dqo/query_generator/guided.py``:

- ``GuidedQueryGen`` (``:31-188``): run the query, compare its runtime
  to a target bucket, then ``narrow`` (make it cheaper), ``stay`` or
  ``broaden`` (make it more expensive); memoized runtimes.
- ``BalancedQueryGen`` (``:191-330``): fills a log2-runtime histogram
  uniformly by always targeting the least-filled partition, with a
  patience-based abandonment policy and checkpoint/restore.

The execution backend is injected as ``runner(sql) -> runtime_seconds``
(the reference's was psycopg2+EXPLAIN ANALYZE; ours is the Spark lab
executor, ``lab/executor.py``). Generators never touch Spark directly —
they are pure control loops, testable with a fake runner.
"""

from __future__ import annotations

import math
import random
from collections.abc import Callable
from dataclasses import dataclass, field

from deep_query_optimization_spark.catalog import Database
from deep_query_optimization_spark.generator import RandomQueryGen
from deep_query_optimization_spark.generator.partitioner import Log2Partitioner
from deep_query_optimization_spark.lab.deadline import HardDeadlineError
from deep_query_optimization_spark.relational.builder import QueryBuilder
from deep_query_optimization_spark.relational.query import Query

# mutations ordered by their expected effect on runtime
NARROWING = ("add_condition", "remove_relation", "remove_projection")
BROADENING = ("remove_condition", "add_relation", "add_projection")


@dataclass
class GuidedQueryGen:
    """Mutate a query until its runtime lands in [target_lo, target_hi]."""

    db: Database
    runner: Callable[[str], float]
    target_lo: float
    target_hi: float
    seed: int | None = None
    max_steps: int = 50
    _memo: dict[str, float] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        # size-weighted broadening: the runtime-increasing mutation is
        # joining another FACT table (small dims broadcast for free)
        self.builder = QueryBuilder(self.db, rng=self.rng, size_weighted=True)
        self.builder.max_relations = 5  # beyond ~5 it's planning time, not signal
        # condition mutations pick by estimated selectivity (histogram
        # stats), so each step moves the runtime as far as possible
        self.builder.selectivity_aware = True
        self.steps = 0
        # backtracking state: (runtime, log-distance) of the previous
        # measured query, for undo-on-worsening near the target
        self._prev: tuple[float, float] | None = None

    def randomize_initial(self) -> None:
        """Reference ``guided.py:115-117``."""
        gen = RandomQueryGen(self.db, seed=self.rng.randint(0, 2**31))
        self.builder.query = gen.randomize()

    def run_query(self) -> float:
        """Reference ``guided.py:94-109`` — memoized execution."""
        sql = self.builder.query.to_sql()
        if sql not in self._memo:
            self._memo[sql] = self.runner(sql)
        return self._memo[sql]

    def _policy(self, runtime: float) -> tuple[str, ...]:
        """narrow/stay/broaden (reference ``guided.py:119-145``)."""
        if runtime > self.target_hi:
            return NARROWING
        if runtime < self.target_lo:
            return BROADENING
        return ()

    def _step_size(self, runtime: float) -> int:
        """Adaptive mutation count per measure: one mutation moves the
        runtime far less than one log2 bucket (a removed condition
        halves selectivity at best, and heavily-conditioned random
        starts sit many orders below a slow target), so apply up to 4
        mutations per measurement, scaled by the log-distance."""
        import math

        if runtime <= 0:
            return 1
        if runtime < self.target_lo:
            dist = math.log2(self.target_lo / runtime)
        elif runtime > self.target_hi:
            dist = math.log2(runtime / self.target_hi)
        else:
            return 0
        return max(1, min(4, round(dist)))

    def _moves(self, runtime: float) -> tuple[str, ...]:
        """Direction from :meth:`_policy`, granularity from distance:
        within ~1.5 buckets of the target, restrict to CONDITION
        mutations — selectivity nudges move runtime in small steps,
        while add/remove_relation jumps ~5-10x and overshoots a
        2x-wide window from either side (measured: mid buckets fill
        10x slower than their neighbors because every relation jump
        leapfrogs them)."""
        import math

        moves = self._policy(runtime)
        if not moves or runtime <= 0:
            return moves
        dist = (
            math.log2(self.target_lo / runtime)
            if runtime < self.target_lo
            else math.log2(runtime / self.target_hi)
        )
        if dist <= 1.5:
            fine = tuple(m for m in moves if "condition" in m)
            return fine or moves
        return moves

    def step(self) -> tuple[Query, float, bool]:
        """One measure-then-mutate step (reference ``guided.py:170-177``).
        Returns (executed_query, its_runtime, hit_target).

        The returned query is a copy captured BEFORE the mutation: the
        runtime belongs to the query that actually ran, and callers
        (``BalancedQueryGen.generate``) record the pair as a training
        row — returning the post-mutation query would mislabel nearly
        every row (the reference fires its histogram callback inside
        ``run_query`` with the executed query, ``guided.py:94-109``)."""
        import math

        self.steps += 1
        executed = self.builder.query.copy()
        measured = self.run_query()  # belongs to ``executed`` — returned as-is
        if not self._policy(measured):
            self._prev = None
            return executed, measured, True

        def _dist(rt: float) -> float:
            if rt <= 0:
                return 99.0
            if rt < self.target_lo:
                return math.log2(self.target_lo / rt)
            if rt > self.target_hi:
                return math.log2(rt / self.target_hi)
            return 0.0

        # undo-on-worsening (fine range only, where one mutation was
        # applied per step so one undo reverts it): histogram
        # selectivity estimates are coarse — a "x0.66" condition can
        # measure x0.01 and crash a 34 s query to 0.3 s. The crashed
        # query is still recorded by the caller (honest row, with ITS
        # measured runtime), but the SEARCH resumes from the better
        # predecessor (memoized — its re-measure next step is free)
        # instead of climbing all the way back up.
        search_rt, dist = measured, _dist(measured)
        if (
            self._prev is not None
            and self._prev[1] <= 1.5
            and dist > self._prev[1] + 0.75
            and self.builder.undo()
        ):
            search_rt, dist = self._prev
        self._prev = (search_rt, dist)
        moves = self._moves(search_rt)
        # fine-landing: near the target, ask the builder for a condition
        # whose estimated selectivity is ~the ratio that lands runtime
        # mid-window (narrowing: ADD a condition keeping ~1/f of rows;
        # broadening: REMOVE one that kept ~1/f, growing the result ~f)
        self.builder.target_selectivity = None
        if search_rt > 0 and 0 < dist <= 1.5:
            mid = math.sqrt(self.target_lo * self.target_hi)
            f = mid / search_rt if search_rt < self.target_lo else search_rt / mid
            if f > 1:
                self.builder.target_selectivity = min(1.0, 1.0 / f)
        try:
            for _ in range(self._step_size(search_rt)):
                for name in self.rng.sample(moves, len(moves)):
                    if self.builder.mutate(name):
                        break
        finally:
            self.builder.target_selectivity = None
        return executed, measured, False

    def generate(self) -> tuple[Query, float] | None:
        self.randomize_initial()
        for _ in range(self.max_steps):
            query, runtime, hit = self.step()
            if hit:
                return query.copy(), runtime
        return None


@dataclass
class BalancedQueryGen:
    """Fill the log2-runtime histogram uniformly.

    Reference ``guided.py:191-330``: always target the least-filled
    partition (``rargmin``, ``rl/__init__.py:19-31``), rotate through a
    queue of in-flight guided generators (counteracts caching effects),
    abandon targets after ``patience`` fruitless steps.
    """

    db: Database
    runner: Callable[[str], float]
    partitioner: Log2Partitioner = field(default_factory=Log2Partitioner)
    seed: int | None = None
    patience: int = 30
    queue_size: int = 4
    # optional SQL -> Query parser (e.g. ``relational.parser.parse_sql``
    # bound to a live session). When set, a spawn targeting a bucket for
    # which the dataset already holds near-target rows starts from one
    # of those rows instead of from scratch: a random start sits orders
    # of magnitude below a slow target and burns ~10-20 timed climbing
    # steps per hit, while a parsed near-target seed (whose runtime is
    # already known — pre-memoized, zero re-timing cost) reaches it in
    # 1-3 mutations. Injected, not imported: the generators stay pure
    # control loops testable with a fake runner.
    seed_parser: Callable[[str], "Query"] | None = None
    seed_prob: float = 0.75
    # Seed-candidate hygiene (both default to the permissive historical
    # behavior; slow-band windows opt in via tools/gen_workload.py).
    # Rows recorded at or above ``censor_ceiling`` are watchdog censors:
    # their stored runtime is the cap, not the query, so the "within 2
    # buckets of the window" proximity _seed_candidates assumes is
    # simply unknown — and one mutation step from such a seed costs up
    # to the full cap (x2 under double-run). None = no filtering.
    censor_ceiling: float | None = None
    # False: restore seeds only from BELOW the window ((lo/4, lo)).
    # At sf10 the above-window range is dominated by censor clips from
    # earlier, smaller caps (indistinguishable from real labels in the
    # CSV), and a narrowing step from above costs at least the window's
    # own runtime — while a below-window climb passes THROUGH the
    # window and records its steps as useful labels either way.
    seed_from_above: bool = True
    # checked between rows: True stops generation immediately (e.g. the
    # runner latched ``wedged`` — its Spark connection is suspect and
    # further timed rows would be garbage)
    stop_when: Callable[[], bool] | None = None
    # a failed step (executor OOM on a pathological join, analysis
    # error on a mutated corner) drops its generator — the query
    # lineage is toxic — and the loop continues; this many CONSECUTIVE
    # failures mean the backend itself is gone (dead driver heap) and
    # generation stops rather than spinning on a corpse
    max_consecutive_failures: int = 5
    # False: rows whose (universally clipped, [-3, 8]) ceil-log2 bucket
    # falls outside the partitioner's [low, high] band are still added
    # to the dataset but NOT credited to the fill histogram. In a
    # banded window (e.g. sf10 mid-band 4..8) the default clamp credits
    # every undershoot step to bucket `low`, which inflates its fill
    # with rows that are NOT in (2^(low-1), 2^low] and starves it of
    # rargmin targeting exactly where the band is thinnest.
    count_out_of_band: bool = True

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self.histogram: dict[int, int] = {b: 0 for b in self.partitioner.buckets}
        self.dataset: list[tuple[str, float]] = []
        self._queue: list[GuidedQueryGen] = []

    def _rargmin(self) -> int:
        """Random argmin over partition fills (reference
        ``rl/__init__.py:19-31``)."""
        mn = min(self.histogram.values())
        return self.rng.choice([b for b, v in self.histogram.items() if v == mn])

    def _seed_candidates(self, lo: float, hi: float) -> list[tuple[str, float]]:
        """Dataset rows within 2 buckets of the target window but NOT
        inside it — close enough that 1-3 guided mutations bridge the
        gap, yet guaranteed to mutate (an in-window seed would "hit"
        immediately with its own already-recorded SQL and be rejected
        by the dedup as a wasted spawn)."""
        return [
            (sql, rt)
            for sql, rt in self.dataset
            if ((lo / 4.0 <= rt < lo) or (self.seed_from_above and hi < rt <= hi * 4.0))
            and (self.censor_ceiling is None or rt < self.censor_ceiling)
        ]

    def _spawn(self) -> GuidedQueryGen:
        bucket = self._rargmin()
        lo, hi = self.partitioner.bounds(bucket)
        gen = GuidedQueryGen(self.db, self.runner, lo, hi, seed=self.rng.randint(0, 2**31), max_steps=self.patience)
        if self.seed_parser is not None and self.rng.random() < self.seed_prob:
            cands = self._seed_candidates(lo, hi)
            self.rng.shuffle(cands)
            for sql, rt in cands[:5]:
                try:
                    gen.builder.query = self.seed_parser(sql)
                except Exception:
                    continue  # unparseable seed: try the next candidate
                if gen.builder.query.to_sql() != sql:
                    # a seed whose round-trip emission differs from the
                    # stored row would re-record the same semantic query
                    # under new text with the memoized runtime — exactly
                    # the duplicate-row train/test leak generate()'s
                    # dedup set exists to prevent. parser.py property-
                    # tests to_sql∘parse as a fixed point, so this guard
                    # should never fire; if it does, skip the seed rather
                    # than depend on the invariant silently.
                    continue
                gen._memo[sql] = rt
                return gen
        gen.randomize_initial()
        return gen

    def _record(self, sql: str, runtime: float) -> None:
        self.dataset.append((sql, runtime))
        if not self.count_out_of_band:
            raw = int(math.ceil(math.log2(runtime))) if runtime > 0 else -3
            raw = min(8, max(-3, raw))
            if not (self.partitioner.low <= raw <= self.partitioner.high):
                return
        self.histogram[self.partitioner.bucket(runtime)] += 1

    def generate(self, n: int, time_budget_s: float | None = None) -> list[tuple[str, float]]:
        """Generate n distinct (sql, runtime) rows. Every executed query
        is recorded (reference ``guided.py:213-220`` — the histogram
        callback fires on every run, not only on target hits).
        ``time_budget_s`` bounds wall-clock (live-cluster discipline:
        a fan-out query near the runner timeout costs its full cap)."""
        import time as _time

        deadline = _time.monotonic() + time_budget_s if time_budget_s else None
        # seed dedup from everything already recorded: callers invoke
        # generate() repeatedly (checkpointed batches) and restore()
        # pre-fills the dataset on resume — a fresh set here would
        # re-record those SQLs, and a duplicated row that lands on both
        # sides of a later train/test split is a silent leak
        seen: set[str] = {sql for sql, _ in self.dataset}
        consecutive_failures = 0
        while len(self.dataset) < n:
            if deadline is not None and _time.monotonic() > deadline:
                break
            if self.stop_when is not None and self.stop_when():
                break
            while len(self._queue) < self.queue_size:
                self._queue.append(self._spawn())
            gen = self._queue.pop(0)
            try:
                query, runtime, hit = gen.step()
            except HardDeadlineError:
                # the whole-run budget backstop (gen_workload wraps the
                # generate loop in lab.deadline.hard_deadline) raising out
                # of an in-flight step is NOT a lineage failure: swallowing it
                # here would consume the one-shot outer timer and leave
                # the rest of the run with no hard backstop at all
                raise
            except Exception as e:
                consecutive_failures += 1
                print(
                    f"generator step failed ({consecutive_failures} in a row), "
                    f"dropping lineage: {str(e).splitlines()[0][:200]}",
                    flush=True,
                )
                if consecutive_failures >= self.max_consecutive_failures:
                    raise  # backend itself is gone — surface the real error
                continue
            consecutive_failures = 0
            sql = query.to_sql()
            if sql not in seen:
                seen.add(sql)
                self._record(sql, runtime)
            if not hit and gen.steps < gen.max_steps:
                self._queue.append(gen)  # rotate: counteracts cache bias
        return self.dataset

    # -- checkpoint/restore (reference guided.py:282-306) --------------

    def state(self) -> dict:
        return {"histogram": dict(self.histogram), "dataset": list(self.dataset)}

    def restore(self, state: dict) -> None:
        self.histogram.update({int(k): v for k, v in state["histogram"].items()})
        self.dataset = [tuple(x) for x in state["dataset"]]
