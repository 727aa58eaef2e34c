"""The workloads. Each sets up, marks the set-up clock ready, runs timed
ops for the requested seconds, then checks its outputs untimed.

- ``query_mix``: every ``workload.REGISTRY`` query, noop sink, seeded
  order per pass; checked against the DuckDB ``oracle_sql()`` twins.
- ``lifecycle``: a closed loop of label-harvest ops (seeded random +
  mutated SQL timed through ``engine.runner.time``) interleaved with
  planning-only estimate and join-order hint requests against the staged
  model; checked against goldens kept in ``golden/``. Traced runs then
  take a fresh stats snapshot and train a model, checked the same way.

Both read the sf0.01 tables that ``tools/check_correctness.py`` checks
against. Peak memory leaves out the benchmark's own checks: lifecycle
reads it before they run, query_mix resets this process's peak after
its check pass.
"""

from __future__ import annotations

import contextlib
import csv
import gc
import hashlib
import json
import math
import pickle
import random
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

from harness import p50, peak_rss_mb, reset_peak_rss

HERE = Path(__file__).resolve().parent
GOLDEN = HERE / "golden"
HARVEST_SCHEMA = GOLDEN / "harvest_schema.json"

# query_mix times whole passes, one per PASS_S of --seconds: a pass takes
# 18-30 s on a 4-core box, so a time-boxed loop would run one pass on
# some runs and two on others
PASS_S = 20.0

# lifecycle: a labeling run that needs the watchdog is a failed op
WATCHDOG_S = 30.0
# generated joins whose estimated output exceeds this many rows are
# skipped: at this data size they run for minutes, not milliseconds
MAX_JOIN_ROWS = 2e6
# every run labels the same distinct SQL, so that --seed changes the
# order of the label ops but not their mix: the cost of a label varies
# several-fold with its SQL. A run labels about 50; past the pool it
# starts over.
LABEL_SEED = 0
LABEL_POOL = 64
WARM_SEED = -1
WARM_CYCLES = 4

# one closed-loop cycle of the three request kinds; half the ops are
# labels, the kind whose latency varies most between ops
KINDS = ("label", "estimate", "hint")
CYCLE = ("label", "estimate", "label", "label", "estimate", "hint")
ESTIMATE_POOL = 24  # about half the estimates of a 20 s run repeat one
HINT_MIN_RUNTIME_S = 2.0
TRAIN_ROWS = 32
TRAIN_EPOCHS = 8
TRAIN_SEED = 0
REL_TOL = 1e-7


@dataclass
class Ctx:
    spark: object
    data: str
    seed: int
    seconds: float
    clock: object
    root: Path
    work: object = None  # harness.SparkWork when tracing
    tracer: object = None  # spans.Tracer when tracing


@dataclass
class Result:
    latencies: list[float] = field(default_factory=list)
    kinds: list[str] = field(default_factory=list)  # per op: query name or request kind
    timed_s: float = 0.0
    failed_ops: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    phases: dict[str, float] = field(default_factory=dict)
    shape: dict = field(default_factory=dict)
    op_table_reads: int = 0  # catalog.read_table calls made by timed ops
    # op kinds whose latency quantiles are combined (see run.latency_ms);
    # empty when all ops form one population
    groups: tuple[str, ...] = ()
    rss_mb: float = 0.0  # peak RSS read before the output checks


def _timed(ctx: Ctx, res: Result, kind: str, op) -> object:
    """Run one op, recording its latency; an op that raises is failed."""
    i = len(res.latencies)
    if ctx.work is not None:
        ctx.work.begin("op", i)
    reads = ctx.tracer.calls("catalog.read_table") if ctx.tracer is not None else 0
    t0 = time.perf_counter()
    try:
        out = op()
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
        out = None
        res.failed_ops += 1
        print(f"op {i} ({kind}) failed: {type(exc).__name__}: {str(exc)[:300]}", flush=True)
    res.latencies.append(time.perf_counter() - t0)
    res.kinds.append(kind)
    if ctx.work is not None:
        ctx.work.end()
    if ctx.tracer is not None:
        res.op_table_reads += ctx.tracer.calls("catalog.read_table") - reads
    return out


def _close(a, b) -> bool:
    """Structural equality with a relative tolerance on floats."""
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12) or (math.isnan(a) and math.isnan(b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_close(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def _digest(obj) -> str:
    return hashlib.sha1(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def _load_golden(name: str) -> dict:
    with open(GOLDEN / name) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- query_mix


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class OracleCheck:
    """Spark results streamed to ``oracle.py`` in a child process, which
    compares them with their DuckDB oracles once the stream ends."""

    def __init__(self, data: str) -> None:
        self.proc = subprocess.Popen([sys.executable, str(HERE / "oracle.py"), data],
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE)

    def send(self, name: str, cols: list[str], rows: list[tuple]) -> None:
        try:
            pickle.dump((name, cols, rows), self.proc.stdin)
        except BrokenPipeError:  # the child died: verdicts() returns none
            pass

    def verdicts(self) -> dict[str, str | None]:
        """Query -> None (pass) or why it failed; a query never sent, or
        one the child could not judge, is missing."""
        with contextlib.suppress(BrokenPipeError):
            self.proc.stdin.close()
        out = self.proc.stdout.read().decode().splitlines()
        self.proc.wait()
        return json.loads(out[-1]) if self.proc.returncode == 0 and out else {}


def query_mix(ctx: Ctx) -> Result:
    from deep_query_optimization_spark import catalog, workload
    from deep_query_optimization_spark.functions import release_caches

    spark, data, res = ctx.spark, ctx.data, Result()
    catalog.load_tables(spark, data)
    workload.prepare_bucketed_tables(spark, data)
    workload._hot_keys_for(catalog.read_table(spark, data, "lineitem"), data)
    # untimed warm pass (JIT, codegen, Python workers, operator caches),
    # which is also the output check: each result is collected and sent
    # to the oracle child
    with ctx.clock.own_work():
        oracle = OracleCheck(data)
    t0 = time.perf_counter()
    for name, wq in workload.REGISTRY.items():
        try:
            df = wq.fn(spark, data)
            rows = [tuple(r) for r in df.collect()]
        except Exception as exc:  # noqa: BLE001 — a failed check, and again a failed op when timed
            print(f"check {name}: spark error {type(exc).__name__}: {str(exc)[:300]}", flush=True)
            continue
        with ctx.clock.own_work():
            oracle.send(name, df.columns, rows)
        del rows
    res.phases["warm_s"] = time.perf_counter() - t0
    with ctx.clock.own_work():
        verdicts = oracle.verdicts()
        for name in workload.REGISTRY:
            res.checks[name] = name in verdicts and verdicts[name] is None
            if verdicts.get(name):
                print(f"check {name}: {verdicts[name]}", flush=True)
        # the collected rows are the benchmark's, not the program's
        gc.collect()
        reset_peak_rss()
    ctx.clock.ready()

    rng = random.Random(ctx.seed)
    names = list(workload.REGISTRY)
    t0 = time.perf_counter()
    pass_s = []
    for _ in range(max(1, math.ceil(ctx.seconds / PASS_S))):
        rng.shuffle(names)
        t_pass = time.perf_counter()
        for name in names:
            fn = workload.REGISTRY[name].fn
            _timed(ctx, res, name, lambda: _noop(fn(spark, data)))
        pass_s.append(time.perf_counter() - t_pass)
    res.timed_s = time.perf_counter() - t0
    res.rss_mb = peak_rss_mb()
    release_caches()
    res.shape = {"passes": len(pass_s), "pass_s": pass_s, "queries": len(names)}
    return res


# -------------------------------------------------------- harvest SQL stream


def _join_rows(db, q) -> float:
    """Output rows of the query's joins, ignoring its filters."""
    rows = 1.0
    for rel in q.relations:
        st = db[rel.name].stats
        rows *= max(1, st.rows if st is not None else 1)
    for j in q.joins:
        ndv = [
            getattr(db[c.table.name][c.column].stats, "distinct", 1) or 1 for c in (j.left, j.right)
        ]
        rows /= max(ndv)
    return rows


class HarvestSQL:
    """Seeded stream of distinct SQL: ``RandomQueryGen.randomize`` then
    zero to three seeded ``QueryBuilder.mutate`` steps. Queries whose
    joins would explode are skipped, so no op needs the watchdog."""

    def __init__(self, db, seed: int) -> None:
        from deep_query_optimization_spark.generator import RandomQueryGen

        self.db = db
        self.rng = random.Random(seed)
        self.gen = RandomQueryGen(db, seed=seed)
        self.seen: set[str] = set()

    def next(self):
        from deep_query_optimization_spark.relational.builder import QueryBuilder

        while True:
            builder = QueryBuilder(self.db, self.gen.randomize(), rng=self.rng)
            for _ in range(self.rng.randint(0, 3)):
                builder.mutate()
            q = builder.query
            if not q.valid() or _join_rows(self.db, q) > MAX_JOIN_ROWS:
                continue
            sql = q.to_sql()
            if sql not in self.seen:
                self.seen.add(sql)
                return sql, q


def harvest_pool(db) -> list[tuple[str, object]]:
    """The SQL every run labels, in its own seeded order."""
    gen = HarvestSQL(db, LABEL_SEED)
    return [gen.next() for _ in range(LABEL_POOL)]


# ---------------------------------------------------------------- lifecycle


def _corpus(root: Path) -> list[tuple[str, float]]:
    with open(root / "artifacts" / "est_r11" / "workload.csv", newline="") as fh:
        return [(r[0], float(r[1])) for r in list(csv.reader(fh))[1:]]


def _sha(text: str) -> str:
    return hashlib.sha1(text.encode()).hexdigest()[:16]


def hint_corpus_rows(corpus) -> list[int]:
    """Corpus rows recorded at HINT_MIN_RUNTIME_S or more: the regime the
    hint gate is meant to admit (whether it does is what the traced
    ``plans.hint_full_frac`` reports)."""
    return [i for i, (_, runtime) in enumerate(corpus) if runtime >= HINT_MIN_RUNTIME_S]


def train_rows(corpus) -> list[int]:
    return sorted(random.Random(TRAIN_SEED).sample(range(len(corpus)), TRAIN_ROWS))


def train_dataset(corpus):
    from deep_query_optimization_spark.estimator import QueriesDataset

    ds = QueriesDataset()
    for i in train_rows(corpus):
        ds.add(*corpus[i])
    return ds


def engines(ctx: Ctx):
    """The harvesting engine and the serving engine (staged stats and
    model). Harvesting reads the stats a fresh snapshot of these tables
    gave, staged in ``golden/``: a snapshot takes longer than the rest of
    a run (see ``stats_and_training``)."""
    from deep_query_optimization_spark.engine import DQOEngine

    best = ctx.root / "artifacts" / "est_best"
    harvest = DQOEngine(ctx.spark, ctx.data, snapshot_path=str(HARVEST_SCHEMA))
    harvest.runner.timeout_s = WATCHDOG_S
    harvest.snapshot()
    serve = DQOEngine(ctx.spark, ctx.data, snapshot_path=str(best / "schema.json"))
    serve.snapshot()
    serve.load_best(str(best))
    return harvest, serve


def stats_and_training(ctx: Ctx, res: Result, harvest, corpus) -> None:
    """The one-off jobs of the lifecycle, run by traced runs after their
    timed phase: a fresh ten-table snapshot, and training a model on a
    fixed labeled subset (which replaces ``harvest.model``)."""
    from deep_query_optimization_spark.catalog import Database
    from deep_query_optimization_spark.engine import DQOEngine

    if ctx.work is not None:
        ctx.work.begin("snapshot", 0)
    t0 = time.perf_counter()
    db = DQOEngine(ctx.spark, ctx.data).snapshot(use_cache=False)
    res.phases["snapshot_s"] = time.perf_counter() - t0
    if ctx.work is not None:
        ctx.work.end()
    t0 = time.perf_counter()
    trained = harvest.train_estimator(train_dataset(corpus), epochs=TRAIN_EPOCHS, family="gru")
    res.phases["train_s"] = time.perf_counter() - t0

    def canon(d):
        return json.loads(json.dumps(Database.from_json(d.to_json()).to_json()))

    res.checks["snapshot"] = _close(canon(db), canon(harvest.db))
    res.checks["train"] = _close(json.loads(json.dumps(trained)), _load_golden("lifecycle.json")["train"])
    res.shape["snapshot_digest"] = _digest(canon(db))


def lifecycle(ctx: Ctx) -> Result:
    from deep_query_optimization_spark.estimator.metrics import bucketize

    res = Result(groups=KINDS)
    harvest, serve = engines(ctx)
    db = harvest.db
    with ctx.clock.own_work():
        corpus = _corpus(ctx.root)
    rng = random.Random(ctx.seed)
    label_pool = harvest_pool(db)
    label_order = rng.sample(range(LABEL_POOL), LABEL_POOL)
    pool = rng.sample(range(len(corpus)), ESTIMATE_POOL)
    hint_rows = hint_corpus_rows(corpus)
    rng.shuffle(hint_rows)

    # untimed warm-up on inputs of their own: the first Spark jobs, plan
    # round-trips and model calls of a process are slow
    warm_gen, warm_rng = HarvestSQL(db, WARM_SEED), random.Random(WARM_SEED)
    warm = {
        "label": lambda: harvest.runner.time(warm_gen.next()[0]),
        "estimate": lambda: serve.estimate(corpus[warm_rng.randrange(len(corpus))][0]),
        "hint": lambda: serve.optimize_sql(corpus[warm_rng.choice(hint_rows)][0]),
    }
    t0 = time.perf_counter()
    for _ in range(WARM_CYCLES):
        for kind in CYCLE:
            warm[kind]()
    res.phases["warm_s"] = time.perf_counter() - t0
    ctx.clock.ready()

    sqls, queries, labels = [], [], []
    estimates: list[tuple[int, float | None]] = []
    hints: list[tuple[int, str | None, bool]] = []

    def label():
        sql, q = label_pool[label_order[len(sqls) % LABEL_POOL]]
        sqls.append(sql)
        queries.append(q)
        labels.append(harvest.runner.time(sql))

    t0 = time.perf_counter()
    while time.perf_counter() - t0 < ctx.seconds:
        for kind in CYCLE:
            if kind == "label":
                _timed(ctx, res, kind, label)
            elif kind == "estimate":
                i = rng.choice(pool)
                estimates.append((i, _timed(ctx, res, kind, lambda: serve.estimate(corpus[i][0]))))
            else:
                i = hint_rows[len(hints) % len(hint_rows)]
                out = _timed(ctx, res, kind, lambda: serve.optimize_sql(corpus[i][0]))
                hints.append((i, None if out is None else _sha(out), out is not None and out != corpus[i][0]))
    res.timed_s = time.perf_counter() - t0
    res.rss_mb = peak_rss_mb()
    if ctx.tracer is not None:
        stats_and_training(ctx, res, harvest, corpus)

    golden = _load_golden("lifecycle.json")
    censored = sum(r >= WATCHDOG_S for r in labels)
    res.failed_ops += censored
    want_est = golden["estimates"]
    res.checks["label_sql"] = _digest([sql for sql, _ in label_pool]) == golden["label_sql_digest"]
    res.checks["labels"] = all(r > 0 for r in labels)
    res.checks["estimates"] = all(
        e is not None and want_est[str(i)][0] == _sha(corpus[i][0]) and _close(e, want_est[str(i)][1])
        for i, e in estimates
    )
    res.checks["hints"] = all(h == golden["hints"][str(i)] for i, h, _ in hints)

    served = [i for i, _ in estimates] + [i for i, _, _ in hints]
    res.shape.update({
        "sql_digest": _digest(sqls),
        "censored": censored,
        "relations_hist": dict(sorted(Counter(len(q.relations) for q in queries).items())),
        "conditions_hist": dict(sorted(Counter(len(q.conditions) for q in queries).items())),
        "estimate_distinct_frac": len({i for i, _ in estimates}) / max(1, len(estimates)),
        "hint_override_frac": sum(o for _, _, o in hints) / max(1, len(hints)),
        "served_bucket_hist": dict(sorted(Counter(bucketize(corpus[i][1]) for i in served).items())),
        "train_bucket_hist": dict(sorted(Counter(bucketize(corpus[i][1]) for i in train_rows(corpus)).items())),
    })
    for kind in KINDS:
        lat = [x for x, k in zip(res.latencies, res.kinds) if k == kind]
        res.phases[f"{kind}_p50_ms"] = 1000 * p50(lat)
    return res


WORKLOADS = {"query_mix": query_mix, "lifecycle": lifecycle}
