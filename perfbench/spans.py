"""Spans around the package's public functions, installed from outside.

The traced run wraps each layer's entry points (no package file changes)
and keeps every span in memory: per name its call count, total time and
self time (total minus the time covered by child spans), plus the same
figures keyed by the span's immediate parent, so that for example the
``spark.sql`` calls made inside ``lab.time`` can be told apart from the
ones made while encoding a plan.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import Counter, defaultdict

PACKAGE = "deep_query_optimization_spark"


class Tracer:
    def __init__(self) -> None:
        self.stack: list[list] = []  # [name, child_seconds]
        # name -> [calls, total_s, self_s]; (name, parent) -> same
        self.spans: dict = defaultdict(lambda: [0, 0.0, 0.0])
        self.counts: Counter = Counter()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------

    def _enter(self, name: str) -> float:
        self.stack.append([name, 0.0])
        return time.perf_counter()

    def _exit(self, t0: float) -> None:
        elapsed = time.perf_counter() - t0
        name, child = self.stack.pop()
        parent = self.stack[-1][0] if self.stack else None
        if self.stack:
            self.stack[-1][1] += elapsed
        for key in (name, (name, parent)):
            rec = self.spans[key]
            rec[0] += 1
            rec[1] += elapsed
            rec[2] += elapsed - child

    def _wrapper(self, orig, name, on_call=None, on_result=None):
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            span = name(args, kwargs) if callable(name) else name
            if on_call is not None:
                on_call(args, kwargs)
            t0 = tracer._enter(span)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer._exit(t0)
            if on_result is not None:
                on_result(args, kwargs, result)
            return result

        return wrapped

    # -- installing ----------------------------------------------------

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def function(self, module: str, attr: str, name, **hooks) -> None:
        """Wrap ``module.attr`` and every package module's reference to it
        (callers that did ``from module import attr`` hold their own)."""
        orig = getattr(importlib.import_module(module), attr)
        wrapped = self._wrapper(orig, name, **hooks)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for key, value in list(vars(mod).items()):
                if value is orig:
                    self._set(mod, key, wrapped)

    def method(self, cls, attr: str, name, **hooks) -> None:
        self._set(cls, attr, self._wrapper(cls.__dict__[attr], name, **hooks))

    def remove(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- reading -------------------------------------------------------

    def mean_s(self, key) -> float:
        calls, total, _ = self.spans.get(key, (0, 0.0, 0.0))
        return total / calls if calls else 0.0

    def mean_self_s(self, key) -> float:
        calls, _, self_s = self.spans.get(key, (0, 0.0, 0.0))
        return self_s / calls if calls else 0.0

    def calls(self, key) -> int:
        return self.spans.get(key, (0, 0.0, 0.0))[0]


def install(tracer: Tracer) -> None:
    """Wrap the entry points of every layer the workloads reach."""
    from pyspark.sql import SparkSession

    def mod(name: str):
        return importlib.import_module(f"{PACKAGE}.{name}")

    engine = mod("engine").DQOEngine
    model = mod("estimator.model")
    runner = mod("lab.executor").SparkQueryRunner
    count = tracer.counts

    tracer.function(f"{PACKAGE}.session", "get_spark", "session.get_spark")
    tracer.function(f"{PACKAGE}.catalog", "load_tables", "catalog.load_tables")
    tracer.function(f"{PACKAGE}.catalog", "read_table", "catalog.read_table")
    tracer.function(
        f"{PACKAGE}.stats", "collect_stats",
        lambda a, kw: f"stats.{a[1] if len(a) > 1 else kw['table_name']}",
    )
    tracer.method(mod("generator").RandomQueryGen, "randomize", "generator.randomize")

    def mutated(args, kwargs, ok):
        count["relational.mutate_applied"] += bool(ok)

    tracer.method(mod("relational.builder").QueryBuilder, "mutate", "relational.mutate",
                  on_result=mutated)
    tracer.method(mod("relational.query").Query, "to_sql", "relational.to_sql")
    tracer.function(f"{PACKAGE}.relational.parser", "parse_sql", "relational.parse_sql")

    def censored(args, kwargs, runtime):
        count["lab.censored"] += runtime >= args[0].timeout_s

    tracer.method(runner, "time", "lab.time")
    tracer.method(runner, "_run_timed", "lab.execute", on_result=censored)
    tracer.method(SparkSession, "sql", "spark.sql")

    tracer.method(engine, "encode_sql", "engine.encode_sql")
    tracer.function(f"{PACKAGE}.plans.parser", "parse_plan_json", "plans.parse_plan_json")
    tracer.method(mod("plans.encoder").PlanEncoder, "encode_plan", "plans.encode_plan")

    def fit_steps(args, kwargs):
        bound = inspect.signature(fit_of[type(args[0])]).bind(*args, **kwargs)
        bound.apply_defaults()
        count["estimator.fit_plan_epochs"] += len(bound.arguments["plans"]) * bound.arguments.get("epochs", 1)

    classes = [c for c in vars(model).values() if inspect.isclass(c) and c.__module__ == model.__name__]
    fit_of = {}  # model class -> the fit it runs, for reading fit's arguments
    for cls in classes:
        if "predict" in cls.__dict__:
            tracer.method(cls, "predict", "estimator.predict")
        if "fit" in cls.__dict__:
            fit_of[cls] = cls.__dict__["fit"]
            tracer.method(cls, "fit", "estimator.fit", on_call=fit_steps)
    for cls in classes:  # subclasses inheriting fit
        if cls not in fit_of and hasattr(cls, "fit"):
            fit_of[cls] = next(fit_of[b] for b in cls.__mro__ if b in fit_of)
    tracer.method(engine, "train_estimator", "engine.train_estimator")

    def hinted(args, kwargs, out):
        count["plans.hint_override"] += out != (args[1] if len(args) > 1 else kwargs["sql"])

    tracer.method(engine, "optimize_sql", "engine.optimize_sql", on_result=hinted)
    tracer.method(engine, "estimate", "engine.estimate")
    tracer.function(f"{PACKAGE}.plans.hints", "order_variants", "plans.order_variants")
    tracer.function(f"{PACKAGE}.plans.hints", "reorder_by_estimate", "plans.reorder_by_estimate")
