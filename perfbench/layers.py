"""Per-layer metrics of a traced run, read from the spans of ``spans.py``.

Conventions: a ``_s`` metric is mean seconds per call of that span
(``_self_s``: minus the time its traced children took); ``_calls`` and the
``spark.*`` counts are per timed op; ``_frac`` is a ratio of calls. A
layer the workload never reaches reads 0. ``<module>.<query>_s`` is the
mean timed latency of one ``workload.REGISTRY`` query, prefixed with the
package module that implements it.
"""

from __future__ import annotations

import inspect
import json
from pathlib import Path

PACKAGE = "deep_query_optimization_spark"
ROOT = Path(__file__).resolve().parent.parent

# spans reported as <name>_s and <name>_self_s
SPANS = (
    "session.get_spark",
    "catalog.load_tables",
    "generator.randomize",
    "relational.mutate",
    "relational.to_sql",
    "lab.time",
    "lab.execute",
    "plans.parse_plan_json",
    "plans.encode_plan",
    "estimator.predict",
    "estimator.fit",
    "relational.parse_sql",
    "plans.order_variants",
    "plans.reorder_by_estimate",
    "engine.estimate",
    "engine.optimize_sql",
)


def query_module(name: str, fn) -> str:
    """The package module that implements a registry query."""
    if name.startswith("generated_seed"):
        return "generator"
    if name.startswith("bucketed_"):
        return "sources"  # its layout comes from sources.io.write_bucketed
    src = inspect.getsource(fn)
    for mod in ("streaming", "operators", "relational", "sources"):
        if f"{PACKAGE}.{mod}" in src:
            return mod
    return "workload"


def query_metric_names() -> dict[str, str]:
    from deep_query_optimization_spark.workload import REGISTRY

    return {name: f"{query_module(name, wq.fn)}.{name}_s" for name, wq in REGISTRY.items()}


def compute(tracer, res, work) -> dict[str, tuple[float, str]]:
    from deep_query_optimization_spark.catalog import TPCH_TABLES

    ops = max(1, len(res.latencies))
    out: dict[str, tuple[float, str]] = {}
    for span in SPANS:
        out[f"{span}_s"] = (tracer.mean_s(span), "s")
        out[f"{span}_self_s"] = (tracer.mean_self_s(span), "s")

    out["catalog.read_table_calls"] = (res.op_table_reads / ops, "count")

    table_calls = [tracer.calls(f"stats.{t}") for t in TPCH_TABLES]
    total = sum(tracer.spans[f"stats.{t}"][1] for t in TPCH_TABLES if tracer.calls(f"stats.{t}"))
    out["stats.collect_s"] = (total / sum(table_calls) if sum(table_calls) else 0.0, "s")
    for t in TPCH_TABLES:
        out[f"stats.{t}_s"] = (tracer.mean_s(f"stats.{t}"), "s")
    counts = work.totals if work is not None else {}
    out["stats.spark_jobs"] = (float(counts.get("snapshot.jobs", 0)), "count")

    mutates = tracer.calls("relational.mutate")
    out["relational.mutations_applied_frac"] = (
        tracer.counts["relational.mutate_applied"] / mutates if mutates else 0.0, "ratio"
    )
    out["lab.analyze_s"] = (tracer.mean_s(("spark.sql", "lab.time")), "s")
    out["lab.censored"] = (float(tracer.counts["lab.censored"]), "count")
    for kind in ("jobs", "stages", "tasks"):
        out[f"spark.{kind}"] = (counts.get(f"op.{kind}", 0) / ops, "count")

    # encode_sql minus its traced children is the spark.sql + toJSON trip
    out["spark.plan_json_s"] = (tracer.mean_self_s("engine.encode_sql"), "s")
    out["estimator.encode_s"] = (tracer.mean_s(("engine.encode_sql", "engine.train_estimator")), "s")
    out["estimator.fit_plan_epochs"] = (float(tracer.counts["estimator.fit_plan_epochs"]), "count")
    hints = tracer.calls("engine.optimize_sql")
    out["plans.hint_full_frac"] = (tracer.calls("plans.reorder_by_estimate") / hints if hints else 0.0, "ratio")
    out["plans.hint_override_frac"] = (tracer.counts["plans.hint_override"] / hints if hints else 0.0, "ratio")

    for name, metric in query_metric_names().items():
        lat = [x for x, k in zip(res.latencies, res.kinds) if k == name]
        out[metric] = (sum(lat) / len(lat) if lat else 0.0, "s")
    out["peak_rss_mb"] = (res.rss_mb, "MiB")
    out["snapshot_s"] = (res.phases.get("snapshot_s", 0.0), "s")
    out["train_s"] = (res.phases.get("train_s", 0.0), "s")
    for kind in ("label", "estimate", "hint"):
        out[f"{kind}_p50_ms"] = (res.phases.get(f"{kind}_p50_ms", 0.0), "ms")
    return out


def per_layer(tracer, res, work) -> dict:
    """The declared per-layer metrics, in BENCHMARK.json's order."""
    values = compute(tracer, res, work)
    with open(ROOT / "BENCHMARK.json") as fh:
        names = [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]
    return {name: {"value": values.get(name, (0.0, unit))[0], "unit": unit} for name, unit in names}
