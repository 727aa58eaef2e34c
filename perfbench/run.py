"""Benchmark of dqo: a query mix, and the lifecycle of harvesting labels and serving estimates.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run from the repository root (any working directory works: paths are
resolved from this file). One process drives one closed-loop client on
``local[nproc]``: each op is issued when the previous one has returned.
The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
from spans wrapped around the package's public functions. The line
before it is a report: seed, traffic shape, phase timings and checks.

Workloads (see ``workloads.py``): ``query_mix`` times whole passes over
the 50 registry queries; ``lifecycle`` interleaves label harvesting with
estimate and hint requests, and when traced also snapshots stats and
trains a model.

End-to-end metrics: ``setup_s`` (process start to the first timed op,
less the benchmark's own input reading and checking), ``ops_per_s``,
``latency_p50_ms`` and ``latency_p90_ms`` (on ``lifecycle`` the geometric
mean over its three request kinds). The report also gives
``peak_rss_mb`` (VmHWM of this process plus its JVM, without the
benchmark's checks) and every op's latency by kind. Failures count ops
that raised or needed the watchdog plus failed output checks, against ops
plus checks attempted.

Tables are the sf0.01 set ``tools/check_correctness.py`` reads; request
streams and generated SQL come from fixed seeds and ``--seed``.
``goldens.py`` rewrites the expected outputs; ``overhead.py`` reports
tracing overhead.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import math  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "deep_query_optimization_spark"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("query_mix", "lifecycle"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def latency_ms(res, quantile) -> float:
    """A latency quantile of the timed ops. Where a workload's ops come in
    kinds of very different cost, it is the geometric mean of the kinds'
    quantiles, so that a given change in any one kind moves it by the same
    share however rare or cheap that kind is."""
    groups = [[x for x, k in zip(res.latencies, res.kinds) if k == kind] for kind in res.groups]
    qs = [quantile(g) for g in groups or [res.latencies]]
    return 1000 * math.prod(qs) ** (1 / len(qs))


def end_to_end(res, setup_s: float) -> dict:
    from harness import p50, p90

    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(res.latencies) / res.timed_s, "op/s"),
        "latency_p50_ms": (latency_ms(res, p50), "ms"),
        "latency_p90_ms": (latency_ms(res, p90), "ms"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import harness

    run_dir = HERE / ".work" / f"run-{os.getpid()}"
    data = harness.data_dir(ROOT)
    if not os.path.isdir(data):
        print(f"perfbench: no tables at {data}", file=sys.stderr)
        return 2
    harness.prepare_env(ROOT, run_dir)
    clock = harness.SetupClock(T0)
    tracer = None
    if args.trace:
        import spans as tracing

        tracer = tracing.Tracer()
        tracing.install(tracer)
    import workloads
    from deep_query_optimization_spark import session

    spark = None
    try:
        spark = session.get_spark("perfbench", extra_conf=harness.spark_conf(run_dir))
        spark.sparkContext.setLogLevel("ERROR")
        work = harness.SparkWork(spark) if args.trace else None
        ctx = workloads.Ctx(spark, data, args.seed, args.seconds, clock, ROOT, work, tracer)
        res = workloads.WORKLOADS[args.workload](ctx)
        if work is not None:
            work.close()
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        harness.cleanup(run_dir)

    failed_checks = [k for k, ok in res.checks.items() if not ok]
    attempted = len(res.latencies) + len(res.checks)
    failed = res.failed_ops + len(failed_checks)
    e2e = end_to_end(res, clock.setup_s)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(res.latencies),
        "timed_s": res.timed_s,
        "failed_frac": failed / attempted,
        "failed_checks": failed_checks,
        "checks": len(res.checks),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "peak_rss_mb": res.rss_mb,
        "latency_ms": {k: [round(1000 * x, 3) for x, kk in zip(res.latencies, res.kinds) if kk == k]
                       for k in dict.fromkeys(res.kinds)},
        "phases": res.phases,
        "shape": res.shape,
    }
    print(json.dumps({"report": report}), flush=True)
    if tracer is not None:
        import layers

        metrics = layers.per_layer(tracer, res, work)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
