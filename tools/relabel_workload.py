"""Re-time labeled workload rows under the reference's clean protocol.

Why: corpus labels produced by co-located generator processes carry
contention noise — a 30-query probe at sf1 measured only 0.47 log2-
bucket agreement between the stored label and a re-run under load.
Training regresses through symmetric noise, but *evaluating* against
noisy labels caps measurable accuracy far below model skill. This tool
re-times a (held-out) subset on an otherwise-idle machine with the
reference's run-twice-keep-second discipline
(``dqo/lab/runtime/executor.py`` semantics; our
``SparkQueryRunner(double_run=True)``), producing labels fit to judge
against.

Resumable: if ``out_csv`` already exists, its rows are loaded and any
input SQL already present is skipped, so a crashed or interrupted run
(the silent-JVM-wedge scenario the 24g heap default guards against)
re-pays nothing. Pre-seeding ``out_csv`` with rows relabeled by an
earlier run is therefore also a way to relabel a corpus incrementally.

The watchdog honors ``DQO_TIMEOUT_S`` (default 60) — it must match the
timeout the corpus was *labeled* with, otherwise slow rows get
right-censored at a different point than their stored labels and the
changed-bucket statistic is corrupted.

Usage:
    python tools/relabel_workload.py in_csv out_csv [sf_dir] [schema.json]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

# same lesson as tools/gen_workload.py: heavyweight multi-join rows can
# blow the 8g default heap, and a dead JVM wedges the run silently
os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from deep_query_optimization_spark.engine import DQOEngine  # noqa: E402
from deep_query_optimization_spark.estimator import QueriesDataset  # noqa: E402
from deep_query_optimization_spark.estimator.metrics import bucketize  # noqa: E402
from deep_query_optimization_spark.session import get_spark  # noqa: E402


def main() -> None:
    in_csv = sys.argv[1]
    out_csv = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/repo/.data/sf1"
    schema = sys.argv[4] if len(sys.argv) > 4 else str(Path(in_csv).parent / "schema.json")

    spark = get_spark("dqo-relabel")
    spark.sparkContext.setLogLevel("ERROR")
    engine = DQOEngine(spark, sf_dir, snapshot_path=schema)
    engine.snapshot()
    engine.runner.double_run = True
    # must match the timeout the corpus was labeled with (gen_workload's
    # default), or relabeling right-censors slow rows at a different point
    engine.runner.timeout_s = float(os.environ.get("DQO_TIMEOUT_S", "60"))

    ds = QueriesDataset.load(in_csv)
    out = QueriesDataset()
    done: set[str] = set()
    if Path(out_csv).exists():  # resume: skip rows an earlier run timed
        out = QueriesDataset.load(out_csv)
        done = {sql for sql, _, _ in out.rows}
        print(f"resuming: {len(done)} rows already relabeled in {out_csv}", flush=True)
    moved = 0
    t0 = time.monotonic()
    for i, (sql, rt_old, plan) in enumerate(ds.rows):
        if sql in done:
            continue
        rt_new = engine.runner.time(sql)
        out.add(sql, rt_new, plan)
        moved += bucketize(rt_old) != bucketize(rt_new)
        if (i + 1) % 50 == 0:
            out.save(out_csv)
            print(
                f"[{time.monotonic() - t0:6.0f}s] {i + 1}/{len(ds.rows)} "
                f"relabeled, {moved} changed bucket",
                flush=True,
            )
    out.save(out_csv)
    print(
        f"done: {len(out.rows)} rows, {moved} changed bucket "
        f"({moved / max(len(out.rows), 1):.0%}) -> {out_csv}"
    )


if __name__ == "__main__":
    main()
