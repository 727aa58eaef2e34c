"""Write the lifecycle workload's goldens, taken from the current code on
the benchmark's tables.

    python3 perfbench/goldens.py

``golden/harvest_schema.json`` is a fresh stats snapshot, which the
harvesting engine reads and a traced run's own snapshot must equal.
``golden/lifecycle.json`` holds the digest of the harvest SQL pool, the
staged model's estimate for every corpus row, the hint outcome for every
corpus row recorded at 2 s or more, and the training metrics.
Regenerate only when a change is meant to alter those outputs.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main() -> int:
    sys.path[:0] = [str(HERE), str(ROOT)]
    import harness
    import workloads as W
    from deep_query_optimization_spark import session
    from deep_query_optimization_spark.engine import DQOEngine

    run_dir = HERE / ".work" / f"goldens-{os.getpid()}"
    harness.prepare_env(ROOT, run_dir)
    data = harness.data_dir(ROOT)
    spark = session.get_spark("perfbench-goldens", extra_conf=harness.spark_conf(run_dir))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ctx = W.Ctx(spark, data, 0, 0.0, None, ROOT)
        DQOEngine(spark, data).snapshot(use_cache=False).save(str(W.HARVEST_SCHEMA))
        harvest, serve = W.engines(ctx)
        corpus = W._corpus(ROOT)
        trained = harvest.train_estimator(W.train_dataset(corpus), epochs=W.TRAIN_EPOCHS, family="gru")
        estimates = {str(i): [W._sha(sql), serve.estimate(sql)] for i, (sql, _) in enumerate(corpus)}
        hints = {str(i): W._sha(serve.optimize_sql(corpus[i][0])) for i in W.hint_corpus_rows(corpus)}
        golden = {
            "label_sql_digest": W._digest([sql for sql, _ in W.harvest_pool(harvest.db)]),
            "train": json.loads(json.dumps(trained)),
            "estimates": estimates,
            "hints": hints,
        }
    finally:
        harness.stop_spark(spark)
        harness.cleanup(run_dir)
    W.GOLDEN.mkdir(exist_ok=True)
    with open(W.GOLDEN / "lifecycle.json", "w") as fh:
        json.dump(golden, fh, sort_keys=True)
    print(f"wrote {W.GOLDEN / 'lifecycle.json'}: {len(estimates)} estimates, {len(hints)} hints")
    return 0


if __name__ == "__main__":
    sys.exit(main())
