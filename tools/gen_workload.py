"""Generate (and incrementally checkpoint) a balanced labeled workload.

Split out of ``tools/train.py train`` so the expensive part — hours
of timed query execution against live Spark — survives interruption and
can run while training/evaluation iterates on the already-saved prefix.
The reference's scale here is the point: its drivers target 100k labeled
queries (``dqo/lab/drivers/uniform.py:43``); its published accuracy
(BASELINE.md, acc 0.836) comes from corpus size + augmentation, not
architecture alone.

Resumes from an existing ``workload.csv``: previously-labeled rows are
restored into the balancer's histogram so generation keeps filling the
least-filled log2 buckets instead of starting over.

Usage:
    python tools/gen_workload.py [sf_dir] [n_queries] [out_dir]

Env knobs (same semantics as ``tools/train.py train``):
    DQO_BUCKET_LO / DQO_BUCKET_HI   Log2Partitioner range (default -3..5)
    DQO_TIMEOUT_S                   per-query watchdog (default 60)
    DQO_BUDGET_S                    wall budget (default 7200)
    DQO_CHECKPOINT_EVERY            save every N new rows (default 100)
    DQO_GEN_SEED                    balancer seed (default 43) — run two
                                    generators with different seeds into
                                    different out dirs and concatenate the
                                    CSVs to double labeling throughput
                                    (single queries rarely saturate 32 cores)
    DQO_DOUBLE_RUN                  "1" = run-twice-keep-second labels
                                    (reference protocol). ~2x cost per row
                                    but clean labels: co-located generators
                                    produce labels with only ~0.47 bucket
                                    self-agreement, and models trained on
                                    them plateau ~0.1 accuracy below the
                                    same architecture fine-tuned on quiet
                                    double-run labels
                                    (reports/estimator_label_noise.json)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

# Random multi-join candidates can blow an 8g driver heap at sf1+ (an
# OOMed JVM wedges the generator silently — the watchdog can cancel a
# job but not resurrect a dead heap), so default this process higher;
# an explicit SPARK_DRIVER_MEMORY still wins. 48g: upper-bucket
# targeting (this file's whole purpose at sf1+) steers into 4-5-way
# fact joins whose hash maps exhausted a 24g heap's execution pool
# (round-8 crash: UNABLE_TO_ACQUIRE_MEMORY 20 min in).
os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from deep_query_optimization_spark.engine import DQOEngine  # noqa: E402
from deep_query_optimization_spark.estimator import QueriesDataset  # noqa: E402
from deep_query_optimization_spark.generator.guided import BalancedQueryGen  # noqa: E402
from deep_query_optimization_spark.generator.partitioner import Log2Partitioner  # noqa: E402
from deep_query_optimization_spark.lab.deadline import HardDeadlineError, hard_deadline  # noqa: E402
from deep_query_optimization_spark.lab.executor import WEDGE_CAP_PAD_S  # noqa: E402
from deep_query_optimization_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.data/sf1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 3000
    out = Path(sys.argv[3] if len(sys.argv) > 3 else "/root/repo/.data/est_sf1")
    out.mkdir(parents=True, exist_ok=True)
    csv_path = out / "workload.csv"

    bucket_lo = int(os.environ.get("DQO_BUCKET_LO", "-3"))
    bucket_hi = int(os.environ.get("DQO_BUCKET_HI", "5"))
    timeout_s = float(os.environ.get("DQO_TIMEOUT_S", "60"))
    budget_s = float(os.environ.get("DQO_BUDGET_S", "7200"))
    every = int(os.environ.get("DQO_CHECKPOINT_EVERY", "100"))
    gen_seed = int(os.environ.get("DQO_GEN_SEED", "43"))

    spark = get_spark("dqo-gen-workload")
    spark.sparkContext.setLogLevel("ERROR")
    engine = DQOEngine(spark, sf_dir, snapshot_path=str(out / "schema.json"))
    engine.snapshot()
    engine.runner.timeout_s = timeout_s
    engine.runner.double_run = os.environ.get("DQO_DOUBLE_RUN", "0") == "1"

    # per-query SIGALRM cap: a query the watchdog cannot cancel is
    # censored at 3x timeout (+WEDGE_CAP_PAD_S) and latches
    # runner.wedged — the loop below then checkpoints and exits
    # instead of holding the budget hostage (round-7 postmortem: one
    # wedged sf10 query ran 12+ min past budget before the whole-run
    # backstop fired)
    engine.runner.wedge_cap_factor = 3.0

    from deep_query_optimization_spark.relational.parser import parse_sql

    bal = BalancedQueryGen(
        engine.db,
        engine.runner.time,
        partitioner=Log2Partitioner(bucket_lo, bucket_hi),
        seed=gen_seed,
        # start upper-bucket spawns from parsed near-target rows of the
        # (restored) dataset — 1-3 mutations to target instead of a
        # 10-20-step climb from a random query
        seed_parser=lambda sql: parse_sql(spark, sql, engine.db),
        stop_when=lambda: engine.runner.wedged,
        # DQO_PATIENCE: steps before a fruitless climb is abandoned.
        # The default 30 is tuned for sf0.1/sf1 where a step costs
        # seconds; at sf10 a mid-band overshoot costs a full watchdog
        # cap x2 (double-run) per step, so a toxic lineage must be cut
        # much sooner (r12 window 1 burned ~45 min on censored climbs)
        patience=int(os.environ.get("DQO_PATIENCE", "30")),
        # Seed hygiene for slow bands (r12 window 3 burned 23 min on a
        # single climb seeded from a 185s censor clip): never seed from
        # a row recorded at >=95% of this run's own watchdog, and with
        # DQO_SEED_BELOW_ONLY=1 never seed from above the window at all
        # (historical censors from earlier caps are indistinguishable
        # from real above-window labels in the CSV)
        censor_ceiling=0.95 * timeout_s,
        seed_from_above=os.environ.get("DQO_SEED_BELOW_ONLY") != "1",
        # a banded window that drops out-of-band RESTORED rows from the
        # fill view must drop out-of-band LIVE rows too, or every
        # undershoot step re-inflates bucket `lo` as the window runs
        count_out_of_band=os.environ.get("DQO_RESTORE_DROP_OOB") != "1",
    )
    if csv_path.exists():
        prev = QueriesDataset.load(str(csv_path))
        bal.restore(
            {
                "histogram": _restored_histogram(prev, bal),
                "dataset": [(sql, rt) for sql, rt, _ in prev.rows],
            }
        )
        print(f"resuming from {len(prev.rows)} existing rows")

    deadline = time.monotonic() + budget_s
    t0 = time.monotonic()

    def _checkpoint() -> None:
        ds = QueriesDataset()
        for sql, rt in bal.dataset:
            ds.add(sql, rt)
        ds.save(str(csv_path))

    # SIGALRM backstop: the in-loop deadline checks cannot bound a
    # single wedged query (stuck in a non-cancellable Spark phase the
    # watchdog's cancelJobGroup does not reach); past budget + grace
    # the alarm raises out of the py4j wait and we keep the checkpoint
    grace = max(3 * timeout_s * (2 if engine.runner.double_run else 1), 60.0)
    # worst wall-clock one row can cost (per-query wedge cap included):
    # don't START a batch the budget cannot absorb — the whole-run
    # backstop below then only catches pathologies the per-query cap
    # itself missed
    runs = 2 if engine.runner.double_run else 1
    worst_row_s = (timeout_s * engine.runner.wedge_cap_factor + WEDGE_CAP_PAD_S) * runs
    try:
        with hard_deadline(budget_s + grace):
            while len(bal.dataset) < n and time.monotonic() + worst_row_s < deadline + grace:
                target = min(n, len(bal.dataset) + every)
                bal.generate(target, time_budget_s=deadline - time.monotonic())
                _checkpoint()
                occupied = {b: c for b, c in sorted(bal.histogram.items()) if c}
                print(
                    f"[{time.monotonic() - t0:7.0f}s] {len(bal.dataset)} rows, "
                    f"histogram {occupied}",
                    flush=True,
                )
                if engine.runner.wedged:
                    print(
                        "runner wedged (per-query SIGALRM cap fired; Spark "
                        "connection suspect): checkpoint saved, exiting",
                        flush=True,
                    )
                    return
    except HardDeadlineError:
        _checkpoint()
        print(
            f"hard deadline: in-flight query wedged past budget+{grace:.0f}s grace; "
            f"checkpoint saved, exiting",
            flush=True,
        )
    print(f"done: {len(bal.dataset)} rows in {time.monotonic() - t0:.0f}s -> {csv_path}")


def _restored_histogram(prev: QueriesDataset, bal: BalancedQueryGen) -> dict[int, int]:
    hist = {b: 0 for b in bal.partitioner.buckets}
    lo, hi = min(hist), max(hist)
    # DQO_RESTORE_DROP_OOB=1: a targeted window (e.g. mid-band buckets
    # 4..7 on a corpus whose mass sits in -3..2) must NOT clamp the
    # restored out-of-band rows into the edge buckets — bucket `lo`
    # would look full (hundreds of clamped rows) and rargmin would
    # starve it while the band's true fill is single-digit. Dropping
    # out-of-band rows keeps the dataset (dedup + seed candidates)
    # intact; only the balancer's fill view narrows to the band.
    drop_oob = os.environ.get("DQO_RESTORE_DROP_OOB") == "1"
    # bucketize with the PARTITIONER (ceil-log2), not the estimator's
    # round-log2 dataset.buckets(): the live histogram the balancer
    # updates during generation is ceil-based, and mixing the two
    # shifted every restored row in (2^(b-0.5), 2^b] down one bucket —
    # a 75 s row (ceil-bucket 7) was credited to 6, so rargmin saw
    # bucket 7 as empty even where the corpus had rows
    import math as _math

    for _, rt, _ in prev.rows:
        # ceil-bucket clipped to the UNIVERSAL corpus range [-3, 8]
        # (every consumer treats >2^8 s as bucket 8 and <2^-3 s as -3),
        # NOT the partitioner's [lo, hi] clamp — that would make every
        # out-of-band row look in-band and defeat drop_oob
        b = int(_math.ceil(_math.log2(rt))) if rt > 0 else -3
        b = min(8, max(-3, b))
        if drop_oob and not (lo <= b <= hi):
            continue
        hist[min(max(b, lo), hi)] += 1  # clamp rows from wider past runs
    return hist


if __name__ == "__main__":
    main()
