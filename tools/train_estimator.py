"""End-to-end estimator training driver — the reference's
``train_tpch.py`` analog (``dqo/estimator/gerelt/v20/train_tpch.py``)
plus the model-family comparison (``estimator/evaluate.py:354``).

Generates a balanced labeled workload (BalancedQueryGen against live
Spark — the histogram-filling loop is what widens the runtime-bucket
spread beyond what uniform random generation reaches), encodes the
optimized plans, trains the eight model families (the linear
baseline, the five ``FAMILIES`` models, MSCN and Neo) on one
stratified split, and writes:

- ``<out>/workload.csv``          labeled (sql, runtime) rows
- ``<out>/model_<fam>.json``      trained weights per family
- ``<out>/report.json``           per-family train/test metrics +
                                  bucket histogram

Usage:
    python tools/train_estimator.py [sf_dir] [n_queries] [out_dir]

Env knobs (the sf0.1 defaults compress runtimes into few buckets; at
sf1+ widen the partitioner and raise the watchdog so the slow buckets
are reachable):
    DQO_BUCKET_LO / DQO_BUCKET_HI   Log2Partitioner range (default -3..2)
    DQO_TIMEOUT_S                   per-query watchdog (default 30)
    DQO_BUDGET_S                    workload-gen wall budget (default 420)
    DQO_EPOCHS / DQO_BATCH / DQO_LR training loop (default 150 / full / 2e-3)
    DQO_AUG                         equivalent-emission augmentation factor for
                                    the TRAIN split (default 0 = off): each
                                    train query contributes up to N-1 extra
                                    permuted/flipped emissions with the same
                                    runtime label (reference DatasetAugmenter,
                                    ``datasets/__init__.py:177-209`` — its
                                    best published results are aug-trained,
                                    BASELINE.md). Plan-vector encoders DO see
                                    different vectors per variant (flipped
                                    operands/join sides encode differently);
                                    the set-based MSCN/Neo encoders are
                                    emission-order invariant, so augmentation
                                    is skipped for those two families.
    DQO_FAMILIES                    comma list to train (default: all eight)
    DQO_TEST_CSV                    external held-out test set: the whole
                                    workload.csv becomes train and test rows
                                    load from this CSV instead of an internal
                                    split (tools/split_workload.py +
                                    tools/relabel_workload.py produce a
                                    clean-label test file — corpus labels
                                    timed under generator contention have
                                    measured ~0.47 bucket agreement with a
                                    re-run, so scoring against them caps
                                    measurable accuracy below model skill)
    DQO_CALIB_CSV                   small quiet-relabeled calibration set:
                                    per family, fit pred' = a*pred + b by
                                    least squares against the calib labels
                                    and score the test set with calibrated
                                    predictions (removes the systematic
                                    loaded-vs-quiet timing shift the train
                                    labels carry). Reported beside the raw
                                    metrics, never in place of them.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from deep_query_optimization_spark.engine import DQOEngine  # noqa: E402
from deep_query_optimization_spark.estimator.metrics import bucketize, mae, mcc_metrics  # noqa: E402
from deep_query_optimization_spark.estimator.model import (  # noqa: E402
    FAMILIES,
    CNNCostModel,
    Gerelt4CostModel,
    GRUCostModel,
    LinearCostModel,
    MLPCostModel,
    TreeLSTMCostModel,
)
from deep_query_optimization_spark.estimator.mscn import MSCNCostModel, MSCNEncoder  # noqa: E402
from deep_query_optimization_spark.estimator.neo import NeoCostModel, NeoEncoder  # noqa: E402
from deep_query_optimization_spark.generator.partitioner import Log2Partitioner  # noqa: E402
from deep_query_optimization_spark.session import get_spark  # noqa: E402


def evaluate(model, plans, rows, affine=None) -> dict:
    if not rows:
        return {}
    preds = model.predict(plans)
    if affine is not None:
        a, b = affine
        preds = [a * p + b for p in preds]
    buckets = [bucketize(r) for _, r, _ in rows]
    pred_buckets = [int(np.clip(round(p), -3, 8)) for p in preds]
    m = mcc_metrics(buckets, pred_buckets)
    m["mae"] = mae(buckets, pred_buckets)
    return m


def fit_affine(model, calib_plans, calib_rows) -> tuple[float, float]:
    """Least-squares pred -> clean-label bucket scale on the calib set."""
    import math

    preds = np.asarray(model.predict(calib_plans), dtype=float)
    target = np.asarray(
        [math.log2(max(r, 1e-4)) for _, r, _ in calib_rows], dtype=float
    )
    A = np.stack([preds, np.ones_like(preds)], axis=1)
    (a, b), *_ = np.linalg.lstsq(A, target, rcond=None)
    return float(a), float(b)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 120
    out = Path(sys.argv[3] if len(sys.argv) > 3 else "/tmp/dqo_estimator")
    out.mkdir(parents=True, exist_ok=True)

    spark = get_spark("dqo-train-estimator")
    spark.sparkContext.setLogLevel("ERROR")
    import os

    engine = DQOEngine(spark, sf_dir, snapshot_path=str(out / "schema.json"))
    engine.snapshot()
    # runaway join → canceled, labeled at the cap
    engine.runner.timeout_s = float(os.environ.get("DQO_TIMEOUT_S", "30"))
    bucket_lo = int(os.environ.get("DQO_BUCKET_LO", "-3"))
    bucket_hi = int(os.environ.get("DQO_BUCKET_HI", "2"))
    budget_s = float(os.environ.get("DQO_BUDGET_S", "420"))
    print(f"schema+stats snapshot: {len(engine.db)} tables")

    # local[*] runtimes compress into few log2 buckets — use a narrow
    # partitioner so balancing has something to balance (SURVEY §7 risk 2);
    # the balance loop's broaden mutations are what reach the slow buckets
    t0 = time.time()
    if (out / "workload.csv").exists():
        from deep_query_optimization_spark.estimator import QueriesDataset

        ds = QueriesDataset.load(str(out / "workload.csv"))
        print(f"reusing existing workload: {len(ds.rows)} rows")
    else:
        ds = engine.generate_workload(
            n, seed=42, partitioner=Log2Partitioner(bucket_lo, bucket_hi), time_budget_s=budget_s
        )
        ds.save(str(out / "workload.csv"))
    hist: dict[int, int] = {}
    for b in ds.buckets():
        hist[b] = hist.get(b, 0) + 1
    occupied = {b: c for b, c in sorted(hist.items()) if c}
    print(
        f"workload: {len(ds.rows)} labeled queries in {time.time() - t0:.0f}s, "
        f"bucket histogram {occupied} ({len(occupied)} occupied)"
    )

    test_csv = os.environ.get("DQO_TEST_CSV")
    calib_csv = os.environ.get("DQO_CALIB_CSV")
    calib = None
    if test_csv:
        from deep_query_optimization_spark.estimator import QueriesDataset

        train = ds
        test = QueriesDataset.load(test_csv)
        if calib_csv:
            calib = QueriesDataset.load(calib_csv)
        # the whole workload becomes train, so train/test disjointness is
        # the caller's responsibility — fail loudly if held-out SQL text
        # appears in train (e.g. DQO_TEST_CSV pointed at a relabeled
        # subset of the same corpus), which would silently inflate scores
        train_sqls = {sql for sql, _, _ in train.rows}
        held = {sql for sql, _, _ in test.rows}
        if calib:
            held |= {sql for sql, _, _ in calib.rows}
        leaked = train_sqls & held
        if leaked:
            raise SystemExit(
                f"DQO_TEST_CSV/DQO_CALIB_CSV leak: {len(leaked)} held-out "
                "queries also appear in the training workload — use "
                "tools/split_workload.py to freeze a disjoint split first"
            )
        print(
            f"external split: train {len(train.rows)} / test {len(test.rows)}"
            + (f" / calib {len(calib.rows)}" if calib else "")
        )
    else:
        train, test = ds.stratified_split(0.2, seed=0)

    # DQO_REBALANCE="<min>:<max>": bucket-rebalanced TRAIN multiset —
    # cap each log2 bucket at <max> rows (random subsample) and repeat
    # scarce buckets' rows up to <min>. The corpus is fast-bucket-heavy
    # (generation cost is linear in runtime, so -3..-1 dominate ~5:1);
    # a regression loss dominated by fast rows starves exactly the
    # upper buckets macro-F1 measures. Duplicated rows stay inside
    # train (leak-free) and diverge under augmentation (each repeat
    # draws different equivalent emissions).
    rebalance = os.environ.get("DQO_REBALANCE")
    if rebalance:
        import random as _random

        from deep_query_optimization_spark.estimator.metrics import bucketize as _bk

        min_n, max_n = (int(x) for x in rebalance.split(":"))
        by_bucket: dict[int, list] = {}
        for row in train.rows:
            by_bucket.setdefault(_bk(row[1]), []).append(row)
        rng = _random.Random(3)
        rebal_rows = []
        for b, rows in sorted(by_bucket.items()):
            rng.shuffle(rows)
            kept = rows[:max_n]
            reps = -(-min_n // len(kept)) if len(kept) < min_n else 1
            rebal_rows += (kept * reps)[: max(min_n, len(kept))]
        from deep_query_optimization_spark.estimator import QueriesDataset as _QD

        print(
            f"rebalanced train: {len(train.rows)} -> {len(rebal_rows)} rows "
            f"(min {min_n}/bucket, cap {max_n})"
        )
        train = _QD(rebal_rows)

    # which families run decides which encodings are worth computing —
    # a single-family run (tools/train_parallel.py fans one process out
    # per family) must not pay for the other encoders' Spark round-trips
    classes = {"linear": LinearCostModel, **FAMILIES, "mscn": MSCNCostModel, "neo": NeoCostModel}
    only = os.environ.get("DQO_FAMILIES")
    selected = {f.strip() for f in only.split(",")} & set(classes) if only else set(classes)
    encodings = {classes[f].ENCODING for f in selected}

    # -- augmentation (train split only) -------------------------------
    aug_n = int(os.environ.get("DQO_AUG", "0"))
    aug_rows: list[tuple[str, float]] = []
    if aug_n > 1 and encodings & {"plan", "tree"}:
        from deep_query_optimization_spark.generator.augment import permutations

        t0 = time.time()
        import random as _random

        aug_rng = _random.Random(7)
        for sql, rt, _ in train.rows:
            try:
                q = engine.parse(sql)
                # [0] is the canonical emission == the original row
                for variant in permutations(q, limit=aug_n, seed=aug_rng.randint(0, 2**31))[1:]:
                    aug_rows.append((variant, rt))
            except Exception as e:  # unparseable corner (e.g. timeout-censored leftovers)
                print(f"augment skip: {e}")
        print(f"augmented: +{len(aug_rows)} emissions in {time.time() - t0:.0f}s")

    t0 = time.time()
    train_sqls = [(sql, rt) for sql, rt, _ in train.rows] + aug_rows
    menc = MSCNEncoder(engine.db)
    nenc = NeoEncoder(engine.db)
    # optional on-disk encoding cache (DQO_ENC_CACHE=<path>): the Spark
    # plan-analysis round-trips dominate this phase (~600 s for the 9k
    # augmented corpus) and are pure in (sql, stats snapshot), so sweep
    # and fine-tune reruns should pay them once
    from deep_query_optimization_spark.estimator.enc_cache import from_env as _cache_from_env

    cache = _cache_from_env(engine.snapshot_path or "", engine.encoder.width)
    # ENCODING -> (disk-cache kind, sql -> encoding)
    encoders = {
        "plan": ("vec", engine.encode_sql),
        "tree": ("tree", engine.encode_sql_tree),
        "mscn": ("mscn", lambda sql: menc.encode(engine.parse(sql))),
        "neo": ("neo", lambda sql: nenc.encode(engine.parse(sql))),
    }
    # ENCODING -> (train, test, calib) encodings
    encoded: dict[str, tuple] = {}
    for kind, (cache_kind, fn) in encoders.items():
        if kind not in encodings:
            continue
        enc = cache.wrap(cache_kind, fn) if cache else fn
        # set-based encoders are emission-order invariant — augmented
        # variants encode identically, so mscn/neo train on originals only
        sqls = train.rows if kind in ("mscn", "neo") else train_sqls
        encoded[kind] = (
            [enc(row[0]) for row in sqls],
            [enc(sql) for sql, _, _ in test.rows],
            [enc(sql) for sql, _, _ in calib.rows] if calib else None,
        )
    train_rows_aug = [(sql, rt, "") for sql, rt in train_sqls]
    if cache:
        cache.save()
        print(f"encoding cache: {cache.stats()}")
    print(f"encoded {len(train_sqls)} train (+{len(test.rows)} test) plans in {time.time() - t0:.0f}s")

    # DQO_ENCODE_ONLY=1: stop after populating the encoding cache.
    # One single process pays the Spark plan-analysis round-trips once;
    # the parallel per-family fleet (tools/train_parallel.py) then runs
    # almost Spark-free against the warm cache instead of eight
    # processes each re-analyzing the same corpus concurrently.
    if os.environ.get("DQO_ENCODE_ONLY") == "1":
        print("DQO_ENCODE_ONLY=1: cache warmed, skipping training")
        return

    epochs = int(os.environ.get("DQO_EPOCHS", "150"))
    batch = int(os.environ.get("DQO_BATCH", "0")) or None
    lr = float(os.environ.get("DQO_LR", "2e-3"))
    report: dict = {
        "n": len(ds.rows),
        "bucket_histogram": occupied,
        "augmented_rows": len(aug_rows),
        "epochs": epochs,
        "batch_size": batch,
        "models": {},
    }
    # capacity knobs: the 32/32 defaults match the reference's smallest
    # gerelt configs; with clean labels the capacity ceiling (not label
    # noise) can become binding — widen via env without touching code
    embed = int(os.environ.get("DQO_EMBED", "32"))
    hidden = int(os.environ.get("DQO_HIDDEN", "32"))
    families = {
        "linear": LinearCostModel(),
        "mlp": MLPCostModel(in_dim=engine.encoder.width, seed=0),
        "gru": GRUCostModel(in_dim=engine.encoder.width, embed_dim=embed, hidden=hidden, seed=0),
        # cnn filter count tracks embed width so the conv feature map
        # widens with the embedding it reads
        "cnn": CNNCostModel(
            in_dim=engine.encoder.width,
            embed_dim=embed,
            n_filters=max(16, embed // 2),
            hidden=hidden,
            seed=0,
        ),
        "treelstm": TreeLSTMCostModel(in_dim=engine.encoder.width, embed_dim=embed, hidden=hidden, seed=0),
        "gerelt4": Gerelt4CostModel(in_dim=engine.encoder.width, embed_dim=embed, hidden=hidden, seed=0),
        "mscn": MSCNCostModel(widths=menc.widths, hidden=hidden, seed=0),
        "neo": NeoCostModel(in_dim=nenc.width, seed=0),
    }
    families = {k: v for k, v in families.items() if k in selected}
    for fam, model in families.items():
        t0 = time.time()
        tr, te, ca = encoded[model.ENCODING]
        tr_rows = train.rows if model.ENCODING in ("mscn", "neo") else train_rows_aug
        rts = [row[1] for row in tr_rows]
        if fam == "linear":
            model.fit(tr, rts)
        else:
            model.fit(tr, rts, epochs=epochs, lr=lr, batch_size=batch)
        res = {
            "train": evaluate(model, tr, tr_rows),
            "test": evaluate(model, te, test.rows),
            "fit_seconds": round(time.time() - t0, 1),
        }
        if calib and ca is not None:
            affine = fit_affine(model, ca, calib.rows)
            res["affine"] = [round(affine[0], 4), round(affine[1], 4)]
            res["test_calibrated"] = evaluate(model, te, test.rows, affine=affine)
        report["models"][fam] = res
        if hasattr(model, "save"):
            model.save(str(out / f"model_{fam}.json"))
        print(f"{fam:7s} test: {({k: round(v, 3) for k, v in res['test'].items()})}", flush=True)

    with open(out / "report.json", "w") as f:
        json.dump(report, f, indent=1)
    if "mlp" in families:
        engine.model = families["mlp"]
        sql = "SELECT MIN(l.l_extendedprice) FROM lineitem l, orders o WHERE l.l_orderkey = o.o_orderkey"
        print(f"estimate({sql[:50]}...) -> {engine.estimate(sql):.3f}s, bucket {engine.estimate_bucket(sql)}")


if __name__ == "__main__":
    main()
