"""Joint multi-scale estimator training — one checkpoint, many SFs.

Round-7 finding (reports/estimator_cross_scale_sf10.json): a cost
model trained at sf1 scores 0.175 zero-shot on sf10 labels — runtime
scales with data volume and a single-scale model has never seen the
upper half of the joint runtime distribution. The fix shipped then was
per-scale fine-tuning; this tool trains ONE model over several scales'
corpora at once. The scale signal reaches the model through the
encodings themselves: every relation/column vector is built from that
scale's OWN stats snapshot (log rows / log bytes / histograms —
``plans/encoder.py``), so the same SQL text encodes differently at sf1
and sf10 and the model can separate them.

Scales are encoded strictly sequentially: ``load_tables`` registers
temp views under fixed names (``catalog.py:233``), so a scale's rows
must be fully encoded (against its views + its snapshot) before the
next scale's engine re-registers them.

Usage:
    python tools/train_joint.py OUT_DIR SPEC [SPEC ...]

    SPEC = name:corpus_dir:sf_dir[:repeat]
      corpus_dir must hold workload.csv (train rows), schema.json
      (stats snapshot), and optionally test.csv / calib.csv.
      ``repeat`` oversamples that scale's train rows (balance a small
      in-scale corpus against a large one; default 1).

Env: DQO_FAMILIES (default gru), DQO_EPOCHS/DQO_BATCH/DQO_LR,
     DQO_EMBED/DQO_HIDDEN, DQO_AUG (per-scale train augmentation).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from deep_query_optimization_spark.engine import DQOEngine  # noqa: E402
from deep_query_optimization_spark.estimator import QueriesDataset  # noqa: E402
from deep_query_optimization_spark.estimator.enc_cache import (  # noqa: E402
    EncodingCache,
    schema_signature,
)
from deep_query_optimization_spark.estimator.metrics import bucketize, mae, mcc_metrics  # noqa: E402
from deep_query_optimization_spark.estimator.model import FAMILIES  # noqa: E402
from deep_query_optimization_spark.session import get_spark  # noqa: E402


@dataclass
class Scale:
    name: str
    corpus_dir: Path
    sf_dir: str
    repeat: int = 1
    # filled during the encode phase
    enc_train: list = field(default_factory=list)
    enc_test: list = field(default_factory=list)
    rt_train: list = field(default_factory=list)
    test_rows: list = field(default_factory=list)
    n_train: int = 0


def parse_spec(spec: str) -> Scale:
    parts = spec.split(":")
    if len(parts) < 3:
        raise SystemExit(f"bad SPEC {spec!r}: want name:corpus_dir:sf_dir[:repeat]")
    return Scale(
        name=parts[0],
        corpus_dir=Path(parts[1]),
        sf_dir=parts[2],
        repeat=int(parts[3]) if len(parts) > 3 else 1,
    )


def evaluate(model, plans, rows) -> dict:
    if not rows:
        return {}
    preds = model.predict(plans)
    buckets = [bucketize(r) for _, r, _ in rows]
    pred_buckets = [int(np.clip(round(p), -3, 8)) for p in preds]
    m = mcc_metrics(buckets, pred_buckets)
    m["mae"] = mae(buckets, pred_buckets)
    return m


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    out = Path(sys.argv[1])
    out.mkdir(parents=True, exist_ok=True)
    scales = [parse_spec(s) for s in sys.argv[2:]]

    only = os.environ.get("DQO_FAMILIES", "gru")
    selected = {f.strip() for f in only.split(",")} & set(FAMILIES)
    encodings = {FAMILIES[f].ENCODING for f in selected}
    if len(encodings) > 1:
        raise SystemExit("train plan and tree families in separate runs (one encoding per run)")
    aug_n = int(os.environ.get("DQO_AUG", "0"))

    spark = get_spark("dqo-train-joint")
    spark.sparkContext.setLogLevel("ERROR")

    width = None
    # -- phase 1: per-scale encoding (sequential; temp views clash) ----
    for sc in scales:
        t0 = time.time()
        engine = DQOEngine(spark, sc.sf_dir, snapshot_path=str(sc.corpus_dir / "schema.json"))
        engine.snapshot()
        if width is None:
            width = engine.encoder.width
        elif width != engine.encoder.width:
            raise SystemExit(
                f"encoder width mismatch at {sc.name}: {engine.encoder.width} != {width}"
            )
        cache = EncodingCache(
            sc.corpus_dir / "enc_cache.pkl",
            schema_signature(sc.corpus_dir / "schema.json", width),
        )
        if "tree" in encodings:
            enc = cache.wrap("tree", engine.encode_sql_tree)
        else:
            enc = cache.wrap("vec", engine.encode_sql)

        train = QueriesDataset.load(str(sc.corpus_dir / "workload.csv"))
        test_p = sc.corpus_dir / "test.csv"
        test = QueriesDataset.load(str(test_p)) if test_p.exists() else QueriesDataset()
        held = {sql for sql, _, _ in test.rows}
        leaked = held & {sql for sql, _, _ in train.rows}
        if leaked:
            raise SystemExit(f"{sc.name}: {len(leaked)} test rows leak into train")

        rows = [(sql, rt) for sql, rt, _ in train.rows]
        if aug_n > 1:
            import random as _random

            from deep_query_optimization_spark.generator.augment import permutations

            rng = _random.Random(7)
            extra = []
            for sql, rt in rows:
                try:
                    q = engine.parse(sql)
                    for variant in permutations(q, limit=aug_n, seed=rng.randint(0, 2**31))[1:]:
                        extra.append((variant, rt))
                except Exception:
                    pass
            rows += extra
        sc.enc_train = [enc(sql) for sql, _ in rows]
        sc.rt_train = [rt for _, rt in rows]
        sc.enc_test = [enc(sql) for sql, _, _ in test.rows]
        sc.test_rows = list(test.rows)
        sc.n_train = len(rows)
        cache.save()
        print(
            f"[{sc.name}] encoded {sc.n_train} train / {len(test.rows)} test "
            f"in {time.time() - t0:.0f}s (cache {cache.stats()})",
            flush=True,
        )

    # -- phase 2: joint training (Spark-free) ---------------------------
    X: list = []
    y: list[float] = []
    for sc in scales:
        for _ in range(sc.repeat):
            X.extend(sc.enc_train)
            y.extend(sc.rt_train)
    print(f"joint train set: {len(X)} rows from {[f'{s.name}x{s.repeat}' for s in scales]}")

    epochs = int(os.environ.get("DQO_EPOCHS", "150"))
    batch = int(os.environ.get("DQO_BATCH", "0")) or None
    lr = float(os.environ.get("DQO_LR", "2e-3"))
    embed = int(os.environ.get("DQO_EMBED", "64"))
    hidden = int(os.environ.get("DQO_HIDDEN", "64"))
    report: dict = {
        "scales": {
            s.name: {"train_rows": s.n_train, "repeat": s.repeat, "test_rows": len(s.test_rows)}
            for s in scales
        },
        "epochs": epochs,
        "embed": embed,
        "hidden": hidden,
        "aug": aug_n,
        "init": os.environ.get("DQO_INIT"),
        "models": {},
    }
    # DQO_INIT=<model_json>: warm-start the (single) selected family
    # from an existing checkpoint — joint training then refines a
    # converged single-scale model instead of rediscovering everything
    init = os.environ.get("DQO_INIT")
    for fam in sorted(selected):
        t0 = time.time()
        if init:
            model = FAMILIES[fam].load(init)
            print(f"{fam}: warm-start from {init}")
        else:
            model = FAMILIES[fam](in_dim=width, embed_dim=embed, hidden=hidden, seed=0)
        model.fit(X, y, epochs=epochs, lr=lr, batch_size=batch)
        res: dict = {"fit_seconds": round(time.time() - t0, 1)}
        for sc in scales:
            res[f"test_{sc.name}"] = evaluate(model, sc.enc_test, sc.test_rows)
        all_enc = [e for sc in scales for e in sc.enc_test]
        all_rows = [r for sc in scales for r in sc.test_rows]
        res["test_combined"] = evaluate(model, all_enc, all_rows)
        model.save(str(out / f"model_{fam}.json"))
        report["models"][fam] = res
        print(
            fam,
            {k: round(v.get("accuracy", math.nan), 3) if isinstance(v, dict) else v
             for k, v in res.items()},
            flush=True,
        )

    with open(out / "report.json", "w") as f:
        json.dump(report, f, indent=1)
    print(f"report -> {out / 'report.json'}")


if __name__ == "__main__":
    main()
