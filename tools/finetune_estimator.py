"""Fine-tune a noisy-pretrained cost model on a clean-relabel subset.

The corpus's training labels were timed under generator contention
(~40 % of rows change log2 bucket when re-timed quietly —
reports/estimator_label_noise.json), so models pretrained on the full
noisy corpus learn the right *structure* but a blurred, shifted
runtime mapping. Re-timing even a fifth of the train rows on a quiet
machine and continuing training from the saved weights (``fit`` runs
Adam from the current parameters — no re-initialization) lets the
clean labels sharpen the mapping without discarding what the full
corpus taught.

Usage:
    python tools/finetune_estimator.py clean_train_csv model_json family \
        out_dir [sf_dir] [test_csv] [calib_csv]

Env: DQO_EPOCHS (40) / DQO_BATCH (32) / DQO_LR (1e-3) — lower LR than
pretraining, the usual fine-tune discipline.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from deep_query_optimization_spark.engine import DQOEngine  # noqa: E402
from deep_query_optimization_spark.estimator import QueriesDataset  # noqa: E402
from deep_query_optimization_spark.estimator.model import FAMILIES  # noqa: E402
from deep_query_optimization_spark.session import get_spark  # noqa: E402
from tools.train_estimator import evaluate, fit_affine  # noqa: E402


def main() -> None:
    clean_csv = sys.argv[1]
    model_json = sys.argv[2]
    family = sys.argv[3]
    out = Path(sys.argv[4])
    sf_dir = sys.argv[5] if len(sys.argv) > 5 else "/root/repo/.data/sf1"
    test_csv = sys.argv[6] if len(sys.argv) > 6 else "/root/repo/.data/est_split/test_clean.csv"
    calib_csv = sys.argv[7] if len(sys.argv) > 7 else "/root/repo/.data/est_split/calib_clean.csv"
    out.mkdir(parents=True, exist_ok=True)

    epochs = int(os.environ.get("DQO_EPOCHS", "40"))
    batch = int(os.environ.get("DQO_BATCH", "32")) or None
    lr = float(os.environ.get("DQO_LR", "1e-3"))

    spark = get_spark("dqo-finetune")
    spark.sparkContext.setLogLevel("ERROR")
    engine = DQOEngine(
        spark, sf_dir, snapshot_path=str(Path(clean_csv).parent / "schema.json")
    )
    engine.snapshot()

    model = FAMILIES[family].load(model_json)
    tree = model.ENCODING == "tree"
    encode = engine.encode_sql_tree if tree else engine.encode_sql
    from deep_query_optimization_spark.estimator.enc_cache import from_env as _cache_from_env

    cache = _cache_from_env(engine.snapshot_path or "", engine.encoder.width)
    if cache:
        encode = cache.wrap("tree" if tree else "vec", encode)

    train = QueriesDataset.load(clean_csv)
    test = QueriesDataset.load(test_csv)
    calib = QueriesDataset.load(calib_csv)
    leaked = {s for s, _, _ in train.rows} & (
        {s for s, _, _ in test.rows} | {s for s, _, _ in calib.rows}
    )
    if leaked:
        raise SystemExit(f"{len(leaked)} held-out queries appear in the fine-tune train CSV")

    # DQO_AUG: equivalence augmentation of the fine-tune train rows —
    # the reference's headline gerelt runs are aug-trained (BASELINE.md
    # 'tpch_aug'); same semantics as train_estimator.py
    aug_n = int(os.environ.get("DQO_AUG", "0"))
    train_pairs = [(sql, rt) for sql, rt, _ in train.rows]
    if aug_n > 1:
        import random as _random

        from deep_query_optimization_spark.generator.augment import permutations

        rng = _random.Random(7)
        extra = []
        for sql, rt in train_pairs:
            try:
                q = engine.parse(sql)
                for variant in permutations(q, limit=aug_n, seed=rng.randint(0, 2**31))[1:]:
                    extra.append((variant, rt))
            except Exception:
                pass
        train_pairs += extra
        print(f"augmented: +{len(extra)} emissions")

    t0 = time.time()
    tr = [encode(sql) for sql, _ in train_pairs]
    te = [encode(sql) for sql, _, _ in test.rows]
    ca = [encode(sql) for sql, _, _ in calib.rows]
    if cache:
        cache.save()
        print(f"encoding cache: {cache.stats()}")
    print(f"encoded {len(tr)}+{len(te)}+{len(ca)} in {time.time() - t0:.0f}s")

    before = evaluate(model, te, test.rows)
    before_cal = evaluate(model, te, test.rows, affine=fit_affine(model, ca, calib.rows))

    t0 = time.time()
    model.fit(tr, [rt for _, rt in train_pairs], epochs=epochs, lr=lr, batch_size=batch)
    fit_s = time.time() - t0

    affine = fit_affine(model, ca, calib.rows)
    report = {
        "family": family,
        "pretrained": model_json,
        "clean_rows": len(train.rows),
        "aug": aug_n,
        "epochs": epochs,
        "lr": lr,
        "before": before,
        "before_calibrated": before_cal,
        "after": evaluate(model, te, test.rows),
        "after_calibrated": evaluate(model, te, test.rows, affine=affine),
        "affine": [round(affine[0], 4), round(affine[1], 4)],
        "fit_seconds": round(fit_s, 1),
    }
    model.save(str(out / f"model_{family}_finetuned.json"))
    with open(out / f"finetune_{family}.json", "w") as f:
        json.dump(report, f, indent=1)
    print(
        f"{family}: before {before['accuracy']:.3f} "
        f"-> after {report['after']['accuracy']:.3f} "
        f"(calibrated {report['after_calibrated']['accuracy']:.3f})"
    )


if __name__ == "__main__":
    main()
