"""Evaluation reports for trained cost models.

Reference ``dqo/estimator/evaluate.py``: confusion matrices, per-bucket
error tables, the fast-vs-slow binary-split maximizer, and artifact
files whose names carry the headline metrics
(``val_results_<epoch>_acc_<a>_mae_<m>_f1_<f>.png``). We emit the same
content as plain text/JSON artifacts.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import numpy as np

from deep_query_optimization_spark.estimator.metrics import (
    BUCKET_LO,
    bucket_of_log2,
    bucketize,
    confusion_matrix,
    mae,
    maximize_binary_split,
    mcc_metrics,
    per_bucket_errors,
)


def score(model, plans, runtimes, affine: tuple[float, float] | None = None) -> dict:
    """Bucket metrics of ``model`` on encoded ``plans`` against their
    measured ``runtimes`` (s): MCC metrics plus MAE, in log2 buckets.
    Predictions, first mapped through ``affine`` = (a, b) when given,
    are bucketed by ``bucket_of_log2``. Empty input scores ``{}``."""
    if not runtimes:
        return {}
    preds = model.predict(plans)
    if affine is not None:
        a, b = affine
        preds = [a * p + b for p in preds]
    buckets = [bucketize(r) for r in runtimes]
    pred_buckets = [bucket_of_log2(p) for p in preds]
    m = mcc_metrics(buckets, pred_buckets)
    m["mae"] = mae(buckets, pred_buckets)
    return m


def fit_affine(model, plans, runtimes) -> tuple[float, float]:
    """Least-squares (a, b) mapping ``model``'s log2 predictions on
    ``plans`` onto the log2 of their measured ``runtimes`` — the
    calibration set's correction for a systematic timing shift."""
    preds = np.asarray(model.predict(plans), dtype=float)
    target = np.asarray([math.log2(max(r, 1e-4)) for r in runtimes], dtype=float)
    A = np.stack([preds, np.ones_like(preds)], axis=1)
    (a, b), *_ = np.linalg.lstsq(A, target, rcond=None)
    return float(a), float(b)


def confusion_text(y_true, y_pred) -> str:
    """Human-readable confusion matrix over the occupied bucket range."""
    cm = confusion_matrix(y_true, y_pred)
    occupied = [i for i in range(cm.shape[0]) if cm[i].sum() or cm[:, i].sum()]
    if not occupied:
        return "(empty)"
    lo, hi = min(occupied), max(occupied)
    labels = [str(b + BUCKET_LO) for b in range(lo, hi + 1)]
    width = max(4, max(len(s) for s in labels) + 1)
    header = "true\\pred" + "".join(f"{s:>{width}}" for s in labels)
    lines = [header]
    for i in range(lo, hi + 1):
        row = f"{labels[i - lo]:>9}" + "".join(f"{cm[i, j]:>{width}}" for j in range(lo, hi + 1))
        lines.append(row)
    return "\n".join(lines)


def evaluation_report(y_true, y_pred) -> dict:
    m = mcc_metrics(y_true, y_pred)
    m["mae"] = mae(y_true, y_pred)
    split_bucket, split_acc = maximize_binary_split(y_true, y_pred)
    return {
        "metrics": m,
        "per_bucket": per_bucket_errors(y_true, y_pred),
        "binary_split": {"bucket": split_bucket, "accuracy": split_acc},
        "n": int(len(np.asarray(y_true))),
    }


def save_results(out_dir: str, epoch: int, y_true, y_pred) -> Path:
    """Artifact writer in the reference's naming convention
    (``evaluate.py:243-299``): the filename carries acc/mae/f1."""
    rep = evaluation_report(y_true, y_pred)
    m = rep["metrics"]
    name = f"val_results_{epoch}_acc_{m['accuracy']:.5f}_mae_{m['mae']:.5f}_f1_{m['macro_f1']:.5f}.json"
    path = Path(out_dir) / name
    path.parent.mkdir(parents=True, exist_ok=True)
    rep["confusion"] = confusion_text(y_true, y_pred)
    with open(path, "w") as f:
        json.dump(rep, f, indent=1)
    return path


def compare_reports(reports: dict[str, dict]) -> str:
    """Side-by-side model comparison table (reference
    ``compare_versions:354``)."""
    cols = ["accuracy", "balanced_accuracy", "macro_f1", "kappa", "mae"]
    lines = ["model".ljust(24) + "".join(c.rjust(10) for c in ["acc", "bal", "f1", "kappa", "mae"])]
    for name, rep in reports.items():
        m = rep["metrics"] if "metrics" in rep else rep
        lines.append(name.ljust(24) + "".join(f"{m.get(c, float('nan')):>10.3f}" for c in cols))
    return "\n".join(lines)


# -- checkpoint-over-time comparison (reference evaluate.py:354) ---------


def fit_with_checkpoints(
    model,
    plans,
    runtimes,
    epochs: int,
    checkpoint_every: int,
    out_dir: str,
    lr: float = 2e-3,
) -> list[Path]:
    """Train saving periodic checkpoints — works for any model exposing
    ``train_step``/``save`` (every gradient-trained cost model)."""
    import math as _math

    targets = [_math.log2(max(t, 1e-3)) for t in runtimes]
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    paths: list[Path] = []
    for e in range(1, epochs + 1):
        model.train_step(plans, targets, lr)
        if e % checkpoint_every == 0 or e == epochs:
            p = out / f"ckpt_{e:05d}.json"
            model.save(str(p))
            paths.append(p)
    return paths


def load_checkpoint(path: str):
    """Load any saved cost model by the ``kind`` its blob is tagged
    with. Untagged blobs predate the tag: GRU checkpoints carry a
    ``params`` dict, MLP checkpoints per-type embedding matrices."""
    from deep_query_optimization_spark.estimator.model import FAMILIES
    from deep_query_optimization_spark.estimator.mscn import MSCNCostModel
    from deep_query_optimization_spark.estimator.neo import NeoCostModel

    with open(path) as f:
        blob = json.load(f)
    kind = blob.get("kind") or ("gru" if "params" in blob else "mlp")
    return {**FAMILIES, "mscn": MSCNCostModel, "neo": NeoCostModel}[kind].load(path)


def compare_versions(checkpoint_paths, plans, rows) -> dict[str, dict]:
    """Evaluate each saved checkpoint on one fixed validation set —
    the training-progress view the reference's ``compare_versions``
    (``evaluate.py:354``) produced across its model version zoo.
    ``rows`` are QueriesDataset rows [(sql, runtime, plan_json)];
    returns {checkpoint_name: evaluation_report}. Render with
    ``compare_reports``."""
    y_true = [bucketize(r) for _, r, _ in rows]
    out: dict[str, dict] = {}
    for p in checkpoint_paths:
        model = load_checkpoint(str(p))
        preds = model.predict(plans)
        y_pred = [bucket_of_log2(x) for x in preds]
        out[Path(p).stem] = evaluation_report(y_true, y_pred)
    return out
