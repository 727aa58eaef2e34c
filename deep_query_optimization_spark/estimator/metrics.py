"""Estimator metrics — numpy reimplementation of the reference's
sklearn-based metrics (``dqo/estimator/metrics.py``):

- ``mcc_metrics`` (``:9-17``): bucketed accuracy, balanced accuracy,
  Cohen's kappa, macro recall, macro F1.
- ``mae`` (``:20-27``): mean |error| in log2 space.
- per-bucket two-sided error table (``:30-79``).

Target variable: ``clip(round(log2(runtime_s)), -3, 8)``
(``dqo/datasets/__init__.py:140``).
"""

from __future__ import annotations

import math

import numpy as np

BUCKET_LO, BUCKET_HI = -3, 8


def bucket_of_log2(log2_s: float, lo: int = BUCKET_LO, hi: int = BUCKET_HI) -> int:
    """The bucket of a log2-seconds value, such as a model's prediction:
    rounded half to even and clipped to ``lo..hi``."""
    return int(np.clip(round(float(log2_s)), lo, hi))


def bucketize(runtime_s: float, lo: int = BUCKET_LO, hi: int = BUCKET_HI) -> int:
    if runtime_s <= 0:
        return lo
    return bucket_of_log2(math.log2(runtime_s), lo, hi)


def confusion_matrix(y_true: np.ndarray, y_pred: np.ndarray, lo: int = BUCKET_LO, hi: int = BUCKET_HI) -> np.ndarray:
    k = hi - lo + 1
    cm = np.zeros((k, k), dtype=np.int64)
    for t, p in zip(y_true, y_pred):
        cm[int(t) - lo, int(p) - lo] += 1
    return cm


def mcc_metrics(y_true, y_pred) -> dict[str, float]:
    y_true = np.asarray(y_true)
    y_pred = np.asarray(y_pred)
    cm = confusion_matrix(y_true, y_pred)
    n = cm.sum() or 1
    acc = float(np.trace(cm) / n)

    recalls, precisions, f1s = [], [], []
    for i in range(cm.shape[0]):
        row_sum = cm[i].sum()
        if row_sum == 0:
            continue
        tp = cm[i, i]
        rec = tp / row_sum
        prec = tp / cm[:, i].sum() if cm[:, i].sum() else 0.0
        recalls.append(rec)
        precisions.append(prec)
        f1s.append(2 * prec * rec / (prec + rec) if prec + rec else 0.0)
    balanced_acc = float(np.mean(recalls)) if recalls else 0.0
    macro_f1 = float(np.mean(f1s)) if f1s else 0.0

    # Cohen's kappa
    pe = float((cm.sum(axis=0) * cm.sum(axis=1)).sum()) / (n * n)
    kappa = (acc - pe) / (1 - pe) if pe < 1 else 0.0
    return {
        "accuracy": acc,
        "balanced_accuracy": balanced_acc,
        "kappa": float(kappa),
        "macro_recall": balanced_acc,
        "macro_f1": macro_f1,
    }


def mae(y_true, y_pred) -> float:
    return float(np.mean(np.abs(np.asarray(y_true, dtype=float) - np.asarray(y_pred, dtype=float))))


def per_bucket_errors(y_true, y_pred) -> dict[int, dict[str, float]]:
    """Two-sided per-bucket error (reference ``metrics.py:30-79``):
    for each true bucket, the fraction predicted under/over."""
    y_true = np.asarray(y_true)
    y_pred = np.asarray(y_pred)
    out: dict[int, dict[str, float]] = {}
    for b in np.unique(y_true):
        mask = y_true == b
        n = int(mask.sum())
        out[int(b)] = {
            "n": n,
            "under": float((y_pred[mask] < b).sum() / n),
            "over": float((y_pred[mask] > b).sum() / n),
            "exact": float((y_pred[mask] == b).sum() / n),
        }
    return out


def maximize_binary_split(y_true, y_pred) -> tuple[int, float]:
    """Best fast-vs-slow boundary (reference ``evaluate.py:73-89``):
    the bucket threshold maximizing binary classification accuracy."""
    y_true = np.asarray(y_true)
    y_pred = np.asarray(y_pred)
    best_t, best_acc = BUCKET_LO, 0.0
    for t in range(BUCKET_LO, BUCKET_HI + 1):
        acc = float(((y_true >= t) == (y_pred >= t)).mean())
        if acc > best_acc:
            best_t, best_acc = t, acc
    return best_t, best_acc
