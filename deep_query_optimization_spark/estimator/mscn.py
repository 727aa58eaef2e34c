"""MSCN baseline — multi-set convolutional network (Kipf et al.,
CIDR'19), the reference's ``dqo/estimator/others/kipf`` port.

The query decomposes into three SETS (reference
``others/kipf/encoder.py:43-117``): relations, join edges, and
predicates. Each set runs element-wise through its own 2-layer MLP,
masked-average-pools, and the three pooled vectors concatenate into a
2-layer head (reference ``others/kipf/model.py:8-49`` — SetConv).
Feature encodings follow the reference: binary-encoded table index,
binary-encoded index of the unordered table pair for joins, and
(binary column index, binary operator index) for predicates — the
reference's documented simplification of the paper's
(col, op, normalized value) triple. Deviations from the torch
original: numpy + manual backprop, and a LINEAR
output head trained on log2(runtime) with SmoothL1 — this repo
estimates runtime, not normalized cardinality, so the original's
sigmoid output is dropped.

Consumes the same Query IR the workload generator emits
(``relational/query.py``), so any workload.csv row encodes via
``engine.parse``.
"""

from __future__ import annotations

import math

import numpy as np

from deep_query_optimization_spark.estimator.model import _CostModel

OPS = ("<", "<=", ">", ">=", "!=", "=", "NOT LIKE", "BETWEEN", "LIKE", "IN", "IS NULL", "IS NOT NULL")


def _bits(value: int, width: int) -> np.ndarray:
    return np.array([(value >> (width - 1 - i)) & 1 for i in range(width)], dtype=float)


class MSCNEncoder:
    """Schema-bound set encoder (reference ``kipf/encoder.py``):
    feature widths derive from the database's table/column counts."""

    def __init__(self, db) -> None:
        self.tables = sorted(t.name for t in db.tables)
        self.table_idx = {t: i for i, t in enumerate(self.tables)}
        self.col_idx: dict[str, int] = {}
        for t in sorted(db.tables, key=lambda t: t.name):
            for c in t.columns:
                self.col_idx[f"{t.name}::{c.name}"] = len(self.col_idx)
        n_t, n_c = len(self.tables), len(self.col_idx)
        self.table_bits = max(1, math.ceil(math.log2(max(n_t, 2))))
        self.join_bits = max(1, math.ceil(math.log2(max(n_t * (n_t - 1) // 2, 2))))
        self.col_bits = max(1, math.ceil(math.log2(max(n_c, 2))))
        self.op_bits = max(1, math.ceil(math.log2(len(OPS))))

    @property
    def widths(self) -> tuple[int, int, int]:
        return (self.table_bits, self.join_bits, self.col_bits + self.op_bits)

    def _pair_index(self, ta: str, tb: str) -> int:
        i, j = sorted((self.table_idx[ta], self.table_idx[tb]))
        n = len(self.tables)
        # index of (i, j), i<j, in the upper triangle, row-major
        return i * n - i * (i + 1) // 2 + (j - i - 1)

    def encode(self, query) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Query IR → (T, J, P) set matrices. Empty sets become (0, w)
        matrices; the model pools them to zeros (the masked-average of
        an empty set)."""
        t_rows = [
            _bits(self.table_idx[r.name], self.table_bits)
            for r in sorted(query.relations)
        ]
        j_rows = [
            _bits(self._pair_index(j.left.table.name, j.right.table.name), self.join_bits)
            for j in sorted(query.joins)
        ]
        p_rows = []
        for c in sorted(query.conditions, key=lambda c: (c.column.key, c.op)):
            ci = self.col_idx.get(f"{c.column.table.name}::{c.column.column}", 0)
            oi = OPS.index(c.op) if c.op in OPS else OPS.index("=")
            p_rows.append(np.concatenate([_bits(ci, self.col_bits), _bits(oi, self.op_bits)]))
        tw, jw, pw = self.widths
        T = np.stack(t_rows) if t_rows else np.zeros((0, tw))
        J = np.stack(j_rows) if j_rows else np.zeros((0, jw))
        P = np.stack(p_rows) if p_rows else np.zeros((0, pw))
        return T, J, P


def _relu(x: np.ndarray) -> np.ndarray:
    return np.maximum(x, 0)


class MSCNCostModel(_CostModel):
    """SetConv in numpy: per-set 2-layer MLP → average pool → concat →
    2-layer head → log2(runtime). Adam + SmoothL1, grad-checked in
    tests/test_estimator.py."""

    ENCODING = "mscn"
    KIND = "mscn"
    HYPER = ("widths", "hidden")
    SETS = ("t", "j", "p")

    def __init__(self, widths: tuple[int, int, int], hidden: int = 32, seed: int = 0) -> None:
        super().__init__()
        rng = np.random.default_rng(seed)
        self.widths, self.hidden = tuple(widths), hidden
        for s, w in zip(self.SETS, widths):
            self.P[f"W1{s}"] = rng.normal(0, math.sqrt(2.0 / max(w, 1)), (w, hidden))
            self.P[f"b1{s}"] = np.zeros(hidden)
            self.P[f"W2{s}"] = rng.normal(0, math.sqrt(2.0 / hidden), (hidden, hidden))
            self.P[f"b2{s}"] = np.zeros(hidden)
        self.P["Wo1"] = rng.normal(0, math.sqrt(2.0 / (3 * hidden)), (3 * hidden, hidden))
        self.P["bo1"] = np.zeros(hidden)
        self.P["Wo2"] = rng.normal(0, math.sqrt(2.0 / hidden), (hidden, 1))
        self.P["bo2"] = np.zeros(1)

    def _set_forward(self, X: np.ndarray, s: str):
        if len(X) == 0:
            return np.zeros(self.hidden), None
        h1_pre = X @ self.P[f"W1{s}"] + self.P[f"b1{s}"]
        h1 = _relu(h1_pre)
        h2_pre = h1 @ self.P[f"W2{s}"] + self.P[f"b2{s}"]
        h2 = _relu(h2_pre)
        return h2.mean(axis=0), (X, h1_pre, h1, h2_pre)

    def _forward(self, T, J, P_):
        pooled, caches = [], {}
        for s, X in zip(self.SETS, (T, J, P_)):
            pool, cache = self._set_forward(X, s)
            pooled.append(pool)
            caches[s] = (X, cache)
        hc = np.concatenate(pooled)
        ho_pre = hc @ self.P["Wo1"] + self.P["bo1"]
        ho = _relu(ho_pre)
        pred = float((ho @ self.P["Wo2"] + self.P["bo2"])[0])
        return pred, (caches, hc, ho_pre, ho)

    def _backward(self, T, J, P_, fwd, d, grads):
        caches, hc, ho_pre, ho = fwd
        grads["Wo2"] += np.outer(ho, d)
        grads["bo2"] += np.array([d])
        dho = (self.P["Wo2"][:, 0] * d) * (ho_pre > 0)
        grads["Wo1"] += np.outer(hc, dho)
        grads["bo1"] += dho
        dhc = self.P["Wo1"] @ dho
        for si, s in enumerate(self.SETS):
            dpool = dhc[si * self.hidden : (si + 1) * self.hidden]
            X, cache = caches[s]
            if cache is None:
                continue
            _, h1_pre, h1, h2_pre = cache
            n = len(X)
            dh2 = (np.tile(dpool, (n, 1)) / n) * (h2_pre > 0)
            grads[f"W2{s}"] += h1.T @ dh2
            grads[f"b2{s}"] += dh2.sum(axis=0)
            dh1 = (dh2 @ self.P[f"W2{s}"].T) * (h1_pre > 0)
            grads[f"W1{s}"] += X.T @ dh1
            grads[f"b1{s}"] += dh1.sum(axis=0)
