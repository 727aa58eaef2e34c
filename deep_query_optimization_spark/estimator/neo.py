"""Neo baseline — the reference's query-level Neo featurization
(``dqo/estimator/others/neo/v1``): the query encodes as one flat
vector of the join-graph adjacency's upper triangle (one bit per
unordered table pair, ``encoder.py:9-50``) concatenated with a
per-column predicate indicator, scored by a plain 4-layer MLP
(``model.py:22-35`` — 89→64→32→16→1 on the reference's schema; widths
here derive from the bound database). This is the reference's
simplification of Neo (Marcus et al., VLDB'19) to its query-level
encoding — no plan-level tree convolution, exactly as the reference
ships it. numpy + manual backprop + Adam, SmoothL1 on log2(runtime),
consistent with every other family in ``estimator/model.py``.
"""

from __future__ import annotations

import math

import numpy as np

from deep_query_optimization_spark.estimator.model import _CostModel


class NeoEncoder:
    """Schema-bound flat encoder: C(n_tables, 2) join bits + one
    predicate bit per column (reference ``neo/v1/encoder.py:44-51``)."""

    def __init__(self, db) -> None:
        self.tables = sorted(t.name for t in db.tables)
        self.table_idx = {t: i for i, t in enumerate(self.tables)}
        self.col_idx: dict[str, int] = {}
        for t in sorted(db.tables, key=lambda t: t.name):
            for c in t.columns:
                self.col_idx[f"{t.name}::{c.name}"] = len(self.col_idx)
        n = len(self.tables)
        self.n_join_bits = n * (n - 1) // 2
        self.width = self.n_join_bits + len(self.col_idx)

    def _pair_index(self, ta: str, tb: str) -> int:
        i, j = sorted((self.table_idx[ta], self.table_idx[tb]))
        n = len(self.tables)
        return i * n - i * (i + 1) // 2 + (j - i - 1)

    def encode(self, query) -> np.ndarray:
        x = np.zeros(self.width)
        for j in query.joins:
            ta, tb = j.left.table.name, j.right.table.name
            if ta != tb:
                x[self._pair_index(ta, tb)] = 1.0
        for c in query.conditions:
            key = f"{c.column.table.name}::{c.column.column}"
            if key in self.col_idx:
                x[self.n_join_bits + self.col_idx[key]] = 1.0
        return x


class NeoCostModel(_CostModel):
    """4-layer MLP regressor (reference ``neo/v1/model.py:22-35``)."""

    ENCODING = "neo"
    KIND = "neo"
    HYPER = ("in_dim",)
    LAYERS = (64, 32, 16)

    def __init__(self, in_dim: int, seed: int = 0) -> None:
        super().__init__()
        rng = np.random.default_rng(seed)
        self.in_dim = in_dim
        dims = (in_dim, *self.LAYERS, 1)
        for li in range(len(dims) - 1):
            self.P[f"W{li}"] = rng.normal(0, math.sqrt(2.0 / dims[li]), (dims[li], dims[li + 1]))
            self.P[f"b{li}"] = np.zeros(dims[li + 1])
        self.n_layers = len(dims) - 1

    @staticmethod
    def _inputs(x) -> tuple:
        return (x,)  # a Neo encoding is one flat vector

    def _forward(self, x: np.ndarray):
        acts = [x]
        pres = []
        h = x
        for li in range(self.n_layers):
            pre = h @ self.P[f"W{li}"] + self.P[f"b{li}"]
            pres.append(pre)
            h = np.maximum(pre, 0) if li < self.n_layers - 1 else pre
            acts.append(h)
        return float(h[0]), (acts, pres)

    def _backward(self, x, fwd, dpred, grads):
        acts, pres = fwd
        d = np.array([dpred])
        for li in range(self.n_layers - 1, -1, -1):
            if li < self.n_layers - 1:
                d = d * (pres[li] > 0)
            grads[f"W{li}"] += np.outer(acts[li], d)
            grads[f"b{li}"] += d
            d = self.P[f"W{li}"] @ d
