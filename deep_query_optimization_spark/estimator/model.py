"""Cost models.

Reference architectures (``dqo/estimator/*``): per-node-type MLP
embeddings feeding GRUs over four tree traversals (gerelt), TreeLSTM,
CNN, flat-GRU (greq), and MLP baselines — all predicting log2(runtime).

Every family here trains in numpy, with hand-written backprop, Adam
and the reference's SmoothL1 loss (``v20/model.py:124-131``):

- ``MLPCostModel``: per-node-type embeddings, mean-pooled over the
  plan's nodes, into a 2-layer head;
- ``GRUCostModel``: a bidirectional GRU over the preorder node sequence;
- ``Gerelt4CostModel``: bidirectional GRUs over four tree traversals;
- ``TreeLSTMCostModel``: a child-sum TreeLSTM over the plan tree;
- ``CNNCostModel``: 1-D convolutions over the node sequence;
- ``MSCNCostModel`` and ``NeoCostModel`` (``mscn.py``, ``neo.py``):
  query-level set and vector encodings;
- ``LinearCostModel``: the closed-form least-squares floor.

``_CostModel`` is the shared training core: the parameter dict ``P``,
Adam, the clipped SmoothL1 train step, ``fit``, ``predict`` and JSON
``save``/``load``. A family adds only its layers, ``_forward`` and
``_backward``. ``FAMILIES`` maps the names of the five families that
read ``PlanEncoder`` output to their classes, and each class's
``ENCODING`` names the encoding it reads.

Inference is also exposed as a pandas UDF (``predict_udf``) so a Spark
job can score pre-encoded plans vectorized over Arrow batches.
"""

from __future__ import annotations

import json
import math

import numpy as np

from deep_query_optimization_spark.plans.encoder import NODE_TYPES


def _fit_loop(model, plans, runtimes, epochs, lr, log_every, batch_size, seed) -> list[float]:
    """Shared training loop: full-batch when ``batch_size`` is None
    (the original behavior), else seeded-shuffle mini-batches — many
    more Adam updates per pass, which is what makes convergence
    practical on multi-thousand-row corpora (one full-batch step per
    epoch needs hundreds of epochs; 64-row batches reach the same loss
    in a tenth of the wall-clock)."""
    import random as _random

    targets = [math.log2(max(t, 1e-3)) for t in runtimes]
    losses: list[float] = []
    rng = _random.Random(seed)
    idx = list(range(len(plans)))
    for e in range(epochs):
        if batch_size and batch_size < len(idx):
            rng.shuffle(idx)
            total, n_batches = 0.0, 0
            for s in range(0, len(idx), batch_size):
                b = idx[s : s + batch_size]
                total += model.train_step([plans[i] for i in b], [targets[i] for i in b], lr)
                n_batches += 1
            losses.append(total / max(n_batches, 1))
        else:
            losses.append(model.train_step(plans, targets, lr))
        if log_every and (e + 1) % log_every == 0:
            print(f"epoch {e + 1}: loss {losses[-1]:.4f}", flush=True)
    return losses


def smooth_l1(err: np.ndarray, beta: float = 1.0) -> tuple[np.ndarray, np.ndarray]:
    """(loss, dloss/derr) — reference uses SmoothL1 (v20/model.py:124)."""
    a = np.abs(err)
    loss = np.where(a < beta, 0.5 * err**2 / beta, a - 0.5 * beta)
    grad = np.where(a < beta, err / beta, np.sign(err))
    return loss, grad


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(x, -30, 30)))


def _roots(n: int, children: list[list[int]]) -> list[int]:
    """Nodes no other node lists as a child: spliced non-vocabulary
    nodes (union/limit/sort) can leave a forest."""
    is_child = [False] * n
    for kids in children:
        for k in kids:
            is_child[k] = True
    return [j for j in range(n) if not is_child[j]]


class _CostModel:
    """The shared numpy training core. A subclass fills ``P`` in its
    ``__init__`` and defines ``_forward(*enc) -> (pred, cache)`` and
    ``_backward(*enc, cache, dpred, grads)``, which adds one sample's
    gradients into ``grads``."""

    # the encoding the model reads: "plan" is PlanEncoder.encode_plan's
    # (ids, mat), "tree" is encode_tree's (ids, mat, children); MSCN and
    # Neo read query-level encodings of their own ("mscn", "neo")
    ENCODING = "plan"
    KIND = ""  # the family name saved blobs are tagged with
    HYPER: tuple[str, ...] = ("in_dim", "embed_dim", "hidden")  # __init__ arguments a blob keeps

    def __init__(self) -> None:
        self.P: dict[str, np.ndarray] = {}
        self._adam_state: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self._adam_t = 0

    # -- layers of the node-sequence families --------------------------

    def _init_embed(self, rng, in_dim: int, embed_dim: int) -> None:
        # per-node-type embedding matrices (reference v20/model.py:17-60)
        for t in range(len(NODE_TYPES)):
            self.P[f"We{t}"] = rng.normal(0, math.sqrt(2.0 / in_dim), (in_dim, embed_dim))
            self.P[f"be{t}"] = np.zeros(embed_dim)

    def _init_head(self, rng, n_in: int, hidden: int) -> None:
        self.P["W1"] = rng.normal(0, math.sqrt(2.0 / n_in), (n_in, hidden))
        self.P["b1"] = np.zeros(hidden)
        self.P["W2"] = rng.normal(0, math.sqrt(2.0 / hidden), (hidden, 1))
        self.P["b2"] = np.zeros(1)

    def _embed(self, ids, mat):
        pre = [mat[i] @ self.P[f"We{int(t)}"] + self.P[f"be{int(t)}"] for i, t in enumerate(ids)]
        return pre, [np.maximum(e, 0) for e in pre]

    def _embed_back(self, ids, mat, pre, dxs, grads) -> None:
        for i, t in enumerate(ids):
            de = dxs[i] * (pre[i] > 0)
            grads[f"We{int(t)}"] += np.outer(mat[i], de)
            grads[f"be{int(t)}"] += de

    def _head(self, feat):
        """ReLU layer then the scalar output: (pred, h1_pre, h1)."""
        h1_pre = feat @ self.P["W1"] + self.P["b1"]
        h1 = np.maximum(h1_pre, 0)
        return float((h1 @ self.P["W2"] + self.P["b2"])[0]), h1_pre, h1

    def _head_back(self, feat, h1_pre, h1, dpred, grads) -> np.ndarray:
        """Adds the head's gradients; returns dloss/dfeat."""
        grads["W2"] += np.outer(h1, dpred)
        grads["b2"] += np.array([dpred])
        dh1 = (self.P["W2"][:, 0] * dpred) * (h1_pre > 0)
        grads["W1"] += np.outer(feat, dh1)
        grads["b1"] += dh1
        return self.P["W1"] @ dh1

    # -- inference -----------------------------------------------------

    @staticmethod
    def _inputs(enc) -> tuple:
        """One encoding as ``_forward``'s positional arguments."""
        return enc

    def forward(self, *enc) -> float:
        return self._forward(*enc)[0]

    def predict(self, plans) -> np.ndarray:
        return np.array([self.forward(*self._inputs(p)) for p in plans])

    # -- training ------------------------------------------------------

    def _adam(self, name: str, grad: np.ndarray, lr: float) -> None:
        beta1, beta2, eps = 0.9, 0.999, 1e-8
        p = self.P[name]
        m, v = self._adam_state.get(name, (np.zeros_like(p), np.zeros_like(p)))
        m = beta1 * m + (1 - beta1) * grad
        v = beta2 * v + (1 - beta2) * grad**2
        self._adam_state[name] = (m, v)
        p -= lr * (m / (1 - beta1**self._adam_t)) / (np.sqrt(v / (1 - beta2**self._adam_t)) + eps)

    def train_step(self, plans, targets, lr: float = 1e-3, clip: float = 5.0) -> float:
        """One Adam step on the mean SmoothL1 loss, the gradient's
        global norm clipped to ``clip``; returns the mean loss."""
        self._adam_t += 1
        grads = {k: np.zeros_like(v) for k, v in self.P.items()}
        total = 0.0
        n_samples = max(len(plans), 1)
        for enc, y in zip(plans, targets):
            args = self._inputs(enc)
            pred, fwd = self._forward(*args)
            loss, dpred = smooth_l1(np.array([pred - y]))
            total += float(loss[0])
            self._backward(*args, fwd, float(dpred[0]) / n_samples, grads)
        gnorm = math.sqrt(sum(float((g**2).sum()) for g in grads.values()))
        scale = min(1.0, clip / max(gnorm, 1e-12))
        for name, g in grads.items():
            self._adam(name, g * scale, lr)
        return total / n_samples

    def fit(
        self,
        plans,
        runtimes,
        epochs: int = 300,
        lr: float = 2e-3,
        log_every: int = 0,
        batch_size: int | None = None,
        seed: int = 0,
    ) -> list[float]:
        return _fit_loop(self, plans, runtimes, epochs, lr, log_every, batch_size, seed)

    # -- persistence ---------------------------------------------------

    def save(self, path: str) -> None:
        blob = {"kind": self.KIND, **{k: getattr(self, k) for k in self.HYPER}}
        blob["params"] = {k: v.tolist() for k, v in self.P.items()}
        with open(path, "w") as f:
            json.dump(blob, f)

    @classmethod
    def load(cls, path: str):
        with open(path) as f:
            blob = json.load(f)
        m = cls(**{k: blob[k] for k in cls.HYPER})
        m.P = {k: np.array(v) for k, v in cls._params(blob).items()}
        return m

    @staticmethod
    def _params(blob: dict) -> dict:
        return blob["params"]


class MLPCostModel(_CostModel):
    """mean-pooled node embeddings → hidden → log2 runtime. Its Adam
    step is sparse and unclipped: only the node types present in a
    batch step their Adam state."""

    KIND = "mlp"
    HYPER = ("in_dim",)  # layer widths are read off the saved params

    def __init__(self, in_dim: int, embed_dim: int = 48, hidden: int = 64, seed: int = 0) -> None:
        super().__init__()
        rng = np.random.default_rng(seed)
        self.in_dim = in_dim
        self._init_embed(rng, in_dim, embed_dim)
        self._init_head(rng, embed_dim, hidden)

    def _forward(self, ids, mat):
        pre, embs = self._embed(ids, mat)
        pooled = np.mean(embs, axis=0) if embs else np.zeros(self.P["W1"].shape[0])
        pred, h_pre, h = self._head(pooled)
        return pred, (pre, embs, pooled, h_pre, h)

    def train_step(self, plans, targets, lr: float = 1e-3) -> float:
        """One gradient step over ``plans``; returns mean loss."""
        self._adam_t += 1
        grads: dict[str, np.ndarray] = {}

        def acc(name: str, g: np.ndarray) -> None:
            grads[name] = grads.get(name, 0) + g

        total_loss = 0.0
        n = len(plans)
        for (ids, mat), y in zip(plans, targets):
            pred, (embs_pre, embs, pooled, h_pre, h) = self._forward(ids, mat)
            loss, dred = smooth_l1(np.array([pred - y]))
            total_loss += float(loss[0])
            d = float(dred[0]) / n
            acc("W2", np.outer(h, d))
            acc("b2", np.array([d]))
            dh = (self.P["W2"][:, 0] * d) * (h_pre > 0)
            acc("W1", np.outer(pooled, dh))
            acc("b1", dh)
            dpool = self.P["W1"] @ dh
            if embs:
                dembs = dpool / len(embs)
                for i, t in enumerate(ids):
                    de = dembs * (embs_pre[i] > 0)
                    acc(f"We{int(t)}", np.outer(mat[i], de))
                    acc(f"be{int(t)}", de)
        for name, g in grads.items():
            self._adam(name, g, lr)
        return total_loss / max(n, 1)

    def fit(
        self,
        plans,
        runtimes,
        epochs: int = 200,
        lr: float = 1e-3,
        log_every: int = 0,
        batch_size: int | None = None,
        seed: int = 0,
    ) -> list[float]:
        return _fit_loop(self, plans, runtimes, epochs, lr, log_every, batch_size, seed)

    @staticmethod
    def _params(blob: dict) -> dict:
        if "params" in blob:
            return blob["params"]
        # older blobs keep the embeddings in two per-type dicts
        params = {f"We{t}": w for t, w in blob["W_embed"].items()}
        params.update({f"be{t}": b for t, b in blob["b_embed"].items()})
        params.update({k: blob[k] for k in ("W1", "b1", "W2", "b2")})
        return params


class LinearCostModel:
    """Closed-form least-squares baseline over coarse plan-shape
    features (n_nodes, per-type node counts, mean feature vector) —
    the sanity baseline the learned models must beat (the reference
    benchmarked against MSCN/Neo reimplementations; this is the
    engine-agnostic floor)."""

    ENCODING = "plan"

    def __init__(self) -> None:
        self.w: np.ndarray | None = None

    @staticmethod
    def _features(ids: np.ndarray, mat: np.ndarray) -> np.ndarray:
        counts = np.bincount(ids, minlength=len(NODE_TYPES)).astype(float) if len(ids) else np.zeros(len(NODE_TYPES))
        pooled = mat.mean(axis=0) if len(ids) else np.zeros(mat.shape[1] if mat.ndim == 2 else 0)
        return np.concatenate([[1.0, float(len(ids))], counts, pooled])

    def fit(self, plans, runtimes) -> None:
        X = np.stack([self._features(i, m) for i, m in plans])
        y = np.array([math.log2(max(t, 1e-3)) for t in runtimes])
        self.w, *_ = np.linalg.lstsq(X, y, rcond=None)

    def predict(self, plans) -> np.ndarray:
        X = np.stack([self._features(i, m) for i, m in plans])
        return X @ self.w


class GRUCostModel(_CostModel):
    """Sequence model over the plan's node-vector traversal — the
    reference's headline architecture family (gerelt: per-node-type
    embeddings feeding GRUs over tree traversals,
    ``dqo/estimator/gerelt/v20/model.py:17-122``), with manual BPTT.

    Architecture: per-node-type embedding (ReLU) → two GRUs read the
    preorder sequence forward and reversed (the cheap stand-in for
    gerelt's four traversal encoders; the encoder's emission is
    preorder, ``plans/encoder.py:239-244``) → concat final hidden
    states → ReLU head → scalar log2(runtime). SmoothL1 loss, same as
    the reference (``v20/model.py:124-131``)."""

    KIND = "gru"
    DIRS = ("f", "b")

    def __init__(self, in_dim: int, embed_dim: int = 32, hidden: int = 32, seed: int = 0) -> None:
        super().__init__()
        rng = np.random.default_rng(seed)
        self.in_dim, self.embed_dim, self.hidden = in_dim, embed_dim, hidden
        self._init_embed(rng, in_dim, embed_dim)
        for d in self.DIRS:
            for g in ("z", "r", "n"):
                self.P[f"W{g}{d}"] = rng.normal(0, math.sqrt(1.0 / embed_dim), (embed_dim, hidden))
                self.P[f"U{g}{d}"] = rng.normal(0, math.sqrt(1.0 / hidden), (hidden, hidden))
                self.P[f"b{g}{d}"] = np.zeros(hidden)
        self._init_head(rng, len(self.DIRS) * hidden, hidden)

    def _gru_run(self, xs, d: str):
        """Forward one direction; returns per-step caches for BPTT."""
        P = self.P
        h = np.zeros(self.hidden)
        caches = []
        for x in xs:
            z = _sigmoid(x @ P[f"Wz{d}"] + h @ P[f"Uz{d}"] + P[f"bz{d}"])
            r = _sigmoid(x @ P[f"Wr{d}"] + h @ P[f"Ur{d}"] + P[f"br{d}"])
            n = np.tanh(x @ P[f"Wn{d}"] + (r * h) @ P[f"Un{d}"] + P[f"bn{d}"])
            h_new = (1 - z) * n + z * h
            caches.append((x, h, z, r, n))
            h = h_new
        return h, caches

    def _gru_back(self, dh, caches, d: str, grads, dxs):
        P = self.P
        for t in range(len(caches) - 1, -1, -1):
            x, h_prev, z, r, n = caches[t]
            dz = dh * (h_prev - n)
            dn = dh * (1 - z)
            dh_prev = dh * z
            dn_pre = dn * (1 - n**2)
            grads[f"Wn{d}"] += np.outer(x, dn_pre)
            grads[f"Un{d}"] += np.outer(r * h_prev, dn_pre)
            grads[f"bn{d}"] += dn_pre
            dx = P[f"Wn{d}"] @ dn_pre
            drh = P[f"Un{d}"] @ dn_pre
            dr = drh * h_prev
            dh_prev = dh_prev + drh * r
            dr_pre = dr * r * (1 - r)
            grads[f"Wr{d}"] += np.outer(x, dr_pre)
            grads[f"Ur{d}"] += np.outer(h_prev, dr_pre)
            grads[f"br{d}"] += dr_pre
            dx = dx + P[f"Wr{d}"] @ dr_pre
            dh_prev = dh_prev + P[f"Ur{d}"] @ dr_pre
            dz_pre = dz * z * (1 - z)
            grads[f"Wz{d}"] += np.outer(x, dz_pre)
            grads[f"Uz{d}"] += np.outer(h_prev, dz_pre)
            grads[f"bz{d}"] += dz_pre
            dx = dx + P[f"Wz{d}"] @ dz_pre
            dh_prev = dh_prev + P[f"Uz{d}"] @ dz_pre
            dxs[t] += dx
            dh = dh_prev

    def _forward(self, ids, mat):
        pre, xs = self._embed(ids, mat)
        hf, cf = self._gru_run(xs, "f")
        hb, cb = self._gru_run(xs[::-1], "b")
        hc = np.concatenate([hf, hb])
        pred, h1_pre, h1 = self._head(hc)
        return pred, (pre, xs, cf, cb, hc, h1_pre, h1)

    def _backward(self, ids, mat, fwd, dpred, grads):
        pre, xs, cf, cb, hc, h1_pre, h1 = fwd
        dhc = self._head_back(hc, h1_pre, h1, dpred, grads)
        dxs = [np.zeros(self.embed_dim) for _ in xs]
        self._gru_back(dhc[: self.hidden], cf, "f", grads, dxs)
        dxs_rev = [np.zeros(self.embed_dim) for _ in xs]
        self._gru_back(dhc[self.hidden :], cb, "b", grads, dxs_rev)
        for t_rev, dx in enumerate(dxs_rev):
            dxs[len(xs) - 1 - t_rev] += dx
        self._embed_back(ids, mat, pre, dxs, grads)


class Gerelt4CostModel(GRUCostModel):
    """The EXACT gerelt traversal architecture (reference
    ``dqo/estimator/gerelt/v20/model.py:62-122``): four bidirectional
    GRUs read the plan tree's preorder / inorder / postorder / BFS
    linearizations, each traversal's final hidden state is tanh'd, the
    eight stream states concatenate into the regression head. Where
    ``GRUCostModel`` is the bidirectional-preorder stand-in, this is
    the faithful four-traversal rendition (manual BPTT; head sizes
    follow this repo's 32-unit convention rather than the reference's
    125/128/48/16).

    Consumes ``PlanEncoder.encode_tree`` output (ids, mat, children)
    with preorder indexing, same as ``TreeLSTMCostModel``. Inorder
    follows the reference ``Tree.inorder`` semantics
    (``dqo/tree/__init__.py:144``): descend first children; after
    yielding a node, continue into its second child only when it has
    exactly two — non-binary nodes degrade to preorder-ish order,
    exactly as the reference does (nodes past the second child are
    silently absent from the inorder sequence, reference-faithful).
    Postorder is exact for the ≤2-ary trees Catalyst plans actually
    produce; on >2-ary nodes it diverges deliberately — the
    reference's binary-specialized iterative postorder skips children
    beyond the second, ours visits ALL children (iteratively, no
    recursion limit on deep plans) so no node drops out of the
    sequence. Spliced plans can leave a forest; roots traverse in
    index order."""

    ENCODING = "tree"
    KIND = "gerelt4"
    STREAMS = ("pre", "ino", "post", "bfs")
    DIRS = tuple(f"{s}_{d}" for s in ("pre", "ino", "post", "bfs") for d in ("f", "b"))

    # -- traversals ----------------------------------------------------

    @staticmethod
    def _orders(n: int, children: list[list[int]]) -> dict[str, list[int]]:
        roots = _roots(n, children)

        post: list[int] = []

        def _post(root: int) -> None:
            # iterative all-children postorder (see class docstring for
            # the n-ary divergence from the reference's binary version)
            stack: list[tuple[int, bool]] = [(root, False)]
            while stack:
                j, expanded = stack.pop()
                if expanded:
                    post.append(j)
                else:
                    stack.append((j, True))
                    for k in reversed(children[j]):
                        stack.append((k, False))

        ino: list[int] = []

        def _ino(root: int) -> None:
            cur: int | None = root
            stack: list[int] = []
            while cur is not None or stack:
                if cur is not None:
                    stack.append(cur)
                    cur = children[cur][0] if children[cur] else None
                else:
                    cur = stack.pop()
                    ino.append(cur)
                    cur = children[cur][1] if len(children[cur]) == 2 else None

        bfs: list[int] = []
        queue = list(roots)
        while queue:
            j = queue.pop(0)
            bfs.append(j)
            queue.extend(children[j])

        for r in roots:
            _post(r)
            _ino(r)
        return {"pre": list(range(n)), "ino": ino, "post": post, "bfs": bfs}

    # -- forward / backward --------------------------------------------

    def _forward(self, ids, mat, children):
        pre_act, xs = self._embed(ids, mat)
        orders = self._orders(len(xs), children)
        caches: dict[str, tuple] = {}
        outs = []
        for s in self.STREAMS:
            xs_s = [xs[i] for i in orders[s]]
            hf, cf = self._gru_run(xs_s, f"{s}_f")
            hb, cb = self._gru_run(xs_s[::-1], f"{s}_b")
            caches[s] = (cf, cb, hf, hb)
            outs.append(np.tanh(hf))
            outs.append(np.tanh(hb))
        hc = np.concatenate(outs)
        pred, h1_pre, h1 = self._head(hc)
        return pred, (pre_act, xs, orders, caches, hc, h1_pre, h1)

    def _backward(self, ids, mat, children, fwd, dpred, grads):
        pre_act, xs, orders, caches, hc, h1_pre, h1 = fwd
        dhc = self._head_back(hc, h1_pre, h1, dpred, grads)
        dxs = [np.zeros(self.embed_dim) for _ in xs]
        for si, s in enumerate(self.STREAMS):
            cf, cb, hf, hb = caches[s]
            order = orders[s]
            df_ = dhc[(2 * si) * self.hidden : (2 * si + 1) * self.hidden] * (1 - np.tanh(hf) ** 2)
            db_ = dhc[(2 * si + 1) * self.hidden : (2 * si + 2) * self.hidden] * (1 - np.tanh(hb) ** 2)
            dxs_s = [np.zeros(self.embed_dim) for _ in order]
            self._gru_back(df_, cf, f"{s}_f", grads, dxs_s)
            dxs_s_rev = [np.zeros(self.embed_dim) for _ in order]
            self._gru_back(db_, cb, f"{s}_b", grads, dxs_s_rev)
            for t_rev, dx in enumerate(dxs_s_rev):
                dxs_s[len(order) - 1 - t_rev] += dx
            for pos, node_i in enumerate(order):
                dxs[node_i] += dxs_s[pos]
        self._embed_back(ids, mat, pre_act, dxs, grads)


class TreeLSTMCostModel(_CostModel):
    """Child-sum TreeLSTM over the PLAN TREE (reference
    ``dqo/estimator/treelstm/v1/childsum.py:7`` — Tai et al. 2015),
    with manual structural backprop. Where the GRU reads a
    linearized traversal, this recurses the actual operator tree:
    per-node-type embedded inputs, child-hidden sums for the i/o/u
    gates, one forget gate PER CHILD, root hidden state → ReLU head →
    log2(runtime).

    Consumes ``PlanEncoder.encode_tree`` output: (ids, mat, children)
    with preorder indexing (child index > parent index, so iterating
    indices in reverse is bottom-up and forward order is top-down)."""

    ENCODING = "tree"
    KIND = "treelstm"
    GATES = ("i", "o", "u", "f")

    def __init__(self, in_dim: int, embed_dim: int = 32, hidden: int = 32, seed: int = 0) -> None:
        super().__init__()
        rng = np.random.default_rng(seed)
        self.in_dim, self.embed_dim, self.hidden = in_dim, embed_dim, hidden
        self._init_embed(rng, in_dim, embed_dim)
        for g in self.GATES:
            self.P[f"W{g}"] = rng.normal(0, math.sqrt(1.0 / embed_dim), (embed_dim, hidden))
            self.P[f"U{g}"] = rng.normal(0, math.sqrt(1.0 / hidden), (hidden, hidden))
            self.P[f"b{g}"] = np.zeros(hidden)
        # forget bias 1.0: standard LSTM trick so child state flows early
        self.P["bf"] += 1.0
        self._init_head(rng, hidden, hidden)

    def _forward(self, ids, mat, children):
        P = self.P
        pre, xs = self._embed(ids, mat)
        n = len(xs)
        h = [None] * n
        c = [None] * n
        cache = [None] * n
        for j in range(n - 1, -1, -1):  # children first (preorder indices)
            x = xs[j]
            kids = children[j]
            hsum = np.sum([h[k] for k in kids], axis=0) if kids else np.zeros(self.hidden)
            gi = _sigmoid(x @ P["Wi"] + hsum @ P["Ui"] + P["bi"])
            go = _sigmoid(x @ P["Wo"] + hsum @ P["Uo"] + P["bo"])
            gu = np.tanh(x @ P["Wu"] + hsum @ P["Uu"] + P["bu"])
            fks = [_sigmoid(x @ P["Wf"] + h[k] @ P["Uf"] + P["bf"]) for k in kids]
            cj = gi * gu + (np.sum([f * c[k] for f, k in zip(fks, kids)], axis=0) if kids else 0.0)
            hj = go * np.tanh(cj)
            h[j], c[j] = hj, cj
            cache[j] = (x, hsum, gi, go, gu, fks, cj)
        # a forest pools its root hiddens
        roots = _roots(n, children)
        h_root = np.mean([h[j] for j in roots], axis=0)
        predv, h1_pre, h1 = self._head(h_root)
        return predv, (pre, xs, h, c, cache, h1_pre, h1, roots, h_root)

    def _backward(self, ids, mat, children, fwd, dpred, grads):
        P = self.P
        pre, xs, h, c, cache, h1_pre, h1, roots, h_root = fwd
        n = len(xs)
        dh = [np.zeros(self.hidden) for _ in range(n)]
        dc = [np.zeros(self.hidden) for _ in range(n)]
        dh_root = self._head_back(h_root, h1_pre, h1, dpred, grads) / len(roots)
        for j in roots:
            dh[j] = dh_root.copy()
        dxs = [np.zeros(self.embed_dim) for _ in range(n)]
        for j in range(n):  # parents first: children receive grads later
            x, hsum, gi, go, gu, fks, cj = cache[j]
            kids = children[j]
            tc = np.tanh(cj)
            dgo = dh[j] * tc
            dcj = dc[j] + dh[j] * go * (1 - tc**2)
            dgi = dcj * gu
            dgu = dcj * gi
            di_pre = dgi * gi * (1 - gi)
            do_pre = dgo * go * (1 - go)
            du_pre = dgu * (1 - gu**2)
            grads["Wi"] += np.outer(x, di_pre)
            grads["Wo"] += np.outer(x, do_pre)
            grads["Wu"] += np.outer(x, du_pre)
            grads["Ui"] += np.outer(hsum, di_pre)
            grads["Uo"] += np.outer(hsum, do_pre)
            grads["Uu"] += np.outer(hsum, du_pre)
            grads["bi"] += di_pre
            grads["bo"] += do_pre
            grads["bu"] += du_pre
            dx = P["Wi"] @ di_pre + P["Wo"] @ do_pre + P["Wu"] @ du_pre
            dhsum = P["Ui"] @ di_pre + P["Uo"] @ do_pre + P["Uu"] @ du_pre
            for f, k in zip(fks, kids):
                dfk = dcj * c[k]
                df_pre = dfk * f * (1 - f)
                grads["Wf"] += np.outer(x, df_pre)
                grads["Uf"] += np.outer(h[k], df_pre)
                grads["bf"] += df_pre
                dx = dx + P["Wf"] @ df_pre
                dh[k] += dhsum + P["Uf"] @ df_pre
                dc[k] += dcj * f
            dxs[j] += dx
        self._embed_back(ids, mat, pre, dxs, grads)


class CNNCostModel(_CostModel):
    """1-D convolutional cost model over the plan's node-vector
    sequence (reference RelCNN, ``dqo/estimator/relcnn/v1/model.py:
    51-76``), with manual backprop. Per-node-type embeddings
    → parallel conv banks of widths ``widths`` (ReLU) → max-pool over
    time → ReLU head → log2(runtime). The convolutional view captures
    local operator motifs (scan→filter→join windows) that pooled MLPs
    lose; sequences shorter than a filter width are zero-padded."""

    KIND = "cnn"
    HYPER = ("in_dim", "embed_dim", "n_filters", "widths", "hidden")

    def __init__(
        self,
        in_dim: int,
        embed_dim: int = 32,
        n_filters: int = 16,
        widths: tuple[int, ...] = (2, 3),
        hidden: int = 32,
        seed: int = 0,
    ) -> None:
        super().__init__()
        rng = np.random.default_rng(seed)
        self.in_dim, self.embed_dim = in_dim, embed_dim
        self.n_filters, self.widths, self.hidden = n_filters, tuple(widths), hidden
        self._init_embed(rng, in_dim, embed_dim)
        for w in self.widths:
            self.P[f"K{w}"] = rng.normal(0, math.sqrt(2.0 / (w * embed_dim)), (w * embed_dim, n_filters))
            self.P[f"kb{w}"] = np.zeros(n_filters)
        self._init_head(rng, n_filters * len(self.widths), hidden)

    def _forward(self, ids, mat):
        pre, xs = self._embed(ids, mat)
        max_w = max(self.widths)
        X = np.stack(xs) if xs else np.zeros((0, self.embed_dim))
        if X.shape[0] < max_w:  # zero-pad short plans
            X = np.vstack([X, np.zeros((max_w - X.shape[0], self.embed_dim))])
        pooled_parts, conv_caches = [], {}
        for w in self.widths:
            n_pos = X.shape[0] - w + 1
            # windows: [n_pos, w*embed] — each row is a flattened window
            win = np.stack([X[t : t + w].ravel() for t in range(n_pos)])
            z_pre = win @ self.P[f"K{w}"] + self.P[f"kb{w}"]
            z = np.maximum(z_pre, 0)
            arg = z.argmax(axis=0)
            pooled = z[arg, np.arange(self.n_filters)]
            pooled_parts.append(pooled)
            conv_caches[w] = (win, z_pre, arg)
        feat = np.concatenate(pooled_parts)
        predv, h1_pre, h1 = self._head(feat)
        return predv, (pre, xs, X, conv_caches, feat, h1_pre, h1)

    def _backward(self, ids, mat, fwd, dpred, grads):
        P = self.P
        pre, xs, X, conv_caches, feat, h1_pre, h1 = fwd
        dfeat = self._head_back(feat, h1_pre, h1, dpred, grads)
        dX = np.zeros_like(X)
        for wi, w in enumerate(self.widths):
            win, z_pre, arg = conv_caches[w]
            dpool = dfeat[wi * self.n_filters : (wi + 1) * self.n_filters]
            # route each filter's gradient through its argmax window
            for f in range(self.n_filters):
                t = int(arg[f])
                if z_pre[t, f] <= 0:
                    continue
                g = dpool[f]
                grads[f"K{w}"][:, f] += win[t] * g
                grads[f"kb{w}"][f] += g
                dX[t : t + w] += (P[f"K{w}"][:, f] * g).reshape(w, self.embed_dim)
        self._embed_back(ids, mat, pre, dX, grads)


# the families served from PlanEncoder output, by the name their
# checkpoints are saved under (``model_<family>.json``)
FAMILIES: dict[str, type[_CostModel]] = {
    "mlp": MLPCostModel,
    "gru": GRUCostModel,
    "cnn": CNNCostModel,
    "treelstm": TreeLSTMCostModel,
    "gerelt4": Gerelt4CostModel,
}


def predict_udf(model):
    """Arrow-batched distributed inference: score PRE-ENCODED plans
    stored as DataFrame columns (``ids`` array<long>, ``mat``
    array<array<double>>) with any trained cost model. The model ships
    to executors in the UDF closure (pure numpy — small and
    serializable); scoring a 10^9-row encoded-workload table is then
    one scan with no driver involvement.

        df.withColumn("pred_log2", predict_udf(model)("ids", "mat"))

    Tree models (``ENCODING == "tree"``) take a third ``children``
    column (array<array<long>> adjacency in preorder)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _decode(ids, mat):
        ids_arr = np.asarray(ids, dtype=np.int64)
        mat_arr = np.asarray([np.asarray(row, dtype=np.float64) for row in mat])
        if mat_arr.ndim != 2:
            mat_arr = mat_arr.reshape(len(ids_arr), -1)
        return ids_arr, mat_arr

    if model.ENCODING == "tree":

        def score(ids_s, mat_s, children_s):
            out = []
            for ids, mat, ch in zip(ids_s, mat_s, children_s):
                ids_arr, mat_arr = _decode(ids, mat)
                out.append(model.forward(ids_arr, mat_arr, [list(k) for k in ch]))
            return pd.Series(out)

        score.__annotations__ = {
            "ids_s": pd.Series,
            "mat_s": pd.Series,
            "children_s": pd.Series,
            "return": pd.Series,
        }
        return pandas_udf(score, "double")

    def score(ids_s, mat_s):
        out = []
        for ids, mat in zip(ids_s, mat_s):
            ids_arr, mat_arr = _decode(ids, mat)
            out.append(model.forward(ids_arr, mat_arr))
        return pd.Series(out)

    # module has `from __future__ import annotations` (stringified
    # hints) and pandas is function-local — give pandas_udf real
    # annotation objects so it infers the scalar eval type
    score.__annotations__ = {"ids_s": pd.Series, "mat_s": pd.Series, "return": pd.Series}
    return pandas_udf(score, "double")
