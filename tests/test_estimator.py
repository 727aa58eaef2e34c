"""Estimator harness tests: datasets, metrics, model training, and the
full reference pipeline (generate → execute → encode → train → eval)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from deep_query_optimization_spark.estimator import MLPCostModel, QueriesDataset, bucketize, mae, mcc_metrics
from deep_query_optimization_spark.estimator.metrics import (
    bucket_of_log2,
    confusion_matrix,
    maximize_binary_split,
    per_bucket_errors,
)


def test_bucketize_matches_reference_formula():
    assert bucketize(1.0) == 0
    assert bucketize(0.125) == -3
    assert bucketize(0.01) == -3  # clipped
    assert bucketize(300) == 8  # clipped
    assert bucketize(5.0) == round(math.log2(5.0))


def test_bucket_of_log2_is_the_predicted_bucket_rule():
    """One rule buckets predictions for score, compare_versions and the
    calibration report: the inline rule each of them used, on Python,
    float64 and float32 values, with ties and both clips."""
    rng = np.random.default_rng(0)
    values = [-9.0, -3.5, -2.5, -0.5, 0.5, 1.5, 2.5, 7.5, 8.5, 20.0]
    values += list(rng.uniform(-6, 11, 200)) + list(rng.uniform(-6, 11, 50).astype(np.float32))
    for v in values:
        got = bucket_of_log2(v)
        assert type(got) is int
        assert got == int(np.clip(round(v), -3, 8)) == int(np.clip(round(float(v)), -3, 8))


def test_dataset_csv_roundtrip(tmp_path):
    ds = QueriesDataset()
    ds.add("SELECT 1", 0.5, '{"plan": true}')
    ds.add('SELECT "q,uote"', 2.0)
    p = tmp_path / "d.csv"
    ds.save(str(p))
    ds2 = QueriesDataset.load(str(p))
    assert ds2.rows == ds.rows


def test_dataset_save_is_atomic_and_load_tolerates_torn_tail(tmp_path):
    """A SIGKILL mid-checkpoint (the relabel wedge guard's pkill -9)
    must not corrupt the resume: save() goes through temp+rename, and
    load() drops a torn final row instead of crashing."""
    ds = QueriesDataset()
    for i in range(5):
        ds.add(f"SELECT {i}", float(i + 1), "")
    p = tmp_path / "w.csv"
    ds.save(str(p))
    assert not (tmp_path / "w.csv.tmp").exists()  # temp renamed away

    # simulate a writer killed mid-row: valid prefix + torn last record
    text = p.read_text()
    p.write_text(text + '"SELECT torn",1.2')  # missing plan field
    ds2 = QueriesDataset.load(str(p))
    assert ds2.rows == ds.rows  # torn tail dropped, prefix intact

    # a malformed row in the MIDDLE is real corruption -> still raises
    lines = text.rstrip("\n").split("\n")
    bad = "\n".join(lines[:3] + ["torn,row"] + lines[3:])
    p.write_text(bad + "\n")
    with pytest.raises(ValueError):
        QueriesDataset.load(str(p))


def test_stratified_split_covers_buckets():
    ds = QueriesDataset()
    for i in range(40):
        ds.add(f"SELECT {i}", 0.1)  # bucket -3
    for i in range(40):
        ds.add(f"SELECT {i + 100}", 4.0)  # bucket 2
    train, test = ds.stratified_split(0.25, seed=1)
    assert len(train.rows) + len(test.rows) == 80
    assert set(train.buckets()) == set(test.buckets()) == {-3, 2}
    assert 15 <= len(test.rows) <= 25


def test_uniform_split_balances():
    ds = QueriesDataset()
    for i in range(100):
        ds.add(f"a{i}", 0.1)
    for i in range(10):
        ds.add(f"b{i}", 4.0)
    bal = ds.uniform_split(per_bucket=10, seed=0)
    buckets = bal.buckets()
    assert buckets.count(-3) == 10
    assert buckets.count(2) == 10


def test_metrics_perfect_and_degenerate():
    y = [0, 1, 2, -3, 8]
    m = mcc_metrics(y, y)
    assert m["accuracy"] == 1.0
    assert m["macro_f1"] == 1.0
    assert m["kappa"] == pytest.approx(1.0)
    m2 = mcc_metrics(y, [8, 8, 8, 8, 8])
    assert m2["accuracy"] == 0.2
    assert mae(y, y) == 0.0
    assert mae([0, 0], [1, -1]) == 1.0


def test_confusion_and_binary_split():
    y_true = [-3, -3, 0, 0, 4, 4]
    y_pred = [-3, -2, 0, 1, 4, 4]
    cm = confusion_matrix(y_true, y_pred)
    assert cm.sum() == 6
    t, acc = maximize_binary_split(y_true, y_pred)
    assert acc == 1.0  # a threshold separating -3s from 0s/4s exists
    pb = per_bucket_errors(y_true, y_pred)
    assert pb[-3]["exact"] == 0.5 and pb[-3]["over"] == 0.5


def test_mlp_learns_synthetic_cost():
    """Plans with more join nodes → longer runtime; the model must
    learn the monotone relation from pooled node vectors."""
    rng = np.random.default_rng(0)
    width = 20
    plans, runtimes = [], []
    for _ in range(120):
        n_joins = rng.integers(0, 5)
        ids = np.array([2] * n_joins + [0, 5], dtype=np.int64)  # joins + relation + other
        mat = rng.normal(0, 0.1, (len(ids), width))
        mat[:n_joins, 0] = 1.0  # join marker feature
        plans.append((ids, mat))
        runtimes.append(float(2.0**n_joins * 0.5))
    model = MLPCostModel(in_dim=width, embed_dim=16, hidden=16, seed=1)
    losses = model.fit(plans, runtimes, epochs=300, lr=3e-3)
    assert losses[-1] < losses[0] * 0.3
    preds = model.predict(plans)
    targets = np.array([math.log2(t) for t in runtimes])
    corr = np.corrcoef(preds, targets)[0, 1]
    assert corr > 0.8


def test_gru_gradients_match_finite_differences():
    """The hand-written BPTT must agree with numerical gradients — the
    one test that catches a silently-wrong backward pass."""
    from deep_query_optimization_spark.estimator.model import GRUCostModel, smooth_l1

    rng = np.random.default_rng(0)
    m = GRUCostModel(in_dim=7, embed_dim=5, hidden=4, seed=1)
    plans = [(np.array([0, 2, 1, 3]), rng.normal(size=(4, 7))), (np.array([1, 1, 2]), rng.normal(size=(3, 7)))]
    targets = [0.7, -1.3]

    grads = {k: np.zeros_like(v) for k, v in m.P.items()}
    n = len(plans)
    for (ids, mat), y in zip(plans, targets):
        pred, (pre, xs, cf, cb, hc, h1_pre, h1) = m._forward(ids, mat)
        _, dpred = smooth_l1(np.array([pred - y]))
        d = float(dpred[0]) / n
        grads["W2"] += np.outer(h1, d)
        grads["b2"] += np.array([d])
        dh1 = (m.P["W2"][:, 0] * d) * (h1_pre > 0)
        grads["W1"] += np.outer(hc, dh1)
        grads["b1"] += dh1
        dhc = m.P["W1"] @ dh1
        dxs = [np.zeros(m.embed_dim) for _ in xs]
        m._gru_back(dhc[: m.hidden], cf, "f", grads, dxs)
        dxs_rev = [np.zeros(m.embed_dim) for _ in xs]
        m._gru_back(dhc[m.hidden :], cb, "b", grads, dxs_rev)
        for t_rev, dx in enumerate(dxs_rev):
            dxs[len(xs) - 1 - t_rev] += dx
        for i, t in enumerate(ids):
            de = dxs[i] * (pre[i] > 0)
            grads[f"We{int(t)}"] += np.outer(mat[i], de)
            grads[f"be{int(t)}"] += de

    def loss_fn():
        total = 0.0
        for (ids, mat), y in zip(plans, targets):
            loss, _ = smooth_l1(np.array([m.forward(ids, mat) - y]))
            total += float(loss[0])
        return total / n

    eps = 1e-6
    for name in ("Wzf", "Urf", "Unb", "bnf", "W1", "We0", "Uzb"):
        p = m.P[name]
        idx = tuple(np.unravel_index(np.argmax(np.abs(grads[name])), p.shape))
        orig = p[idx]
        p[idx] = orig + eps
        lp = loss_fn()
        p[idx] = orig - eps
        lm = loss_fn()
        p[idx] = orig
        num = (lp - lm) / (2 * eps)
        ana = grads[name][idx]
        rel = abs(num - ana) / max(1e-8, abs(num) + abs(ana))
        assert rel < 1e-5, f"{name}: analytic {ana} vs numeric {num}"


def test_gru_learns_order_sensitive_cost():
    """A cost signal encoded in node ORDER: two plans with identical
    node multisets but different traversal orders have different
    runtimes. Mean-pooled MLP and count-based linear baselines are
    order-blind by construction; the GRU must separate them."""
    from deep_query_optimization_spark.estimator.model import GRUCostModel, LinearCostModel

    rng = np.random.default_rng(3)
    width = 12
    plans, runtimes = [], []
    for _ in range(90):
        # sequence of 6 nodes: 3 joins (type 2) + 3 selections (type 3)
        order = rng.permutation([2, 2, 2, 3, 3, 3])
        ids = np.array(order, dtype=np.int64)
        mat = rng.normal(0, 0.05, (6, width))
        # cost = number of joins BEFORE the first selection (pipeline
        # blocking depth) — pure order information
        first_sel = int(np.argmax(ids == 3))
        n_blocking = int((ids[:first_sel] == 2).sum())
        plans.append((ids, mat))
        runtimes.append(float(2.0**n_blocking * 0.5))
    gru = GRUCostModel(in_dim=width, embed_dim=12, hidden=12, seed=0)
    gru.fit(plans, runtimes, epochs=220, lr=5e-3)
    targets = np.array([math.log2(t) for t in runtimes])
    gru_corr = np.corrcoef(gru.predict(plans), targets)[0, 1]
    assert gru_corr > 0.85, f"GRU corr {gru_corr:.3f}"

    lin = LinearCostModel()
    lin.fit(plans, runtimes)
    lin_corr = np.corrcoef(lin.predict(plans), targets)[0, 1]
    assert gru_corr > lin_corr + 0.3, f"GRU {gru_corr:.3f} vs linear {lin_corr:.3f}"


def test_gru_save_load_roundtrip(tmp_path):
    from deep_query_optimization_spark.estimator.model import GRUCostModel

    m = GRUCostModel(in_dim=8, embed_dim=4, hidden=4, seed=0)
    ids = np.array([0, 1, 2], dtype=np.int64)
    mat = np.ones((3, 8))
    before = m.forward(ids, mat)
    p = tmp_path / "g.json"
    m.save(str(p))
    m2 = GRUCostModel.load(str(p))
    assert m2.forward(ids, mat) == pytest.approx(before)


def test_treelstm_gradients_match_finite_differences():
    """Structural backprop through the child-sum TreeLSTM (incl. the
    forest case from spliced non-vocabulary roots) must match numerical
    gradients."""
    from deep_query_optimization_spark.estimator.model import TreeLSTMCostModel, smooth_l1

    rng = np.random.default_rng(0)
    m = TreeLSTMCostModel(in_dim=7, embed_dim=5, hidden=4, seed=1)
    plans = [
        (np.array([3, 2, 0, 0, 1]), rng.normal(size=(5, 7)), [[1, 4], [2, 3], [], [], []]),
        (np.array([1, 0, 2, 0]), rng.normal(size=(4, 7)), [[1], [], [3], []]),  # two roots
    ]
    targets = [0.7, -1.3]
    grads = {k: np.zeros_like(v) for k, v in m.P.items()}
    for (ids, mat, ch), y in zip(plans, targets):
        predv, fwd = m._forward(ids, mat, ch)
        _, dpred = smooth_l1(np.array([predv - y]))
        m._backward(ids, mat, ch, fwd, float(dpred[0]) / len(plans), grads)

    def loss_fn():
        total = 0.0
        for (ids, mat, ch), y in zip(plans, targets):
            loss, _ = smooth_l1(np.array([m.forward(ids, mat, ch) - y]))
            total += float(loss[0])
        return total / len(plans)

    eps = 1e-6
    for name in ("Wi", "Wf", "Uf", "Uu", "bo", "W1", "We0", "Ui"):
        p = m.P[name]
        idx = tuple(np.unravel_index(np.argmax(np.abs(grads[name])), p.shape))
        orig = p[idx]
        p[idx] = orig + eps
        lp = loss_fn()
        p[idx] = orig - eps
        lm = loss_fn()
        p[idx] = orig
        num = (lp - lm) / (2 * eps)
        ana = grads[name][idx]
        rel = abs(num - ana) / max(1e-8, abs(num) + abs(ana))
        assert rel < 1e-5, f"{name}: analytic {ana} vs numeric {num}"


def test_treelstm_learns_structure_sensitive_cost():
    """Cost encoded in tree STRUCTURE under a fixed preorder type
    sequence: the same [join join rel rel rel] preorder attaches the
    last relation either to the root (bushy) or the inner join (deep).
    Traversal models see identical sequences; the TreeLSTM must
    separate the shapes."""
    from deep_query_optimization_spark.estimator.model import TreeLSTMCostModel

    rng = np.random.default_rng(5)
    width = 10
    plans, runtimes = [], []
    for _ in range(80):
        bushy = bool(rng.integers(0, 2))
        ids = np.array([2, 2, 0, 0, 0], dtype=np.int64)
        mat = rng.normal(0, 0.05, (5, width))
        children = [[1, 4], [2, 3], [], [], []] if bushy else [[1], [2, 3, 4], [], [], []]
        plans.append((ids, mat, children))
        runtimes.append(4.0 if bushy else 0.25)
    m = TreeLSTMCostModel(in_dim=width, embed_dim=10, hidden=10, seed=0)
    m.fit(plans, runtimes, epochs=200, lr=5e-3)
    targets = np.array([math.log2(t) for t in runtimes])
    corr = np.corrcoef(m.predict(plans), targets)[0, 1]
    assert corr > 0.9, f"TreeLSTM corr {corr:.3f}"


def test_gerelt4_traversal_orders():
    """The four linearizations must follow the reference Tree semantics
    (``dqo/tree/__init__.py:142-170``): inorder descends first children
    and takes the second child only on binary nodes; forests traverse
    roots in index order."""
    from deep_query_optimization_spark.estimator.model import Gerelt4CostModel

    #        0
    #      /   \
    #     1     4
    #    / \
    #   2   3
    children = [[1, 4], [2, 3], [], [], []]
    o = Gerelt4CostModel._orders(5, children)
    assert o["pre"] == [0, 1, 2, 3, 4]
    assert o["post"] == [2, 3, 1, 4, 0]
    assert o["ino"] == [2, 1, 3, 0, 4]
    assert o["bfs"] == [0, 1, 4, 2, 3]
    # forest: two roots, traversed in index order
    o2 = Gerelt4CostModel._orders(4, [[1], [], [3], []])
    assert o2["post"] == [1, 0, 3, 2]
    assert o2["bfs"] == [0, 2, 1, 3]  # both roots enqueue before their children


def test_gerelt4_gradients_match_finite_differences():
    """Manual BPTT through all eight traversal GRUs (four traversals ×
    two directions, incl. the permutation scatter back to node
    positions) must match numerical gradients."""
    from deep_query_optimization_spark.estimator.model import Gerelt4CostModel, smooth_l1

    rng = np.random.default_rng(0)
    m = Gerelt4CostModel(in_dim=7, embed_dim=5, hidden=4, seed=1)
    plans = [
        (np.array([3, 2, 0, 0, 1]), rng.normal(size=(5, 7)), [[1, 4], [2, 3], [], [], []]),
        (np.array([1, 0, 2, 0]), rng.normal(size=(4, 7)), [[1], [], [3], []]),  # forest
    ]
    targets = [0.7, -1.3]
    captured: dict[str, np.ndarray] = {}
    m._adam = lambda name, grad, lr: captured.__setitem__(name, grad.copy())
    m.train_step(plans, targets, lr=0.0, clip=1e9)

    def loss_fn():
        total = 0.0
        for (ids, mat, ch), y in zip(plans, targets):
            loss, _ = smooth_l1(np.array([m.forward(ids, mat, ch) - y]))
            total += float(loss[0])
        return total / len(plans)

    eps = 1e-6
    for name in ("Wzpre_f", "Unino_b", "Urpost_f", "bzbfs_b", "W1", "We0", "Uzino_f"):
        p = m.P[name]
        idx = tuple(np.unravel_index(np.argmax(np.abs(captured[name])), p.shape))
        orig = p[idx]
        p[idx] = orig + eps
        lp = loss_fn()
        p[idx] = orig - eps
        lm = loss_fn()
        p[idx] = orig
        num = (lp - lm) / (2 * eps)
        ana = captured[name][idx]
        rel = abs(num - ana) / max(1e-8, abs(num) + abs(ana))
        assert rel < 1e-5, f"{name}: analytic {ana} vs numeric {num}"


def test_gerelt4_learns_structure_sensitive_cost():
    """Same setup as the TreeLSTM structure test: identical preorder
    type sequences, cost encoded in tree SHAPE. The four-traversal
    model must separate the shapes through its inorder/postorder/bfs
    streams (preorder alone cannot)."""
    from deep_query_optimization_spark.estimator.model import Gerelt4CostModel

    rng = np.random.default_rng(5)
    width = 10
    plans, runtimes = [], []
    for _ in range(80):
        bushy = bool(rng.integers(0, 2))
        ids = np.array([2, 2, 0, 0, 0], dtype=np.int64)
        mat = rng.normal(0, 0.05, (5, width))
        children = [[1, 4], [2, 3], [], [], []] if bushy else [[1], [2, 3, 4], [], [], []]
        plans.append((ids, mat, children))
        runtimes.append(4.0 if bushy else 0.25)
    m = Gerelt4CostModel(in_dim=width, embed_dim=10, hidden=10, seed=0)
    m.fit(plans, runtimes, epochs=200, lr=5e-3)
    targets = np.array([math.log2(t) for t in runtimes])
    corr = np.corrcoef(m.predict(plans), targets)[0, 1]
    assert corr > 0.9, f"Gerelt4 corr {corr:.3f}"


def test_gerelt4_save_load_roundtrip(tmp_path):
    from deep_query_optimization_spark.estimator.evaluate import load_checkpoint
    from deep_query_optimization_spark.estimator.model import Gerelt4CostModel

    rng = np.random.default_rng(3)
    m = Gerelt4CostModel(in_dim=6, embed_dim=5, hidden=4, seed=2)
    plan = (np.array([0, 2, 1]), rng.normal(size=(3, 6)), [[1, 2], [], []])
    p = str(tmp_path / "g4.json")
    m.save(p)
    m2 = load_checkpoint(p)
    assert isinstance(m2, Gerelt4CostModel)
    assert m2.forward(*plan) == m.forward(*plan)


def _mscn_toy_plans(rng, n=100):
    """Synthetic MSCN sets: runtime driven by join-set size (the
    signal MSCN's join stream should pick up)."""
    plans, runtimes = [], []
    for _ in range(n):
        n_joins = int(rng.integers(0, 5))
        T = rng.integers(0, 2, size=(n_joins + 1, 4)).astype(float)
        J = rng.integers(0, 2, size=(n_joins, 5)).astype(float)
        P = rng.integers(0, 2, size=(int(rng.integers(0, 4)), 7)).astype(float)
        plans.append((T, J, P))
        runtimes.append(float(2.0**n_joins * 0.5))
    return plans, runtimes


def test_mscn_gradients_match_finite_differences():
    """Backprop through the three set MLPs (incl. the empty-set skip
    and the 1/n pooling term) must match numerical gradients."""
    from deep_query_optimization_spark.estimator.mscn import MSCNCostModel
    from deep_query_optimization_spark.estimator.model import smooth_l1

    rng = np.random.default_rng(0)
    m = MSCNCostModel(widths=(4, 5, 7), hidden=6, seed=1)
    plans = [
        (rng.normal(size=(2, 4)), rng.normal(size=(1, 5)), rng.normal(size=(3, 7))),
        (rng.normal(size=(1, 4)), np.zeros((0, 5)), np.zeros((0, 7))),  # empty sets
    ]
    targets = [0.7, -1.3]
    captured: dict[str, np.ndarray] = {}
    m._adam = lambda name, grad, lr: captured.__setitem__(name, grad.copy())
    m.train_step(plans, targets, lr=0.0, clip=1e9)

    def loss_fn():
        total = 0.0
        for (T, J, P), y in zip(plans, targets):
            loss, _ = smooth_l1(np.array([m.forward(T, J, P) - y]))
            total += float(loss[0])
        return total / len(plans)

    eps = 1e-6
    for name in ("W1t", "W2j", "b1p", "W2p", "Wo1", "bo1"):
        p = m.P[name]
        idx = tuple(np.unravel_index(np.argmax(np.abs(captured[name])), p.shape))
        orig = p[idx]
        p[idx] = orig + eps
        lp = loss_fn()
        p[idx] = orig - eps
        lm = loss_fn()
        p[idx] = orig
        num = (lp - lm) / (2 * eps)
        ana = captured[name][idx]
        rel = abs(num - ana) / max(1e-8, abs(num) + abs(ana))
        assert rel < 1e-5, f"{name}: analytic {ana} vs numeric {num}"


def test_mscn_learns_join_count_cost():
    from deep_query_optimization_spark.estimator.mscn import MSCNCostModel

    rng = np.random.default_rng(3)
    plans, runtimes = _mscn_toy_plans(rng)
    m = MSCNCostModel(widths=(4, 5, 7), hidden=16, seed=0)
    losses = m.fit(plans, runtimes, epochs=250, lr=3e-3)
    assert losses[-1] < losses[0] * 0.3
    targets = np.array([math.log2(t) for t in runtimes])
    corr = np.corrcoef(m.predict(plans), targets)[0, 1]
    assert corr > 0.85, f"MSCN corr {corr:.3f}"


def test_mscn_encoder_and_roundtrip(spark, tables, tmp_path):
    """Encoder widths derive from the schema; a parsed workload query
    produces non-empty table/join/predicate sets; save/load preserves
    predictions."""
    from deep_query_optimization_spark.catalog import load_database
    from deep_query_optimization_spark.estimator.evaluate import load_checkpoint
    from deep_query_optimization_spark.estimator.mscn import MSCNCostModel, MSCNEncoder
    from deep_query_optimization_spark.relational.parser import parse_sql

    db = load_database(spark, "/root/testdata/sf0.001")
    enc = MSCNEncoder(db)
    q = parse_sql(
        spark,
        "SELECT MIN(l.l_extendedprice) FROM lineitem l, orders o "
        "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 10",
        db,
    )
    T, J, P = enc.encode(q)
    assert T.shape == (2, enc.table_bits)
    assert J.shape == (1, enc.join_bits)
    assert P.shape[0] >= 1 and P.shape[1] == enc.col_bits + enc.op_bits
    m = MSCNCostModel(widths=enc.widths, hidden=8, seed=2)
    path = str(tmp_path / "mscn.json")
    m.save(path)
    m2 = load_checkpoint(path)
    assert isinstance(m2, MSCNCostModel)
    assert m2.forward(T, J, P) == m.forward(T, J, P)


def test_neo_gradients_match_finite_differences():
    from deep_query_optimization_spark.estimator.model import smooth_l1
    from deep_query_optimization_spark.estimator.neo import NeoCostModel

    rng = np.random.default_rng(0)
    m = NeoCostModel(in_dim=12, seed=1)
    plans = [rng.integers(0, 2, size=12).astype(float) for _ in range(3)]
    targets = [0.7, -1.3, 2.0]
    captured: dict[str, np.ndarray] = {}
    m._adam = lambda name, grad, lr: captured.__setitem__(name, grad.copy())
    m.train_step(plans, targets, lr=0.0, clip=1e9)

    def loss_fn():
        total = 0.0
        for x, y in zip(plans, targets):
            loss, _ = smooth_l1(np.array([m.forward(x) - y]))
            total += float(loss[0])
        return total / len(plans)

    eps = 1e-6
    for name in ("W0", "b1", "W2", "W3", "b0"):
        p = m.P[name]
        idx = tuple(np.unravel_index(np.argmax(np.abs(captured[name])), p.shape))
        orig = p[idx]
        p[idx] = orig + eps
        lp = loss_fn()
        p[idx] = orig - eps
        lm = loss_fn()
        p[idx] = orig
        num = (lp - lm) / (2 * eps)
        ana = captured[name][idx]
        rel = abs(num - ana) / max(1e-8, abs(num) + abs(ana))
        assert rel < 1e-5, f"{name}: analytic {ana} vs numeric {num}"


def test_neo_encoder_learns_and_roundtrips(spark, tables, tmp_path):
    """Encoder: join bits + predicate-column indicators; the MLP learns
    a join-count-driven cost from those bits; save/load preserves
    predictions."""
    from deep_query_optimization_spark.catalog import load_database
    from deep_query_optimization_spark.estimator.evaluate import load_checkpoint
    from deep_query_optimization_spark.estimator.neo import NeoCostModel, NeoEncoder
    from deep_query_optimization_spark.relational.parser import parse_sql

    db = load_database(spark, "/root/testdata/sf0.001")
    enc = NeoEncoder(db)
    q = parse_sql(
        spark,
        "SELECT MIN(l.l_extendedprice) FROM lineitem l, orders o "
        "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 10",
        db,
    )
    x = enc.encode(q)
    assert x.shape == (enc.width,)
    assert x[: enc.n_join_bits].sum() == 1  # one join edge
    assert x[enc.n_join_bits :].sum() >= 1  # at least the predicate column

    rng = np.random.default_rng(4)
    plans, runtimes = [], []
    for _ in range(100):
        n_joins = int(rng.integers(0, 5))
        v = np.zeros(20)
        v[rng.choice(8, size=n_joins, replace=False)] = 1.0
        v[8 + rng.choice(12, size=int(rng.integers(0, 4)), replace=False)] = 1.0
        plans.append(v)
        runtimes.append(float(2.0**n_joins * 0.5))
    m = NeoCostModel(in_dim=20, seed=0)
    losses = m.fit(plans, runtimes, epochs=250, lr=3e-3)
    assert losses[-1] < losses[0] * 0.3
    targets = np.array([math.log2(t) for t in runtimes])
    corr = np.corrcoef(m.predict(plans), targets)[0, 1]
    assert corr > 0.85, f"Neo corr {corr:.3f}"

    path = str(tmp_path / "neo.json")
    m.save(path)
    m2 = load_checkpoint(path)
    assert isinstance(m2, NeoCostModel)
    assert m2.forward(plans[0]) == m.forward(plans[0])


def test_cnn_gradients_match_finite_differences():
    from deep_query_optimization_spark.estimator.model import CNNCostModel, smooth_l1

    rng = np.random.default_rng(0)
    m = CNNCostModel(in_dim=7, embed_dim=5, n_filters=4, widths=(2, 3), hidden=4, seed=1)
    plans = [(np.array([0, 2, 1, 3, 2]), rng.normal(size=(5, 7))), (np.array([1, 1]), rng.normal(size=(2, 7)))]
    targets = [0.7, -1.3]
    grads = {k: np.zeros_like(v) for k, v in m.P.items()}
    for (ids, mat), y in zip(plans, targets):
        predv, fwd = m._forward(ids, mat)
        _, dpred = smooth_l1(np.array([predv - y]))
        m._backward(ids, mat, fwd, float(dpred[0]) / len(plans), grads)

    def loss_fn():
        total = 0.0
        for (ids, mat), y in zip(plans, targets):
            loss, _ = smooth_l1(np.array([m.forward(ids, mat) - y]))
            total += float(loss[0])
        return total / len(plans)

    eps = 1e-6
    for name in ("K2", "K3", "kb2", "W1", "We0", "be1"):
        p = m.P[name]
        idx = tuple(np.unravel_index(np.argmax(np.abs(grads[name])), p.shape))
        orig = p[idx]
        p[idx] = orig + eps
        lp = loss_fn()
        p[idx] = orig - eps
        lm = loss_fn()
        p[idx] = orig
        num = (lp - lm) / (2 * eps)
        ana = grads[name][idx]
        rel = abs(num - ana) / max(1e-8, abs(num) + abs(ana))
        assert rel < 1e-5, f"{name}: analytic {ana} vs numeric {num}"


def test_cnn_learns_local_motif_cost():
    """Cost encoded in a LOCAL bigram motif: runtime doubles per
    adjacent (join, selection) pair in the sequence — exactly what a
    width-2 filter detects and what a global mean-pool cannot."""
    from deep_query_optimization_spark.estimator.model import CNNCostModel

    rng = np.random.default_rng(4)
    width = 10
    plans, runtimes = [], []
    for _ in range(90):
        order = rng.permutation([2, 2, 3, 3, 0, 0])
        ids = np.array(order, dtype=np.int64)
        mat = rng.normal(0, 0.05, (6, width))
        motifs = sum(1 for a, b in zip(ids, ids[1:]) if a == 2 and b == 3)
        plans.append((ids, mat))
        runtimes.append(float(2.0**motifs * 0.5))
    m = CNNCostModel(in_dim=width, embed_dim=12, n_filters=8, widths=(2,), hidden=12, seed=0)
    m.fit(plans, runtimes, epochs=250, lr=5e-3)
    targets = np.array([math.log2(t) for t in runtimes])
    corr = np.corrcoef(m.predict(plans), targets)[0, 1]
    assert corr > 0.8, f"CNN corr {corr:.3f}"


def test_cnn_save_load_roundtrip(tmp_path):
    from deep_query_optimization_spark.estimator.model import CNNCostModel

    m = CNNCostModel(in_dim=8, embed_dim=4, n_filters=3, widths=(2, 3), hidden=4, seed=0)
    ids = np.array([0, 1, 2], dtype=np.int64)
    mat = np.ones((3, 8))
    before = m.forward(ids, mat)
    p = tmp_path / "c.json"
    m.save(str(p))
    m2 = CNNCostModel.load(str(p))
    assert m2.forward(ids, mat) == pytest.approx(before)


def test_treelstm_save_load_roundtrip(tmp_path):
    from deep_query_optimization_spark.estimator.model import TreeLSTMCostModel

    m = TreeLSTMCostModel(in_dim=8, embed_dim=4, hidden=4, seed=0)
    ids = np.array([0, 1, 2], dtype=np.int64)
    mat = np.ones((3, 8))
    children = [[1, 2], [], []]
    before = m.forward(ids, mat, children)
    p = tmp_path / "t.json"
    m.save(str(p))
    m2 = TreeLSTMCostModel.load(str(p))
    assert m2.forward(ids, mat, children) == pytest.approx(before)


def test_encode_tree_splices_and_preorders(spark, tables):
    """encode_tree keeps the operator tree: children indices exceed
    parents' (preorder), spliced nodes attach grandchildren upward, and
    ids/mat match encode_plan's preorder filtering."""
    from pathlib import Path

    from deep_query_optimization_spark.catalog import Database
    from deep_query_optimization_spark.plans import PlanEncoder
    from deep_query_optimization_spark.plans.parser import parse_optimized_plan

    root = Path(__file__).resolve().parent.parent
    db = Database.load(str(root / "deep_query_optimization_spark/snapshots/sf0.01_schema.json"))
    enc = PlanEncoder(db)
    df = spark.sql(
        "SELECT o_orderpriority, COUNT(*) AS c FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE o_totalprice > 1000 GROUP BY o_orderpriority"
    )
    tree = parse_optimized_plan(df)
    ids, mat, children = enc.encode_tree(tree)
    ids2, mat2 = enc.encode_plan(tree)
    assert np.array_equal(ids, ids2) and np.allclose(mat, mat2)
    for parent, kids in enumerate(children):
        for k in kids:
            assert k > parent
    n_children = sum(len(k) for k in children)
    assert n_children == len(ids) - 1  # single kept root, spanning tree


def test_mlp_save_load_roundtrip(tmp_path):
    model = MLPCostModel(in_dim=8, embed_dim=4, hidden=4, seed=0)
    ids = np.array([0, 1], dtype=np.int64)
    mat = np.ones((2, 8))
    before = model.forward(ids, mat)
    p = tmp_path / "m.json"
    model.save(str(p))
    model2 = MLPCostModel.load(str(p))
    assert model2.forward(ids, mat) == pytest.approx(before)


@pytest.mark.slow
def test_reference_pipeline_end_to_end(spark, tables):
    """The whole dqo loop on live Spark: generate workload → execute+
    analyze → parse plans → encode → train → evaluate (SURVEY §3)."""
    from pathlib import Path

    from deep_query_optimization_spark.catalog import Database
    from deep_query_optimization_spark.generator import RandomQueryGen
    from deep_query_optimization_spark.lab.executor import SparkQueryRunner
    from deep_query_optimization_spark.plans import PlanEncoder
    from deep_query_optimization_spark.plans.parser import parse_plan_json

    root = Path(__file__).resolve().parent.parent
    db = Database.load(str(root / "deep_query_optimization_spark/snapshots/sf0.01_schema.json"))
    runner = SparkQueryRunner(spark, clear_cache=False)
    enc = PlanEncoder(db)

    ds = QueriesDataset()
    plans = []
    for seed in range(12):
        gen = RandomQueryGen(db, seed=seed, max_tables=2, max_conditions=4)
        sql = gen.randomize().to_sql()
        runtime, plan_json, _ = runner.analyze(sql)
        ds.add(sql, runtime, plan_json)
        ids, mat = enc.encode_plan(parse_plan_json(plan_json))
        plans.append((ids, mat))

    assert len(ds.rows) == 12
    model = MLPCostModel(in_dim=enc.width, embed_dim=12, hidden=12, seed=0)
    losses = model.fit(plans, [r for _, r, _ in ds.rows], epochs=50, lr=3e-3)
    assert losses[-1] <= losses[0]
    preds = model.predict(plans)
    pred_buckets = [int(np.clip(round(p), -3, 8)) for p in preds]
    m = mcc_metrics(ds.buckets(), pred_buckets)
    assert 0.0 <= m["accuracy"] <= 1.0  # harness runs end-to-end


def test_evaluate_report_and_artifacts(tmp_path):
    from deep_query_optimization_spark.estimator.evaluate import (
        compare_reports,
        confusion_text,
        evaluation_report,
        save_results,
    )

    y_true = [-3, -3, -2, -2, 0, 0, 1]
    y_pred = [-3, -2, -2, -2, 0, 1, 1]
    rep = evaluation_report(y_true, y_pred)
    assert 0 < rep["metrics"]["accuracy"] < 1
    assert rep["binary_split"]["accuracy"] >= rep["metrics"]["accuracy"]
    txt = confusion_text(y_true, y_pred)
    assert "true\\pred" in txt and "-3" in txt
    p = save_results(str(tmp_path), epoch=7, y_true=y_true, y_pred=y_pred)
    assert p.name.startswith("val_results_7_acc_0.7") and p.suffix == ".json"
    table = compare_reports({"mlp": rep, "baseline": rep})
    assert "mlp" in table and "acc" in table


def test_checkpoint_compare_versions(tmp_path):
    """Checkpoints saved during training evaluate on one fixed
    validation set; later checkpoints must not be worse than the first
    on training-distribution data (reference compare_versions)."""
    from deep_query_optimization_spark.estimator.evaluate import (
        compare_reports,
        compare_versions,
        fit_with_checkpoints,
    )
    from deep_query_optimization_spark.estimator.model import MLPCostModel

    rng = np.random.default_rng(0)
    width = 10
    plans, runtimes = [], []
    for _ in range(60):
        n_joins = int(rng.integers(0, 5))
        ids = np.array([2] * n_joins + [0], dtype=np.int64)
        mat = rng.normal(0, 0.05, (len(ids), width))
        mat[:n_joins, 0] = 1.0
        plans.append((ids, mat))
        runtimes.append(float(2.0**n_joins * 0.5))
    rows = [(f"q{i}", r, None) for i, r in enumerate(runtimes)]

    model = MLPCostModel(in_dim=width, embed_dim=8, hidden=8, seed=0)
    paths = fit_with_checkpoints(model, plans, runtimes, epochs=300, checkpoint_every=100, out_dir=str(tmp_path))
    assert len(paths) == 3
    reports = compare_versions(paths, plans, rows)
    assert len(reports) == 3
    maes = [rep["metrics"]["mae"] for rep in reports.values()]
    assert maes[-1] <= maes[0], f"training MAE got worse across checkpoints: {maes}"
    table = compare_reports(reports)
    assert "ckpt_00100" in table and "ckpt_00300" in table


def test_predict_udf_matches_local_inference(spark):
    """Distributed Arrow-batched scoring of pre-encoded plans equals
    driver-local model.predict."""
    from deep_query_optimization_spark.estimator.model import MLPCostModel, predict_udf

    rng = np.random.default_rng(2)
    model = MLPCostModel(in_dim=6, embed_dim=4, hidden=4, seed=0)
    plans = []
    rows = []
    for i in range(12):
        n = int(rng.integers(1, 5))
        ids = rng.integers(0, 5, n).astype(np.int64)
        mat = rng.normal(0, 0.5, (n, 6))
        plans.append((ids, mat))
        rows.append((i, [int(x) for x in ids], [[float(v) for v in r] for r in mat]))
    df = spark.createDataFrame(rows, "qid long, ids array<long>, mat array<array<double>>")
    got = {
        r["qid"]: r["pred"]
        for r in df.withColumn("pred", predict_udf(model)("ids", "mat")).collect()
    }
    want = model.predict(plans)
    for i in range(12):
        assert got[i] == pytest.approx(float(want[i]), rel=1e-9)


def test_linear_baseline_learns_join_count():
    from deep_query_optimization_spark.estimator.model import LinearCostModel

    rng = np.random.default_rng(1)
    plans, runtimes = [], []
    for _ in range(80):
        n_joins = int(rng.integers(0, 5))
        ids = np.array([2] * n_joins + [0], dtype=np.int64)
        mat = rng.normal(0, 0.05, (len(ids), 10))
        plans.append((ids, mat))
        runtimes.append(float(2.0**n_joins * 0.25))
    m = LinearCostModel()
    m.fit(plans, runtimes)
    preds = m.predict(plans)
    targets = np.array([math.log2(t) for t in runtimes])
    assert np.corrcoef(preds, targets)[0, 1] > 0.95  # exact linear signal


def test_stratified_split_min_floors_scarce_buckets():
    from deep_query_optimization_spark.estimator import QueriesDataset

    ds = QueriesDataset()
    # 200 fast rows (bucket -1) + 40 slow rows (bucket 5)
    for i in range(200):
        ds.add(f"SELECT {i}", 0.6)
    for i in range(40):
        ds.add(f"SELECT slow_{i}", 40.0)
    train, test = ds.stratified_split_min(0.15, min_test_per_bucket=25, seed=0)
    test_buckets = test.buckets()
    assert test_buckets.count(-1) == 30  # proportional: 15% of 200
    assert test_buckets.count(5) == 20  # floored at 25 but capped at n/2
    assert len(train.rows) + len(test.rows) == 240
    # no overlap
    assert not ({s for s, _, _ in train.rows} & {s for s, _, _ in test.rows})


# -- pinned numerics of every family ------------------------------------
#
# sha1 digests of (init parameters, losses of a 3-epoch fit(batch_size=4),
# predictions, predictions after save + load) on a seeded synthetic set.
# Any change to an init's RNG draw order, the order gradients accumulate
# in, Adam, clipping, the fit loop or the blob round-trip moves a digest.
PINNED = {
    "mlp": (
        "e6565034bd86c65c4f27c034fa16a5815534efdc",
        "440c3bf7da9c7a291d9e236246c938d58d93ade4",
        "3f82d5bfee769616938237e1338abc66329db877",
        "3f82d5bfee769616938237e1338abc66329db877",
    ),
    "gru": (
        "7be39de98bbaf090a20f9cb020f45e664f1b483d",
        "6b1849c9e594962c68691dbbeb129849e103ab95",
        "1e473e70c65231d02d1b4fbdb27926a2eb33d0fe",
        "1e473e70c65231d02d1b4fbdb27926a2eb33d0fe",
    ),
    "gerelt4": (
        "c363510324df4c31f38d0ae9883eb78a38b6b278",
        "382007b3852877417a8d7d4cf6f914e09fad2c95",
        "9020b72a8c8a8395a464c5e4a15d37ca2387ed32",
        "9020b72a8c8a8395a464c5e4a15d37ca2387ed32",
    ),
    "treelstm": (
        "c0dd2aeb05ba5d1d57dc47ea9b47f693dde4faad",
        "c72c2f9bfea5b9b527adbd46a95270fde3276cc4",
        "12fd5d2812fc62c05868f544e40ab083df59ecfc",
        "12fd5d2812fc62c05868f544e40ab083df59ecfc",
    ),
    "cnn": (
        "ff2e5d16bd898cf6b8dd16f5099c23096ec1e372",
        "130498c367c93e78d2ab9e4550e3c2b4c4f6fab4",
        "c770eff2b2d466da54811efbfccf5b40942c84e6",
        "c770eff2b2d466da54811efbfccf5b40942c84e6",
    ),
    "mscn": (
        "ca6dd5ed59879465eb80c2eac24cc278a0635a69",
        "0324971ed308a11f58c8cee2a06cb2c33262c738",
        "ac6886d335205ac3c87c7ea6456a02807a70dd60",
        "ac6886d335205ac3c87c7ea6456a02807a70dd60",
    ),
    "neo": (
        "c884b38535fd7e81d8b4404b03bf0e12972f5991",
        "88207ed227911996ccec249c434111e8a617c0b7",
        "473ccdf7ceccd4aab9e311e856d81c47a564831b",
        "473ccdf7ceccd4aab9e311e856d81c47a564831b",
    ),
}


def _sha1(*arrays) -> str:
    import hashlib

    h = hashlib.sha1()
    for a in arrays:
        h.update(np.ascontiguousarray(a, dtype=np.float64).tobytes())
    return h.hexdigest()


def _preorder_tree(rng, n):
    """A random tree on n nodes: (preorder permutation, children in
    preorder indexing)."""
    parent = [-1] + [int(rng.integers(0, j)) for j in range(1, n)]
    kids = [[] for _ in range(n)]
    for j in range(1, n):
        kids[parent[j]].append(j)
    order, stack = [], [0]
    while stack:
        j = stack.pop()
        order.append(j)
        stack.extend(reversed(kids[j]))
    pos = {j: i for i, j in enumerate(order)}
    return order, [sorted(pos[k] for k in kids[j]) for j in order]


def _pinned_models():
    from deep_query_optimization_spark.estimator.model import FAMILIES
    from deep_query_optimization_spark.estimator.mscn import MSCNCostModel
    from deep_query_optimization_spark.estimator.neo import NeoCostModel
    from deep_query_optimization_spark.plans.encoder import NODE_TYPES

    in_dim = 6
    rng = np.random.default_rng(1234)
    plan, tree, sets, vecs, runtimes = [], [], [], [], []
    for i in range(12):
        n = 1 + i % 6
        ids = rng.integers(0, len(NODE_TYPES), n)
        mat = rng.normal(size=(n, in_dim))
        order, children = _preorder_tree(rng, n)
        plan.append((ids, mat))
        tree.append((ids[order], mat[order], children))
        sets.append(tuple(rng.integers(0, 2, (int(rng.integers(0, 4)), w)).astype(float) for w in (3, 4, 5)))
        vecs.append(rng.integers(0, 2, 10).astype(float))
        runtimes.append(float(2.0 ** rng.uniform(-3, 6)))
    models = {fam: (cls(in_dim=in_dim), tree if cls.ENCODING == "tree" else plan) for fam, cls in FAMILIES.items()}
    models["mscn"] = (MSCNCostModel(widths=(3, 4, 5)), sets)
    models["neo"] = (NeoCostModel(in_dim=10), vecs)
    return models, runtimes


@pytest.mark.parametrize("family", sorted(PINNED))
def test_model_numerics_pinned(family, tmp_path):
    """Init, training, inference and persistence of each family are
    bit-identical to the pinned digests."""
    models, runtimes = _pinned_models()
    m, plans = models[family]
    init = _sha1(*[m.P[k] for k in sorted(m.P)])
    losses = _sha1(m.fit(plans, runtimes, epochs=3, batch_size=4))
    preds = _sha1(m.predict(plans))
    path = str(tmp_path / f"{family}.json")
    m.save(path)
    loaded = _sha1(type(m).load(path).predict(plans))
    assert (init, losses, preds, loaded) == PINNED[family]


def test_untagged_gru_blob_loads_through_families(tmp_path):
    """GRU checkpoints written before blobs carried a ``kind`` still
    load, both by family name and through ``load_checkpoint``."""
    import json

    from deep_query_optimization_spark.estimator.evaluate import load_checkpoint
    from deep_query_optimization_spark.estimator.model import FAMILIES, GRUCostModel

    m = GRUCostModel(in_dim=5, embed_dim=3, hidden=2, seed=4)
    path = tmp_path / "model_gru.json"
    blob = {"in_dim": 5, "embed_dim": 3, "hidden": 2, "params": {k: v.tolist() for k, v in m.P.items()}}
    path.write_text(json.dumps(blob))
    ids, mat = np.array([0, 2, 1]), np.random.default_rng(0).normal(size=(3, 5))
    for loaded in (FAMILIES["gru"].load(str(path)), load_checkpoint(str(path))):
        assert isinstance(loaded, GRUCostModel)
        assert (loaded.in_dim, loaded.embed_dim, loaded.hidden) == (5, 3, 2)
        assert loaded.P.keys() == m.P.keys()
        assert loaded.forward(ids, mat) == m.forward(ids, mat)
