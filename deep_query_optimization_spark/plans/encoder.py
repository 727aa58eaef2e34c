"""Plan featurization — per-node feature vectors for the cost models.

Reference ``dqo/estimator/gerelt/v20/encoder.py`` (§2.8): shared node
vocabulary {relation, projection, selection, join} with per-type vector
layouts (column 13, relation 63, projection 69, selection 112,
join 203). We keep the same *information content* with Spark-native
substitutions and document our exact layout:

- column vector (13): log10(total+1), distinct_ratio, nulls_fraction,
  type-size weight (``stats.estimate_size``), indexed flag (partition/
  bucket key), log-variance, log-|skewness|, log-|kurtosis|, one-hot
  type (5)  — same semantics as ``encoder.py:253-276``.
- relation vector (25): 13-dim column matrix summarized by 4 stats
  (mean/std/min/max → but over the 4 scalar stat dims) — concretely
  ``summarize_set`` over columns = [mean, std, min, max] of each of
  {log-total, distinct%, nulls%, size} (16) + 5 type counts +
  log10(rows+1), log10(bytes+1), n_cols, pad (25). (``:406-463``)
- selection vector (13+25+11+11+5+5+4 = 74): col + rel + hist bounds
  (10+null) + freq (10+null, normalized) + type one-hot + op-kind
  one-hot {eq, neq, range, sim, nsim} (``encoder.py:82-103``) +
  operand features (scaled value, histogram selectivity, is-null
  flag, parse-ok flag) (``:498-543``).
- join vector (2*(13+25)+5 = 81): both sides col+rel + type one-hot
  (``:466-495``).
- projection vector (25+5+1): relation summary of projected columns +
  type counts + agg flag (``:342-403``).

Vectors are padded to a common width so a plan encodes to a dense
[n_nodes × W] matrix + node-type ids, consumable by any of the model
architectures in ``estimator/``.
"""

from __future__ import annotations

import math
import re

import numpy as np

from deep_query_optimization_spark.catalog import Database, DataType
from deep_query_optimization_spark.plans.parser import PlanNode
from deep_query_optimization_spark.stats import (
    ColumnStats,
    NumericStats,
    StringStats,
    estimate_size,
    like_selectivity,
    selectivity,
)

TYPE_ORDER = (DataType.FLOAT, DataType.NUMBER, DataType.STRING, DataType.BOOL, DataType.TIME)
NODE_TYPES = ("relation", "selection", "join", "projection", "aggregation", "other")

EQ, NEQ, RANGE, SIM, NSIM = range(5)  # op kinds, encoder.py:82-103

_OP_KIND = {
    "=": EQ,
    "==": EQ,
    "!=": NEQ,
    "<>": NEQ,
    ">": RANGE,
    "<": RANGE,
    ">=": RANGE,
    "<=": RANGE,
    "BETWEEN": RANGE,
    "LIKE": SIM,
    "IN": EQ,
    "NOT LIKE": NSIM,
}


def _log(x: float | None) -> float:
    if x is None or not math.isfinite(x):
        return 0.0
    return math.log10(abs(x) + 1.0)


class PlanEncoder:
    COL_DIM = 13
    REL_DIM = 25

    def __init__(self, db: Database) -> None:
        self.db = db
        # common padded width: max(selection 74, join 2*(13+25)+5 = 81)
        self.width = max(
            self.COL_DIM + self.REL_DIM + 11 + 11 + 5 + 5 + 4,
            2 * (self.COL_DIM + self.REL_DIM) + 5,
        )
        # bare column name -> its first (table, column) in db.tables
        # order: a condition's JSON is tokenized into hundreds of names
        self._columns_by_name: dict[str, tuple[str, str]] = {}
        for t in db.tables:
            for c in t.columns:
                self._columns_by_name.setdefault(c.name, (t.name, c.name))
        # column/relation vectors are pure functions of the snapshot;
        # cached read-only so no caller can corrupt a shared entry
        self._column_vectors: dict[tuple[str, str], np.ndarray] = {}
        self._relation_vectors: dict[str, np.ndarray] = {}

    def find_column(self, name: str) -> tuple[str, str] | None:
        """(table, column) of the first column called ``name`` (any
        qualifier and backticks dropped) in ``db.tables`` order."""
        return self._columns_by_name.get(name.split(".")[-1].strip("`"))

    # -- column (13) ---------------------------------------------------

    def column_vector(self, table: str, column: str) -> np.ndarray:
        v = self._column_vectors.get((table, column))
        if v is None:
            v = self._column_vectors[(table, column)] = _frozen(self._column_vector(table, column))
        return v

    def _column_vector(self, table: str, column: str) -> np.ndarray:
        v = np.zeros(self.COL_DIM)
        try:
            col = self.db[table][column]
        except KeyError:
            return v
        st: ColumnStats | None = col.stats
        if st is not None:
            v[0] = _log(st.total)
            v[1] = st.distinct_ratio
            v[2] = st.nulls_fraction
            ns = st.values if isinstance(st.values, NumericStats) else (
                st.values.chars if isinstance(st.values, StringStats) else None
            )
            if ns is not None:
                v[5] = _log(ns.variance)
                v[6] = _log(ns.skewness)
                v[7] = _log(ns.kurtosis)
        v[3] = estimate_size(col.data_type) / 64.0
        v[4] = 1.0 if (st and st.indexed) else 0.0
        if col.data_type in TYPE_ORDER:
            v[8 + TYPE_ORDER.index(col.data_type)] = 1.0
        return v

    # -- relation (25) -------------------------------------------------

    def relation_vector(self, table: str) -> np.ndarray:
        v = self._relation_vectors.get(table)
        if v is None:
            v = self._relation_vectors[table] = _frozen(self._relation_vector(table))
        return v

    def _relation_vector(self, table: str) -> np.ndarray:
        v = np.zeros(self.REL_DIM)
        try:
            t = self.db[table]
        except KeyError:
            return v
        mat = np.stack([self.column_vector(table, c.name)[:4] for c in t.columns]) if t.columns else np.zeros((1, 4))
        # summarize_set reduction (reference encoder.py:43-72)
        v[0:4] = mat.mean(axis=0)
        v[4:8] = mat.std(axis=0)
        v[8:12] = mat.min(axis=0)
        v[12:16] = mat.max(axis=0)
        for c in t.columns:
            if c.data_type in TYPE_ORDER:
                v[16 + TYPE_ORDER.index(c.data_type)] += 1.0
        if t.stats:
            v[21] = _log(t.stats.rows)
            v[22] = _log(t.stats.bytes)
        v[23] = float(len(t.columns))
        return v

    # -- selection (74) ------------------------------------------------

    def selection_vector(self, table: str, column: str, op: str, value: object) -> np.ndarray:
        v = np.zeros(self.width)
        cv = self.column_vector(table, column)
        rv = self.relation_vector(table)
        off = 0
        v[off : off + self.COL_DIM] = cv
        off += self.COL_DIM
        v[off : off + self.REL_DIM] = rv
        off += self.REL_DIM
        try:
            st = self.db[table][column].stats
        except KeyError:
            st = None
        ns = st.values if st and isinstance(st.values, NumericStats) else None
        if ns is not None and ns.freq:
            total = sum(ns.freq) or 1
            bounds = [b[0] if b else 0.0 for b in ns.hist[:-1]][:10]
            scale = max((abs(b) for b in bounds), default=1.0) or 1.0
            v[off : off + min(10, len(bounds))] = np.array(bounds[:10]) / scale
            v[off + 10] = 1.0  # null-bucket marker present
            freqs = np.array(ns.freq[:11], dtype=float) / total
            v[off + 11 : off + 11 + len(freqs)] = freqs
        off += 22
        v[off : off + 5] = cv[8:13]  # type one-hot
        off += 5
        kind = _OP_KIND.get(op.upper() if isinstance(op, str) else op, RANGE)
        v[off + kind] = 1.0
        off += 5
        num = None
        try:
            num = float(value)  # type: ignore[arg-type]
        except (TypeError, ValueError):
            pass
        if num is not None and ns is not None and ns.min is not None and ns.max is not None and ns.max > ns.min:
            v[off] = (num - ns.min) / (ns.max - ns.min)
            v[off + 1] = selectivity(st, op, num) if st else 0.5
            v[off + 3] = 1.0
        elif isinstance(value, str) and kind in (SIM, NSIM):
            # LIKE-pattern selectivity from letter frequencies
            # (reference encoder.py:121-148); mean string length from
            # the column's stats when available
            ss = st.values if st and isinstance(st.values, StringStats) else None
            avg_len = float(ss.chars.mean) if ss and ss.chars.mean else 20.0
            sel = like_selectivity(value, avg_len)
            v[off + 1] = sel if kind == SIM else 1.0 - sel
            v[off + 3] = 1.0
        v[off + 2] = 1.0 if value is None else 0.0
        return v

    # -- join (81 padded) ----------------------------------------------

    def join_vector(self, lt: str, lc: str, rt: str, rc: str) -> np.ndarray:
        v = np.zeros(self.width)
        parts = [
            self.column_vector(lt, lc),
            self.relation_vector(lt),
            self.column_vector(rt, rc),
            self.relation_vector(rt),
        ]
        off = 0
        for p in parts:
            v[off : off + len(p)] = p
            off += len(p)
        v[off : off + 5] = parts[0][8:13]
        return v

    # -- projection (31 padded) ----------------------------------------

    def projection_vector(self, cols: list[tuple[str, str]], aggregated: bool) -> np.ndarray:
        v = np.zeros(self.width)
        if cols:
            mats = [self.column_vector(t, c)[:4] for t, c in cols]
            mat = np.stack(mats)
            v[0:4] = mat.mean(axis=0)
            v[4:8] = mat.std(axis=0)
            v[8:12] = mat.min(axis=0)
            v[12:16] = mat.max(axis=0)
            for t, c in cols:
                try:
                    dt = self.db[t][c].data_type
                except KeyError:
                    continue
                if dt in TYPE_ORDER:
                    v[16 + TYPE_ORDER.index(dt)] += 1.0
        v[21] = 1.0 if aggregated else 0.0
        return v

    # -- whole plan ----------------------------------------------------

    def encode_node(self, node: PlanNode) -> np.ndarray:
        if node.kind == "relation":
            v = np.zeros(self.width)
            table = _strip_name(node.relation) or _guess_table(self.db, node.columns)
            rv = self.relation_vector(table)
            v[: len(rv)] = rv
            return v
        if node.kind == "selection":
            table, column, op, value = _parse_condition(self.find_column, node.condition)
            return self.selection_vector(table, column, op, value)
        if node.kind == "join":
            cols = _condition_columns(self.find_column, node.condition)
            if len(cols) >= 2:
                (lt, lc), (rt, rc) = cols[0], cols[1]
                return self.join_vector(lt, lc, rt, rc)
            return np.zeros(self.width)
        if node.kind in ("projection", "aggregation"):
            cols = []
            for name in node.columns:
                hit = self.find_column(name)
                if hit:
                    cols.append(hit)
            return self.projection_vector(cols, node.kind == "aggregation")
        return np.zeros(self.width)

    def encode_plan(self, root: PlanNode) -> tuple[np.ndarray, np.ndarray]:
        """→ (node_type_ids [n], feature matrix [n × width]) in
        preorder. Traversal variants (in/post/bfs) are derived by the
        model from the same per-node vectors (reference feeds 4
        traversals of one encoding, ``v20/model.py:94-122``)."""
        nodes = [n for n in root.preorder() if n.kind in NODE_TYPES]
        ids = np.array([NODE_TYPES.index(n.kind) for n in nodes], dtype=np.int64)
        mat = np.stack([self.encode_node(n) for n in nodes]) if nodes else np.zeros((0, self.width))
        return ids, mat

    def encode_tree(self, root: PlanNode) -> tuple[np.ndarray, np.ndarray, list[list[int]]]:
        """→ (ids, mat, children) with the TREE preserved for
        structure-recursive models (TreeLSTM, reference
        ``treelstm/v1/childsum.py:7``). ``children[i]`` lists the
        kept-node indices of node i's children; nodes outside
        ``NODE_TYPES`` are spliced out (their children attach to the
        nearest kept ancestor). Preorder indexing ⇒ every child index
        > its parent's, so reverse iteration is a valid bottom-up
        order."""
        nodes: list[PlanNode] = []
        children: list[list[int]] = []

        def walk(n: PlanNode, parent_idx: int | None) -> None:
            if n.kind in NODE_TYPES:
                idx = len(nodes)
                nodes.append(n)
                children.append([])
                if parent_idx is not None:
                    children[parent_idx].append(idx)
                my = idx
            else:
                my = parent_idx
            for c in n.children:
                walk(c, my)

        walk(root, None)
        ids = np.array([NODE_TYPES.index(n.kind) for n in nodes], dtype=np.int64)
        mat = np.stack([self.encode_node(n) for n in nodes]) if nodes else np.zeros((0, self.width))
        return ids, mat, children


def _strip_name(relation: str) -> str:
    m = re.search(r"([A-Za-z_][A-Za-z0-9_]*)\s*$", relation.replace("`", ""))
    return m.group(1) if m else ""


def _guess_table(db: Database, columns: list[str]) -> str:
    for t in db.tables:
        names = {c.name for c in t.columns}
        if columns and names.issuperset(set(columns[:3])):
            return t.name
    return ""


def _frozen(v: np.ndarray) -> np.ndarray:
    v.flags.writeable = False
    return v


_COND_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)")


def _condition_columns(find_column, condition: str) -> list[tuple[str, str]]:
    out = []
    seen = set()
    for tok in _COND_RE.findall(condition or ""):
        hit = find_column(tok)
        if hit and hit not in seen:
            seen.add(hit)
            out.append(hit)
    return out


_VALUE_RE = re.compile(r'"value"\s*:\s*"?(-?[0-9.]+)"?')
_OP_CLASS_RE = re.compile(r'"class"\s*:\s*"[^"]*\.(\w+)"')

_CLASS_TO_OP = {
    "EqualTo": "=",
    "GreaterThan": ">",
    "LessThan": "<",
    "GreaterThanOrEqual": ">=",
    "LessThanOrEqual": "<=",
    "Not": "!=",
    "Like": "LIKE",
    "In": "IN",
}


def _parse_condition(find_column, condition: str) -> tuple[str, str, str, object]:
    cols = _condition_columns(find_column, condition)
    table, column = cols[0] if cols else ("", "")
    op = "="
    for m in _OP_CLASS_RE.finditer(condition or ""):
        if m.group(1) in _CLASS_TO_OP:
            op = _CLASS_TO_OP[m.group(1)]
            break
    vm = _VALUE_RE.search(condition or "")
    value = vm.group(1) if vm else None
    return table, column, op, value
