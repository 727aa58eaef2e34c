"""Plan ingestion + featurization tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from deep_query_optimization_spark.catalog import Database
from deep_query_optimization_spark.plans import PlanEncoder, parse_optimized_plan, physical_summary
from deep_query_optimization_spark.plans.parser import physical_summary_of

SNAPSHOT = "deep_query_optimization_spark/snapshots/sf0.01_schema.json"


@pytest.fixture(scope="module")
def db():
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    return Database.load(str(root / SNAPSHOT))


def test_parse_filter_scan(spark, tables):
    df = tables["lineitem"].filter(F.col("l_quantity") > 30).select("l_orderkey")
    root = parse_optimized_plan(df)
    kinds = [n.kind for n in root.preorder()]
    assert "selection" in kinds
    assert "relation" in kinds
    assert "projection" in kinds


def test_parse_join_plan(spark, tables):
    df = tables["lineitem"].join(tables["orders"], F.col("l_orderkey") == F.col("o_orderkey")).select("l_quantity")
    root = parse_optimized_plan(df)
    assert root.count("join") == 1
    assert root.count("relation") == 2
    join = next(n for n in root.preorder() if n.kind == "join")
    assert "l_orderkey" in join.condition and "o_orderkey" in join.condition


def test_parse_aggregate_plan(spark, tables):
    df = tables["lineitem"].groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    root = parse_optimized_plan(df)
    assert root.count("aggregation") == 1


def test_traversals_consistent(spark, tables):
    df = tables["lineitem"].filter("l_quantity > 5").join(tables["orders"], F.expr("l_orderkey = o_orderkey"))
    root = parse_optimized_plan(df)
    pre, post, bfs = root.preorder(), root.postorder(), root.bfs()
    assert len(pre) == len(post) == len(bfs)
    assert set(id(n) for n in pre) == set(id(n) for n in post)


def test_physical_summary_pushdown(spark, tables):
    df = tables["lineitem"].filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    df.collect()
    s = physical_summary_of(df)
    assert s["counts"].get("FileScan", 0) >= 1
    assert s["pushed_filters"], "filter must push into the parquet scan"
    assert any("l_quantity" in p for p in s["pushed_filters"])
    # column pruning: only the two selected columns in ReadSchema
    assert s["read_schema"] and "l_extendedprice" not in s["read_schema"][0]


def test_physical_summary_broadcast_join(spark, tables):
    df = tables["lineitem"].join(F.broadcast(tables["orders"]), F.expr("l_orderkey = o_orderkey"))
    df.collect()
    s = physical_summary_of(df)
    assert s["counts"].get("BroadcastHashJoin", 0) == 1


def test_physical_summary_text_parsing():
    s = physical_summary(
        "*(1) FileScan parquet [a] PushedFilters: [IsNotNull(a), GreaterThan(a,5)], "
        "PartitionFilters: [], ReadSchema: struct<a:bigint>\nBroadcastHashJoin [a], [b]"
    )
    assert s["counts"]["FileScan"] == 1
    assert s["pushed_filters"] == ["IsNotNull(a), GreaterThan(a,5)"]
    assert not s["partition_filters"]


# -- encoder ------------------------------------------------------------


def test_column_vector_layout(db):
    enc = PlanEncoder(db)
    v = enc.column_vector("lineitem", "l_quantity")
    assert v.shape == (13,)
    assert v[0] > 0  # log total
    assert 0 < v[1] <= 1  # distinct ratio
    assert v[8] == 1.0  # FLOAT one-hot
    assert enc.column_vector("lineitem", "nope").sum() == 0


def test_relation_vector(db):
    enc = PlanEncoder(db)
    v = enc.relation_vector("lineitem")
    assert v.shape == (25,)
    assert v[21] > 0  # log rows
    type_counts = v[16:21]
    assert type_counts.sum() == len(db["lineitem"].columns)


def test_selection_vector_selectivity(db):
    enc = PlanEncoder(db)
    ns = db["orders"]["o_totalprice"].stats.values
    mid = (ns.min + ns.max) / 2
    v = enc.selection_vector("orders", "o_totalprice", "<", mid)
    assert v.shape == (enc.width,)
    off = enc.COL_DIM + enc.REL_DIM + 22 + 5
    assert v[off + 2] == 1.0  # RANGE op one-hot
    operand = v[off + 5 :]
    assert 0.4 < operand[0] < 0.6  # scaled value near middle
    assert 0.4 < operand[1] < 0.6  # selectivity near half


def test_selection_vector_like_selectivity(db):
    """LIKE conditions get a letter-frequency selectivity operand
    (reference encoder.py:289-313) instead of the 0-filled fallback."""
    enc = PlanEncoder(db)
    off = enc.COL_DIM + enc.REL_DIM + 22 + 5
    common = enc.selection_vector("orders", "o_orderpriority", "LIKE", "%e%")
    rare = enc.selection_vector("orders", "o_orderpriority", "LIKE", "%zzz%")
    assert common[off + 5 + 1] > rare[off + 5 + 1] > 0
    neg = enc.selection_vector("orders", "o_orderpriority", "NOT LIKE", "%zzz%")
    assert neg[off + 5 + 1] > 0.9  # NOT LIKE of a rare pattern ≈ everything


def test_encode_plan_end_to_end(spark, tables, db):
    enc = PlanEncoder(db)
    df = (
        tables["lineitem"]
        .filter(F.col("l_quantity") > 30)
        .join(tables["orders"], F.expr("l_orderkey = o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    root = parse_optimized_plan(df)
    ids, mat = enc.encode_plan(root)
    assert len(ids) == mat.shape[0] >= 4
    assert mat.shape[1] == enc.width
    assert np.isfinite(mat).all()
    assert mat.any(axis=1).sum() >= 3  # most nodes got non-zero features


def test_column_name_index_matches_linear_scan(spark, tables, db):
    """The encoder's name index resolves every token of a plan's JSON
    exactly as the first-match scan over ``db.tables`` it replaced —
    including the JSON key ``value`` of every Literal resolving to
    ``events.value``, pinned here as it is: fixing it changes encodings."""
    from deep_query_optimization_spark.plans.encoder import _COND_RE

    def linear(name):
        bare = name.split(".")[-1].strip("`")
        for t in db.tables:
            for c in t.columns:
                if c.name == bare:
                    return (t.name, c.name)
        return None

    enc = PlanEncoder(db)
    df = (
        tables["lineitem"]
        .filter(F.col("l_quantity") > 30)
        .join(tables["orders"], F.expr("l_orderkey = o_orderkey"))
        .select("l_quantity", "o_totalprice")
    )
    plan_json = df._jdf.queryExecution().optimizedPlan().toJSON()
    names = [c.name for t in db.tables for c in t.columns]
    tokens = _COND_RE.findall(plan_json) + names
    tokens += [f"{t.name}.{c.name}" for t in db.tables for c in t.columns]
    tokens += ["`orders`.`o_custkey`", "value", "nope", "a.b.nope", ""]
    assert "value" in _COND_RE.findall(plan_json)
    for tok in tokens:
        assert enc.find_column(tok) == linear(tok), tok
    assert enc.find_column("value") == ("events", "value")


def test_cached_vectors_are_read_only(db):
    enc = PlanEncoder(db)
    for v in (
        enc.column_vector("lineitem", "l_quantity"),
        enc.column_vector("lineitem", "nope"),
        enc.relation_vector("lineitem"),
        enc.relation_vector("nope"),
    ):
        with pytest.raises(ValueError):
            v[0] = 1.0
    assert enc.column_vector("lineitem", "l_quantity") is enc.column_vector("lineitem", "l_quantity")


def test_shared_encoder_concurrent_encodes_match_serial(spark, tables, db):
    """The engine's encode pool shares one encoder, and with it the
    vector caches, across threads: many more threads than cores, with a
    tiny switch interval, must produce exactly the serial encodings."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    dfs = [
        tables["lineitem"].filter(F.col("l_quantity") > 30).select("l_orderkey"),
        tables["lineitem"].join(tables["orders"], F.expr("l_orderkey = o_orderkey")).select("o_totalprice"),
        tables["orders"].join(tables["customer"], F.expr("o_custkey = c_custkey")).groupBy("c_mktsegment").count(),
    ]
    roots = [parse_optimized_plan(df) for df in dfs]
    serial = [PlanEncoder(db).encode_plan(root) for root in roots]
    shared = PlanEncoder(db)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as ex:
            futures = [ex.submit(shared.encode_plan, roots[i % len(roots)]) for i in range(96)]
            results = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(old)
    for i, (ids, mat) in enumerate(results):
        want_ids, want_mat = serial[i % len(roots)]
        assert np.array_equal(ids, want_ids) and np.array_equal(mat, want_mat)
