from __future__ import annotations

import json

from pyspark.sql import types as T

from deep_query_optimization_spark.catalog import (
    Column,
    Database,
    DataType,
    Table,
    from_struct,
    load_database,
    to_known_data_type,
)


def test_type_mapping():
    assert to_known_data_type(T.DoubleType()) == DataType.FLOAT
    assert to_known_data_type(T.LongType()) == DataType.NUMBER
    assert to_known_data_type(T.IntegerType()) == DataType.NUMBER
    assert to_known_data_type(T.StringType()) == DataType.STRING
    assert to_known_data_type(T.BooleanType()) == DataType.BOOL
    assert to_known_data_type(T.TimestampType()) == DataType.TIME
    assert to_known_data_type(T.ArrayType(T.FloatType())) == DataType.ARRAY


def test_table_lookup_and_types_lookup():
    t = Table(
        "t",
        [
            Column("a", DataType.NUMBER),
            Column("b", DataType.NUMBER),
            Column("s", DataType.STRING),
        ],
    )
    assert t["a"].name == "a"
    assert t["a"].table is t
    assert [c.name for c in t.types_lookup[DataType.NUMBER]] == ["a", "b"]
    assert t["a"].full_name == "t.a"


def test_database_lookup_and_json_roundtrip(tmp_path):
    db = Database(
        [
            Table("x", [Column("a", DataType.NUMBER)]),
            Table("y", [Column("b", DataType.STRING)]),
        ]
    )
    assert db["x"].name == "x"
    assert db[1].name == "y"
    assert "x" in db and "zzz" not in db
    p = tmp_path / "schema.json"
    db.save(str(p))
    db2 = Database.load(str(p))
    assert json.dumps(db.to_json()) == json.dumps(db2.to_json())


def test_load_database_from_driver_tables(spark, sf_dir):
    db = load_database(spark, sf_dir)
    assert len(db) == 10
    li = db["lineitem"]
    assert li["l_quantity"].data_type == DataType.FLOAT
    assert li["l_orderkey"].data_type == DataType.NUMBER
    assert li["l_returnflag"].data_type == DataType.STRING
    assert li["l_shipdate"].data_type == DataType.TIME
    emb = db["embeddings"]
    assert emb["embedding"].data_type == DataType.ARRAY


def test_from_struct():
    schema = T.StructType([T.StructField("a", T.LongType()), T.StructField("s", T.StringType())])
    t = from_struct("t", schema)
    assert [c.data_type for c in t.columns] == [DataType.NUMBER, DataType.STRING]


def test_read_table_memo_bounded_and_session_keyed(monkeypatch, spark, sf_dir):
    """r13 hygiene: the per-session read_table memo evicts past its
    cap, and distinct session objects get distinct memos (weakref
    keying — a replaced session is never handed another's plans)."""
    from deep_query_optimization_spark import catalog

    monkeypatch.setattr(catalog, "_READ_CACHE", type(catalog._READ_CACHE)())
    monkeypatch.setattr(catalog, "_READ_CACHE_MAX", 2)
    for name in ("region", "nation", "supplier"):
        catalog.read_table(spark, sf_dir, name)
    memo = catalog._READ_CACHE[spark]
    assert len(memo) == 2
    assert (sf_dir, "region") not in memo  # oldest evicted
    assert {(sf_dir, "nation"), (sf_dir, "supplier")} == set(memo)
    # memoized plan is returned on a hit
    again = catalog.read_table(spark, sf_dir, "nation")
    assert again is memo[(sf_dir, "nation")]
    # a different session object gets its own memo dict
    other = spark.newSession()
    catalog.read_table(other, sf_dir, "region")
    assert (sf_dir, "region") in catalog._READ_CACHE[other]
    assert (sf_dir, "region") not in catalog._READ_CACHE[spark]


def test_read_table_memo_evicts_least_recently_read(monkeypatch, spark, sf_dir):
    """A hit refreshes its entry: read a, read b, re-read a, read c
    evicts b, not a."""
    from deep_query_optimization_spark import catalog

    monkeypatch.setattr(catalog, "_READ_CACHE", type(catalog._READ_CACHE)())
    monkeypatch.setattr(catalog, "_READ_CACHE_MAX", 2)
    a = catalog.read_table(spark, sf_dir, "region")
    catalog.read_table(spark, sf_dir, "nation")
    assert catalog.read_table(spark, sf_dir, "region") is a
    catalog.read_table(spark, sf_dir, "supplier")
    assert list(catalog._READ_CACHE[spark]) == [(sf_dir, "region"), (sf_dir, "supplier")]
    assert catalog.read_table(spark, sf_dir, "region") is a
