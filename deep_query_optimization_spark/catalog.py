"""Schema + metadata model over Spark DataFrames.

Maps the reference's schema model (``dqo/db/models.py``):

- ``DataType`` enum (FLOAT/NUMBER/STRING/BOOL/TIME, ``models.py:12-17``)
  → Spark type classes, plus the reverse mapping Spark → dqo type used by
  the workload generators (the reference's ``to_known_data_type``,
  ``dqo/db/clients/postgres.py:50-62``).
- ``Column`` (``models.py:83-133``), ``Table`` (``models.py:137-214``,
  incl. the per-type ``types_lookup``), ``Database`` (``models.py:218-266``,
  name/index lookup) — thin metadata wrappers; data lives in DataFrames
  registered as temp views, exactly like the reference kept data in
  Postgres and only held metadata in-process.
- JSON snapshot round-trip (reference ``dqo/db/serializeable.py``,
  consumed by ``dqo/datasets/__init__.py:86-87``).

Stats (``TableStats``/``ColumnStats``/``NumericStats``) live in
``stats.py``; ``Column.stats`` is populated by ``stats.collect_stats``.
"""

from __future__ import annotations

import enum
import json
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

if TYPE_CHECKING:
    from deep_query_optimization_spark.stats import ColumnStats, TableStats

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class DataType(enum.Enum):
    """The reference's 5 scalar types (``dqo/db/models.py:12-17``) plus
    the non-scalar kinds our extended tables need (arrays/binary)."""

    FLOAT = "FLOAT"
    NUMBER = "NUMBER"
    STRING = "STRING"
    BOOL = "BOOL"
    TIME = "TIME"
    ARRAY = "ARRAY"  # extension: embedding vectors
    BINARY = "BINARY"  # extension: multimodal payloads


def to_known_data_type(spark_type: T.DataType) -> DataType:
    """Spark type → dqo type (reference ``postgres.py:50-62`` did the
    same from Postgres type names)."""
    if isinstance(spark_type, (T.DoubleType, T.FloatType, T.DecimalType)):
        return DataType.FLOAT
    if isinstance(spark_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return DataType.NUMBER
    if isinstance(spark_type, T.StringType):
        return DataType.STRING
    if isinstance(spark_type, T.BooleanType):
        return DataType.BOOL
    if isinstance(spark_type, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return DataType.TIME
    if isinstance(spark_type, T.ArrayType):
        return DataType.ARRAY
    if isinstance(spark_type, T.BinaryType):
        return DataType.BINARY
    return DataType.STRING


def to_spark_type(dqo_type: DataType) -> T.DataType:
    return {
        DataType.FLOAT: T.DoubleType(),
        DataType.NUMBER: T.LongType(),
        DataType.STRING: T.StringType(),
        DataType.BOOL: T.BooleanType(),
        DataType.TIME: T.TimestampType(),
        DataType.ARRAY: T.ArrayType(T.FloatType()),
        DataType.BINARY: T.BinaryType(),
    }[dqo_type]


@dataclass
class Column:
    """Reference ``dqo/db/models.py:83-133``."""

    name: str
    data_type: DataType
    table: "Table | None" = field(default=None, repr=False)
    stats: "ColumnStats | None" = None

    @property
    def full_name(self) -> str:
        return f"{self.table.name}.{self.name}" if self.table else self.name

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {"name": self.name, "type": self.data_type.value}
        if self.stats is not None:
            d["stats"] = self.stats.to_json()
        return d

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "Column":
        from deep_query_optimization_spark.stats import ColumnStats

        col = cls(name=d["name"], data_type=DataType(d["type"]))
        if d.get("stats") is not None:
            col.stats = ColumnStats.from_json(d["stats"])
        return col


@dataclass
class Table:
    """Reference ``dqo/db/models.py:137-214``."""

    name: str
    columns: list[Column]
    alias: str | None = None
    stats: "TableStats | None" = None

    def __post_init__(self) -> None:
        for c in self.columns:
            c.table = self

    def __getitem__(self, name: str) -> Column:
        for c in self.columns:
            if c.name == name:
                return c
        raise KeyError(name)

    @property
    def types_lookup(self) -> dict[DataType, list[Column]]:
        """Group columns by dqo type (reference ``models.py:170-181``) —
        the generators use it to pick type-compatible join pairs."""
        out: dict[DataType, list[Column]] = {}
        for c in self.columns:
            out.setdefault(c.data_type, []).append(c)
        return out

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {
            "name": self.name,
            "columns": [c.to_json() for c in self.columns],
        }
        if self.stats is not None:
            d["stats"] = self.stats.to_json()
        return d

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "Table":
        from deep_query_optimization_spark.stats import TableStats

        t = cls(name=d["name"], columns=[Column.from_json(c) for c in d["columns"]])
        if d.get("stats") is not None:
            t.stats = TableStats.from_json(d["stats"])
        return t


@dataclass
class Database:
    """Reference ``dqo/db/models.py:218-266`` — list of tables with
    name/index lookup."""

    tables: list[Table]

    def __getitem__(self, key: str | int) -> Table:
        if isinstance(key, int):
            return self.tables[key]
        for t in self.tables:
            if t.name == key:
                return t
        raise KeyError(key)

    def __contains__(self, name: str) -> bool:
        return any(t.name == name for t in self.tables)

    def __len__(self) -> int:
        return len(self.tables)

    def to_json(self) -> dict[str, Any]:
        return {"tables": [t.to_json() for t in self.tables]}

    @classmethod
    def from_json(cls, d: dict[str, Any]) -> "Database":
        return cls(tables=[Table.from_json(t) for t in d["tables"]])

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.to_json(), f, indent=1)

    @classmethod
    def load(cls, path: str) -> "Database":
        with open(path) as f:
            return cls.from_json(json.load(f))


def from_struct(name: str, schema: T.StructType) -> Table:
    """Build a Table from a Spark schema — our ``information_schema``
    read (reference ``postgres.py:67-78``)."""
    return Table(name=name, columns=[Column(f.name, to_known_data_type(f.dataType)) for f in schema.fields])


# Per-session memo of read_table DataFrames. A DataFrame is a LAZY
# plan — every action still scans the parquet — but building one pays
# driver-side file listing + footer/schema inference on each
# ``spark.read.parquet`` call, and the 50-query gate builds the same
# ten table scans hundreds of times. Keyed weakly by the session so a
# stopped/replaced session's plans are never handed out (guide §1.2:
# per-task work — here, per-QUERY driver work — after the algorithm).
import weakref

_READ_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)
# r13 hygiene: bound each per-session memo. A long-lived session
# scanning many sf_dirs would otherwise accumulate plan entries
# forever; past a cap well above the 10 tables × handful of sf_dirs a
# session uses, evict the least recently read (a hit moves its entry to
# the end of the dict, so the first key is the coldest).
_READ_CACHE_MAX = 64


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one driver table (memoized per session —
    plan/metadata reuse only, never results).

    Some testdata generations write events.ts as TIMESTAMP(NANOS)
    parquet, which Spark's reader rejects; when that happens we read
    nanos as long and rebuild a micro-precision timestamp column
    (floor division — deterministic). Plain TIMESTAMP(MICROS) files
    pass through untouched."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    per_session = _READ_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.pop(key, None)
    if cached is not None:
        per_session[key] = cached  # now the most recently read
        return cached
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if len(per_session) >= _READ_CACHE_MAX:
        per_session.pop(next(iter(per_session)))
    per_session[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TPCH_TABLES) -> dict[str, DataFrame]:
    """Read the driver's parquet tables and register them as temp views
    so both the DataFrame API and ``spark.sql`` can address them."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def load_database(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TPCH_TABLES) -> Database:
    dfs = load_tables(spark, sf_dir, tables)
    return Database(tables=[from_struct(name, df.schema) for name, df in dfs.items()])
