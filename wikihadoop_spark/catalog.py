"""Testdata table catalog.

Loads the driver-generated star schema (``TESTDATA.md``) with schemas
normalized so the Spark side and the DuckDB oracle see identical logical
types.  The one real mismatch: ``events.parquet`` stores
TIMESTAMP(NANOS) which Spark's vectorized parquet reader rejects — we
read it as int64 nanoseconds (``spark.sql.legacy.parquet.nanosAsLong``)
and convert to ``timestamp_ntz`` (micros, matching DuckDB's read of the
same column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .memo import memo, session, stat_key
from .session import configure_session

TABLE_NAMES = (
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

# Small dimensions worth broadcasting in joins (fits any executor; at
# 100 TB fact scale these stay tiny — classic star-schema broadcast).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # int64 nanos -> timestamp_ntz micros (identical to DuckDB's value)
        # integer DIV, not `/`: float division loses precision at 1.7e18 ns
        # (duckdb truncates nanos -> micros; DIV matches exactly)
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz"),
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The scan frame of one catalog table, memoized per session and
    file stat (see :mod:`.memo`).  A memoized frame carries its memo
    key as ``_memo_key`` so later plan-shape probes on the same scan
    can be memoized under it (``relational._spread``)."""
    configure_session(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    stats = stat_key([path])
    if stats is None:
        return _read_table(spark, path, name)
    key = ("table", path, stats)

    def build() -> DataFrame:
        df = _read_table(spark, path, name)
        df._memo_key = key
        return df

    return memo(session(spark), key, build)


class Tables:
    """Lazy per-query-table accessor: ``Tables(spark, sf_dir).lineitem``."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLE_NAMES:
            raise AttributeError(f"unknown table {name!r}")
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def register_views(self, names: tuple[str, ...] = TABLE_NAMES) -> None:
        for name in names:
            getattr(self, name).createOrReplaceTempView(name)
