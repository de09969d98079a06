"""Table loading.

QuestDB reads tables through partition-frame cursors
(``cairo/FullFwdPartitionFrameCursor.java``); interval scans binary-search
the designated timestamp (``cairo/IntervalFwdPartitionFrameCursor.java``).
In Spark both are subsumed by the Parquet scan: partition pruning +
min/max row-group pruning + predicate pushdown happen automatically once
filters are expressed on the timestamp column, so the loader's only job is
to hand back DataFrames (and remember each table's designated timestamp).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tsutil import normalize_ntz, to_nanos

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

# designated timestamp per table (QuestDB: exactly one ts column per table,
# SqlParser.java:4275 `timestamp(col)`); None = not a time-series table.
DESIGNATED_TS = {
    "orders": "o_orderdate",
    "lineitem": "l_shipdate",
    "events": "ts",
}


def _plan_cache(spark: SparkSession) -> dict:
    """Per-session memo of resolved table plans (DataFrames), keyed on
    (sf_dir, name, variant).  `spark.read.parquet` costs ~85 ms of
    driver-side file listing + footer/schema resolution PER CALL; a
    catalog resolves a table's metadata once per session instead (guide
    §6 — repeated listing of the same table is the anti-pattern table
    formats exist to remove).  Only the *plan* is memoized: every action
    still scans the parquet files, no row data is retained.  Safe because
    the test datasets are immutable (read-only mounts); mutable engine
    tables (sqlfront/table.py) never route through this loader."""
    cache = getattr(spark, "_qdb_plan_cache", None)
    if cache is None:
        cache = {}
        spark._qdb_plan_cache = cache
    return cache


def _pin_session_confs(spark: SparkSession) -> None:
    """Session normalization EVERY call, cached plan or not (r13 advice:
    pinning only on cache miss let a caller that mutates these confs
    mid-session execute cached plans under drifted settings — timeZone
    changes execution-time timestamp semantics, not just planning).

    - nanosAsLong: nanosecond parquet timestamps (QuestDB TIMESTAMP_NANO)
      aren't a Spark type; read as nano longs, truncate to micros
      (lossless for this data — enforced by tests). Set at runtime so the
      driver's own SparkSession gets it too.
    - timeZone: timestamps are naive/UTC in the data; pin the session so
      results are stable regardless of host timezone (the oracle is naive).
    - inferTimestampNTZ: Spark 4.1 infers TIMESTAMP_NTZ from naive parquet
      timestamps; the engine models QuestDB's single UTC-micros TIMESTAMP,
      so read as LTZ (exact under the pinned-UTC session) — see tsutil.py.
    - AQE: the engine's plans assume runtime coalescing + skew handling
      (session.py); a caller-provided bare session gets the same behavior.
    """
    c = spark.conf
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _pin_session_confs(spark)
    cached = _plan_cache(spark).get((sf_dir, name))
    if cached is not None:
        return cached
    df = normalize_ntz(spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")))
    ts = DESIGNATED_TS.get(name)
    if ts is not None and dict(df.dtypes).get(ts) == "bigint":
        # integer division: nanos ~1.7e18 exceeds double's 53-bit mantissa
        df = df.withColumn(ts, F.expr(f"timestamp_micros({ts} div 1000)"))
    _plan_cache(spark)[(sf_dir, name)] = df
    return df


def load_table_ns(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like load_table, but keep the designated timestamp at its native
    NANOSECOND resolution as an epoch-nanos long shadow column ``<ts>_ns``
    (QuestDB TIMESTAMP_NANO, ColumnType.java:149-150) alongside the micros
    TimestampType column. functions/nanos.py operates on the shadow."""
    _pin_session_confs(spark)
    cached = _plan_cache(spark).get((sf_dir, name, "ns"))
    if cached is not None:
        return cached
    df = normalize_ntz(spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")))
    ts = DESIGNATED_TS.get(name)
    if ts is not None and dict(df.dtypes).get(ts) == "bigint":
        df = df.withColumn(f"{ts}_ns", F.col(ts)).withColumn(
            ts, F.expr(f"timestamp_micros({ts} div 1000)")
        )
    elif ts is not None:
        # micros-resolution storage: synthesize the shadow (×1000 exact)
        df = df.withColumn(f"{ts}_ns", to_nanos(F.col(ts)))
    _plan_cache(spark)[(sf_dir, name, "ns")] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() can use them."""
    for t in TPCH_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
