"""SparkSession factory for the engine.

Reference behavior being re-created: QuestDB executes queries over a shared
worker pool with parallel page-frame execution
(``core/src/main/java/io/questdb/griffin/engine/table/AsyncGroupByRecordCursorFactory.java:75``).
In Spark the equivalents are partition parallelism + AQE, so the session is
configured once, here, with the scale-oriented settings the rest of the
engine assumes:

- AQE on (runtime re-planning, skew-join handling, partition coalescing),
- auto broadcast for small dimension tables,
- Arrow for the few Pandas-UDF code paths,
- UTC session timezone so timestamp semantics are stable and match the
  DuckDB oracle used by the test harness.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "questdb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession configured for this engine.

    On a real cluster the same configs apply unchanged; only ``master``
    differs. Tests run on ``local[$SPARK_GRAFT_CPUS]``; without that
    variable the default master is ``local[*]``.  The shuffle width is
    ``shuffle_partitions`` when given, else the started context's
    ``defaultParallelism`` (N for ``local[N]``, the executors' cores on a
    cluster), so a shuffle is as wide as the cores that run it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- scale knobs ---------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing mode, measured both ways at sf0.1 (r13 opt round,
        # BENCH_DETAIL_r13_opt_mid1 vs mid2): parallelismFirst=false (the
        # Spark-documented busy-cluster recommendation — coalesce toward
        # the advisory size) sped up broadcast-light shapes ~0.8x but
        # SERIALIZED the engine's compute-dense small-byte reduce stages
        # (in-row pair enumeration, decimal-limb folds: dedup_jaccard
        # 2.3x, l2price 2.0x, regr_bit_aggs 1.7x slower) — byte-based
        # coalescing is blind to CPU density.  This engine keeps the
        # default (true: respect parallelism); at cluster scale those same
        # stages carry real bytes and either setting yields advisory-sized
        # partitions.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024 * 1024)
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # openCostInBytes is Spark's per-file seek model (default 4 MB): it
        # FLOORS split sizes, so any table under ~4 MB scans as ONE task and
        # every CPU-heavy map over it (vector kernels, HOF trees, simhash)
        # runs serial.  1 MB is the measured sweet spot at bench scale:
        # sub-MB lifecycle/dimension tables stay single-task (per-task
        # overhead dominates them — 128 KB cost lifecycle queries ~40%),
        # while MB-range fact/embedding tables split enough to parallelize
        # kernel maps (simhash warm 1.13s -> 0.77s).  Large files split by
        # maxPartitionBytes regardless, so cluster-scale plans are
        # unchanged.
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # Python-worker channel over a Unix domain socket instead of TCP
        # loopback (Spark 4 feature): every Arrow-UDF task pays a
        # JVM<->worker handshake, and the suite runs hundreds of Arrow
        # stages; measured 4-5% on the UDF-heavy queries at sf0.1
        # (alternating-process A/B, r14 opt).  Latency win is
        # scale-independent — the handshake happens per task everywhere;
        # knob for platforms without UDS support.
        .config(
            "spark.python.unix.domain.socket.enabled",
            os.environ.get("SPARK_GRAFT_PY_UDS", "true"),
        )
        # --- correctness / interop -----------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # nanosecond parquet timestamps (QuestDB TIMESTAMP_NANO,
        # ColumnType.java:149-150) surface as LongType shadow columns and are
        # converted to micros in the loader (SURVEY §1.2)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive parquet timestamps load as TIMESTAMP (not NTZ): the engine
        # models QuestDB's single UTC-micros timestamp type (tsutil.py)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # local-mode niceties; harmless on a cluster
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    return spark
