"""DDL/DML statement surface (sqlfront/ddl.py) — the QuestDB statement
lifecycle routed onto TimeTable.

Reference: ``griffin/SqlCompilerImpl.java:3281`` keyword dispatch,
``griffin/engine/ops/AlterOperation.java``, ``UpdateOperatorImpl.java``,
``SqlParser.java:3081`` DEDUP UPSERT KEYS.
"""

from __future__ import annotations

import pytest

from questdb_spark.sqlfront.engine import QdbEngine


@pytest.fixture()
def eng(spark, tmp_path):
    return QdbEngine(spark, warehouse=str(tmp_path / "wh"))


def rows(df):
    return [tuple(r) for r in df.collect()]


def test_create_insert_select_roundtrip(eng):
    eng.sql(
        "CREATE TABLE trades (ts TIMESTAMP, sym SYMBOL, price DOUBLE, qty LONG) "
        "TIMESTAMP(ts) PARTITION BY DAY"
    )
    st = eng.sql("SHOW TABLES").collect()
    assert [(r["table"], r["designated_ts"]) for r in st] == [("trades", "ts")]

    # empty table is queryable with declared schema
    empty = eng.ddl_read("trades")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["ts", "sym", "price", "qty"]

    eng.sql(
        "INSERT INTO trades VALUES "
        "(TIMESTAMP '2024-01-01 00:00:00', 'AAPL', 10.0, 100), "
        "(TIMESTAMP '2024-01-02 01:00:00', 'MSFT', 20.0, 200)"
    )
    out = eng.sql("SELECT sym, price FROM trades ORDER BY sym")
    assert rows(out) == [("AAPL", 10.0), ("MSFT", 20.0)]

    parts = eng.sql("SHOW PARTITIONS FROM trades").collect()
    assert [r["partition"] for r in parts] == ["2024-01-01", "2024-01-02"]


def test_insert_select_and_column_subset(eng):
    eng.sql("CREATE TABLE a (ts TIMESTAMP, v DOUBLE) TIMESTAMP(ts)")
    eng.sql("INSERT INTO a VALUES (TIMESTAMP '2024-01-01 00:00:00', 1.5)")
    eng.sql("CREATE TABLE b (ts TIMESTAMP, v DOUBLE, tag STRING) TIMESTAMP(ts)")
    eng.sql("INSERT INTO b (ts, v) SELECT ts, v * 2 FROM a")
    assert rows(eng.sql("SELECT v, tag FROM b")) == [(3.0, None)]


def test_create_as_select_with_dedup(eng):
    eng.sql(
        "CREATE TABLE src AS ("
        "SELECT TIMESTAMP '2024-01-01 00:00:00' AS ts, 'x' AS k, 1.0 AS v"
        ") TIMESTAMP(ts) PARTITION BY DAY DEDUP UPSERT KEYS(ts, k)"
    )
    # same (ts, k) again: upsert keeps the last write
    eng.sql("INSERT INTO src VALUES (TIMESTAMP '2024-01-01 00:00:00', 'x', 9.0)")
    eng.sql("INSERT INTO src VALUES (TIMESTAMP '2024-01-01 00:00:00', 'y', 2.0)")
    assert sorted(rows(eng.sql("SELECT k, v FROM src"))) == [("x", 9.0), ("y", 2.0)]


def test_update_and_where(eng):
    eng.sql("CREATE TABLE t (ts TIMESTAMP, v LONG) TIMESTAMP(ts)")
    eng.sql(
        "INSERT INTO t VALUES (TIMESTAMP '2024-01-01 00:00:00', 1), "
        "(TIMESTAMP '2024-01-02 00:00:00', 2)"
    )
    eng.sql("UPDATE t SET v = v * 10 WHERE v > 1")
    assert sorted(rows(eng.sql("SELECT v FROM t"))) == [(1,), (20,)]


def test_alter_column_surface(eng):
    eng.sql("CREATE TABLE t (ts TIMESTAMP, v LONG) TIMESTAMP(ts)")
    eng.sql("INSERT INTO t VALUES (TIMESTAMP '2024-01-01 00:00:00', 7)")
    eng.sql("ALTER TABLE t ADD COLUMN note STRING")
    eng.sql("INSERT INTO t VALUES (TIMESTAMP '2024-01-02 00:00:00', 8, 'hi')")
    got = sorted(rows(eng.sql("SELECT v, note FROM t")))
    assert got == [(7, None), (8, "hi")]

    eng.sql("ALTER TABLE t RENAME COLUMN note TO comment")
    cols = [r["column"] for r in eng.sql("SHOW COLUMNS FROM t").collect()]
    assert cols == ["ts", "v", "comment"]

    eng.sql("ALTER TABLE t ALTER COLUMN v TYPE DOUBLE")
    types = {r["column"]: r["type"] for r in eng.sql("SHOW COLUMNS FROM t").collect()}
    assert types["v"] == "double"
    assert sorted(rows(eng.sql("SELECT v FROM t"))) == [(7.0,), (8.0,)]

    eng.sql("ALTER TABLE t DROP COLUMN comment")
    cols = [r["column"] for r in eng.sql("SHOW COLUMNS FROM t").collect()]
    assert cols == ["ts", "v"]


def test_drop_partition_truncate_rename_drop(eng):
    eng.sql("CREATE TABLE t (ts TIMESTAMP, v LONG) TIMESTAMP(ts) PARTITION BY DAY")
    eng.sql(
        "INSERT INTO t VALUES (TIMESTAMP '2024-01-01 05:00:00', 1), "
        "(TIMESTAMP '2024-01-02 05:00:00', 2)"
    )
    eng.sql("ALTER TABLE t DROP PARTITION LIST '2024-01-01'")
    assert rows(eng.sql("SELECT v FROM t")) == [(2,)]

    eng.sql("RENAME TABLE t TO t2")
    assert rows(eng.sql("SELECT v FROM t2")) == [(2,)]

    eng.sql("TRUNCATE TABLE t2")
    assert eng.sql("SELECT * FROM t2").count() == 0
    # schema survives truncation
    assert [f.name for f in eng.ddl_read("t2").schema.fields] == ["ts", "v"]

    eng.sql("DROP TABLE t2")
    assert "t2" not in eng.ddl_tables
    eng.sql("DROP TABLE IF EXISTS t2")  # no error


def test_dialect_query_over_ddl_table(eng):
    """A DDL-created table participates in dialect queries (SAMPLE BY)."""
    eng.sql("CREATE TABLE m (ts TIMESTAMP, v DOUBLE) TIMESTAMP(ts) PARTITION BY DAY")
    eng.sql(
        "INSERT INTO m VALUES (TIMESTAMP '2024-01-01 00:10:00', 1.0), "
        "(TIMESTAMP '2024-01-01 00:20:00', 3.0), "
        "(TIMESTAMP '2024-01-01 01:10:00', 5.0)"
    )
    out = eng.sql("SELECT ts, avg(v) AS a FROM m SAMPLE BY 1h").orderBy("ts")
    assert [r["a"] for r in out.collect()] == [2.0, 5.0]


def test_hour_partitioning(eng):
    eng.sql("CREATE TABLE h (ts TIMESTAMP, v LONG) TIMESTAMP(ts) PARTITION BY HOUR")
    eng.sql(
        "INSERT INTO h VALUES (TIMESTAMP '2024-01-01 00:10:00', 1), "
        "(TIMESTAMP '2024-01-01 01:10:00', 2)"
    )
    parts = [r["partition"] for r in eng.sql("SHOW PARTITIONS FROM h").collect()]
    assert parts == ["2024-01-01-00", "2024-01-01-01"]
    eng.sql("ALTER TABLE h DROP PARTITION LIST '2024-01-01T00'")
    assert rows(eng.sql("SELECT v FROM h")) == [(2,)]


# -- materialized / live views (sqlfront/matview_ddl.py) ---------------------


def _seed_events(eng, name="ev"):
    """Small append-friendly base table with a designated timestamp."""
    eng.sql(f"CREATE TABLE {name} (ts TIMESTAMP, sym SYMBOL, v DOUBLE) "
            f"TIMESTAMP(ts) PARTITION BY DAY")
    eng.sql(
        f"INSERT INTO {name} VALUES "
        "(TIMESTAMP '2024-01-01 00:10:00', 'a', 1.0), "
        "(TIMESTAMP '2024-01-01 00:50:00', 'a', 2.0), "
        "(TIMESTAMP '2024-01-01 01:10:00', 'b', 3.0), "
        "(TIMESTAMP '2024-01-01 02:20:00', 'a', 4.0)"
    )
    eng.register(name, eng.ddl_read(name), designated_ts="ts")


def test_matview_create_query_refresh_drop(eng):
    _seed_events(eng)
    st = eng.sql(
        "CREATE MATERIALIZED VIEW hourly AS ("
        "SELECT ts, sym, sum(v) AS total, count(*) AS n FROM ev SAMPLE BY 1h)"
    ).collect()
    assert st[0]["op"] == "create"

    got = {(str(r["ts"]), r["sym"]): (r["total"], r["n"])
           for r in eng.sql("SELECT * FROM hourly").collect()}
    assert got[("2024-01-01 00:00:00", "a")] == (3.0, 2)
    assert got[("2024-01-01 01:00:00", "b")] == (3.0, 1)
    assert got[("2024-01-01 02:00:00", "a")] == (4.0, 1)

    # append rows: one into the hwm bucket, one into a new bucket
    eng.sql(
        "INSERT INTO ev VALUES "
        "(TIMESTAMP '2024-01-01 02:40:00', 'a', 10.0), "
        "(TIMESTAMP '2024-01-01 03:05:00', 'b', 7.0)"
    )
    eng.register("ev", eng.ddl_read("ev"), designated_ts="ts")

    # stale until refreshed: an IMMEDIATE view does not refresh on a base
    # commit or on read
    stale = {str(r["ts"]) for r, in zip(eng.sql("SELECT ts FROM hourly").collect())}
    assert "2024-01-01 03:00:00" not in stale

    eng.sql("REFRESH MATERIALIZED VIEW hourly INCREMENTAL")
    got2 = {(str(r["ts"]), r["sym"]): (r["total"], r["n"])
            for r in eng.sql("SELECT * FROM hourly").collect()}
    assert got2[("2024-01-01 02:00:00", "a")] == (14.0, 2)  # hwm bucket recomputed
    assert got2[("2024-01-01 03:00:00", "b")] == (7.0, 1)   # new bucket appears
    assert got2[("2024-01-01 00:00:00", "a")] == (3.0, 2)   # untouched head intact

    eng.sql("DROP MATERIALIZED VIEW hourly")
    assert "hourly" not in eng.matviews
    with pytest.raises(Exception):
        eng.sql("REFRESH MATERIALIZED VIEW hourly FULL")


def test_matview_full_refresh_covers_o3(eng):
    _seed_events(eng, "ev2")
    eng.sql(
        "CREATE MATERIALIZED VIEW mv2 AS ("
        "SELECT ts, sum(v) AS total FROM ev2 SAMPLE BY 1h)"
    )
    # out-of-order insert BEFORE the view's newest bucket: FULL recomputes
    # every bucket
    eng.sql("INSERT INTO ev2 VALUES (TIMESTAMP '2024-01-01 00:30:00', 'c', 100.0)")
    eng.register("ev2", eng.ddl_read("ev2"), designated_ts="ts")
    eng.sql("REFRESH MATERIALIZED VIEW mv2 FULL")
    got = {str(r["ts"]): r["total"] for r in eng.sql("SELECT * FROM mv2").collect()}
    assert got["2024-01-01 00:00:00"] == 103.0


def test_live_view_refreshes_on_read(eng):
    _seed_events(eng, "ev3")
    eng.sql(
        "CREATE LIVE VIEW lv AS (SELECT ts, count(*) AS n FROM ev3 SAMPLE BY 1h)"
    )
    eng.sql("INSERT INTO ev3 VALUES (TIMESTAMP '2024-01-01 05:00:01', 'z', 9.0)")
    eng.register("ev3", eng.ddl_read("ev3"), designated_ts="ts")
    # no explicit REFRESH: reading the live view picks the new bucket up
    got = {str(r["ts"]) for r in eng.sql("SELECT ts FROM lv").collect()}
    assert "2024-01-01 05:00:00" in got


# -- TTL / VACUUM / CHECKPOINT ----------------------------------------------


def test_ttl_eviction(eng):
    eng.sql("CREATE TABLE sensor (ts TIMESTAMP, v DOUBLE) TIMESTAMP(ts) "
            "PARTITION BY DAY TTL 2 DAYS")
    assert eng.ddl_tables["sensor"].ttl_hours_or_months == 48
    eng.sql(
        "INSERT INTO sensor VALUES "
        "(TIMESTAMP '2024-01-01 12:00:00', 1.0), "
        "(TIMESTAMP '2024-01-02 12:00:00', 2.0), "
        "(TIMESTAMP '2024-01-03 12:00:00', 3.0)"
    )
    # all partitions young enough: ceiling(01-01)=01-02 > 01-03T12 - 48h
    assert eng.ddl_read("sensor").count() == 3
    # a new append advances max ts to Jan-5: partitions whose CEILING is
    # >= 48h old expire (TableUtils.isOlderThanTtl uses >=) — Jan-1
    # (ceiling Jan-2, 72h old) and Jan-2 (ceiling Jan-3, exactly 48h) go;
    # Jan-3 (ceiling Jan-4, 24h) stays
    eng.sql("INSERT INTO sensor VALUES (TIMESTAMP '2024-01-05 00:00:00', 5.0)")
    vals = sorted(r["v"] for r in eng.ddl_read("sensor").collect())
    assert vals == [3.0, 5.0]


def test_alter_set_ttl(eng):
    eng.sql("CREATE TABLE logs (ts TIMESTAMP, m SYMBOL) TIMESTAMP(ts) PARTITION BY DAY")
    eng.sql(
        "INSERT INTO logs VALUES "
        "(TIMESTAMP '2024-01-01 00:00:00', 'a'), "
        "(TIMESTAMP '2024-01-10 00:00:00', 'b')"
    )
    st = eng.sql("ALTER TABLE logs SET TTL 3 DAYS").collect()[0]
    assert eng.ddl_tables["logs"].ttl_hours_or_months == 72
    assert "evicted" in st["detail"]
    assert [r["m"] for r in eng.ddl_read("logs").collect()] == ["b"]


def test_vacuum_compacts_partitions(eng):
    eng.sql("CREATE TABLE frag (ts TIMESTAMP, v LONG) TIMESTAMP(ts) PARTITION BY DAY")
    for i in range(3):  # three appends → three files in the same partition
        eng.sql(f"INSERT INTO frag VALUES (TIMESTAMP '2024-01-01 0{i}:00:00', {i})")
    t = eng.ddl_tables["frag"]
    import os
    pdir = os.path.join(t.path, "part_date=2024-01-01")
    assert len([f for f in os.listdir(pdir) if f.endswith(".parquet")]) >= 3
    st = eng.sql("VACUUM TABLE frag").collect()[0]
    assert "1 partitions compacted" in st["detail"]
    assert len([f for f in os.listdir(pdir) if f.endswith(".parquet")]) == 1
    assert sorted(r["v"] for r in eng.ddl_read("frag").collect()) == [0, 1, 2]


def test_checkpoint_snapshot_isolation(eng):
    from questdb_spark.sqlfront.ddl import read_checkpoint

    eng.sql("CREATE TABLE cp (ts TIMESTAMP, v LONG) TIMESTAMP(ts) PARTITION BY DAY")
    eng.sql("INSERT INTO cp VALUES (TIMESTAMP '2024-01-01 00:00:00', 1)")
    eng.sql("CHECKPOINT CREATE")
    eng.sql("INSERT INTO cp VALUES (TIMESTAMP '2024-01-02 00:00:00', 2)")
    # live read sees both; checkpoint read sees only the snapshot
    assert eng.ddl_read("cp").count() == 2
    assert [r["v"] for r in read_checkpoint(eng, "cp").collect()] == [1]
    st = eng.sql("CHECKPOINT RELEASE").collect()[0]
    assert st["detail"] == "released"
    # legacy aliases parse
    eng.sql("SNAPSHOT PREPARE")
    eng.sql("SNAPSHOT COMPLETE")


def test_explain_and_show_create(eng):
    eng.sql("CREATE TABLE sc (ts TIMESTAMP, sym SYMBOL, v DOUBLE) TIMESTAMP(ts) "
            "PARTITION BY DAY DEDUP UPSERT KEYS(sym) TTL 3 DAYS")
    ddl = eng.sql("SHOW CREATE TABLE sc").collect()[0]["ddl"]
    assert "CREATE TABLE sc" in ddl and "TIMESTAMP(ts)" in ddl
    assert "PARTITION BY DAY" in ddl and "DEDUP UPSERT KEYS(ts, sym)" in ddl
    assert "TTL 72 HOURS" in ddl

    eng.sql("INSERT INTO sc VALUES (TIMESTAMP '2024-01-01 00:00:00', 'a', 1.0)")
    eng.register("sc", eng.ddl_read("sc"), designated_ts="ts")
    plan = eng.sql("EXPLAIN SELECT ts, sum(v) AS sv FROM sc SAMPLE BY 1h").collect()
    assert any("HashAggregate" in r["plan"] or "Aggregate" in r["plan"] for r in plan)

    eng.sql("CREATE MATERIALIZED VIEW scv AS (SELECT ts, sum(v) AS sv FROM sc SAMPLE BY 1h)")
    vd = eng.sql("SHOW CREATE MATERIALIZED VIEW scv").collect()[0]["ddl"]
    assert vd.startswith("CREATE MATERIALIZED VIEW scv WITH BASE 'sc' AS")
    assert "SAMPLE BY 1h" in vd


def test_update_from_join(eng):
    """UPDATE ... FROM (SqlParser.java:3938 fromModel): assignments pull
    values from a joined table; unmatched rows and partitions untouched."""
    eng.sql("CREATE TABLE pos (ts TIMESTAMP, sym SYMBOL, px DOUBLE) TIMESTAMP(ts) "
            "PARTITION BY DAY")
    eng.sql(
        "INSERT INTO pos VALUES "
        "(TIMESTAMP '2024-01-01 00:00:00', 'AAPL', 1.0), "
        "(TIMESTAMP '2024-01-01 01:00:00', 'MSFT', 2.0), "
        "(TIMESTAMP '2024-01-02 00:00:00', 'GOOG', 3.0)"
    )
    marks = eng.spark.createDataFrame(
        [("AAPL", 190.0), ("MSFT", 410.0)], "sym string, mark double"
    )
    eng.register("marks", marks)
    eng.sql("UPDATE pos SET px = m.mark FROM marks m WHERE pos.sym = m.sym")
    got = {r["sym"]: r["px"] for r in eng.ddl_read("pos").collect()}
    assert got == {"AAPL": 190.0, "MSFT": 410.0, "GOOG": 3.0}


def test_matview_monthly_incremental(eng):
    """Month-bucket mat views refresh incrementally too (calendar floor on
    month multiples since 1970 — no silent FULL fallback)."""
    eng.sql("CREATE TABLE evm (ts TIMESTAMP, v DOUBLE) TIMESTAMP(ts) PARTITION BY MONTH")
    eng.sql(
        "INSERT INTO evm VALUES "
        "(TIMESTAMP '2024-01-15 00:00:00', 1.0), (TIMESTAMP '2024-02-10 00:00:00', 2.0)"
    )
    eng.register("evm", eng.ddl_read("evm"), designated_ts="ts")
    eng.sql("CREATE MATERIALIZED VIEW mvm AS (SELECT ts, sum(v) AS sv FROM evm SAMPLE BY 1M)")
    eng.sql(
        "INSERT INTO evm VALUES "
        "(TIMESTAMP '2024-02-20 00:00:00', 5.0), (TIMESTAMP '2024-03-05 00:00:00', 7.0)"
    )
    eng.register("evm", eng.ddl_read("evm"), designated_ts="ts")
    eng.sql("REFRESH MATERIALIZED VIEW mvm INCREMENTAL")
    got = {str(r["ts"]): r["sv"] for r in eng.sql("SELECT * FROM mvm").collect()}
    assert got == {
        "2024-01-01 00:00:00": 1.0,
        "2024-02-01 00:00:00": 7.0,  # hwm bucket recomputed with the new row
        "2024-03-01 00:00:00": 7.0,
    }


def test_plain_view_roundtrip(eng):
    """CREATE VIEW (CompileViewModel.java): non-materialized, re-lowered on
    every read — sees rows inserted after creation; DROP VIEW unregisters."""
    eng.sql("CREATE TABLE vsrc (ts TIMESTAMP, v DOUBLE) TIMESTAMP(ts) PARTITION BY DAY")
    eng.sql("INSERT INTO vsrc VALUES (TIMESTAMP '2024-01-01 00:00:00', 2.0)")
    eng.sql("CREATE VIEW vdouble AS SELECT ts, v * 2 AS v2 FROM vsrc")
    assert [r["v2"] for r in eng.sql("SELECT v2 FROM vdouble").collect()] == [4.0]
    # view reflects post-creation inserts (not a snapshot)
    eng.sql("INSERT INTO vsrc VALUES (TIMESTAMP '2024-01-02 00:00:00', 5.0)")
    got = sorted(r["v2"] for r in eng.sql("SELECT v2 FROM vdouble").collect())
    assert got == [4.0, 10.0]
    # dialect clauses resolve through the view on the dialect path
    got = eng.sql("SELECT ts, sum(v2) AS s FROM vdouble SAMPLE BY 1d").collect()
    assert [r["s"] for r in got] == [4.0, 10.0]
    # name collision with a table is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        eng.sql("CREATE VIEW vsrc AS SELECT 1")
    eng.sql("DROP VIEW vdouble")
    with _pytest.raises(Exception):
        eng.sql("SELECT * FROM vdouble").collect()
    # IF EXISTS tolerates the absent view
    eng.sql("DROP VIEW IF EXISTS vdouble")


def test_read_parquet_table_function(eng, spark, tmp_path):
    """read_parquet('path') / parquet_scan('path')
    (ReadParquetFunctionFactory.java:50) with inline timestamp() designation
    feeding a dialect SAMPLE BY."""
    p = str(tmp_path / "ext.parquet")
    spark.createDataFrame(
        [("2024-01-01 00:00:30", 1.0), ("2024-01-01 01:00:30", 5.0)],
        "at string, v double",
    ).selectExpr("CAST(at AS TIMESTAMP) AS at", "v").write.parquet(p)
    got = eng.sql(f"SELECT count(*) AS n FROM read_parquet('{p}')").collect()
    assert got[0]["n"] == 2
    got = eng.sql(
        f"select at, sum(v) s from parquet_scan('{p}') timestamp(at) sample by 1h"
    ).collect()
    assert [(str(r["at"]), r["s"]) for r in got] == [
        ("2024-01-01 00:00:00", 1.0),
        ("2024-01-01 01:00:00", 5.0),
    ]


def test_detach_attach_partition(eng):
    """DETACH/ATTACH PARTITION (AlterOperation.java): detach hides the
    partition from every read, attach restores it bit-identically; schema
    mismatch and unknown ranges are rejected."""
    eng.sql("CREATE TABLE dp (ts TIMESTAMP, v DOUBLE) TIMESTAMP(ts) PARTITION BY DAY")
    eng.sql(
        "INSERT INTO dp VALUES (TIMESTAMP '2024-01-01 10:00:00', 1.0), "
        "(TIMESTAMP '2024-01-02 10:00:00', 2.0), (TIMESTAMP '2024-01-03 10:00:00', 3.0)"
    )
    eng.sql("ALTER TABLE dp DETACH PARTITION LIST '2024-01-02'")
    got = sorted(r["v"] for r in eng.sql("SELECT v FROM dp").collect())
    assert got == [1.0, 3.0]
    # double-detach of the same range fails (no partitions left in range)
    import pytest as _pytest

    with _pytest.raises(Exception):
        eng.sql("ALTER TABLE dp DETACH PARTITION LIST '2024-01-02'")
    eng.sql("ALTER TABLE dp ATTACH PARTITION LIST '2024-01-02'")
    got = sorted(r["v"] for r in eng.sql("SELECT v FROM dp").collect())
    assert got == [1.0, 2.0, 3.0]
    # attach with nothing detached in range
    with _pytest.raises(Exception):
        eng.sql("ALTER TABLE dp ATTACH PARTITION LIST '2024-01-02'")
    # interval range detach (two days at once: [Jan1 00:00, Jan2 01:00))
    eng.sql("ALTER TABLE dp DETACH PARTITION LIST '2024-01-01T00;24h'")
    got = sorted(r["v"] for r in eng.sql("SELECT v FROM dp").collect())
    assert got == [3.0]
    eng.sql("ALTER TABLE dp ATTACH PARTITION LIST '2024-01'")
    got = sorted(r["v"] for r in eng.sql("SELECT v FROM dp").collect())
    assert got == [1.0, 2.0, 3.0]


# -- general live views (cairo/lv/: arbitrary checkpointed queries) ----------


def test_live_view_latest_on_incremental_and_o3(eng):
    """LATEST ON live view: per-key state merge on append; an out-of-order
    write below the newest stored row is in the base's change log, and the
    merge starts at its ts (WalTxnRangeLoader analogue)."""
    _seed_events(eng, "ev4")
    eng.sql(
        "CREATE LIVE VIEW lvl AS (SELECT ts, sym, v FROM ev4 "
        "LATEST ON ts PARTITION BY sym)"
    )

    def snap():
        return {
            r["sym"]: (str(r["ts"]), r["v"])
            for r in eng.sql("SELECT * FROM lvl").collect()
        }

    got = snap()
    assert got["a"] == ("2024-01-01 02:20:00", 4.0)
    assert got["b"] == ("2024-01-01 01:10:00", 3.0)

    # in-order append: newer row for a, brand-new key c
    eng.sql(
        "INSERT INTO ev4 VALUES "
        "(TIMESTAMP '2024-01-01 03:00:00', 'a', 9.0), "
        "(TIMESTAMP '2024-01-01 03:30:00', 'c', 5.0)"
    )
    eng.register("ev4", eng.ddl_read("ev4"), designated_ts="ts")
    got = snap()
    assert got["a"] == ("2024-01-01 03:00:00", 9.0)
    assert got["c"] == ("2024-01-01 03:30:00", 5.0)
    assert got["b"] == ("2024-01-01 01:10:00", 3.0)

    # O3 append BELOW the hwm that still changes b's latest row
    eng.sql("INSERT INTO ev4 VALUES (TIMESTAMP '2024-01-01 01:40:00', 'b', 8.0)")
    eng.register("ev4", eng.ddl_read("ev4"), designated_ts="ts")
    got = snap()
    assert got["b"] == ("2024-01-01 01:40:00", 8.0)
    # batch-twin equality after the whole feed
    twin = {
        r["sym"]: (str(r["ts"]), r["v"])
        for r in eng.sql(
            "SELECT ts, sym, v FROM ev4 LATEST ON ts PARTITION BY sym"
        ).collect()
    }
    assert got == twin


def test_live_view_generic_query_and_gating(eng):
    """Arbitrary (non-SAMPLE-BY, non-LATEST-ON) query as a LIVE view:
    change-gated recompute keeps it equal to the batch twin across
    in-order and out-of-order feeds; MATERIALIZED stays SAMPLE-BY-only."""
    _seed_events(eng, "ev5")
    eng.sql(
        "CREATE LIVE VIEW lvg AS (SELECT sym, count(*) AS n, sum(v) AS sv "
        "FROM ev5 GROUP BY sym)"
    )

    def snap():
        return {
            r["sym"]: (r["n"], r["sv"])
            for r in eng.sql("SELECT * FROM lvg").collect()
        }

    assert snap() == {"a": (3, 7.0), "b": (1, 3.0)}
    # O3 write (older than every existing row)
    eng.sql("INSERT INTO ev5 VALUES (TIMESTAMP '2023-12-31 23:00:00', 'b', 2.0)")
    eng.register("ev5", eng.ddl_read("ev5"), designated_ts="ts")
    assert snap() == {"a": (3, 7.0), "b": (2, 5.0)}

    with pytest.raises(Exception):
        eng.sql("CREATE MATERIALIZED VIEW badmv AS (SELECT sym FROM ev5 GROUP BY sym)")


def test_live_view_restart_resumes_checkpoint(eng, spark):
    """A new session over the same warehouse adopts the persisted
    checkpoint (LiveViewCheckpointDataStore): no initial recompute, and
    incremental refresh resumes from the stored base position."""
    from questdb_spark.sqlfront.engine import QdbEngine

    _seed_events(eng, "ev6")
    body = "SELECT ts, sym, v FROM ev6 LATEST ON ts PARTITION BY sym"
    eng.sql(f"CREATE LIVE VIEW lvr AS ({body})")
    eng.sql("SELECT * FROM lvr").collect()

    eng2 = QdbEngine(spark, warehouse=eng.warehouse)
    eng2.register("ev6", eng.ddl_read("ev6"), designated_ts="ts")
    st = eng2.sql(f"CREATE LIVE VIEW lvr AS ({body})").collect()
    assert st[0]["detail"] == "restored from checkpoint"

    # incremental refresh continues in the new session
    eng.sql("INSERT INTO ev6 VALUES (TIMESTAMP '2024-01-01 04:00:00', 'a', 42.0)")
    eng2.register("ev6", eng.ddl_read("ev6"), designated_ts="ts")
    got = {
        r["sym"]: (str(r["ts"]), r["v"])
        for r in eng2.sql("SELECT * FROM lvr").collect()
    }
    assert got["a"] == ("2024-01-01 04:00:00", 42.0)
    twin = {
        r["sym"]: (str(r["ts"]), r["v"])
        for r in eng2.sql(body).collect()
    }
    assert got == twin


# -- WAL suspend/resume + ALTER params/hints (r6) ---------------------------

def _mk_walt(eng):
    eng.sql(
        "CREATE TABLE walt (ts TIMESTAMP, x LONG) TIMESTAMP(ts) PARTITION BY DAY"
    )
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-01 00:00:00', 1)")


def test_suspend_parks_commits_resume_applies(eng):
    _mk_walt(eng)
    eng.sql("ALTER TABLE walt SUSPEND WAL")
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-02 00:00:00', 2)")
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-03 00:00:00', 3)")
    assert eng.sql("SELECT count(*) n FROM walt").collect()[0][0] == 1
    assert eng.sql(
        "SELECT suspended FROM tables() WHERE table_name = 'walt'"
    ).collect()[0][0] is True
    eng.sql("ALTER TABLE walt RESUME WAL")
    assert eng.sql("SELECT count(*) n FROM walt").collect()[0][0] == 3
    assert eng.sql(
        "SELECT suspended FROM tables() WHERE table_name = 'walt'"
    ).collect()[0][0] is False


def test_resume_from_txn_skips_poisoned(eng):
    _mk_walt(eng)
    eng.sql("ALTER TABLE walt SUSPEND WAL")
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-02 00:00:00', 666)")
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-03 00:00:00', 3)")
    # parked txns are seq 1 (x=666) and 2 (x=3): the pre-suspend INSERT
    # created the table via write(), so the WAL seq starts at the first
    # parked commit
    eng.sql("ALTER TABLE walt RESUME WAL FROM TXN 2")
    got = sorted(r["x"] for r in eng.sql("SELECT x FROM walt").collect())
    assert got == [1, 3]  # txn 1 (x=666) discarded


def test_suspend_with_error_tag_and_reaccepts(eng):
    _mk_walt(eng)
    eng.sql("ALTER TABLE walt SUSPEND WAL WITH 24, 'disk full'")
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-02 00:00:00', 2)")
    # SET TYPE BYPASS WAL voids suspension and applies pending
    eng.sql("ALTER TABLE walt SET TYPE BYPASS WAL")
    assert eng.sql("SELECT count(*) n FROM walt").collect()[0][0] == 2


def test_set_param_reflected_in_tables(eng):
    _mk_walt(eng)
    eng.sql("ALTER TABLE walt SET PARAM maxUncommittedRows = 123456")
    eng.sql("ALTER TABLE walt SET PARAM o3MaxLag = '30s'")
    r = eng.sql(
        "SELECT max_uncommitted_rows, o3_max_lag FROM tables() "
        "WHERE table_name = 'walt'"
    ).collect()[0]
    assert (r[0], r[1]) == (123456, "30s")
    with pytest.raises(Exception, match="unknown table parameter"):
        eng.sql("ALTER TABLE walt SET PARAM bogusKnob = 1")


def test_alter_column_hints(eng):
    _mk_walt(eng)
    eng.sql("ALTER TABLE walt ALTER COLUMN x ADD INDEX CAPACITY 512")
    eng.sql("ALTER TABLE walt ALTER COLUMN x DROP INDEX")
    with pytest.raises(Exception, match="no index"):
        eng.sql("ALTER TABLE walt ALTER COLUMN x DROP INDEX")
    eng.sql("ALTER TABLE walt ALTER COLUMN x CACHE")
    eng.sql("ALTER TABLE walt ALTER COLUMN x SYMBOL CAPACITY 4096")
    with pytest.raises(Exception, match="no such column"):
        eng.sql("ALTER TABLE walt ALTER COLUMN nope ADD INDEX")


def test_wal_transactions_and_functions_listing(eng):
    _mk_walt(eng)
    eng.sql("ALTER TABLE walt SUSPEND WAL")
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-02 00:00:00', 2)")
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-03 00:00:00', 3)")
    rows = {(r["txn"], r["state"]) for r in eng.sql(
        "SELECT txn, state FROM wal_transactions('walt')"
    ).collect()}
    assert rows == {(1, "pending"), (2, "pending")}
    eng.sql("ALTER TABLE walt RESUME WAL")
    rows = {(r["txn"], r["state"]) for r in eng.sql(
        "SELECT txn, state FROM wal_transactions('walt')"
    ).collect()}
    assert rows == {(1, "applied"), (2, "applied")}
    n = eng.sql(
        "SELECT count(*) c FROM functions() WHERE kind = 'macro'"
    ).collect()[0][0]
    assert n > 30
    kw = {r["keyword"] for r in eng.sql("SELECT * FROM keywords()").collect()}
    assert {"sample", "asof", "wal"} <= kw


def test_reindex_backup_session_noops(eng, tmp_path):
    import os

    _mk_walt(eng)
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-01 02:00:00', 2)")
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-01 03:00:00', 3)")
    st = eng.sql("REINDEX TABLE walt COLUMN x LOCK EXCLUSIVE").collect()[0]
    assert "compacted" in st["detail"]
    # fragmented partition (3 commits) now one file; data intact
    assert eng.sql("SELECT count(*) n FROM walt").collect()[0][0] == 3
    with pytest.raises(Exception, match="no such column"):
        eng.sql("REINDEX TABLE walt COLUMN nope")

    st = eng.sql("BACKUP TABLE walt").collect()[0]
    root = st["detail"].split("-> ")[1]
    assert os.path.isdir(os.path.join(root, "walt"))
    # backup is a usable parquet copy
    n = eng.spark.read.parquet(os.path.join(root, "walt")).count()
    assert n == 3
    eng.sql("BACKUP DATABASE")

    for stmt in ("BEGIN", "COMMIT", "ROLLBACK", "DISCARD ALL",
                 "SET statement_timeout = 100", "RESET all", "CLOSE c1",
                 "UNLISTEN *", "DEALLOCATE p1"):
        assert eng.sql(stmt).collect()[0]["detail"] == "session no-op"


def test_squash_partitions(eng):
    import os

    _mk_walt(eng)
    # three commits into the same day = three parquet files in the
    # partition dir; SQUASH PARTITIONS rewrites them as one
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-01 01:00:00', 2)")
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-01 02:00:00', 3)")
    t = eng.ddl_tables["walt"]
    pdir = next(
        os.path.join(t.path, d) for d in os.listdir(t.path) if "=" in d
    )
    assert len([f for f in os.listdir(pdir) if f.endswith(".parquet")]) == 3
    st = eng.sql("ALTER TABLE walt SQUASH PARTITIONS").collect()[0]
    assert "squashed 1 partitions" in st["detail"]
    assert len([f for f in os.listdir(pdir) if f.endswith(".parquet")]) == 1
    got = sorted(r["x"] for r in eng.sql("SELECT x FROM walt").collect())
    assert got == [1, 2, 3]
    with pytest.raises(Exception, match="'partitions' expected"):
        eng.sql("ALTER TABLE walt SQUASH PARTITION")


def test_force_drop_partition_bypasses_suspension(eng):
    _mk_walt(eng)
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-02 00:00:00', 2)")
    eng.sql("ALTER TABLE walt SUSPEND WAL")
    # plain DROP PARTITION is refused while suspended
    with pytest.raises(Exception, match="suspended"):
        eng.sql("ALTER TABLE walt DROP PARTITION LIST '2024-01-01'")
    # FORCE DROP bypasses the guard (exact partition-name form)
    st = eng.sql(
        "ALTER TABLE walt FORCE DROP PARTITION LIST '2024-01-01'"
    ).collect()[0]
    assert "2024-01-01" in st["detail"]
    eng.sql("ALTER TABLE walt RESUME WAL")
    got = sorted(r["x"] for r in eng.sql("SELECT x FROM walt").collect())
    assert got == [2]
    # a miss is ignored, not an error (recovery semantics)
    st = eng.sql(
        "ALTER TABLE walt FORCE DROP PARTITION LIST '1999-01-01'"
    ).collect()[0]
    assert "[]" in st["detail"]


def test_copy_cancel_reports_log_status(eng, tmp_path):
    _mk_walt(eng)
    dst = str(tmp_path / "walt_out")
    st = eng.sql(f"COPY walt TO '{dst}' WITH FORMAT PARQUET").collect()[0]
    cid = st["detail"].split("id=")[1]
    r = eng.sql(f"COPY '{cid}' CANCEL").collect()[0]
    assert (r["id"], r["status"]) == (cid, "finished")
    # unknown id -> 'unknown'; malformed id -> the reference's error
    r = eng.sql("COPY 'deadbeef' CANCEL").collect()[0]
    assert r["status"] == "unknown"
    with pytest.raises(Exception, match="copy cancel ID format is invalid"):
        eng.sql("COPY 'not-hex' CANCEL")


def test_view_listing_table_functions(eng):
    _mk_walt(eng)
    eng.sql("CREATE VIEW vplain AS SELECT x FROM walt")
    eng.sql(
        "CREATE MATERIALIZED VIEW vmat AS "
        "(SELECT ts, sum(x) AS sx FROM walt SAMPLE BY 1d)"
    )
    assert [tuple(r) for r in eng.sql("SELECT * FROM views()").collect()] == [
        ("vplain", "SELECT x FROM walt")
    ]
    mats = eng.sql(
        "SELECT view_name, base_table FROM materialized_views()"
    ).collect()
    assert [tuple(r) for r in mats] == [("vmat", "walt")]
    assert eng.sql("SELECT count(*) n FROM live_views()").collect()[0][0] == 0


def test_rebase_wal_discards_poison(eng):
    _mk_walt(eng)
    eng.sql("ALTER TABLE walt SUSPEND WAL")
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-02 00:00:00', 666)")
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-03 00:00:00', 667)")
    st = eng.sql("ALTER TABLE walt REBASE WAL").collect()[0]
    assert "discarded txns [1, 2]" in st["detail"]
    # suspension lifted, parked txns gone, table accepts commits again
    assert eng.sql(
        "SELECT suspended FROM tables() WHERE table_name = 'walt'"
    ).collect()[0][0] is False
    assert sorted(r["x"] for r in eng.sql("SELECT x FROM walt").collect()) == [1]
    eng.sql("INSERT INTO walt VALUES (TIMESTAMP '2024-01-04 00:00:00', 4)")
    assert sorted(r["x"] for r in eng.sql("SELECT x FROM walt").collect()) == [1, 4]
    with pytest.raises(Exception, match="out of scope"):
        eng.sql("ALTER TABLE walt REBASE WAL INTO 'walt~12'")


def test_show_session_constants(eng):
    cases = {
        "SHOW SERVER_VERSION": ("server_version", "12.3 (questdb)"),
        "SHOW SERVER_VERSION_NUM": ("server_version_num", "123000"),
        "SHOW TIME ZONE": ("TimeZone", "UTC"),
        "SHOW DATESTYLE": ("DateStyle", "ISO,YMD"),
        "SHOW SEARCH_PATH": ("search_path", '"$user", public'),
        "SHOW STANDARD_CONFORMING_STRINGS": (
            "standard_conforming_strings", "on"),
        "SHOW TRANSACTION ISOLATION LEVEL": (
            "transaction_isolation", "read committed"),
        "SHOW DEFAULT_TRANSACTION_READ_ONLY": (
            "default_transaction_read_only", "off"),
    }
    for stmt, (col, val) in cases.items():
        df = eng.sql(stmt)
        assert df.columns == [col], stmt
        assert df.collect()[0][0] == val, stmt
    df = eng.sql("SHOW MAX_IDENTIFIER_LENGTH")
    assert df.collect()[0][0] == 63
    params = eng.sql("SHOW PARAMETERS")
    assert "property_path" in params.columns
    assert params.count() >= 3
    _mk_walt(eng)
    eng.sql("CREATE VIEW wv AS SELECT x FROM walt")
    ddl = eng.sql("SHOW CREATE VIEW wv").collect()[0][0]
    assert ddl == "CREATE VIEW wv AS (SELECT x FROM walt)"


def test_explain_formats(spark):
    from questdb_spark.sqlfront.engine import QdbEngine

    eng = QdbEngine(spark)
    eng.sql("CREATE TABLE exf (x INT, ts TIMESTAMP) TIMESTAMP(ts)")
    rows = eng.sql("EXPLAIN (FORMAT JSON) SELECT count(*) FROM exf").collect()
    assert len(rows) == 1 and rows[0].plan.startswith("[{")
    assert eng.sql("EXPLAIN (FORMAT TEXT) SELECT count(*) FROM exf").count() > 1
    assert eng.sql("EXPLAIN SELECT count(*) FROM exf").count() > 1


def test_show_create_qdb_types_and_empty_alter(spark):
    from questdb_spark.sqlfront.engine import QdbEngine

    eng = QdbEngine(spark)
    eng.sql(
        "CREATE TABLE sct (s SYMBOL CAPACITY 256 CACHE, x INT, ts TIMESTAMP) "
        "TIMESTAMP(ts) PARTITION BY DAY WAL DEDUP UPSERT KEYS(ts, s)"
    )
    # DDL on an EMPTY table works (journal replays over declared columns)
    eng.sql("ALTER TABLE sct ADD COLUMN u UUID, g GEOHASH(5c)")
    eng.sql("ALTER TABLE sct RENAME COLUMN u TO u2")
    eng.sql("ALTER TABLE sct DROP COLUMN u2")
    ddl = eng.sql("SHOW CREATE TABLE sct").first().ddl
    # SHOW CREATE prints the DECLARED QuestDB types (symbol options kept)
    assert "s SYMBOL CAPACITY 256 CACHE" in ddl
    assert "g GEOHASH(5C)" in ddl
    assert "DEDUP UPSERT KEYS(ts, s)" in ddl
    assert "string" not in ddl
    # data after the empty-table DDL round-trips
    eng.sql("INSERT INTO sct VALUES ('a', 1, '2024-01-01T00:00:00Z', 'u33d8')")
    assert eng.sql("SELECT count(*) AS n FROM sct").first().n == 1


# -- mat-view TIMER / PERIOD / DEFERRED refresh (r9) -------------------------
# Reference: SqlParser.java:2590-2717 (REFRESH_TYPE_TIMER/PERIOD parsing),
# CreateMatViewOperation.java:49-65 (period length/delay validation),
# MatViewTimerJob (timer scheduling — re-expressed pull-style: the due
# check runs at read time).


def _fix_now(monkeypatch, dt):
    from questdb_spark.sqlfront import matview_ddl as mv

    monkeypatch.setattr(mv, "_now", lambda: dt)


def _mk_base(eng):
    eng.sql(
        "CREATE TABLE tb (v DOUBLE, ts TIMESTAMP) TIMESTAMP(ts) PARTITION BY DAY"
    )
    eng.sql(
        "INSERT INTO tb VALUES (1.0,'2024-01-01T00:10:00Z'),"
        "(2.0,'2024-01-01T01:10:00Z')"
    )


def test_matview_timer_refresh_on_due_read(eng, monkeypatch):
    from datetime import datetime, timezone

    _mk_base(eng)
    _fix_now(monkeypatch, datetime(2024, 6, 1, 12, 0, tzinfo=timezone.utc))
    eng.sql(
        "CREATE MATERIALIZED VIEW mvt WITH BASE tb "
        "REFRESH EVERY 1h START '2024-06-01T00:00:00' AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    d = eng.matviews["mvt"]
    assert d.refresh_type == "timer" and d.timer_every == "1h"
    assert d.next_due == datetime(2024, 6, 1, 13, 0, tzinfo=timezone.utc)
    eng.sql("INSERT INTO tb VALUES (3.0,'2024-01-01T02:10:00Z')")
    # before due: stale
    assert eng.sql("SELECT count(*) n FROM mvt").first().n == 2
    # at/after due: refresh fires, next_due advances
    _fix_now(monkeypatch, datetime(2024, 6, 1, 13, 0, 1, tzinfo=timezone.utc))
    assert eng.sql("SELECT count(*) n FROM mvt").first().n == 3
    assert d.next_due == datetime(2024, 6, 1, 14, 0, tzinfo=timezone.utc)


def test_matview_period_bounds_visible_data(eng, monkeypatch):
    from datetime import datetime, timezone

    _mk_base(eng)
    eng.sql("INSERT INTO tb VALUES (3.0,'2024-01-01T02:10:00Z')")
    # now-local - 5m delay = 02:25 → last complete 1h period ends 02:00
    _fix_now(monkeypatch, datetime(2024, 1, 1, 2, 30, tzinfo=timezone.utc))
    eng.sql(
        "CREATE MATERIALIZED VIEW mvp WITH BASE tb "
        "REFRESH IMMEDIATE PERIOD (LENGTH 1h DELAY 5m) AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    assert eng.sql("SELECT count(*) n FROM mvp").first().n == 2
    # a later refresh (now past 03:05) exposes the third period
    _fix_now(monkeypatch, datetime(2024, 1, 1, 3, 6, tzinfo=timezone.utc))
    eng.sql("REFRESH MATERIALIZED VIEW mvp FULL")
    assert eng.sql("SELECT count(*) n FROM mvp").first().n == 3


def test_matview_deferred_and_restart_state(eng, monkeypatch, spark, tmp_path):
    from datetime import datetime, timezone

    _mk_base(eng)
    _fix_now(monkeypatch, datetime(2024, 6, 1, 12, 0, tzinfo=timezone.utc))
    eng.sql(
        "CREATE MATERIALIZED VIEW mvd WITH BASE tb REFRESH MANUAL DEFERRED "
        "AS (SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    assert eng.sql("SELECT count(*) n FROM mvd").first().n == 0
    eng.sql("REFRESH MATERIALIZED VIEW mvd FULL")
    assert eng.sql("SELECT count(*) n FROM mvd").first().n == 2
    # timer state survives a new engine over the same warehouse
    eng.sql(
        "CREATE MATERIALIZED VIEW mvt2 WITH BASE tb "
        "REFRESH EVERY 1d START '2999-01-01' AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    due = eng.matviews["mvt2"].next_due
    assert due == datetime(2999, 1, 1, tzinfo=timezone.utc)
    eng2 = QdbEngine(spark, warehouse=eng.warehouse)
    eng2.sql(
        "CREATE MATERIALIZED VIEW mvt2 WITH BASE tb "
        "REFRESH EVERY 1d START '2999-01-01' AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )  # restores from checkpoint, no recompute
    assert eng2.matviews["mvt2"].next_due == due


def test_matview_full_refresh_after_incremental_drops_gone_day(eng):
    """REFRESH FULL replaces the whole view, also after an incremental
    refresh (which overwrites day partitions dynamically): a day whose
    base partition was dropped leaves no bucket behind."""
    _mk_base(eng)
    eng.sql("INSERT INTO tb VALUES (3.0,'2024-01-02T00:10:00Z')")
    eng.sql(
        "CREATE MATERIALIZED VIEW mvf WITH BASE tb "
        "AS (SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    eng.sql("INSERT INTO tb VALUES (4.0,'2024-01-02T05:10:00Z')")
    eng.sql("REFRESH MATERIALIZED VIEW mvf INCREMENTAL")
    eng.sql("ALTER TABLE tb DROP PARTITION LIST '2024-01-01'")
    eng.sql("REFRESH MATERIALIZED VIEW mvf FULL")
    got = {str(r.ts): r.s for r in eng.sql("SELECT ts, s FROM mvf").collect()}
    assert got == {"2024-01-02 00:00:00": 3.0, "2024-01-02 05:00:00": 4.0}


def test_matview_torn_checkpoint_raises(eng, spark):
    """A torn view checkpoint raises on the next CREATE instead of reading
    as "no checkpoint", which would recompute the view and overwrite the
    checkpoint, dropping its ALTER state."""
    import os

    _mk_base(eng)
    create = (
        "CREATE MATERIALIZED VIEW mvs WITH BASE tb "
        "AS (SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    eng.sql(create)
    eng.sql("ALTER MATERIALIZED VIEW mvs SUSPEND WAL")
    state = os.path.join(eng.warehouse, "__mv_mvs", "_lv_state.json")
    with open(state, "r+") as f:
        f.truncate(5)
        f.seek(0)
        torn = f.read()
    eng2 = QdbEngine(spark, warehouse=eng.warehouse)
    with pytest.raises(ValueError):
        eng2.sql(create)
    with open(state) as f:
        assert f.read() == torn


def test_matview_refresh_grammar_errors(eng):
    _mk_base(eng)
    body = "AS (SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    cases = [
        ("REFRESH EVERY 5x", "supported units are 'm', 'h', 'd', 'w', 'y', 'M'"),
        ("REFRESH START '2024-01-01'", "'as' expected"),  # TIMER-only START
        ("REFRESH EVERY 1h START 'garbage'", "invalid START timestamp value"),
        ("REFRESH IMMEDIATE PERIOD (FOO)", "'length' or 'sample' expected"),
        ("REFRESH IMMEDIATE PERIOD (LENGTH 25h)",
         "maximum supported length interval is 24 hours"),
        ("REFRESH IMMEDIATE PERIOD (LENGTH 1h DELAY 2h)",
         "delay cannot be equal to or greater than length"),
        ("REFRESH IMMEDIATE PERIOD (LENGTH 1h TIME ZONE DELAY 1m)",
         "TIME ZONE name expected"),
        ("REFRESH IMMEDIATE PERIOD (LENGTH 1w)", "supported units are 's', 'm', 'h', 'd'"),
    ]
    for clause, want in cases:
        with pytest.raises(ValueError, match=".*"):
            try:
                eng.sql(f"CREATE MATERIALIZED VIEW bad WITH BASE tb {clause} {body}")
            except ValueError as e:
                assert want in str(e), (clause, str(e))
                raise


def test_matview_timer_period_timezone(eng, monkeypatch):
    from datetime import datetime, timezone

    _mk_base(eng)
    # 02:30 UTC = 04:30 Europe/Kyiv (UTC+2 in January): local floor 1h =
    # 04:00 local = 02:00 UTC → both base hours visible
    _fix_now(monkeypatch, datetime(2024, 1, 1, 2, 30, tzinfo=timezone.utc))
    eng.sql(
        "CREATE MATERIALIZED VIEW mvz WITH BASE tb "
        "REFRESH IMMEDIATE PERIOD (LENGTH 1h TIME ZONE 'Europe/Kyiv') AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    assert eng.sql("SELECT count(*) n FROM mvz").first().n == 2


def test_create_table_in_volume(spark, tmp_path):
    """CREATE TABLE ... IN VOLUME '<alias>' (r9, SqlParser.java:4608
    parseInVolume): storage lands under the registered volume, SHOW
    CREATE TABLE round-trips the clause, DETACH/ATTACH and RENAME work
    inside the volume, unknown aliases get the reference's error."""
    import os

    vol = tmp_path / "fastdisk"
    vol.mkdir()
    eng = QdbEngine(
        spark, warehouse=str(tmp_path / "wh"), volumes={"fast": str(vol)}
    )
    eng.sql(
        "CREATE TABLE vt (v DOUBLE, ts TIMESTAMP) TIMESTAMP(ts) "
        "PARTITION BY DAY IN VOLUME 'fast'"
    )
    eng.sql(
        "INSERT INTO vt VALUES (1.0,'2024-01-01T00:10:00Z'),"
        "(2.0,'2024-01-02T01:10:00Z')"
    )
    assert os.path.isdir(vol / "vt")  # data in the volume, not warehouse
    assert not os.path.exists(tmp_path / "wh" / "vt")
    assert eng.sql("SELECT count(*) n FROM vt").first().n == 2
    ddl = eng.sql("SHOW CREATE TABLE vt").first().ddl
    assert "IN VOLUME 'fast'" in ddl
    # detach/attach round-trip inside the volume
    eng.sql("ALTER TABLE vt DETACH PARTITION LIST '2024-01-01'")
    assert eng.sql("SELECT count(*) n FROM vt").first().n == 1
    eng.sql("ALTER TABLE vt ATTACH PARTITION LIST '2024-01-01'")
    assert eng.sql("SELECT count(*) n FROM vt").first().n == 2
    # rename stays in the volume
    eng.sql("RENAME TABLE vt TO vt2")
    assert os.path.isdir(vol / "vt2")
    assert eng.sql("SHOW CREATE TABLE vt2").first().ddl.count("IN VOLUME") == 1
    # unquoted alias form + AS SELECT form
    eng.sql("CREATE TABLE vt3 AS (SELECT * FROM vt2) TIMESTAMP(ts) IN VOLUME fast")
    assert os.path.isdir(vol / "vt3")
    assert eng.sql("SELECT count(*) n FROM vt3").first().n == 2
    # unknown alias: the reference's error shape
    with pytest.raises(ValueError, match=r"volume alias is not allowed \[alias=slow\]"):
        eng.sql("CREATE TABLE bad (v DOUBLE, ts TIMESTAMP) IN VOLUME 'slow'")
    # DROP removes the volume directory
    eng.sql("DROP TABLE vt3")
    assert not os.path.exists(vol / "vt3")


def test_matview_in_volume(spark, tmp_path):
    """CREATE MATERIALIZED VIEW ... IN VOLUME (SqlCompilerImpl.java:4589):
    the view's storage lands under the volume; unknown aliases error."""
    import os

    vol = tmp_path / "mvvol"
    vol.mkdir()
    eng = QdbEngine(spark, warehouse=str(tmp_path / "wh"), volumes={"v": str(vol)})
    _mk_base(eng)
    eng.sql(
        "CREATE MATERIALIZED VIEW mvv WITH BASE tb AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h) IN VOLUME 'v'"
    )
    assert os.path.isdir(vol / "__mv_mvv")
    assert eng.sql("SELECT count(*) n FROM mvv").first().n == 2
    with pytest.raises(ValueError, match=r"volume alias is not allowed"):
        eng.sql(
            "CREATE MATERIALIZED VIEW mvb WITH BASE tb AS ("
            "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h) IN VOLUME 'nope'"
        )


def test_show_create_matview_refresh_roundtrip(eng, monkeypatch):
    """SHOW CREATE MATERIALIZED VIEW re-emits TIMER/PERIOD/DEFERRED
    refresh clauses (r9) — and the emitted DDL re-parses."""
    from datetime import datetime, timezone

    _mk_base(eng)
    _fix_now(monkeypatch, datetime(2024, 6, 1, 12, 0, tzinfo=timezone.utc))
    # reference token order: EVERY -> DEFERRED -> START -> PERIOD
    eng.sql(
        "CREATE MATERIALIZED VIEW mvr WITH BASE tb "
        "REFRESH EVERY 2h DEFERRED START '2024-06-01T00:00:00' "
        "PERIOD (LENGTH 1h DELAY 5m) AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    ddl = eng.sql("SHOW CREATE MATERIALIZED VIEW mvr").first().ddl
    assert "REFRESH EVERY 2h" in ddl
    assert "START '2024-06-01T00:00:00'" in ddl
    assert "DEFERRED" in ddl
    assert "PERIOD (LENGTH 1h DELAY 5m)" in ddl
    # the emitted DDL re-parses on a fresh engine
    eng.sql("DROP MATERIALIZED VIEW mvr")
    eng.sql(ddl)
    d = eng.matviews["mvr"]
    assert d.refresh_type == "timer" and d.deferred and d.period_length == "1h"


def test_in_volume_literal_in_body_not_matched(spark, tmp_path):
    """A string literal containing 'in volume x' inside a CREATE ... AS
    SELECT body must NOT trigger volume resolution (r10 advice: the raw
    regex searched the whole rest incl. the SELECT body's literals)."""
    import os

    vol = tmp_path / "v1"
    vol.mkdir()
    eng = QdbEngine(
        spark, warehouse=str(tmp_path / "wh2"), volumes={"fast": str(vol)}
    )
    # 'in volume nope' only inside a literal: must not raise, must land
    # in the warehouse, and the literal must survive intact
    eng.sql(
        "CREATE TABLE lt AS (SELECT CAST(1.5 AS DOUBLE) v, "
        "'stored in volume nope' note, "
        "TIMESTAMP '2024-01-01 00:10:00' ts) TIMESTAMP(ts)"
    )
    assert os.path.isdir(tmp_path / "wh2" / "lt")
    row = eng.sql("SELECT note FROM lt").first()
    assert row.note == "stored in volume nope"
    # literal at the very END of the body: the tail-clause strip loop
    # must not eat it either
    eng.sql("CREATE TABLE lt2 AS (SELECT 2 k, 'keep in volume fast' s)")
    assert eng.sql("SELECT s FROM lt2").first().s == "keep in volume fast"
    assert os.path.isdir(tmp_path / "wh2" / "lt2")
    assert not os.path.exists(vol / "lt2")


def test_view_on_view_transitive_staleness(spark, tmp_path):
    """A plain view OVER another plain view over a mutated table serves
    current data (r10 advice: dirty marks now propagate transitively)."""
    eng = QdbEngine(spark, warehouse=str(tmp_path / "wh3"))
    eng.sql("CREATE TABLE bt (v DOUBLE, ts TIMESTAMP) TIMESTAMP(ts) PARTITION BY DAY")
    eng.sql("INSERT INTO bt VALUES (1.0,'2024-01-01T00:10:00Z')")
    eng.sql("CREATE VIEW v_lvl1 AS (SELECT v, ts FROM bt)")
    eng.sql("CREATE VIEW v_lvl2 AS (SELECT count(*) n FROM v_lvl1)")
    assert eng.sql("SELECT n FROM v_lvl2").first().n == 1
    eng.sql("INSERT INTO bt VALUES (2.0,'2024-01-02T00:10:00Z')")
    assert eng.sql("SELECT n FROM v_lvl2").first().n == 2
    # flush_views makes DIRECT spark.sql reads current too
    eng.sql("INSERT INTO bt VALUES (3.0,'2024-01-03T00:10:00Z')")
    eng.flush_views()
    assert spark.sql("SELECT n FROM v_lvl2").first().n == 3


# --- ALTER MATERIALIZED VIEW / ALTER LIVE VIEW (r10) -----------------------
# SqlCompilerImpl.java:2145 compileAlterMatView, :2126 compileAlterLiveView


def test_alter_matview_set_refresh_changes_schedule(eng, monkeypatch):
    """SET REFRESH EVERY reschedules an IMMEDIATE view onto a timer: the
    behavior provably changes — post-ALTER appends stay invisible until
    the tick, then apply."""
    from datetime import datetime, timezone

    _mk_base(eng)
    _fix_now(monkeypatch, datetime(2024, 6, 1, 12, 0, tzinfo=timezone.utc))
    eng.sql(
        "CREATE MATERIALIZED VIEW mva WITH BASE tb AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    assert eng.matviews["mva"].refresh_type == "immediate"
    eng.sql("ALTER MATERIALIZED VIEW mva SET REFRESH EVERY 1h START '2024-06-01T12:30:00'")
    d = eng.matviews["mva"]
    assert d.refresh_type == "timer" and d.timer_every == "1h"
    assert d.next_due == datetime(2024, 6, 1, 12, 30, tzinfo=timezone.utc)
    # pre-tick: append invisible (timer hasn't fired)
    eng.sql("INSERT INTO tb VALUES (9.0,'2024-01-01T05:10:00Z')")
    assert eng.sql("SELECT count(*) n FROM mva").first().n == 2
    # post-tick read applies it
    _fix_now(monkeypatch, datetime(2024, 6, 1, 12, 31, tzinfo=timezone.utc))
    assert eng.sql("SELECT count(*) n FROM mva").first().n == 3
    # and back to immediate
    eng.sql("ALTER MATERIALIZED VIEW mva SET REFRESH IMMEDIATE")
    d = eng.matviews["mva"]
    assert d.refresh_type == "immediate" and d.next_due is None
    # SHOW CREATE reflects the new schedule (no stale timer clause)
    ddl = eng.sql("SHOW CREATE MATERIALIZED VIEW mva").first().ddl
    assert "REFRESH EVERY" not in ddl
    # DEFERRED is CREATE-only in the reference's SET REFRESH grammar
    with pytest.raises(ValueError, match="token=deferred"):
        eng.sql("ALTER MATERIALIZED VIEW mva SET REFRESH EVERY 1h DEFERRED")


def test_alter_matview_suspend_resume_wal(eng):
    """SUSPEND WAL parks refreshes (reads serve the stored prefix);
    RESUME WAL applies the backlog."""
    _mk_base(eng)
    eng.sql(
        "CREATE MATERIALIZED VIEW mvw WITH BASE tb AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    eng.sql("ALTER MATERIALIZED VIEW mvw SUSPEND WAL")
    eng.sql("INSERT INTO tb VALUES (5.0,'2024-01-01T07:10:00Z')")
    st = eng.sql("REFRESH MATERIALIZED VIEW mvw INCREMENTAL").first()
    assert "suspended" in st.detail
    assert eng.sql("SELECT count(*) n FROM mvw").first().n == 2  # stale prefix
    st = eng.sql("ALTER MATERIALIZED VIEW mvw RESUME WAL").first()
    assert "resumed" in st.detail
    assert eng.sql("SELECT count(*) n FROM mvw").first().n == 3
    # error-tag form accepted; FROM TXN form accepted
    eng.sql("ALTER MATERIALIZED VIEW mvw SUSPEND WAL WITH 24, 'too many open files'")
    eng.sql("ALTER MATERIALIZED VIEW mvw RESUME WAL FROM TXN 3")


def test_alter_live_view_wal_verbs_only(eng):
    """ALTER LIVE VIEW accepts RESUME|SUSPEND WAL and nothing structural;
    suspended live views stop refreshing on read."""
    _mk_base(eng)
    eng.sql(
        "CREATE LIVE VIEW lvw WITH BASE tb AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    assert eng.sql("SELECT count(*) n FROM lvw").first().n == 2
    eng.sql("ALTER LIVE VIEW lvw SUSPEND WAL")
    eng.sql("INSERT INTO tb VALUES (4.0,'2024-01-01T03:10:00Z')")
    assert eng.sql("SELECT count(*) n FROM lvw").first().n == 2  # stale
    eng.sql("ALTER LIVE VIEW lvw RESUME WAL")
    assert eng.sql("SELECT count(*) n FROM lvw").first().n == 3
    with pytest.raises(ValueError, match="'resume' or 'suspend' expected"):
        eng.sql("ALTER LIVE VIEW lvw SET TTL 2 DAYS")
    # kind mismatch both ways
    with pytest.raises(ValueError, match="materialized view name expected"):
        eng.sql("ALTER MATERIALIZED VIEW lvw SUSPEND WAL")
    eng.sql(
        "CREATE MATERIALIZED VIEW mvx WITH BASE tb AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    with pytest.raises(ValueError, match="live view name expected"):
        eng.sql("ALTER LIVE VIEW mvx SUSPEND WAL")


def test_alter_matview_set_ttl_evicts_old_buckets(eng):
    _mk_base(eng)
    eng.sql("INSERT INTO tb VALUES (7.0,'2024-03-01T00:10:00Z')")
    eng.sql(
        "CREATE MATERIALIZED VIEW mvttl WITH BASE tb AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    assert eng.sql("SELECT count(*) n FROM mvttl").first().n == 3
    eng.sql("ALTER MATERIALIZED VIEW mvttl SET TTL 7 DAYS")
    # the January buckets are > 7 days older than the March bucket
    assert eng.sql("SELECT count(*) n FROM mvttl").first().n == 1


def test_alter_matview_set_ttl_one_month_clamps_day(eng):
    """A one-month TTL from a newest bucket on Mar 31 puts the boundary on
    the last day of February (Feb 29 in 2024) instead of raising; day
    partitions whose whole day ends by the boundary are evicted."""
    eng.sql("CREATE TABLE tb (v DOUBLE, ts TIMESTAMP) TIMESTAMP(ts) PARTITION BY DAY")
    eng.sql(
        "INSERT INTO tb VALUES (1.0,'2024-01-31T00:10:00Z'),"
        "(2.0,'2024-02-28T00:10:00Z'),(3.0,'2024-02-29T00:10:00Z'),"
        "(4.0,'2024-03-01T00:10:00Z'),(5.0,'2024-03-31T00:10:00Z')"
    )
    eng.sql(
        "CREATE MATERIALIZED VIEW mvttl WITH BASE tb AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    eng.sql("ALTER MATERIALIZED VIEW mvttl SET TTL 1 MONTH")
    got = [
        (str(r.ts), r.s) for r in eng.sql("SELECT ts, s FROM mvttl ORDER BY ts").collect()
    ]
    assert got == [
        ("2024-02-29 00:00:00", 3.0),
        ("2024-03-01 00:00:00", 4.0),
        ("2024-03-31 00:00:00", 5.0),
    ]


def test_alter_matview_column_forms_and_errors(eng):
    _mk_base(eng)
    eng.sql("ALTER TABLE tb ADD COLUMN sym SYMBOL")
    eng.sql("INSERT INTO tb VALUES (3.0,'2024-01-01T02:10:00Z','a')")
    eng.sql(
        "CREATE MATERIALIZED VIEW mvc WITH BASE tb AS ("
        "SELECT ts, sym, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    eng.sql("ALTER MATERIALIZED VIEW mvc ALTER COLUMN sym SYMBOL CAPACITY 512")
    assert eng.matviews["mvc"].symbol_capacities["sym"] == 512
    eng.sql("ALTER MATERIALIZED VIEW mvc ALTER COLUMN sym ADD INDEX")
    with pytest.raises(ValueError, match="already indexed"):
        eng.sql("ALTER MATERIALIZED VIEW mvc ALTER COLUMN sym ADD INDEX")
    eng.sql("ALTER MATERIALIZED VIEW mvc ALTER COLUMN sym DROP INDEX")
    with pytest.raises(ValueError, match="is not indexed"):
        eng.sql("ALTER MATERIALIZED VIEW mvc ALTER COLUMN sym DROP INDEX")
    with pytest.raises(ValueError, match="does not exist in materialized view"):
        eng.sql("ALTER MATERIALIZED VIEW mvc ALTER COLUMN nope ADD INDEX")
    with pytest.raises(ValueError, match="SYMBOL"):
        eng.sql("ALTER MATERIALIZED VIEW mvc ALTER COLUMN s ADD INDEX")
    # rename is rejected with the reference's checkViewModification shape
    with pytest.raises(ValueError, match=r"cannot modify materialized view \[view=mvc\]"):
        eng.sql("RENAME TABLE mvc TO mvc2")
    with pytest.raises(ValueError, match=r"cannot modify materialized view \[view=mvc\]"):
        eng.sql("ALTER TABLE mvc ADD COLUMN x DOUBLE")
    # non-existent view
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("ALTER MATERIALIZED VIEW ghost SET TTL 1 DAY")


def test_alter_matview_refresh_limit_bounds_o3(eng):
    """SET REFRESH LIMIT caps how far back an O3 base write escalates the
    recompute: buckets older than hwm - limit keep their stored values."""
    _mk_base(eng)
    eng.sql("INSERT INTO tb VALUES (7.0,'2024-03-01T00:10:00Z')")
    eng.sql(
        "CREATE MATERIALIZED VIEW mvl WITH BASE tb AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    eng.sql("ALTER MATERIALIZED VIEW mvl SET REFRESH LIMIT 7 DAYS")
    assert eng.matviews["mvl"].refresh_limit == 7 * 24
    # O3 write far below the limit window: the stored January bucket
    # keeps its value (1.0), while an in-window O3 write applies
    eng.sql("INSERT INTO tb VALUES (100.0,'2024-01-01T00:20:00Z')")
    eng.sql("REFRESH MATERIALIZED VIEW mvl INCREMENTAL")
    rows = {r.ts.isoformat(): r.s for r in eng.sql("SELECT * FROM mvl").collect()}
    assert rows["2024-01-01T00:00:00"] == 1.0  # untouched: beyond the limit
    eng.sql("INSERT INTO tb VALUES (50.0,'2024-02-25T00:10:00Z')")
    eng.sql("REFRESH MATERIALIZED VIEW mvl INCREMENTAL")
    rows = {r.ts.isoformat(): r.s for r in eng.sql("SELECT * FROM mvl").collect()}
    assert rows.get("2024-02-25T00:00:00") == 50.0  # in-window O3 applied


def test_dml_on_views_rejected(eng):
    """INSERT/UPDATE/TRUNCATE against a view get the reference's
    checkViewModification shape, not a missing-table error."""
    _mk_base(eng)
    eng.sql(
        "CREATE MATERIALIZED VIEW mvg WITH BASE tb AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    for stmt in (
        "INSERT INTO mvg VALUES ('2024-01-01T00:00:00Z', 1.0)",
        "UPDATE mvg SET s = 0",
        "TRUNCATE TABLE mvg",
    ):
        with pytest.raises(ValueError, match=r"cannot modify materialized view \[view=mvg\]"):
            eng.sql(stmt)


def test_o3commits_counts_only_merging_commits(eng):
    """``o3commits`` counts the commits that carried rows at or before the
    table's max ts (the O3 merge), not every commit into a DEDUP table."""
    eng.sql(
        "CREATE TABLE o3 (ts TIMESTAMP, k SYMBOL, v DOUBLE) TIMESTAMP(ts) "
        "PARTITION BY DAY WAL DEDUP UPSERT KEYS(ts, k)"
    )
    eng.sql("INSERT INTO o3 VALUES (TIMESTAMP '2024-01-01 10:00:00', 'a', 1.0)")
    eng.sql("INSERT INTO o3 VALUES (TIMESTAMP '2024-01-02 10:00:00', 'a', 2.0)")
    eng.sql("INSERT INTO o3 VALUES (TIMESTAMP '2024-01-01 10:00:00', 'a', 3.0)")
    got = dict(rows(eng.sql("SELECT * FROM table_writer_metrics()")))
    assert (got["total_commits"], got["o3commits"]) == (3, 1)
    assert sorted(rows(eng.sql("SELECT v FROM o3"))) == [(2.0,), (3.0,)]


@pytest.mark.parametrize(
    "stmt",
    [
        "UPDATE t SET ts = TIMESTAMP '2024-01-05 01:00:00' WHERE k = 'a'",
        "UPDATE t SET v = u.v, ts = u.ts FROM u WHERE t.k = u.k",
    ],
    ids=["where", "from"],
)
def test_update_of_designated_ts_is_refused(eng, stmt):
    """An UPDATE that assigns the designated timestamp raises, like the
    reference, and leaves the table as it was: a partition rewrite cannot
    move a row to the partition its new ts belongs in."""
    import os

    eng.sql(
        "CREATE TABLE t (ts TIMESTAMP, k SYMBOL, v DOUBLE) TIMESTAMP(ts) "
        "PARTITION BY DAY WAL DEDUP UPSERT KEYS(ts, k)"
    )
    eng.sql(
        "INSERT INTO t VALUES (TIMESTAMP '2024-01-01 01:00:00', 'a', 1.0), "
        "(TIMESTAMP '2024-01-01 02:00:00', 'b', 2.0)"
    )
    eng.sql("CREATE TABLE u (ts TIMESTAMP, k SYMBOL, v DOUBLE) TIMESTAMP(ts)")
    eng.sql("INSERT INTO u VALUES (TIMESTAMP '2024-01-05 01:00:00', 'a', 9.0)")
    path = eng.ddl_tables["t"].path
    before = sorted(rows(eng.sql("SELECT * FROM t")))
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    with pytest.raises(ValueError, match="designated timestamp"):
        eng.sql(stmt)
    assert sorted(rows(eng.sql("SELECT * FROM t"))) == before
    assert sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs) == files
    eng.sql("INSERT INTO t VALUES (TIMESTAMP '2024-01-05 01:00:00', 'a', 9.0)")
    assert eng.sql("SELECT * FROM t WHERE k = 'a'").count() == 2
    assert rows(eng.sql("SELECT k FROM t WHERE ts IN '2024-01-05'")) == [("a",)]


# -- view refresh reads the base table's change log --------------------------


def _dedup_base(eng, name="db"):
    eng.sql(
        f"CREATE TABLE {name} (ts TIMESTAMP, k SYMBOL, v DOUBLE) TIMESTAMP(ts) "
        "PARTITION BY DAY WAL DEDUP UPSERT KEYS(ts, k)"
    )
    eng.sql(
        f"INSERT INTO {name} VALUES (TIMESTAMP '2024-01-01 00:10:00', 'a', 1.0), "
        "(TIMESTAMP '2024-01-01 01:10:00', 'b', 2.0)"
    )


def _sums(eng, view):
    return {str(r.ts): r.s for r in eng.sql(f"SELECT ts, s FROM {view}").collect()}


def _route(eng, view, mode="INCREMENTAL"):
    return eng.sql(f"REFRESH MATERIALIZED VIEW {view} {mode}").first().detail


def test_matview_incremental_applies_upserted_values(eng):
    """An upsert that keeps the row count still reaches the view: the
    refresh recomputes from the bucket of the lowest logged ts."""
    _dedup_base(eng)
    eng.sql("CREATE MATERIALIZED VIEW dv AS (SELECT ts, sum(v) s FROM db SAMPLE BY 1h)")
    assert _route(eng, "dv") == "unchanged"
    eng.sql(
        "INSERT INTO db VALUES (TIMESTAMP '2024-01-01 00:10:00', 'a', 100.0), "
        "(TIMESTAMP '2024-01-02 00:10:00', 'a', 5.0)"
    )
    assert _route(eng, "dv") == "from 2024-01-01 00:00:00.000000"
    got = _sums(eng, "dv")
    assert got == {
        "2024-01-01 00:00:00": 100.0,
        "2024-01-01 01:00:00": 2.0,
        "2024-01-02 00:00:00": 5.0,
    }
    assert _route(eng, "dv", "FULL") == "full"
    assert _sums(eng, "dv") == got


def test_matview_incremental_after_update_is_full(eng):
    """An UPDATE below the view's newest bucket logs an unbounded change:
    the next refresh recomputes the whole view, and later appends go back
    to the incremental route."""
    _dedup_base(eng)
    eng.sql("CREATE MATERIALIZED VIEW uv AS (SELECT ts, sum(v) s FROM db SAMPLE BY 1h)")
    eng.sql("UPDATE db SET v = 50.0 WHERE k = 'a'")
    eng.sql("INSERT INTO db VALUES (TIMESTAMP '2024-01-01 03:10:00', 'c', 3.0)")
    assert _route(eng, "uv") == "full"
    assert _sums(eng, "uv")["2024-01-01 00:00:00"] == 50.0
    eng.sql("INSERT INTO db VALUES (TIMESTAMP '2024-01-01 04:10:00', 'c', 4.0)")
    assert _route(eng, "uv") == "from 2024-01-01 04:00:00.000000"
    assert _sums(eng, "uv") == {
        "2024-01-01 00:00:00": 50.0,
        "2024-01-01 01:00:00": 2.0,
        "2024-01-01 03:00:00": 3.0,
        "2024-01-01 04:00:00": 4.0,
    }


def test_live_view_generic_sees_upsert(eng):
    """A generic live view recomputes when the base logged any change,
    also one that keeps the row count and the max ts."""
    _dedup_base(eng)
    eng.sql("CREATE LIVE VIEW gv AS (SELECT k, sum(v) AS s FROM db GROUP BY k)")
    assert sorted(rows(eng.sql("SELECT k, s FROM gv"))) == [("a", 1.0), ("b", 2.0)]
    eng.sql("INSERT INTO db VALUES (TIMESTAMP '2024-01-01 00:10:00', 'a', 7.0)")
    assert _route(eng, "gv") == "full"
    assert _route(eng, "gv") == "unchanged"
    eng.sql("INSERT INTO db VALUES (TIMESTAMP '2024-01-01 00:10:00', 'a', 8.0)")
    assert sorted(rows(eng.sql("SELECT k, s FROM gv"))) == [("a", 8.0), ("b", 2.0)]


def test_live_view_latest_on_sees_upserts(eng):
    """A LATEST ON live view takes upserted values of the latest row at
    the base's newest ts and of an older latest row; the merge starts at
    the lowest logged ts."""
    _dedup_base(eng)
    body = "SELECT ts, k, v FROM db LATEST ON ts PARTITION BY k"
    eng.sql(f"CREATE LIVE VIEW lv AS ({body})")

    def snap():
        return {r.k: r.v for r in eng.sql("SELECT k, v FROM lv").collect()}

    assert snap() == {"a": 1.0, "b": 2.0}
    eng.sql("INSERT INTO db VALUES (TIMESTAMP '2024-01-01 01:10:00', 'b', 20.0)")
    assert _route(eng, "lv") == "from 2024-01-01 01:10:00.000000"
    eng.sql("INSERT INTO db VALUES (TIMESTAMP '2024-01-01 00:10:00', 'a', 10.0)")
    assert _route(eng, "lv") == "from 2024-01-01 00:10:00.000000"
    assert snap() == {"a": 10.0, "b": 20.0}
    assert snap() == {r.k: r.v for r in eng.sql(body).collect()}


def test_live_view_latest_on_upsert_out_of_filter_is_full(eng):
    """An upsert that moves a key's stored latest row out of the view's
    filter leaves that key's answer below the merge point: full refresh."""
    _dedup_base(eng)
    eng.sql("INSERT INTO db VALUES (TIMESTAMP '2024-01-01 02:10:00', 'a', 3.0)")
    body = "SELECT ts, k, v FROM db WHERE v < 50 LATEST ON ts PARTITION BY k"
    eng.sql(f"CREATE LIVE VIEW lf AS ({body})")
    eng.sql("INSERT INTO db VALUES (TIMESTAMP '2024-01-01 02:10:00', 'a', 99.0)")
    assert _route(eng, "lf") == "full"
    got = {r.k: (str(r.ts), r.v) for r in eng.sql("SELECT ts, k, v FROM lf").collect()}
    assert got == {
        "a": ("2024-01-01 00:10:00", 1.0),
        "b": ("2024-01-01 01:10:00", 2.0),
    }


def test_matview_upsert_out_of_filter_drops_later_bucket(eng):
    """An upsert can move every row of a later day's bucket out of a
    SAMPLE BY view's filter: the incremental refresh drops that bucket,
    as FULL does."""
    _dedup_base(eng)
    eng.sql("INSERT INTO db VALUES (TIMESTAMP '2024-01-02 00:10:00', 'b', 4.0)")
    eng.sql(
        "CREATE MATERIALIZED VIEW wv AS ("
        "SELECT ts, sum(v) s FROM db WHERE v < 50 SAMPLE BY 1h)"
    )
    eng.sql(
        "INSERT INTO db VALUES (TIMESTAMP '2024-01-01 00:10:00', 'a', 3.0), "
        "(TIMESTAMP '2024-01-02 00:10:00', 'b', 99.0)"
    )
    assert _route(eng, "wv") == "from 2024-01-01 00:00:00.000000"
    got = _sums(eng, "wv")
    assert got == {"2024-01-01 00:00:00": 3.0, "2024-01-01 01:00:00": 2.0}
    assert _route(eng, "wv", "FULL") == "full"
    assert _sums(eng, "wv") == got


def test_matview_registered_frame_base_refreshes_full(eng):
    """A base registered as a frame has no change log: the same frame is
    unchanged, a different one refreshes in full."""
    df = eng.spark.sql("SELECT TIMESTAMP '2024-01-01 00:10:00' AS ts, 1.0 AS v")
    eng.register("fr", df, designated_ts="ts")
    eng.sql("CREATE MATERIALIZED VIEW fv AS (SELECT ts, sum(v) s FROM fr SAMPLE BY 1h)")
    assert _route(eng, "fv") == "unchanged"
    eng.register("fr", df.selectExpr("ts", "v * 2 AS v"), designated_ts="ts")
    assert _route(eng, "fv") == "full"
    assert _sums(eng, "fv") == {"2024-01-01 00:00:00": 2.0}


def test_unknown_time_zone_raises():
    from datetime import datetime, timezone

    from questdb_spark.sqlfront.matview_ddl import _tz_offset

    now = datetime(2024, 1, 1, tzinfo=timezone.utc)
    assert _tz_offset("+02:00", now).total_seconds() == 7200
    with pytest.raises(ValueError, match="invalid timezone"):
        _tz_offset("Mars/Olympus_Mons", now)


def test_matview_upsert_out_of_filter_empties_since_partition(eng):
    """An upsert moves the only row of the partition holding the refresh's
    ``since`` out of the view's filter: INCREMENTAL drops its bucket, as
    FULL does."""
    _dedup_base(eng)
    eng.sql("INSERT INTO db VALUES (TIMESTAMP '2024-01-02 00:10:00', 'c', 4.0)")
    eng.sql(
        "CREATE MATERIALIZED VIEW ov AS ("
        "SELECT ts, sum(v) s FROM db WHERE v < 50 SAMPLE BY 1h)"
    )
    eng.sql("INSERT INTO db VALUES (TIMESTAMP '2024-01-02 00:10:00', 'c', 99.0)")
    assert _route(eng, "ov") == "from 2024-01-02 00:00:00.000000"
    got = _sums(eng, "ov")
    assert got == {"2024-01-01 00:00:00": 1.0, "2024-01-01 01:00:00": 2.0}
    assert _route(eng, "ov", "FULL") == "full"
    assert _sums(eng, "ov") == got


def test_matview_zero_row_append_leaves_view_unchanged(eng):
    """A plain INSERT ... SELECT that matches no row changes nothing: the
    next incremental refresh is ``unchanged``."""
    eng.sql("CREATE TABLE pt (ts TIMESTAMP, v DOUBLE) TIMESTAMP(ts) PARTITION BY DAY")
    eng.sql("INSERT INTO pt VALUES (TIMESTAMP '2024-01-01 00:10:00', 1.0)")
    eng.sql("CREATE MATERIALIZED VIEW zv AS (SELECT ts, sum(v) s FROM pt SAMPLE BY 1h)")
    eng.sql("INSERT INTO pt SELECT * FROM pt WHERE v < 0")
    assert _route(eng, "zv") == "unchanged"
    assert _sums(eng, "zv") == {"2024-01-01 00:00:00": 1.0}


def _period_view(eng, monkeypatch):
    from datetime import datetime, timezone

    _mk_base(eng)
    eng.sql("INSERT INTO tb VALUES (3.0,'2024-01-01T02:10:00Z')")
    _fix_now(monkeypatch, datetime(2024, 1, 1, 2, 30, tzinfo=timezone.utc))
    eng.sql(
        "CREATE MATERIALIZED VIEW mvp WITH BASE tb "
        "REFRESH IMMEDIATE PERIOD (LENGTH 1h DELAY 5m) AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    )
    assert eng.sql("SELECT count(*) n FROM mvp").first().n == 2
    # now past 03:05: the third period is complete
    _fix_now(monkeypatch, datetime(2024, 1, 1, 3, 6, tzinfo=timezone.utc))


def test_matview_period_incremental_follows_cutoff(eng, monkeypatch):
    """The clock moves a PERIOD view's cut-off on with no base change: an
    incremental refresh recomputes from the cut-off it last served."""
    _period_view(eng, monkeypatch)
    assert _route(eng, "mvp") == "from 2024-01-01 02:00:00.000000"
    assert eng.sql("SELECT count(*) n FROM mvp").first().n == 3
    assert _route(eng, "mvp") == "unchanged"


def test_matview_period_checkpoint_without_cutoff_refreshes_full(eng, monkeypatch):
    """A checkpoint without the served cut-off restores, then refreshes a
    PERIOD view in full once."""
    import json
    import os

    _period_view(eng, monkeypatch)
    d = eng.matviews.pop("mvp")
    state = os.path.join(d.table.path, "_lv_state.json")
    with open(state) as f:
        st = json.load(f)
    st.pop("period_cut")
    with open(state, "w") as f:
        json.dump(st, f)
    restored = eng.sql(
        "CREATE MATERIALIZED VIEW mvp WITH BASE tb "
        "REFRESH IMMEDIATE PERIOD (LENGTH 1h DELAY 5m) AS ("
        "SELECT ts, sum(v) s FROM tb SAMPLE BY 1h)"
    ).first()
    assert restored.detail == "restored from checkpoint"
    assert _route(eng, "mvp") == "full"
    assert eng.sql("SELECT count(*) n FROM mvp").first().n == 3
    assert _route(eng, "mvp") == "unchanged"
