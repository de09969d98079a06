"""TimeTable: partition layout, interval scans, dedup append, UPDATE/
DELETE/DROP PARTITION partition-rewrite maintenance."""

from __future__ import annotations

import os
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from questdb_spark.plans.explain import plan_text
from questdb_spark.table import TimeTable


@pytest.fixture()
def tmppath():
    with tempfile.TemporaryDirectory() as d:
        yield os.path.join(d, "t")


def _mk_rows():
    return [
        (1, "a", datetime(2024, 1, 1, 10), 1.0),
        (2, "b", datetime(2024, 1, 1, 11), 2.0),
        (3, "a", datetime(2024, 1, 2, 9), 3.0),
        (4, "b", datetime(2024, 1, 3, 8), 4.0),
        (5, "a", datetime(2024, 1, 3, 9), 5.0),
    ]


def test_write_partition_layout(spark, tmppath):
    t = TimeTable(spark, tmppath, "ts", partition_by="day")
    df = spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"])
    t.write(df)
    assert sorted(os.listdir(tmppath))[:1] == ["_SUCCESS"] or any(
        p.startswith("part_date=") for p in os.listdir(tmppath)
    )
    dirs = [p for p in os.listdir(tmppath) if p.startswith("part_date=")]
    assert sorted(dirs) == [
        "part_date=2024-01-01", "part_date=2024-01-02", "part_date=2024-01-03"
    ]


def test_interval_scan_prunes_partitions(spark, tmppath):
    t = TimeTable(spark, tmppath, "ts", partition_by="day")
    df = spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"])
    t.write(df)
    scan = t.scan_interval("2024-01-03")
    assert sorted(r["id"] for r in scan.collect()) == [4, 5]
    # the partition filter must appear in the plan (PartitionFilters)
    txt = plan_text(scan)
    assert "PartitionFilters" in txt and "part_date" in txt


def test_dedup_append_upsert(spark, tmppath):
    t = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    df1 = spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"])
    t.append(df1, seq=1)
    # same (sym, ts) key as row 1 → upsert on read
    df2 = spark.createDataFrame(
        [(99, "a", datetime(2024, 1, 1, 10), 111.0)], ["id", "sym", "ts", "price"]
    )
    t.append(df2, seq=2)
    out = {(r["sym"], str(r["ts"])): r for r in t.read().collect()}
    assert len(out) == 5
    assert out[("a", "2024-01-01 10:00:00")]["price"] == 111.0
    t.compact()
    out2 = {(r["sym"], str(r["ts"])): r["price"] for r in t.read().collect()}
    assert out2[("a", "2024-01-01 10:00:00")] == 111.0 and len(out2) == 5


def test_update_delete_drop(spark, tmppath):
    t = TimeTable(spark, tmppath, "ts")
    df = spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"])
    t.write(df)

    t.update_where(F.col("sym") == "a", {"price": F.col("price") * 10})
    got = {r["id"]: r["price"] for r in t.read().collect()}
    assert got[1] == 10.0 and got[3] == 30.0 and got[5] == 50.0
    assert got[2] == 2.0 and got[4] == 4.0  # untouched

    t.delete_where(F.col("id") == 2)
    assert sorted(r["id"] for r in t.read().collect()) == [1, 3, 4, 5]

    t.drop_partition("2024-01-03")
    assert sorted(r["id"] for r in t.read().collect()) == [1, 3]


def test_catalog_and_copy(spark, tmppath):
    import os

    from questdb_spark.sources.catalog import (
        copy_from_csv, copy_to, table_columns, table_partitions, tables,
    )

    t = TimeTable(spark, tmppath, "ts", partition_by="day")
    df = spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"])
    t.write(df)

    parts = {r["partition"]: r for r in table_partitions(spark, tmppath).collect()}
    assert set(parts) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    assert all(r["n_files"] >= 1 and r["bytes"] > 0 for r in parts.values())

    df.createOrReplaceTempView("cat_probe")
    assert "cat_probe" in {r["table_name"] for r in tables(spark).collect()}
    cols = {r["column_name"]: r["data_type"] for r in table_columns(spark, "cat_probe").collect()}
    assert cols["price"] == "double" and cols["ts"] == "timestamp"

    csv_dir = os.path.join(os.path.dirname(tmppath), "csv_out")
    copy_to(df, csv_dir, fmt="csv")
    back = copy_from_csv(spark, csv_dir)
    assert back.count() == 5
    assert dict(back.dtypes)["price"] == "double"  # type inference


def test_explain_surface(spark):
    from questdb_spark.sqlfront.engine import QdbEngine
    from questdb_spark.sources.parquet import load_table
    from .conftest import SF_DIR

    eng = QdbEngine(spark)
    eng.register("events", load_table(spark, SF_DIR, "events"), designated_ts="ts")
    txt = eng.explain("SELECT ts, count(*) AS n FROM events SAMPLE BY 1h", "simple")
    assert "HashAggregate" in txt and "FileScan" in txt


def test_hour_partition_granularity(spark, tmppath):
    """partition_by='hour' must create one partition PER HOUR (not per day),
    prune interval scans to the hour, and drop single-hour partitions."""
    t = TimeTable(spark, tmppath, "ts", partition_by="hour")
    df = spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"])
    t.write(df)
    dirs = sorted(p for p in os.listdir(tmppath) if p.startswith("part_date="))
    assert dirs == [
        "part_date=2024-01-01-10",
        "part_date=2024-01-01-11",
        "part_date=2024-01-02-09",
        "part_date=2024-01-03-08",
        "part_date=2024-01-03-09",
    ]
    got = t.scan_interval("2024-01-01T11").select("id").collect()
    assert [r["id"] for r in got] == [2]
    # partition pruning visible in the plan: only the 11:00 dir survives
    plan = plan_text(t.scan_interval("2024-01-01T11"))
    assert "2024-01-01-10" not in plan
    t.drop_partition("2024-01-03T08")
    remaining = {r["id"] for r in t.read(dedup=False).collect()}
    assert remaining == {1, 2, 3, 5}


def test_month_partition_midmonth_scan(spark, tmppath):
    """A mid-month interval must NOT prune away the month partition that
    contains it (partition value = period start)."""
    t = TimeTable(spark, tmppath, "ts", partition_by="month")
    df = spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"])
    t.write(df)
    got = {r["id"] for r in t.scan_interval("2024-01-02").collect()}
    assert got == {3}


# -- ALTER TABLE column surface (AlterOperation.java) -----------------------

def test_alter_add_column(spark, tmppath):
    """ADD COLUMN is metadata-only: existing rows read as null, appends may
    carry values, no partition is rewritten."""
    t = TimeTable(spark, tmppath, "ts")
    t.write(spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"]))
    t.add_column("score", "double")
    df = t.read()
    assert dict(df.dtypes)["score"] == "double"
    assert all(r["score"] is None for r in df.collect())
    t.append(
        spark.createDataFrame(
            [(6, "c", datetime(2024, 1, 4, 1), 6.0, 0.5)],
            ["id", "sym", "ts", "price", "score"],
        )
    )
    got = {r["id"]: r["score"] for r in t.read().collect()}
    assert got[6] == 0.5 and got[1] is None and len(got) == 6
    with pytest.raises(ValueError):
        t.add_column("price", "double")


def test_alter_drop_column(spark, tmppath):
    t = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    t.append(spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"]), seq=1)
    t.drop_column("price")
    assert "price" not in t.read().columns
    with pytest.raises(ValueError):
        t.drop_column("ts")  # designated timestamp
    with pytest.raises(ValueError):
        t.drop_column("sym")  # dedup key
    with pytest.raises(ValueError):
        t.drop_column("nope")


def test_alter_rename_column_mixed_partitions(spark, tmppath):
    """RENAME: old partitions keep the old physical name; appends after the
    rename are mapped back to it, and reads/updates see only the new name."""
    t = TimeTable(spark, tmppath, "ts")
    t.write(spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"]))
    t.rename_column("price", "px")
    assert "px" in t.read().columns and "price" not in t.read().columns
    t.append(
        spark.createDataFrame(
            [(7, "d", datetime(2024, 1, 5, 2), 7.5)], ["id", "sym", "ts", "px"]
        )
    )
    got = {r["id"]: r["px"] for r in t.read().collect()}
    assert got[1] == 1.0 and got[7] == 7.5 and len(got) == 6
    # maintenance ops speak the logical schema too
    t.update_where(F.col("px") == 7.5, {"px": F.lit(70.0)})
    assert {r["px"] for r in t.read().filter(F.col("id") == 7).collect()} == {70.0}
    with pytest.raises(ValueError):
        t.rename_column("px", "sym")
    with pytest.raises(ValueError):
        t.add_column("price", "double")  # retired physical name


def test_alter_rename_designated_ts(spark, tmppath):
    t = TimeTable(spark, tmppath, "ts")
    t.write(spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"]))
    t.rename_column("ts", "event_ts")
    assert t.ts_col == "event_ts"
    t.append(
        spark.createDataFrame(
            [(8, "e", datetime(2024, 1, 6, 3), 8.0)], ["id", "sym", "event_ts", "price"]
        )
    )
    got = {r["id"] for r in t.scan_interval("2024-01-06").collect()}
    assert got == {8}
    assert "event_ts" in t.read().columns


def test_alter_column_type_rewrites(spark, tmppath):
    """ALTER COLUMN TYPE physically rewrites (ConvertOperatorImpl.java) and
    materializes any pending metadata ops (journal is cleared)."""
    t = TimeTable(spark, tmppath, "ts")
    t.write(spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"]))
    t.rename_column("price", "px")
    t.alter_column_type("px", "string")
    # ops materialized: the journal is cleared (the meta file may survive
    # carrying only the physical-schema cache of the rewrite)
    assert t._ops() == []
    assert t._meta().get("declared_cols") is None
    df = t.read()
    assert dict(df.dtypes)["px"] == "string"
    got = {r["id"]: r["px"] for r in df.collect()}
    assert got[1] == "1.0" and len(got) == 5


def test_attach_refused_after_ddl(spark, tmppath):
    """r6: column DDL between DETACH and ATTACH invalidates the detached
    partition's metadata — the reference refuses the attach
    (AlterTableAttachPartitionTest 'metadata does not match')."""
    t = TimeTable(spark, tmppath, "ts", partition_by="day")
    t.write(spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"]))
    t.detach_partition("2024-01-01")
    t.add_column("extra", "double")
    with pytest.raises(ValueError, match="metadata changed"):
        t.attach_partition("2024-01-01")
    # without intervening DDL the roundtrip still works
    t.detach_partition("2024-01-02")
    assert t.attach_partition("2024-01-02") == ["2024-01-02"]


def test_compact_preserves_detached(spark, tmppath):
    """r6 fuzz-adjacent find: a full-table rewrite (compact) must carry
    the _detached partitions across, not destroy them."""
    t = TimeTable(spark, tmppath, "ts", partition_by="day", dedup_keys=["sym"])
    df = spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"])
    t.append(df, seq=0)
    t.detach_partition("2024-01-01")
    t.append(
        spark.createDataFrame(
            [(9, "c", datetime(2024, 1, 2, 10), 9.0)], ["id", "sym", "ts", "price"]
        ),
        seq=1,
    )
    t.compact()
    assert t.attach_partition("2024-01-01") == ["2024-01-01"]
    ids = sorted(r["id"] for r in t.read().collect())
    assert ids == [1, 2, 3, 4, 5, 9]


# -- physical-schema cache (r14 opt): explicit-schema reads must be
# indistinguishable from mergeSchema inference reads -------------------------


def test_schema_cache_matches_mergeschema_after_evolution(spark, tmppath):
    """Write → ADD COLUMN (journal) → append WITH the column (column tops:
    old files lack it): the cached-schema read must equal a mergeSchema
    read — same columns, same dtypes, same rows (missing column → null)."""
    t = TimeTable(spark, tmppath, "ts", partition_by="day")
    t.write(spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"]))
    assert t._cached_schema() is not None  # write populated the cache
    t.add_column("note", "string")
    t.append(
        spark.createDataFrame(
            [(9, "z", datetime(2024, 1, 9, 1), 9.0, "n9")],
            ["id", "sym", "ts", "price", "note"],
        )
    )
    cached = t._cached_schema()
    assert cached is not None and "note" in [f.name for f in cached.fields]
    via_cache = t.read()
    merged = t._logical(
        spark.read.option("mergeSchema", "true").parquet(t.path)
    )
    assert via_cache.columns == merged.columns
    assert dict(via_cache.dtypes) == dict(merged.dtypes)
    rows_c = sorted(map(tuple, via_cache.drop("part_date").collect()))
    rows_m = sorted(map(tuple, merged.drop("part_date").collect()))
    assert rows_c == rows_m
    assert {r[0]: r[4] for r in rows_c}[1] is None  # old files: note=null
    # name-level _logical_columns replay agrees with the DataFrame route
    assert t._logical_columns() == [
        c for c in merged.columns if c != "part_date"
    ]


def test_schema_cache_survives_restart_and_update(spark, tmppath):
    """The cache lives in the meta journal: a NEW TimeTable instance over
    the same dir uses it, and partition-rewrite maintenance keeps it."""
    t = TimeTable(spark, tmppath, "ts", partition_by="day")
    t.write(spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"]))
    t2 = TimeTable(spark, tmppath, "ts", partition_by="day")
    assert t2._cached_schema() is not None
    t2.update_where(F.col("id") == 1, {"price": F.lit(100.0)})
    assert t2._cached_schema() is not None
    got = {r["id"]: r["price"] for r in t2.read().collect()}
    assert got[1] == 100.0 and len(got) == 5


def test_schema_cache_miss_falls_back_to_mergeschema(spark, tmppath):
    """A table dir whose meta journal lost the phys_schema entry (legacy
    dir, or _note_write dropped it on a type conflict) must still read via
    mergeSchema inference — r14 regression: the fallback branch recursed
    instead of reading."""
    t = TimeTable(spark, tmppath, "ts", partition_by="day")
    t.write(spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"]))
    t._drop_schema_cache()
    assert t._cached_schema() is None
    rows = t.read().collect()  # was: RecursionError
    assert len(rows) == 5
    assert {r["id"] for r in rows} == {1, 2, 3, 4, 5}


def test_state_json_torn_write_raises(spark, tmppath):
    """Meta journal and WAL state are replaced atomically (tmp + fsync +
    rename, no tmp left behind).  A torn file must raise on the next read
    instead of reading back as an empty journal / un-suspended WAL."""
    t = TimeTable(spark, tmppath, "ts")
    t._write_meta(ops=[{"op": "add_column", "name": "x"}])
    t._save_wal_state({"suspended": True, "pending": []})
    assert t._ops() == [{"op": "add_column", "name": "x"}]
    assert t._wal_state()["suspended"] is True
    assert not [n for n in os.listdir(tmppath) if n.endswith(".tmp")]
    for name, read in (("_qdb_meta.json", t._meta), (".qdb_wal.json", t._wal_state)):
        with open(os.path.join(tmppath, name), "r+") as f:
            f.truncate(5)
        with pytest.raises(ValueError):
            read()
