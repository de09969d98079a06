"""TimeTable: partition layout, interval scans, dedup append, UPDATE/
DELETE/DROP PARTITION partition-rewrite maintenance."""

from __future__ import annotations

import json
import os
import shutil
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


def test_write_replaces_after_dedup_upserts(spark, tmppath):
    """``write`` replaces the whole table even after dedup upserts, which
    rewrite partitions: none of the earlier rows survive."""
    t = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    cols = ["id", "sym", "ts", "price"]
    t.append(spark.createDataFrame([(1, "a", datetime(2024, 1, 1, 10), 1.0)], cols), seq=1)
    t.append(spark.createDataFrame([(2, "a", datetime(2024, 1, 2, 10), 2.0)], cols), seq=2)
    t.write(spark.createDataFrame([(3, "a", datetime(2024, 1, 3, 10), 3.0)], cols))
    assert [r["id"] for r in t.read().collect()] == [3]


def test_upsert_leaves_session_overwrite_mode(spark, tmppath):
    """A dedup upsert rewrites partitions through the partition commit;
    the session's ``partitionOverwriteMode`` reads the same afterwards."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        t = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
        df = spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"])
        t.append(df, seq=1)
        t.append(df.withColumn("price", F.col("price") + 1), seq=2)
        assert spark.conf.get(key) == "static"
        assert sorted(r["price"] for r in t.read().collect()) == [2.0, 3.0, 4.0, 5.0, 6.0]
    finally:
        spark.conf.set(key, before)


def test_compact_crash_at_rename_in_keeps_old_table(spark, tmppath, monkeypatch):
    """A crash at the rename of a staged partition into the table: a table
    opened afterwards reads the rows as they were before ``compact``."""
    t = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    df = spark.createDataFrame(_mk_rows(), ["id", "sym", "ts", "price"])
    t.append(df, seq=1)
    t.append(df.filter(F.col("id") == 5).withColumn("price", F.lit(50.0)), seq=2)
    want = sorted(tuple(r) for r in t.read().collect())
    rename = os.rename
    staged = os.path.join(tmppath, ".stage", "new") + os.sep

    def rename_in_fails(src, dst):
        if os.fspath(src).startswith(staged):
            raise OSError("injected crash at the rename-in")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", rename_in_fails)
    with pytest.raises(OSError, match="injected"):
        t.compact()
    monkeypatch.undo()
    t2 = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    assert sorted(tuple(r) for r in t2.read().collect()) == want


# -- in-order commits and the max_ts bound --------------------------------

_COLS = ["id", "sym", "ts", "price"]


def _parquet_mtimes(path):
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }


def _keyed(t):
    return sorted((r["sym"], r["ts"], r["price"]) for r in t.read().collect())


def test_in_order_commit_only_adds_files(spark, tmppath):
    """A DEDUP batch whose every ts is past the table's max is appended:
    every stored file stays in place, same name and mtime, even in the
    partition the batch lands in."""
    t = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    t.append(spark.createDataFrame(_mk_rows(), _COLS), seq=1)
    before = _parquet_mtimes(tmppath)
    batch = [
        (6, "a", datetime(2024, 1, 3, 10), 6.0),  # into the newest partition
        (7, "b", datetime(2024, 1, 4, 8), 7.0),  # a new partition
    ]
    merged = t.append(spark.createDataFrame(batch, _COLS), seq=2)
    after = _parquet_mtimes(tmppath)
    assert {p: after.get(p) for p in before} == before
    assert len(after) > len(before)
    assert merged is False
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3, 4, 5, 6, 7]


def test_batch_starting_at_max_ts_upserts(spark, tmppath):
    """A batch whose min ts EQUALS the table's max may share a (keys, ts)
    with a stored row, so it merges: the stored key upserts to one row."""
    t = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    t.append(spark.createDataFrame(_mk_rows(), _COLS), seq=1)
    batch = [
        (50, "a", datetime(2024, 1, 3, 9), 50.0),  # the max ts, stored key
        (60, "b", datetime(2024, 1, 3, 10), 60.0),
    ]
    t.append(spark.createDataFrame(batch, _COLS), seq=2)
    got = _keyed(t)
    assert len(got) == 6
    assert [p for s, ts, p in got if s == "a" and ts == datetime(2024, 1, 3, 9)] == [50.0]


def test_resend_after_crash_past_data_write_upserts(spark, tmppath, monkeypatch):
    """The bound is raised BEFORE the data write: a commit that dies right
    after writing its rows, resent through a new table handle, merges and
    leaves the row count unchanged."""
    t = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    t.append(spark.createDataFrame(_mk_rows(), _COLS), seq=1)
    batch = spark.createDataFrame(
        [(6, "a", datetime(2024, 1, 4, 1), 6.0), (7, "b", datetime(2024, 1, 4, 2), 7.0)],
        _COLS,
    )

    def crash(*_a, **_k):
        raise OSError("injected crash after the data write")

    monkeypatch.setattr(TimeTable, "_note_write", crash)
    with pytest.raises(OSError, match="injected"):
        t.append(batch, seq=2)
    monkeypatch.undo()
    t2 = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    n = t2.read().count()
    assert n == 7
    t2.append(batch, seq=2)
    assert t2.read().count() == n


def test_attach_newest_partition_then_commit_upserts(spark, tmppath):
    """Attaching drops the bound: the attached newest partition holds rows
    past the bound a commit after the detach derived, and a commit into
    its range must merge with them."""
    t = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    t.append(spark.createDataFrame(_mk_rows(), _COLS), seq=1)
    t.detach_partition("2024-01-03")
    # a directory written before the bound existed: the next commit merges
    # and derives the bound from the newest live partition (2024-01-02)
    meta = t._meta()
    meta.pop("max_ts", None)
    with open(t._meta_path, "w") as f:
        json.dump(meta, f)
    late = [(8, "b", datetime(2024, 1, 2, 1), 8.0)]
    t.append(spark.createDataFrame(late, _COLS), seq=2)
    assert t.attach_partition("2024-01-03") == ["2024-01-03"]
    upsert = [(9, "b", datetime(2024, 1, 3, 8), 90.0)]  # stored in 2024-01-03
    t.append(spark.createDataFrame(upsert, _COLS), seq=3)
    got = _keyed(t)
    assert len(got) == 6
    assert [p for s, ts, p in got if s == "b" and ts == datetime(2024, 1, 3, 8)] == [90.0]


def test_dedup_enabled_after_plain_appends_merges(spark, tmppath):
    """Plain appends drop the bound, so the first commit after DEDUP is
    turned back on merges with the rows they wrote."""
    t = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    t.append(spark.createDataFrame(_mk_rows(), _COLS), seq=1)
    t.dedup_keys, t.dedup_enabled = [], False
    plain = [(6, "a", datetime(2024, 1, 4, 9), 6.0)]
    t.append(spark.createDataFrame(plain, _COLS), seq=2)
    t.dedup_keys, t.dedup_enabled = ["sym"], True
    again = [(7, "a", datetime(2024, 1, 4, 9), 70.0)]
    t.append(spark.createDataFrame(again, _COLS), seq=3)
    got = _keyed(t)
    assert len(got) == 6
    assert [p for s, ts, p in got if ts == datetime(2024, 1, 4, 9)] == [70.0]


@pytest.mark.parametrize("step", ["write", "rename_aside", "rename_in", "drop_aside"])
def test_vacuum_crash_keeps_rows(spark, tmppath, monkeypatch, step):
    """A crash at any filesystem step of ``vacuum``: a table opened
    afterwards reads exactly the rows from before the vacuum, and a second
    vacuum completes."""
    from pyspark.sql.readwriter import DataFrameWriter

    t = TimeTable(spark, tmppath, "ts")
    df = spark.createDataFrame(_mk_rows(), _COLS)
    for i in range(3):  # three files in each partition
        t.append(df.withColumn("price", F.col("price") + i))
    want = sorted(tuple(r) for r in t.read().collect())

    def fail_on(name, real, nth=1):
        seen = []

        def wrapped(*a, **k):
            if any(".stage" in os.fspath(x) for x in a if isinstance(x, (str, os.PathLike))):
                seen.append(a)
                if len(seen) == nth:
                    if name == "write":
                        real(*a, **k)  # the copy is complete, then the crash
                    raise OSError(f"injected crash at {step}")
            return real(*a, **k)

        return wrapped

    if step == "write":
        monkeypatch.setattr(
            DataFrameWriter, "parquet", fail_on("write", DataFrameWriter.parquet)
        )
    elif step in ("rename_aside", "rename_in"):
        monkeypatch.setattr(
            os, "rename", fail_on("rename", os.rename, 1 if step == "rename_aside" else 2)
        )
    else:
        monkeypatch.setattr(shutil, "rmtree", fail_on("rmtree", shutil.rmtree))
    with pytest.raises(OSError, match="injected"):
        t.vacuum()
    monkeypatch.undo()
    t2 = TimeTable(spark, tmppath, "ts")
    assert sorted(tuple(r) for r in t2.read().collect()) == want
    assert not os.path.exists(os.path.join(tmppath, ".stage"))
    t2.vacuum()
    assert sorted(tuple(r) for r in t2.read().collect()) == want


# -- the change log under a crash, read by a dialect view refresh ------------


def _engine_with_view(spark, tmppath, dedup):
    from questdb_spark.sqlfront.engine import QdbEngine

    eng = QdbEngine(spark, warehouse=tmppath)
    keys = " DEDUP UPSERT KEYS(ts, k)" if dedup else ""
    eng.sql(
        "CREATE TABLE cb (ts TIMESTAMP, k SYMBOL, v DOUBLE) TIMESTAMP(ts) "
        f"PARTITION BY DAY WAL{keys}"
    )
    eng.sql(
        "INSERT INTO cb VALUES (TIMESTAMP '2024-01-01 00:10:00', 'a', 1.0), "
        "(TIMESTAMP '2024-01-02 00:10:00', 'b', 2.0)"
    )
    eng.sql("CREATE MATERIALIZED VIEW cv AS (SELECT ts, sum(v) s FROM cb SAMPLE BY 1h)")
    return eng


def _reopen_base(eng):
    """A new ``TimeTable`` handle on the base, as after a restart."""
    from questdb_spark.sqlfront.ddl import _refresh_view

    t = eng.ddl_tables["cb"]
    t2 = TimeTable(t.spark, t.path, t.ts_col, t.partition_by, t.dedup_keys)
    t2.dedup_enabled = t.dedup_enabled
    eng.ddl_tables["cb"] = t2
    _refresh_view(eng, "cb")


def _view_sums(eng):
    return {str(r.ts): r.s for r in eng.sql("SELECT ts, s FROM cv").collect()}


@pytest.mark.parametrize("dedup", [True, False], ids=["upsert", "append"])
def test_view_refresh_after_commit_crash_equals_full(spark, tmppath, monkeypatch, dedup):
    """A commit that dies right after its data write has logged its entry
    first: the DEDUP upsert's range, or the plain append's unbounded entry
    (never narrowed).  A refresh through a reopened table equals FULL."""
    eng = _engine_with_view(spark, tmppath, dedup)

    def crash(*_a, **_k):
        raise OSError("injected crash after the data write")

    monkeypatch.setattr(TimeTable, "_note_write", crash)
    with pytest.raises(OSError, match="injected"):
        eng.sql(
            "INSERT INTO cb VALUES (TIMESTAMP '2024-01-01 00:10:00', 'a', 100.0), "
            "(TIMESTAMP '2024-01-03 00:10:00', 'c', 3.0)"
        )
    monkeypatch.undo()
    _reopen_base(eng)
    route = eng.sql("REFRESH MATERIALIZED VIEW cv INCREMENTAL").first().detail
    assert route == ("from 2024-01-01 00:00:00.000000" if dedup else "full")
    got = _view_sums(eng)
    assert got["2024-01-01 00:00:00"] == (100.0 if dedup else 101.0)
    eng.sql("REFRESH MATERIALIZED VIEW cv FULL")
    assert _view_sums(eng) == got


def test_view_checkpoint_without_base_txn_refreshes_full_then_incrementally(
    spark, tmppath
):
    """A checkpoint in the format before the change log (no ``base_txn``)
    restores, refreshes in full once, then incrementally."""
    eng = _engine_with_view(spark, tmppath, dedup=True)
    d = eng.matviews.pop("cv")
    state = os.path.join(d.table.path, "_lv_state.json")
    with open(state) as f:
        st = json.load(f)
    st.pop("base_txn")
    st.update(hwm="2024-01-02T00:10:00+00:00", frozen_count=1, base_count=2)
    with open(state, "w") as f:
        json.dump(st, f)
    restored = eng.sql(
        "CREATE MATERIALIZED VIEW cv AS (SELECT ts, sum(v) s FROM cb SAMPLE BY 1h)"
    ).first()
    assert restored.detail == "restored from checkpoint"
    eng.sql("INSERT INTO cb VALUES (TIMESTAMP '2024-01-01 00:10:00', 'a', 7.0)")
    assert eng.sql("REFRESH MATERIALIZED VIEW cv INCREMENTAL").first().detail == "full"
    eng.sql("INSERT INTO cb VALUES (TIMESTAMP '2024-01-02 05:10:00', 'a', 4.0)")
    route = eng.sql("REFRESH MATERIALIZED VIEW cv INCREMENTAL").first().detail
    assert route == "from 2024-01-02 05:00:00.000000"
    assert _view_sums(eng) == {
        "2024-01-01 00:00:00": 7.0,
        "2024-01-02 00:00:00": 2.0,
        "2024-01-02 05:00:00": 4.0,
    }


def test_change_log_entries(spark, tmppath):
    """Each op's entry: ranges for DEDUP commits and plain appends (the
    append's narrowed after its write), unbounded for UPDATE, DELETE and
    column DDL; ``vacuum`` and ``compact`` log nothing; the log keeps its
    tail and a gap reads as unknown."""
    us = lambda dt: int((dt - datetime(1970, 1, 1)).total_seconds()) * 1_000_000  # noqa: E731
    t = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    t.append(spark.createDataFrame(_mk_rows(), _COLS), seq=1)
    m0 = t.log_mark()
    assert t.changes_since(m0) == ()
    late = [(6, "a", datetime(2024, 1, 2, 9), 60.0)]
    t.append(spark.createDataFrame(late, _COLS), seq=2)
    lo = hi = us(datetime(2024, 1, 2, 9))
    assert t.changes_since(m0) == (lo, us(datetime(2024, 1, 3, 9)))
    m1 = t.log_mark()
    t.compact()
    t.vacuum()
    assert t.changes_since(m1) == ()
    t.update_where(F.col("sym") == "a", {"price": F.lit(0.0)})
    assert t.changes_since(m1) is None
    m2 = t.log_mark()
    t.add_column("note", "string")
    assert t.changes_since(m2) is None
    assert t.changes_since(None) is None
    assert t.changes_since(("another-log", m2[1])) is None
    plain = TimeTable(spark, tmppath + "_plain", "ts")
    plain.append(spark.createDataFrame(_mk_rows(), _COLS))
    m3 = plain.log_mark()
    plain.append(spark.createDataFrame(late, _COLS))
    assert plain.changes_since(m3) == (lo, us(datetime(2024, 1, 3, 9)))
    plain.delete_where(F.col("sym") == "a")
    assert plain.changes_since(m3) is None
    for _ in range(70):  # past the kept tail
        plain._log_change(lo, hi)
    assert plain.changes_since(m3) is None
    m4 = plain.log_mark()
    plain._log_change(lo, hi)
    assert plain.changes_since(m4)[0] == lo


def test_replace_from_keeps_rows_before_since(spark, tmppath):
    """``replace_from`` rewrites the partition holding ``since`` (its rows
    before ``since`` kept) and the partitions the new rows touch; earlier
    partitions keep their files."""
    t = TimeTable(spark, tmppath, "ts")
    t.write(spark.createDataFrame(_mk_rows(), _COLS))
    before = _parquet_mtimes(tmppath)
    new = [(7, "c", datetime(2024, 1, 3, 12), 7.0)]
    t.replace_from(spark.createDataFrame(new, _COLS), datetime(2024, 1, 2, 12))
    got = sorted((r.id, str(r.ts)) for r in t.read().collect())
    assert got == [
        (1, "2024-01-01 10:00:00"),
        (2, "2024-01-01 11:00:00"),
        (3, "2024-01-02 09:00:00"),
        (7, "2024-01-03 12:00:00"),
    ]
    day1 = {f: m for f, m in before.items() if "part_date=2024-01-01" in f}
    assert day1 and all(_parquet_mtimes(tmppath).get(f) == m for f, m in day1.items())


# -- the partition commit ------------------------------------------------------


def test_added_column_value_survives_crash_at_schema_fold(spark, tmppath, monkeypatch):
    """An O3 commit that sets a column added by ADD COLUMN, cut short at
    the schema-cache fold after its renames: the commit record still holds
    the fold, so a reopened table reads the value."""
    t = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    t.append(spark.createDataFrame(_mk_rows(), _COLS), seq=1)
    t.add_column("c", "double")
    late = spark.createDataFrame(
        [(1, "a", datetime(2024, 1, 1, 10), 1.0, 7.0)], [*_COLS, "c"]
    )

    def crash(*_a, **_k):
        raise OSError("injected crash at the schema fold")

    monkeypatch.setattr(TimeTable, "_note_write", crash)
    with pytest.raises(OSError, match="injected"):
        t.append(late, seq=2)
    monkeypatch.undo()
    t2 = TimeTable(spark, tmppath, "ts", dedup_keys=["sym"])
    assert not os.path.exists(os.path.join(tmppath, ".stage"))
    got = {r["id"]: r["c"] for r in t2.read().collect()}
    assert got == {1: 7.0, 2: None, 3: None, 4: None, 5: None}


def test_zero_row_append_logs_nothing_changed(spark, tmppath, monkeypatch):
    """A plain append that writes no row narrows its entry to "nothing
    changed"; cut short before the narrowing, the entry stays unbounded."""
    t = TimeTable(spark, tmppath, "ts")
    t.append(spark.createDataFrame(_mk_rows(), _COLS))
    mark = t.log_mark()

    def nothing():
        return t.read().drop("part_date").filter(F.col("price") < 0)

    t.append(nothing())
    assert t.changes_since(mark) == ()

    def crash(*_a, **_k):
        raise OSError("injected crash before the narrowing")

    monkeypatch.setattr(TimeTable, "_narrow_change", crash)
    with pytest.raises(OSError, match="injected"):
        t.append(nothing())
    assert t.changes_since(mark) is None

