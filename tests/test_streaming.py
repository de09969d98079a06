"""Streaming path: ILP parsing, ingest with DEDUP UPSERT semantics,
incremental SAMPLE BY materialized view."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from questdb_spark.sources.ilp import ilp_to_table, parse_ilp
from questdb_spark.streaming.ingest import write_stream_ingest
from questdb_spark.streaming.matview import sample_by_matview
from questdb_spark.table import TimeTable

ILP_LINES_A = [
    'trades,sym=AAPL,side=buy price=101.5,size=10i 1704067200000000000',
    'trades,sym=AAPL,side=sell price=102.0,size=5i 1704067260000000000',
    'trades,sym=MSFT,side=buy price=390.25,size=7i 1704067320000000000',
    'weather,city=SF temp=13.5,wind=2.0 1704067200000000000',
    'bad line without fields',
]
# second batch: out-of-order + duplicate upsert for (AAPL, first ts)
ILP_LINES_B = [
    'trades,sym=AAPL,side=buy price=999.0,size=99i 1704067200000000000',
    'trades,sym=GOOG,side=buy price=140.0,size=3i 1704067080000000000',
]


def test_parse_ilp(spark):
    df = spark.createDataFrame([(l,) for l in ILP_LINES_A], ["value"])
    parsed = parse_ilp(df)
    trades = [r for r in parsed.collect() if r["measurement"] == "trades"]
    assert len(trades) == 3
    by_sym = {(r["tags"]["sym"], r["tags"]["side"]): r for r in trades}
    assert by_sym[("AAPL", "buy")]["fields_double"]["price"] == 101.5
    assert by_sym[("AAPL", "buy")]["fields_long"]["size"] == 10
    assert str(by_sym[("AAPL", "buy")]["ts"]) == "2024-01-01 00:00:00"
    assert by_sym[("MSFT", "buy")]["fields_double"]["price"] == 390.25
    # malformed line → NULL measurement
    assert sum(1 for r in parsed.collect() if r["measurement"] is None) == 1


def test_ilp_to_table(spark):
    df = spark.createDataFrame([(l,) for l in ILP_LINES_A], ["value"])
    table = ilp_to_table(parse_ilp(df), "trades")
    assert set(table.columns) == {"sym", "side", "price", "size", "ts"}
    assert table.count() == 3


def _run_ingest_batch(spark, lines, in_dir, table, ckpt, fname):
    with open(os.path.join(in_dir, fname), "w") as f:
        f.write("\n".join(lines) + "\n")
    stream = spark.readStream.format("text").load(in_dir)
    stream_rows = parse_ilp(stream).filter(F.col("measurement") == "trades").select(
        F.col("tags")["sym"].alias("sym"),
        F.col("fields_double")["price"].alias("price"),
        F.col("fields_long")["size"].alias("size"),
        "ts",
    )
    q = write_stream_ingest(stream_rows, table, ckpt, trigger_available_now=True)
    q.awaitTermination(120)


def test_ingest_dedup_upsert(spark):
    with tempfile.TemporaryDirectory() as tmp:
        in_dir = os.path.join(tmp, "in")
        out_dir = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(in_dir)
        table = TimeTable(spark, out_dir, "ts", dedup_keys=["sym"])
        _run_ingest_batch(spark, ILP_LINES_A, in_dir, table, ckpt, "a.txt")
        _run_ingest_batch(spark, ILP_LINES_B, in_dir, table, ckpt, "b.txt")

        view = table.read()
        rows = {(r["sym"], str(r["ts"])): r for r in view.collect()}
        # 3 original trades + GOOG, with the AAPL@t0 row upserted
        assert len(rows) == 4
        assert rows[("AAPL", "2024-01-01 00:00:00")]["price"] == 999.0
        assert rows[("AAPL", "2024-01-01 00:00:00")]["size"] == 99

        # compaction materializes the same view
        table.compact()
        after = {(r["sym"], str(r["ts"])): r for r in table.read().collect()}
        assert {k: v["price"] for k, v in after.items()} == {
            k: v["price"] for k, v in rows.items()
        }


def test_ingest_intra_batch_dedup_order(spark):
    """Duplicates for the same (sym, ts) WITHIN one micro-batch must resolve
    last-write-wins in arrival order (WAL commit order), not tie arbitrarily
    on the batch id."""
    dup_lines = [
        'trades,sym=AAPL,side=buy price=1.0,size=1i 1704067200000000000',
        'trades,sym=AAPL,side=buy price=2.0,size=2i 1704067200000000000',
        'trades,sym=AAPL,side=buy price=3.0,size=3i 1704067200000000000',
    ]
    with tempfile.TemporaryDirectory() as tmp:
        in_dir = os.path.join(tmp, "in")
        out_dir = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(in_dir)
        table = TimeTable(spark, out_dir, "ts", dedup_keys=["sym"])
        _run_ingest_batch(spark, dup_lines, in_dir, table, ckpt, "dups.txt")
        view = table.read().collect()
        assert len(view) == 1
        assert view[0]["price"] == 3.0 and view[0]["size"] == 3


def test_sample_by_matview(spark):
    with tempfile.TemporaryDirectory() as tmp:
        in_dir = os.path.join(tmp, "in")
        mv_dir = os.path.join(tmp, "mv")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(in_dir)
        view = TimeTable(spark, mv_dir, "ts_bucket", dedup_keys=["sym"])

        def run(lines, fname):
            with open(os.path.join(in_dir, fname), "w") as f:
                f.write("\n".join(lines) + "\n")
            stream = spark.readStream.format("text").load(in_dir)
            table = parse_ilp(stream).filter(F.col("measurement") == "trades").select(
                F.col("tags")["sym"].alias("sym"),
                F.col("fields_double")["price"].alias("price"),
                "ts",
            )
            q = sample_by_matview(
                table,
                view,
                ckpt,
                "ts",
                "1 minute",
                {"n": F.count(F.lit(1)), "max_price": F.max("price")},
                watermark="2 days",  # o3MaxLag: late rows within it update their bucket
                trigger_available_now=True,
            )
            q.awaitTermination(120)

        run(ILP_LINES_A, "a.txt")
        run(ILP_LINES_B, "b.txt")
        mv = {
            (r["sym"], str(r["ts_bucket"])): r for r in view.read().collect()
        }
        # AAPL minute-0 bucket got the late 999.0 row merged in
        assert mv[("AAPL", "2024-01-01 00:00:00")]["n"] == 2
        assert mv[("AAPL", "2024-01-01 00:00:00")]["max_price"] == 999.0
        assert mv[("MSFT", "2024-01-01 00:02:00")]["n"] == 1
        assert mv[("GOOG", "2023-12-31 23:58:00")]["n"] == 1


def test_latest_on_liveview(spark):
    from questdb_spark.streaming.matview import latest_on_liveview

    with tempfile.TemporaryDirectory() as tmp:
        in_dir = os.path.join(tmp, "in")
        lv_dir = os.path.join(tmp, "lv")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(in_dir)

        def run(lines, fname):
            with open(os.path.join(in_dir, fname), "w") as f:
                f.write("\n".join(lines) + "\n")
            stream = parse_ilp(
                spark.readStream.format("text").load(in_dir)
            ).filter(F.col("measurement") == "trades").select(
                F.col("tags")["sym"].alias("sym"),
                F.col("fields_double")["price"].alias("price"),
                "ts",
            )
            q = latest_on_liveview(
                stream, lv_dir, ckpt, "ts", ["sym"], trigger_available_now=True
            )
            q.awaitTermination(120)

        run(ILP_LINES_A, "a.txt")
        lv1 = {r["sym"]: r["price"] for r in spark.read.parquet(lv_dir).collect()}
        assert lv1 == {"AAPL": 102.0, "MSFT": 390.25}

        run(ILP_LINES_B, "b.txt")
        lv2 = {r["sym"]: r["price"] for r in spark.read.parquet(lv_dir).collect()}
        # GOOG appears; AAPL's latest is still the ts=1min sell (999 was at ts=0)
        assert lv2 == {"AAPL": 102.0, "MSFT": 390.25, "GOOG": 140.0}


def test_ingest_without_keys_keeps_rows_sharing_ts(spark, tmp_path):
    """A table without dedup keys appends every row, as QuestDB does: two
    distinct rows at the same timestamp are both stored."""
    from questdb_spark.streaming.ingest import start_ilp_ingest

    lines_dir = tmp_path / "lines"
    lines_dir.mkdir()
    (lines_dir / "b0.txt").write_text(
        "trades,sym=A price=1.0 1704067200000000000\n"
        "trades,sym=B price=2.0 1704067200000000000\n"
    )
    table = TimeTable(spark, str(tmp_path / "tbl"), "ts")
    start_ilp_ingest(
        spark, measurement="trades", table=table,
        checkpoint=str(tmp_path / "ckpt"), lines_path=str(lines_dir),
        trigger_available_now=True,
    ).awaitTermination(120)
    got = sorted((r["sym"], r["price"]) for r in table.read().collect())
    assert got == [("A", 1.0), ("B", 2.0)]


def test_ingest_hour_partitions_stay_hourly(spark, tmp_path):
    """An hourly table streamed into keeps one partition per hour, not one
    per day."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    table = TimeTable(
        spark, str(tmp_path / "out"), "ts", partition_by="hour", dedup_keys=["sym"]
    )
    lines = [
        "trades,sym=A price=1.0,size=1i 1704067800000000000",  # 00:10
        "trades,sym=A price=2.0,size=1i 1704071400000000000",  # 01:10
    ]
    _run_ingest_batch(spark, lines, str(in_dir), table, str(tmp_path / "ckpt"), "a.txt")
    parts = sorted(d for d in os.listdir(table.path) if d.startswith("part_date="))
    assert parts == ["part_date=2024-01-01-00", "part_date=2024-01-01-01"]
    assert table.read().count() == 2


def test_ingest_stores_late_row(spark, tmp_path):
    """A row two days older than anything already committed, arriving in a
    later micro-batch, merges into its own partition."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    table = TimeTable(spark, str(tmp_path / "out"), "ts", dedup_keys=["sym"])
    _run_ingest_batch(spark, ILP_LINES_A, str(in_dir), table, ckpt, "a.txt")
    late = ["trades,sym=OLD price=1.0,size=1i 1703894400000000000"]  # Dec 30
    _run_ingest_batch(spark, late, str(in_dir), table, ckpt, "b.txt")
    got = {(r["sym"], str(r["ts"])) for r in table.read().collect()}
    assert ("OLD", "2023-12-30 00:00:00") in got
    assert len(got) == 4


def test_sample_by_matview_null_key_one_row(spark, tmp_path):
    """Two batches for the same (bucket, NULL key): the view keeps one row
    carrying the latest aggregate, not a stale row beside it."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    view = TimeTable(spark, str(tmp_path / "mv"), "ts_bucket", dedup_keys=["sym"])

    def run(line, fname):
        (in_dir / fname).write_text(line + "\n")
        rows = parse_ilp(spark.readStream.format("text").load(str(in_dir))).select(
            F.col("tags")["sym"].alias("sym"),  # no sym tag → NULL key
            F.col("fields_double")["price"].alias("price"),
            "ts",
        )
        sample_by_matview(
            rows, view, ckpt, "ts", "1 minute", {"n": F.count(F.lit(1))},
            watermark="2 days", trigger_available_now=True,
        ).awaitTermination(120)

    run("trades price=1.0 1704067200000000000", "a.txt")
    run("trades price=2.0 1704067210000000000", "b.txt")
    got = [(r["sym"], str(r["ts_bucket"]), r["n"]) for r in view.read().collect()]
    assert got == [(None, "2024-01-01 00:00:00", 2)]


def test_latest_on_liveview_null_key_one_row(spark, tmp_path):
    """A NULL ``sym`` key arriving in two batches is one key: the live view
    ends with one row holding the later price."""
    from questdb_spark.streaming.matview import latest_on_liveview

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    lv_dir = str(tmp_path / "lv")
    ckpt = str(tmp_path / "ckpt")

    def run(line, fname):
        (in_dir / fname).write_text(line + "\n")
        rows = parse_ilp(spark.readStream.format("text").load(str(in_dir))).select(
            F.col("tags")["sym"].alias("sym"),
            F.col("fields_double")["price"].alias("price"),
            "ts",
        )
        latest_on_liveview(
            rows, lv_dir, ckpt, "ts", ["sym"], trigger_available_now=True
        ).awaitTermination(120)

    run("trades price=1.0 1704067200000000000", "a.txt")
    run("trades price=2.0 1704067260000000000", "b.txt")
    got = [(r["sym"], r["price"]) for r in spark.read.parquet(lv_dir).collect()]
    assert got == [(None, 2.0)]


def test_ilp_ingest_torn_schema_file_raises(spark, tmp_path):
    """A torn ``_ilp_schema.json`` fails the restarted stream instead of
    silently re-inferring a new layout from the next batch."""
    from pyspark.errors import StreamingQueryException

    from questdb_spark.streaming.ingest import start_ilp_ingest

    lines_dir = tmp_path / "lines"
    lines_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    table = TimeTable(spark, str(tmp_path / "tbl"), "ts", dedup_keys=["sym", "side"])

    def run():
        start_ilp_ingest(
            spark, measurement="trades", table=table, checkpoint=str(ckpt),
            lines_path=str(lines_dir), trigger_available_now=True,
        ).awaitTermination(120)

    (lines_dir / "b0.txt").write_text("\n".join(ILP_LINES_A) + "\n")
    run()
    schema = ckpt / "_ilp_schema.json"
    schema.write_text(schema.read_text()[:10])
    (lines_dir / "b1.txt").write_text("\n".join(ILP_LINES_B) + "\n")
    with pytest.raises(StreamingQueryException):
        run()
    assert table.read().count() == 3  # nothing from the second batch landed


def test_ilp_fuzz_roundtrip(spark):
    """Property test: random well-formed ILP lines parse back to their
    source values (QuestDB fuzz-test analogue for the parser)."""
    import random
    import string

    rng = random.Random(99)

    def ident(n=6):
        return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))

    cases = []
    for i in range(200):
        meas = ident()
        tags = {ident(): ident() for _ in range(rng.randrange(0, 4))}
        fields = {}
        for _ in range(rng.randrange(1, 5)):
            kind = rng.choice(["f", "i", "s", "b"])
            name = ident()
            if kind == "f":
                fields[name] = round(rng.uniform(-1000, 1000), 3)
            elif kind == "i":
                fields[name] = rng.randrange(-10**9, 10**9)
            elif kind == "s":
                fields[name] = ident(8)
            else:
                fields[name] = rng.choice([True, False])
        ts_ns = rng.randrange(1_500_000_000, 1_800_000_000) * 1_000_000_000
        tag_part = ("," + ",".join(f"{k}={v}" for k, v in tags.items())) if tags else ""

        def fmt(v):
            if isinstance(v, bool):
                return "t" if v else "f"
            if isinstance(v, int):
                return f"{v}i"
            if isinstance(v, float):
                return repr(v)
            return f'"{v}"'

        field_part = ",".join(f"{k}={fmt(v)}" for k, v in fields.items())
        line = f"{meas}{tag_part} {field_part} {ts_ns}"
        cases.append((i, meas, tags, fields, ts_ns, line))

    df = spark.createDataFrame([(c[5],) for c in cases], ["value"])
    parsed = parse_ilp(df).collect()
    by_meas = {}
    for r in parsed:
        by_meas.setdefault(r["measurement"], []).append(r)
    for i, meas, tags, fields, ts_ns, line in cases:
        rows = by_meas.get(meas)
        assert rows, f"lost line: {line}"
        r = rows[0] if len(rows) == 1 else next(
            x for x in rows if (x["tags"] or {}) == tags
        )
        assert (r["tags"] or {}) == tags
        got_fields = {
            **(r["fields_double"] or {}), **(r["fields_long"] or {}),
            **(r["fields_string"] or {}), **(r["fields_bool"] or {}),
        }
        assert got_fields == fields, f"{line}: {got_fields} != {fields}"
        import datetime as dt

        want_ts = dt.datetime.utcfromtimestamp(ts_ns / 1e9).replace(
            microsecond=(ts_ns // 1000) % 1_000_000
        )
        assert r["ts"] == want_ts


def test_sample_by_matview_tz_aligned(spark):
    """Incremental SAMPLE BY live view with ALIGN TO CALENDAR TIME ZONE:
    out-of-order batches, daily buckets on America/New_York local midnights;
    final view must equal the batch sample_by over the same rows."""
    from questdb_spark.operators.sample_by import sample_by

    # UTC instants straddling NY local midnight (UTC-5 in January)
    lines_a = [
        'trades,sym=AAPL price=1.0,size=1i 1704169800000000000',  # NY Jan 1 23:30
        'trades,sym=AAPL price=3.0,size=1i 1704173400000000000',  # NY Jan 2 00:30
    ]
    lines_b = [  # late arrival, belongs to the Jan-1 local-day bucket
        'trades,sym=AAPL price=2.0,size=1i 1704170700000000000',  # NY Jan 1 23:45
    ]
    aggs = {"n": F.count(F.lit(1)), "max_price": F.max("price")}
    with tempfile.TemporaryDirectory() as tmp:
        in_dir = os.path.join(tmp, "in")
        mv_dir = os.path.join(tmp, "mv")
        ckpt = os.path.join(tmp, "ckpt")
        os.makedirs(in_dir)
        view = TimeTable(spark, mv_dir, "ts_bucket", dedup_keys=["sym"])

        def run(lines, fname):
            with open(os.path.join(in_dir, fname), "w") as f:
                f.write("\n".join(lines) + "\n")
            stream = spark.readStream.format("text").load(in_dir)
            table = parse_ilp(stream).select(
                F.col("tags")["sym"].alias("sym"),
                F.col("fields_double")["price"].alias("price"),
                "ts",
            )
            q = sample_by_matview(
                table, view, ckpt, "ts", "1 day", aggs,
                watermark="2 days", tz="America/New_York",
                trigger_available_now=True,
            )
            q.awaitTermination(120)

        run(lines_a, "a.txt")
        run(lines_b, "b.txt")

        got = {
            (r["sym"], str(r["ts_bucket"])): (r["n"], r["max_price"])
            for r in view.read().collect()
        }
        # buckets start at NY local midnight = 05:00 UTC
        assert got[("AAPL", "2024-01-01 05:00:00")] == (2, 2.0)
        assert got[("AAPL", "2024-01-02 05:00:00")] == (1, 3.0)

        batch = parse_ilp(
            spark.createDataFrame([(l,) for l in lines_a + lines_b], ["value"])
        ).select(
            F.col("tags")["sym"].alias("sym"),
            F.col("fields_double")["price"].alias("price"),
            "ts",
        )
        expected = {
            (r["sym"], str(r["ts_bucket"])): (r["n"], r["max_price"])
            for r in sample_by(
                batch, "ts", "1d", aggs, keys=["sym"], tz="America/New_York"
            ).collect()
        }
        assert got == expected


def test_streaming_ema_stateful_across_batches(spark):
    """applyInPandasWithState EMA: state (ema, last_ts) carries across
    micro-batches AND across query restarts (checkpoint), producing the
    exact batch recurrence over the concatenated history."""
    import shutil

    from questdb_spark.functions.finance import ema as batch_ema
    from questdb_spark.streaming.stateful import streaming_ema

    tmp = tempfile.mkdtemp(prefix="sema_")
    src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    def rows(lo, hi):
        return [
            (f"u{i % 3}", F.lit(None), i * 1.0)  # placeholder, replaced below
            for i in range(lo, hi)
        ]

    def write_batch(lo, hi, name):
        data = [
            (f"u{i % 3}", f"2024-01-01 00:{i:02d}:00", float(i * i % 97))
            for i in range(lo, hi)
        ]
        df = spark.createDataFrame(data, "k string, ts_s string, v double") \
            .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, name))

    def run_available():
        stream = spark.readStream.schema("k string, ts timestamp, v double") \
            .option("maxFilesPerTrigger", "1").parquet(src + "/*")
        q = streaming_ema(stream, "ts", "v", alpha=0.3, keys=["k"]) \
            .writeStream.format("parquet").option("path", out) \
            .option("checkpointLocation", ckpt) \
            .trigger(availableNow=True).start()
        q.awaitTermination(120)

    write_batch(0, 20, "b0")
    run_available()
    write_batch(20, 40, "b1")  # strictly later timestamps
    run_available()

    got = {
        (r["k"], str(r["ts"])): r["ema"]
        for r in spark.read.parquet(out).collect()
    }
    full = spark.createDataFrame(
        [
            (f"u{i % 3}", f"2024-01-01 00:{i:02d}:00", float(i * i % 97))
            for i in range(40)
        ],
        "k string, ts_s string, v double",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    expected = {
        (r["k"], str(r["ts"])): r["ema"]
        for r in batch_ema(full, "ts", "v", alpha=0.3, keys=["k"]).collect()
    }
    assert len(got) == 40
    for key, e in expected.items():
        assert abs(got[key] - e) < 1e-9, key
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_ema_multi_chunk_group(spark):
    """A single key's micro-batch spanning multiple Arrow chunks must fold
    in TIMESTAMP order, not chunk order: with a per-chunk fold, a chunk-2
    row older than chunk-1's tail is flagged late (NULL) and the rest fold
    in arrival order, silently diverging from the batch EMA.
    arrow.maxRecordsPerBatch=1 forces every row into its own chunk; rows
    are written newest-first so chunk order disagrees with time order."""
    import shutil

    from questdb_spark.functions.finance import ema as batch_ema
    from questdb_spark.streaming.stateful import streaming_ema

    tmp = tempfile.mkdtemp(prefix="semac_")
    src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    rows = [  # one key, ONE micro-batch, newest-first on disk
        ("a", "2024-01-01 00:02:00", 4.0),
        ("a", "2024-01-01 00:00:00", 1.0),
        ("a", "2024-01-01 00:01:00", 2.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts_s string, v double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    df.coalesce(1).write.parquet(os.path.join(src, "b0"))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        stream = spark.readStream.schema("k string, ts timestamp, v double") \
            .parquet(src + "/*")
        q = streaming_ema(stream, "ts", "v", alpha=0.3, keys=["k"]) \
            .writeStream.format("parquet").option("path", out) \
            .option("checkpointLocation", ckpt) \
            .trigger(availableNow=True).start()
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = {str(r["ts"]): r["ema"] for r in spark.read.parquet(out).collect()}
    expected = {
        str(r["ts"]): r["ema"]
        for r in batch_ema(df, "ts", "v", alpha=0.3, keys=["k"]).collect()
    }
    assert len(got) == 3
    for ts, e in expected.items():
        assert got[ts] is not None and abs(got[ts] - e) < 1e-9, (ts, got, expected)
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_asof_join_across_batches(spark):
    """Stateful stream-stream ASOF: master rows enrich with the prevailing
    slave payload, carried across micro-batches; equals the batch
    asof_join over the concatenated history."""
    import shutil

    from questdb_spark.operators.asof import asof_join
    from questdb_spark.streaming.stateful import streaming_asof_join

    tmp = tempfile.mkdtemp(prefix="sasof_")
    msrc, ssrc, out, ckpt = (os.path.join(tmp, d) for d in ("m", "s", "out", "ckpt"))
    os.makedirs(msrc); os.makedirs(ssrc)

    def mrows(lo, hi):
        return [(f"k{i % 2}", f"2024-01-01 00:{i:02d}:30", float(i)) for i in range(lo, hi)]

    def srows(lo, hi):
        return [(f"k{i % 2}", f"2024-01-01 00:{i:02d}:00", i * 10.0) for i in range(lo, hi)]

    def write(rows, path, name, cols):
        spark.createDataFrame(rows, f"k string, ts_s string, {cols}") \
            .select("k", F.col("ts_s").cast("timestamp").alias("ts"),
                    *[c.split()[0] for c in cols.split(",")]) \
            .coalesce(1).write.mode("overwrite").parquet(os.path.join(path, name))

    def run():
        m = spark.readStream.schema("k string, ts timestamp, mval double") \
            .parquet(msrc + "/*")
        s = spark.readStream.schema("k string, ts timestamp, quote double") \
            .parquet(ssrc + "/*")
        q = streaming_asof_join(m, s, "ts", ["k"], ["quote"]) \
            .writeStream.format("parquet").option("path", out) \
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        q.awaitTermination(120)

    write(mrows(0, 10), msrc, "b0", "mval double")
    write(srows(0, 10), ssrc, "b0", "quote double")
    run()
    write(mrows(10, 20), msrc, "b1", "mval double")
    write(srows(10, 20), ssrc, "b1", "quote double")
    run()

    got = {
        (r["k"], str(r["ts"])): r["quote"]
        for r in spark.read.parquet(out).collect()
    }
    mfull = spark.createDataFrame(mrows(0, 20), "k string, ts_s string, mval double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "mval")
    sfull = spark.createDataFrame(srows(0, 20), "k string, ts_s string, quote double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "quote")
    expected = {
        (r["k"], str(r["ts"])): r["quote"]
        for r in asof_join(mfull, sfull, "ts", keys=["k"]).collect()
    }
    assert len(got) == 20
    assert got == expected
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_lt_join_across_batches(spark):
    """Stateful stream-stream LT JOIN (strictly-before): equals the batch
    lt_join over the concatenated history, INCLUDING a master in a later
    batch that ties the newest slave's timestamp — the case that forces
    the two-row carried state (a single carried payload either matches
    the tie or nulls it, both wrong)."""
    import shutil

    from questdb_spark.operators.asof import lt_join
    from questdb_spark.streaming.stateful import streaming_lt_join

    tmp = tempfile.mkdtemp(prefix="sltj_")
    msrc, ssrc, out, ckpt = (os.path.join(tmp, d) for d in ("m", "s", "out", "ckpt"))
    os.makedirs(msrc); os.makedirs(ssrc)

    def write(rows, path, name, cols):
        spark.createDataFrame(rows, f"k string, ts_s string, {cols}") \
            .select("k", F.col("ts_s").cast("timestamp").alias("ts"),
                    *[c.split()[0] for c in cols.split(",")]) \
            .coalesce(1).write.mode("overwrite").parquet(os.path.join(path, name))

    def run():
        m = spark.readStream.schema("k string, ts timestamp, mval double") \
            .parquet(msrc + "/*")
        s = spark.readStream.schema("k string, ts timestamp, quote double") \
            .parquet(ssrc + "/*")
        q = streaming_lt_join(m, s, "ts", ["k"], ["quote"]) \
            .writeStream.format("parquet").option("path", out) \
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        q.awaitTermination(120)

    t = lambda mm, ss=0: f"2024-01-01 00:{mm:02d}:{ss:02d}"
    # batch 0: slaves at t5 (v=50) and t10 (v=100); masters at t5 (ties
    # the older slave -> NULL under strictly-before... no: t5 ties slave
    # t5, so it takes nothing earlier -> NULL) and t7 (-> 50)
    sb0 = [("a", t(5), 50.0), ("a", t(10), 100.0)]
    mb0 = [("a", t(5), 1.0), ("a", t(7), 2.0)]
    # batch 1: master at t10 TIES the carried newest slave -> must take
    # the strictly-earlier carried slave (50); master at t11 -> 100;
    # new slave t12 (v=120) then master t13 -> 120
    sb1 = [("a", t(12), 120.0)]
    mb1 = [("a", t(10), 3.0), ("a", t(11), 4.0), ("a", t(13), 5.0)]
    write(mb0, msrc, "b0", "mval double"); write(sb0, ssrc, "b0", "quote double")
    run()
    write(mb1, msrc, "b1", "mval double"); write(sb1, ssrc, "b1", "quote double")
    run()

    got = {
        (r["k"], str(r["ts"])): r["quote"]
        for r in spark.read.parquet(out).collect()
    }
    mfull = spark.createDataFrame(mb0 + mb1, "k string, ts_s string, mval double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "mval")
    sfull = spark.createDataFrame(sb0 + sb1, "k string, ts_s string, quote double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "quote")
    expected = {
        (r["k"], str(r["ts"])): r["quote"]
        for r in lt_join(mfull, sfull, "ts", keys=["k"]).collect()
    }
    assert len(got) == 5
    assert got == expected, (got, expected)
    # the tie master specifically took the strictly-earlier slave
    assert got[("a", t(10))] == 50.0
    assert got[("a", t(5))] is None
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_join_arrival_contract_violation(spark):
    """Arrival-contract documentation test (VERDICT r12 task 6): the join
    twins assume cross-batch slave timestamps arrive NON-DECREASING per
    key.  This pins what happens when a later batch violates that — a
    slave OLDER than the carried newest:

    - ASOF twin (payload-only state): arrival order wins.  The late
      slave becomes the new prevailing state, so subsequent masters take
      its payload and DIVERGE from the batch twin (which would prefer
      the earlier-arrived slave with the later timestamp).  Silent, by
      design — O(1) state cannot re-order history.
    - LT twin (state carries TRUE timestamps): the violation is
      detectable, and the twin fails LOUDLY (the merge table is no
      longer time-ordered) rather than emitting silently-wrong rows."""
    import shutil

    from pyspark.sql.streaming import StreamingQueryException

    from questdb_spark.streaming.stateful import (
        streaming_asof_join,
        streaming_lt_join,
    )

    t = lambda mm: f"2024-01-01 00:{mm:02d}:00"

    def write(rows, path, name, cols):
        spark.createDataFrame(rows, f"k string, ts_s string, {cols}") \
            .select("k", F.col("ts_s").cast("timestamp").alias("ts"),
                    *[c.split()[0] for c in cols.split(",")]) \
            .coalesce(1).write.mode("overwrite").parquet(os.path.join(path, name))

    # --- ASOF twin: silent arrival-order-wins divergence ---
    tmp = tempfile.mkdtemp(prefix="sviol_a_")
    msrc, ssrc, out, ckpt = (os.path.join(tmp, d) for d in ("m", "s", "out", "ckpt"))
    os.makedirs(msrc); os.makedirs(ssrc)

    def run_asof():
        m = spark.readStream.schema("k string, ts timestamp, mval double") \
            .parquet(msrc + "/*")
        s = spark.readStream.schema("k string, ts timestamp, quote double") \
            .parquet(ssrc + "/*")
        q = streaming_asof_join(m, s, "ts", ["k"], ["quote"]) \
            .writeStream.format("parquet").option("path", out) \
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        q.awaitTermination(120)

    write([("a", t(20), 1.0)], msrc, "b0", "mval double")
    write([("a", t(10), 100.0)], ssrc, "b0", "quote double")
    run_asof()
    # batch 1 violates: slave t5 is OLDER than the carried newest (t10)
    write([("a", t(30), 2.0)], msrc, "b1", "mval double")
    write([("a", t(5), 50.0)], ssrc, "b1", "quote double")
    run_asof()
    got = {str(r["ts"]): r["quote"] for r in spark.read.parquet(out).collect()}
    assert got[t(20)] == 100.0  # in-contract batch: matches batch twin
    # DOCUMENTED divergence: batch asof over full history would give the
    # t30 master the t10 slave (100.0); the twin gives the late t5 slave
    # (50.0) because arrival order replaced the carried state
    assert got[t(30)] == 50.0, got
    shutil.rmtree(tmp, ignore_errors=True)

    # --- LT twin: loud failure (true-ts state detects the violation) ---
    tmp = tempfile.mkdtemp(prefix="sviol_l_")
    msrc, ssrc, out, ckpt = (os.path.join(tmp, d) for d in ("m", "s", "out", "ckpt"))
    os.makedirs(msrc); os.makedirs(ssrc)

    def run_lt():
        m = spark.readStream.schema("k string, ts timestamp, mval double") \
            .parquet(msrc + "/*")
        s = spark.readStream.schema("k string, ts timestamp, quote double") \
            .parquet(ssrc + "/*")
        q = streaming_lt_join(m, s, "ts", ["k"], ["quote"]) \
            .writeStream.format("parquet").option("path", out) \
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        q.awaitTermination(120)

    write([("a", t(20), 1.0)], msrc, "b0", "mval double")
    write([("a", t(5), 50.0), ("a", t(10), 100.0)], ssrc, "b0", "quote double")
    run_lt()
    # batch 1 violates: slave t7 lands BETWEEN the two carried timestamps
    write([("a", t(30), 2.0)], msrc, "b1", "mval double")
    write([("a", t(7), 70.0)], ssrc, "b1", "quote double")
    try:
        run_lt()
        raise AssertionError(
            "LT twin accepted an out-of-contract late slave silently"
        )
    except StreamingQueryException:
        pass  # documented: loud rejection, not silent divergence
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_lt_join_dup_ts_carry_and_master_only_start(spark):
    """Two LT-join state edges in one run.  (1) master-only FIRST batch
    with no slaves and no carried state: batch lt_join emits NULL payloads
    on that input; the streaming twin must too, not crash with
    pd.MergeError on the object-dtype empty prefix.  (2) the two newest
    slaves TIE on timestamp: the carry must keep (newest ts row, newest
    STRICTLY-earlier ts row) — carrying the last two ROWS holds the tied
    ts twice, and a later-batch master tying it gets NULL where batch
    lt_join finds the strictly-earlier slave the carry evicted."""
    import shutil

    from questdb_spark.operators.asof import lt_join
    from questdb_spark.streaming.stateful import streaming_lt_join

    tmp = tempfile.mkdtemp(prefix="sltd_")
    msrc, ssrc, out, ckpt = (os.path.join(tmp, d) for d in ("m", "s", "out", "ckpt"))
    os.makedirs(msrc); os.makedirs(ssrc)

    def write(rows, path, name, cols):
        spark.createDataFrame(rows, f"k string, ts_s string, {cols}") \
            .select("k", F.col("ts_s").cast("timestamp").alias("ts"),
                    *[c.split()[0] for c in cols.split(",")]) \
            .coalesce(1).write.mode("overwrite").parquet(os.path.join(path, name))

    def run():
        m = spark.readStream.schema("k string, ts timestamp, mval double") \
            .parquet(msrc + "/*")
        s = spark.readStream.schema("k string, ts timestamp, quote double") \
            .parquet(ssrc + "/*")
        q = streaming_lt_join(m, s, "ts", ["k"], ["quote"]) \
            .writeStream.format("parquet").option("path", out) \
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        q.awaitTermination(120)

    t = lambda mm: f"2024-01-01 00:{mm:02d}:00"
    # batch 0: key "b" has MASTERS ONLY (edge 1 — empty prefix, no slaves)
    mb0 = [("b", t(1), 9.0), ("b", t(2), 9.5)]
    write(mb0, msrc, "b0", "mval double")
    write([], ssrc, "b0", "quote double")
    run()
    # batch 1: key "a" slaves t5=50 and a DUP-ts pair at t10 (same payload:
    # batch order among tied slave rows is nondeterministic, the carry
    # question is 50-vs-NULL, not which dup wins); key "b" gets a slave
    sb1 = [("a", t(5), 50.0), ("a", t(10), 100.0), ("a", t(10), 100.0),
           ("b", t(3), 30.0)]
    write(sb1, ssrc, "b1", "quote double")
    write([], msrc, "b1", "mval double")
    run()
    # batch 2: key "a" master TIES the carried newest slave ts (edge 2 —
    # must take the strictly-earlier 50); master above the tie -> 100;
    # key "b" master after its slave -> 30
    mb2 = [("a", t(10), 3.0), ("a", t(11), 4.0), ("b", t(4), 9.9)]
    write(mb2, msrc, "b2", "mval double")
    write([], ssrc, "b2", "quote double")
    run()

    got = {
        (r["k"], str(r["ts"])): r["quote"]
        for r in spark.read.parquet(out).collect()
    }
    mfull = spark.createDataFrame(mb0 + mb2, "k string, ts_s string, mval double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "mval")
    sfull = spark.createDataFrame(sb1, "k string, ts_s string, quote double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "quote")
    expected = {
        (r["k"], str(r["ts"])): r["quote"]
        for r in lt_join(mfull, sfull, "ts", keys=["k"]).collect()
    }
    assert len(got) == 5, got
    assert got == expected, (got, expected)
    assert got[("b", t(1))] is None and got[("b", t(2))] is None  # edge 1
    assert got[("a", t(10))] == 50.0                              # edge 2
    assert got[("a", t(11))] == 100.0 and got[("b", t(4))] == 30.0
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_splice_join_across_batches(spark):
    """Stateful stream-stream SPLICE: every row from either side emits
    with the prevailing payload of BOTH sides; equals the batch
    splice_join over the concatenated history, including a same-batch
    equal-timestamp tie (both directions must see each other).
    Cross-batch ties are outside the arrival contract: the earlier row
    has already emitted when the tie arrives."""
    import shutil

    from questdb_spark.operators.asof import splice_join
    from questdb_spark.streaming.stateful import streaming_splice_join

    tmp = tempfile.mkdtemp(prefix="sspl_")
    msrc, ssrc, out, ckpt = (os.path.join(tmp, d) for d in ("m", "s", "out", "ckpt"))
    os.makedirs(msrc); os.makedirs(ssrc)

    def write(rows, path, name, cols):
        spark.createDataFrame(rows, f"k string, ts_s string, {cols}") \
            .select("k", F.col("ts_s").cast("timestamp").alias("ts"),
                    *[c.split()[0] for c in cols.split(",")]) \
            .coalesce(1).write.mode("overwrite").parquet(os.path.join(path, name))

    def run():
        m = spark.readStream.schema("k string, ts timestamp, mval double") \
            .parquet(msrc + "/*")
        s = spark.readStream.schema("k string, ts timestamp, quote double") \
            .parquet(ssrc + "/*")
        q = streaming_splice_join(m, s, "ts", ["k"]) \
            .writeStream.format("parquet").option("path", out) \
            .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
        q.awaitTermination(120)

    t = lambda mm: f"2024-01-01 00:{mm:02d}:00"
    # batch 0: slave t2 (20), master t3 (1), SAME-TS tie at t5 (master 2 /
    # slave 50) — both must see each other; slave-only t6 (60)
    mb0 = [("a", t(3), 1.0), ("a", t(5), 2.0)]
    sb0 = [("a", t(2), 20.0), ("a", t(5), 50.0), ("a", t(6), 60.0)]
    # batch 1: master t8 sees carried slave t6; slave t9 sees carried
    # master t8
    mb1 = [("a", t(8), 3.0)]
    sb1 = [("a", t(9), 90.0)]
    write(mb0, msrc, "b0", "mval double"); write(sb0, ssrc, "b0", "quote double")
    run()
    write(mb1, msrc, "b1", "mval double"); write(sb1, ssrc, "b1", "quote double")
    run()

    def rowfn(r):
        return (r["k"], str(r["ts"]), str(r["master_ts"]), str(r["slave_ts"]),
                r["mval"], r["quote"])

    got_rows = sorted(rowfn(r) for r in spark.read.parquet(out).collect())
    mfull = spark.createDataFrame(mb0 + mb1, "k string, ts_s string, mval double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "mval")
    sfull = spark.createDataFrame(sb0 + sb1, "k string, ts_s string, quote double") \
        .select("k", F.col("ts_s").cast("timestamp").alias("ts"), "quote")
    expected_rows = sorted(
        rowfn(r) for r in splice_join(mfull, sfull, "ts", keys=["k"]).collect()
    )
    assert len(got_rows) == 7  # one output row per input row, both sides
    assert got_rows == expected_rows, (got_rows, expected_rows)
    # the same-batch tie matched in both directions (two identical rows)
    tie = [r for r in got_rows if r[1] == t(5)]
    assert len(tie) == 2 and all(r[4:] == (2.0, 50.0) for r in tie), tie
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_horizon_join_matches_batch(spark):
    """Stateful stream-stream HORIZON JOIN (markout): one row per
    (master, horizon) with the prevailing slave value as of ts+h, equal
    to the batch horizon_join over the concatenated history.  A master
    emits only once the slave stream passes its LARGEST horizon; the
    tail master stays pending.  The cross-batch case exercises the
    keep-one-before-the-floor trim: a batch-1 master's 0s horizon
    reaches back to a batch-0 slave that a closed-interval trim would
    have dropped."""
    import shutil

    from questdb_spark.operators.window_join import horizon_join
    from questdb_spark.streaming.stateful import streaming_horizon_join

    tmp = tempfile.mkdtemp(prefix="shzn_")
    src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    def t(sec):
        return f"2024-01-01 00:{sec // 60:02d}:{sec % 60:02d}"

    # side 0 = slave (k, ts, v); side 1 = master
    b0 = [("a", t(0), 0, 5.0), ("a", t(10), 1, None), ("a", t(25), 0, 7.0),
          ("a", t(45), 0, 9.0)]  # t45 >= t10+30 -> master t10 emits
    b1 = [("a", t(60), 1, None),  # needs slaves to t90
          ("a", t(95), 0, 11.0)]  # passes t60+30 -> master t60 emits
    b2 = [("a", t(200), 1, None)]  # tail master: stays pending

    def write(rows, name):
        df = spark.createDataFrame(
            rows, "k string, ts_s string, is_m int, v double"
        ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "is_m", "v")
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, name))

    def run():
        stream = (
            spark.readStream.schema("k string, ts timestamp, is_m int, v double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        q = (
            streaming_horizon_join(
                stream.filter("is_m = 1").select("k", "ts"),
                stream.filter("is_m = 0").select("k", "ts", "v"),
                "ts", ["k"], "v", [0, 10, 30],
            )
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    for i, b in enumerate((b0, b1)):
        write(b, f"b{i}")
    run()
    # RESTART from the checkpoint: the pending master + slave tail must
    # survive in state, so b2 alone completes the picture identically to
    # a single uninterrupted run
    write(b2, "b2")
    run()
    got = {
        (r["k"], str(r["ts"]), r["horizon_s"]): (str(r["slave_ts"]), r["v"])
        for r in spark.read.parquet(out).collect()
    }
    allrows = b0 + b1 + b2
    full = spark.createDataFrame(
        allrows, "k string, ts_s string, is_m int, v double"
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "is_m", "v")
    batch = horizon_join(
        full.filter("is_m = 1").select("k", "ts"),
        full.filter("is_m = 0").select("k", "ts", "v"),
        "ts", ["k"], ["0 seconds", "10 seconds", "30 seconds"],
    )
    h_to_s = {"0 seconds": 0.0, "10 seconds": 10.0, "30 seconds": 30.0}
    expected = {
        (r["k"], str(r["ts"]), h_to_s[r["horizon"]]): (str(r["slave_ts"]), r["v"])
        for r in batch.collect()
        if str(r["ts"]) != "2024-01-01 00:03:20"  # tail master pending
    }
    assert len(got) == 6  # 2 emitted masters x 3 horizons
    assert got == expected, (got, expected)
    # the 0s horizon of master t60 reached BACK to the batch-0 slave t45
    assert got[("a", t(60), 0.0)] == (t(45), 9.0)
    shutil.rmtree(tmp, ignore_errors=True)


def test_ilp_ingest_end_to_end_file_stream(spark, tmp_path):
    """r8 verdict task 6: live lines → table → query round trip through
    `start_ilp_ingest` — 3 micro-batches, out-of-order rows merged into
    their partitions, a RESTART from the checkpoint, and the streamed table
    equal to the batch-parsed oracle."""
    from questdb_spark.sources.ilp import ilp_to_table, parse_ilp
    from questdb_spark.streaming.ingest import start_ilp_ingest

    lines_dir = tmp_path / "lines"
    lines_dir.mkdir()
    table = TimeTable(
        spark, str(tmp_path / "trades_tbl"), "ts", dedup_keys=["sym", "side"]
    )
    ckpt = str(tmp_path / "ckpt")

    batches = [
        ILP_LINES_A,
        ILP_LINES_B,  # out-of-order + duplicate-key upsert
        [
            'trades,sym=MSFT,side=sell price=391.0,size=2i 1704067380000000000',
            # an out-of-order straggler older than everything seen
            'trades,sym=GOOG,side=sell price=139.0,size=1i 1704067020000000000',
        ],
    ]

    def run(files):
        q = start_ilp_ingest(
            spark,
            measurement="trades",
            table=table,
            checkpoint=ckpt,
            lines_path=str(lines_dir),
            trigger_available_now=True,
        )
        q.awaitTermination(120)

    # micro-batches 1+2, then a restart picking up batch 3
    (lines_dir / "b0.txt").write_text("\n".join(batches[0]) + "\n")
    (lines_dir / "b1.txt").write_text("\n".join(batches[1]) + "\n")
    run(["b0", "b1"])
    (lines_dir / "b2.txt").write_text("\n".join(batches[2]) + "\n")
    run(["b2"])  # fresh query, same checkpoint: resumes, doesn't re-ingest

    got = table.read()
    # oracle: upsert semantics applied by hand over ALL lines — the later
    # line wins per (sym, side, ts); ILP nanos floor to micros
    from datetime import datetime, timezone

    def us(nanos):
        return datetime.fromtimestamp(nanos / 1e9, tz=timezone.utc).replace(
            tzinfo=None
        )

    expected = sorted(
        [
            ("buy", "AAPL", 999.0, 99, us(1704067200000000000)),  # upserted
            ("sell", "AAPL", 102.0, 5, us(1704067260000000000)),
            ("buy", "MSFT", 390.25, 7, us(1704067320000000000)),
            ("buy", "GOOG", 140.0, 3, us(1704067080000000000)),
            ("sell", "MSFT", 391.0, 2, us(1704067380000000000)),
            ("sell", "GOOG", 139.0, 1, us(1704067020000000000)),
        ]
    )
    g = sorted(
        tuple(r) for r in got.select("side", "sym", "price", "size", "ts").collect()
    )
    assert g == expected, (g, expected)
    # the duplicate (AAPL, buy, first ts) resolved to the LATER write
    aapl = got.filter((F.col("sym") == "AAPL") & (F.col("side") == "buy")).first()
    assert aapl["price"] == 999.0 and aapl["size"] == 99


def test_ilp_ingest_socket_round_trip(spark, tmp_path):
    """Socket-source leg of §2.1 (LineTcpReceiver mapping): a localhost
    TCP server feeds ILP lines; the stream parses and lands them."""
    import socket
    import threading
    import time as _time

    from questdb_spark.streaming.ingest import start_ilp_ingest

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)

    def feed():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(ILP_LINES_A) + "\n").encode())
            _time.sleep(3)
    t = threading.Thread(target=feed, daemon=True)
    t.start()

    out = str(tmp_path / "sock_tbl")
    table = TimeTable(spark, out, "ts", dedup_keys=["sym", "side"])
    q = start_ilp_ingest(
        spark,
        measurement="trades",
        table=table,
        checkpoint=str(tmp_path / "sock_ckpt"),
        host="127.0.0.1",
        port=port,
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if os.path.exists(out):
                try:
                    if table.read().count() >= 3:
                        break
                except Exception:
                    pass
            _time.sleep(1)
        got = table.read()
        assert got.count() == 3  # the three 'trades' lines
        assert {r["sym"] for r in got.collect()} == {"AAPL", "MSFT"}
    finally:
        q.stop()
        srv.close()


def test_streaming_sessionize_matches_batch(spark):
    """Native session_window sessionization: sessions carry across
    micro-batches in state, and the complete-output result equals the
    batch operator over the concatenated history (timestamps chosen away
    from exact gap boundaries — see streaming_sessionize boundary note)."""
    import shutil

    from questdb_spark.operators.sessions import sessionize
    from questdb_spark.streaming.stateful import streaming_sessionize

    tmp = tempfile.mkdtemp(prefix="ssess_")
    src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    # two users; per-user event trains with intra-session gaps of 40s and
    # inter-session gaps of 500s (session gap = 120s)
    def mk(lo, hi):
        rows = []
        for i in range(lo, hi):
            for u in ("a", "b"):
                sec = i * 40 + (500 if i >= 5 else 0) + (0 if u == "a" else 7)
                rows.append((u, f"2024-01-01 00:{sec // 60:02d}:{sec % 60:02d}"))
        return rows

    def write_batch(lo, hi, name):
        df = spark.createDataFrame(mk(lo, hi), "k string, ts_s string").select(
            "k", F.col("ts_s").cast("timestamp").alias("ts")
        )
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, name))

    write_batch(0, 5, "b0")
    write_batch(5, 10, "b1")
    stream = (
        spark.readStream.schema("k string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        streaming_sessionize(stream, "ts", "k", gap_seconds=120)
        .writeStream.format("memory")
        .queryName("ssess_out")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["k"], str(r["session_start"]), str(r["session_end"])): r["n_events"]
        for r in spark.sql("SELECT * FROM ssess_out").collect()
    }
    full = spark.createDataFrame(mk(0, 10), "k string, ts_s string").select(
        "k", F.col("ts_s").cast("timestamp").alias("ts")
    )
    expected = {
        (r["k"], str(r["session_start"]), str(r["session_end"])): r["n_events"]
        for r in sessionize(full, "ts", "k", gap_seconds=120).collect()
    }
    assert got == expected and len(got) == 4  # 2 users x 2 sessions
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_dedup_exact_across_batches(spark):
    """Streaming exact dedup: duplicates inside a micro-batch AND across
    micro-batches drop (state store carries hashes); every distinct text
    survives exactly once, and a text first seen in batch 0 must keep its
    batch-0 row even when batch 1 repeats it."""
    import shutil

    from questdb_spark.streaming.stateful import streaming_dedup_exact

    tmp = tempfile.mkdtemp(prefix="sdedup_")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    os.makedirs(src)

    def write_batch(rows, name):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, name))

    # batch 0: A A B; batch 1: B C A (cross-batch dupes B and A)
    write_batch([(0, "A"), (1, "A"), (2, "B")], "b0")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    out = os.path.join(tmp, "out")

    def run_once():
        q = (
            streaming_dedup_exact(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)  # shared: 2nd run restarts
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    write_batch([(3, "B"), (4, "C"), (5, "A")], "b1")
    run_once()
    got = {
        r["text"]: r["doc_id"] for r in spark.read.parquet(out).collect()
    }
    # exactly one survivor per text; A and B survived from batch 0 even
    # though batch 1 repeated them (the checkpoint restart kept the state)
    assert set(got) == {"A", "B", "C"}, got
    assert got["A"] in (0, 1) and got["B"] == 2 and got["C"] == 4, got
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_window_join_matches_batch(spark):
    """Stream-stream WINDOW JOIN: a master row emits once the slave stream
    passes its look-ahead horizon, with sum/count over [ts-30s, ts+30s]
    equal to the batch window_join over the concatenated history.  The
    final master (horizon never passed) must stay pending — the honest
    live semantics."""
    import shutil

    from questdb_spark.operators.window_join import window_join
    from questdb_spark.streaming.stateful import streaming_window_join

    tmp = tempfile.mkdtemp(prefix="swj_")
    src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    def t(sec):
        return f"2024-01-01 00:{sec // 60:02d}:{sec % 60:02d}"

    # side 0 = slave (k, ts, v); side 1 = master (k, ts)
    b0 = [("a", t(0), 0, 1.0), ("a", t(10), 1, None), ("a", t(20), 0, 2.0),
          ("b", t(15), 1, None), ("b", t(25), 0, 10.0)]
    b1 = [("a", t(50), 0, 4.0), ("a", t(70), 1, None),  # t50 passes t10+30
          ("b", t(60), 0, 20.0)]                         # t60 passes t15+30
    b2 = [("a", t(110), 0, 8.0),  # passes t70+30
          ("a", t(200), 1, None)]  # tail master: horizon never passed

    def write(rows, name):
        df = spark.createDataFrame(
            rows, "k string, ts_s string, is_m int, v double"
        ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "is_m", "v")
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, name))

    for i, b in enumerate((b0, b1, b2)):
        write(b, f"b{i}")
    stream = (
        spark.readStream.schema("k string, ts timestamp, is_m int, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        streaming_window_join(
            stream.filter("is_m = 1").select("k", "ts"),
            stream.filter("is_m = 0").select("k", "ts", "v"),
            "ts", ["k"], "v", -30, 30,
        )
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["k"], str(r["ts"])): (r["w_sum"], r["w_count"])
        for r in spark.read.parquet(out).collect()
    }
    allrows = b0 + b1 + b2
    full = spark.createDataFrame(
        allrows, "k string, ts_s string, is_m int, v double"
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "is_m", "v")
    batch = window_join(
        full.filter("is_m = 1").select(
            "k", "ts", F.monotonically_increasing_id().alias("mid")
        ),
        full.filter("is_m = 0").select("k", "ts", "v"),
        "ts", ["k"], "-30 seconds", "30 seconds",
        {"w_sum": F.sum("s.v"), "w_count": F.count("s.v")},
        master_id="mid",
    )
    expected = {
        (r["k"], str(r["ts"])): (r["w_sum"], r["w_count"])
        for r in batch.collect()
        if str(r["ts"]) != "2024-01-01 00:03:20"  # tail master stays pending
    }
    # normalize: batch emits null sum for empty windows, streaming emits 0.0
    norm = lambda p: (0.0 if p[0] is None else p[0], p[1])
    assert {k: norm(v) for k, v in got.items()} == {
        k: norm(v) for k, v in expected.items()
    }, (got, expected)
    assert ("a", "2024-01-01 00:03:20") not in got  # pending tail
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_window_join_multi_chunk_group(spark):
    """A single group's micro-batch spanning multiple Arrow chunks must not
    lose slave rows to a chunk-local trim: with per-chunk emit+trim, a
    slave-only first chunk advances max_s and trims the tail before a
    later-chunk master (earlier ts) registers its horizon, silently
    undercounting w_sum/w_count.  arrow.maxRecordsPerBatch=1 forces every
    row into its own chunk, so the batch-buffered rewrite is what makes
    this deterministic regardless of in-batch arrival order."""
    import shutil

    from questdb_spark.streaming.stateful import streaming_window_join

    tmp = tempfile.mkdtemp(prefix="swjc_")
    src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    # one key, ONE micro-batch: slaves t0(v=1) and t100(v=2) plus a master
    # at t10 whose window is [-20s, +40s] -> must count ONLY v=1.
    rows = [("a", "2024-01-01 00:00:00", 0, 1.0),
            ("a", "2024-01-01 00:01:40", 0, 2.0),
            ("a", "2024-01-01 00:00:10", 1, None)]
    df = spark.createDataFrame(
        rows, "k string, ts_s string, is_m int, v double"
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "is_m", "v")
    df.coalesce(1).write.parquet(os.path.join(src, "b0"))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        stream = (
            spark.readStream.schema("k string, ts timestamp, is_m int, v double")
            .parquet(src + "/*")
        )
        q = (
            streaming_window_join(
                stream.filter("is_m = 1").select("k", "ts"),
                stream.filter("is_m = 0").select("k", "ts", "v"),
                "ts", ["k"], "v", -30, 30,
            )
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    got = spark.read.parquet(out).collect()
    assert len(got) == 1, got
    assert (got[0]["w_sum"], got[0]["w_count"]) == (1.0, 1), got
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_ohlc_matches_batch(spark):
    """Live OHLC candles: tumbling windowed aggregation with min_by/
    max_by open/close; a candle emits exactly once, when the watermark
    passes its end, and equals the batch OHLC over the concatenated
    history.  The final (still-open) candle stays pending — the honest
    live semantics (same rule as the window-join twin's tail master)."""
    import shutil

    from questdb_spark.streaming.stateful import streaming_ohlc

    tmp = tempfile.mkdtemp(prefix="sohlc_")
    src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    def t(h, m):
        return f"2024-01-01 {h:02d}:{m:02d}:00"

    # unique ts per symbol so open/close tie order is total on both sides
    b0 = [("a", t(0, 5), 10.0), ("a", t(0, 20), 14.0), ("a", t(0, 50), 12.0),
          ("b", t(0, 10), 100.0), ("b", t(0, 40), 90.0),
          ("a", t(1, 15), 13.0), ("b", t(1, 30), 95.0)]
    b1 = [("a", t(2, 5), 11.0), ("b", t(2, 10), 97.0)]  # closes hours 0-1

    def write(rows, name):
        spark.createDataFrame(rows, "sym string, ts_s string, price double") \
            .select("sym", F.col("ts_s").cast("timestamp").alias("ts"), "price") \
            .coalesce(1).write.mode("overwrite").parquet(os.path.join(src, name))

    write(b0, "b0")
    write(b1, "b1")
    stream = (
        spark.readStream.schema("sym string, ts timestamp, price double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        streaming_ohlc(stream, "ts", "sym", "price", bucket="1 hour")
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["sym"], str(r["bucket"])): (
            r["open"], r["high"], r["low"], r["close"], r["n_trades"]
        )
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        ("a", "2024-01-01 00:00:00"): (10.0, 14.0, 10.0, 12.0, 3),
        ("b", "2024-01-01 00:00:00"): (100.0, 100.0, 90.0, 90.0, 2),
        ("a", "2024-01-01 01:00:00"): (13.0, 13.0, 13.0, 13.0, 1),
        ("b", "2024-01-01 01:00:00"): (95.0, 95.0, 95.0, 95.0, 1),
    }
    assert got == expected, (got, expected)  # hour-2 candles still open
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_ohlc_tie_col_batch_parity(spark):
    """Same-timestamp ticks inside a bucket (ADVICE r12): with
    ``tie_col`` set to the event-id column the streaming candle breaks
    open/close ties by (ts, event_id) — exactly the batch twin's order —
    so open picks the LOWEST id at the tied first ts and close the
    HIGHEST id at the tied last ts, regardless of price values."""
    import shutil

    from questdb_spark.streaming.stateful import streaming_ohlc

    tmp = tempfile.mkdtemp(prefix="sohlct_")
    src, out, ckpt = (os.path.join(tmp, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    ts0 = "2024-01-01 00:05:00"  # tied open ts
    ts1 = "2024-01-01 00:50:00"  # tied close ts
    # prices chosen so the price-struct fallback would pick differently:
    # at ts0, id 1 has the HIGHER price (20.0 > 5.0) yet must win open;
    # at ts1, id 4 has the LOWER price (1.0 < 30.0) yet must win close.
    rows = [
        ("a", ts0, 20.0, 1), ("a", ts0, 5.0, 2),
        ("a", ts1, 30.0, 3), ("a", ts1, 1.0, 4),
        ("a", "2024-01-01 02:00:00", 9.0, 5),  # closes hour 0
    ]
    spark.createDataFrame(
        rows, "sym string, ts_s string, price double, event_id long"
    ).select(
        "sym", F.col("ts_s").cast("timestamp").alias("ts"), "price", "event_id"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b0"))
    stream = spark.readStream.schema(
        "sym string, ts timestamp, price double, event_id long"
    ).parquet(src + "/*")
    q = (
        streaming_ohlc(
            stream, "ts", "sym", "price", bucket="1 hour", tie_col="event_id"
        )
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["sym"], str(r["bucket"])): (r["open"], r["close"], r["n_trades"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {("a", "2024-01-01 00:00:00"): (20.0, 1.0, 4)}, got
    shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_quality_gate_batch_parity(spark):
    """The streaming NB quality gate is a stateless plan-literal scorer,
    so its output over micro-batched arrivals must equal the batch
    filter over the union of those batches — row for row, score for
    score — and the passing set must be exactly the docs whose exact
    micro-unit log-odds clear the threshold."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from questdb_spark.pipeline import classify
    from questdb_spark.sources.parquet import load_table
    from questdb_spark.streaming.stateful import streaming_quality_gate

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    labels = (
        load_table(spark, SF_DIR, "documents")
        .select(
            "doc_id",
            F.when(F.col("lang") == "en", F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("y"),
        )
    )
    model = classify.nb_train(
        load_table(spark, SF_DIR, "documents"), labels
    )
    w6 = classify.nb_weights_micro(model)

    tmp = tempfile.mkdtemp(prefix="sqgate_")
    try:
        src = os.path.join(tmp, "src")
        os.makedirs(src)
        pdf = docs.toPandas().sort_values("doc_id")
        half = len(pdf) // 2
        for name, part in (("b0", pdf.iloc[:half]), ("b1", pdf.iloc[half:])):
            spark.createDataFrame(part).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(src, name))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        out = os.path.join(tmp, "out")
        q = (
            streaming_quality_gate(stream, w6, threshold_micro=0)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = (
            spark.read.parquet(out)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        want = (
            streaming_quality_gate(docs, w6, threshold_micro=0)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        assert list(got["doc_id"]) == list(want["doc_id"])
        assert list(got["score_micro"]) == list(want["score_micro"])
        assert len(got) > 0
        # the gate's micro-unit scores equal nb_score's decimal scores
        dec = (
            classify.nb_score(
                load_table(spark, SF_DIR, "documents"), model
            )
            .toPandas()
            .set_index("doc_id")["score"]
        )
        from decimal import Decimal

        for r in got.itertuples(index=False):
            assert Decimal(int(r.score_micro)) == Decimal(
                str(dec[r.doc_id])
            ) * (10**6)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
