"""Operator-level tests against independent references (pandas, python
reimplementations) — the fuzz/property layer of SURVEY §5."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F

from questdb_spark.functions import finance, geohash, ipv4
from questdb_spark.operators.asof import asof_join, lt_join
from questdb_spark.operators.intervals import parse_interval_string
from questdb_spark.operators.latest import latest_on
from questdb_spark.operators.limits import limit_range, limit_signed
from questdb_spark.operators.sample_by import bucket_col, parse_interval


def _random_streams(seed: int, n_master=200, n_slave=150, n_keys=5):
    rng = random.Random(seed)
    base = datetime(2024, 1, 1)
    master = [
        (i, rng.randrange(n_keys), base + timedelta(seconds=rng.randrange(100000)), rng.random())
        for i in range(n_master)
    ]
    slave_rows = {}
    for _ in range(n_slave):
        k = rng.randrange(n_keys)
        ts = base + timedelta(seconds=rng.randrange(100000))
        slave_rows[(k, ts)] = rng.random() * 100
    slave = [(k, ts, v) for (k, ts), v in slave_rows.items()]
    return master, slave


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("strict", [False, True])
def test_asof_lt_vs_pandas_merge_asof(spark, seed, strict):
    master, slave = _random_streams(seed)
    mdf = spark.createDataFrame(master, ["mid", "k", "ts", "mval"])
    sdf = spark.createDataFrame(slave, ["k", "ts", "sval"])
    fn = lt_join if strict else asof_join
    out = fn(mdf, sdf, "ts", keys=["k"]).toPandas().set_index("mid").sort_index()

    mp = pd.DataFrame(master, columns=["mid", "k", "ts", "mval"]).sort_values("ts")
    sp = pd.DataFrame(slave, columns=["k", "ts", "sval"]).sort_values("ts")
    ref = pd.merge_asof(
        mp, sp, on="ts", by="k", allow_exact_matches=not strict
    ).set_index("mid").sort_index()

    mism = [
        (a, b)
        for a, b in zip(out["sval"], ref["sval"])
        if not ((pd.isna(a) and pd.isna(b)) or a == b)
    ]
    assert not mism


def test_asof_tolerance_vs_pandas(spark):
    master, slave = _random_streams(7)
    mdf = spark.createDataFrame(master, ["mid", "k", "ts", "mval"])
    sdf = spark.createDataFrame(slave, ["k", "ts", "sval"])
    out = (
        asof_join(mdf, sdf, "ts", keys=["k"], tolerance="1 HOUR")
        .toPandas().set_index("mid").sort_index()
    )
    mp = pd.DataFrame(master, columns=["mid", "k", "ts", "mval"]).sort_values("ts")
    sp = pd.DataFrame(slave, columns=["k", "ts", "sval"]).sort_values("ts")
    ref = pd.merge_asof(
        mp, sp, on="ts", by="k", tolerance=pd.Timedelta("1h")
    ).set_index("mid").sort_index()
    mism = [
        (a, b)
        for a, b in zip(out["sval"], ref["sval"])
        if not ((pd.isna(a) and pd.isna(b)) or a == b)
    ]
    assert not mism


def test_ema_vs_pandas_ewm(spark):
    rng = random.Random(11)
    rows = [
        (i, i % 3, datetime(2024, 1, 1) + timedelta(minutes=i), rng.random() * 10)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["i", "k", "ts", "x"])
    out = (
        finance.ema(df, "ts", "x", alpha=0.3, keys=["k"])
        .toPandas().set_index("i").sort_index()
    )
    pdf = pd.DataFrame(rows, columns=["i", "k", "ts", "x"])
    ref = (
        pdf.sort_values("ts")
        .groupby("k")["x"]
        .transform(lambda s: s.ewm(alpha=0.3, adjust=False).mean())
    )
    pdf["ref"] = ref
    pdf = pdf.set_index("i").sort_index()
    assert list(out["ema"]) == pytest.approx(list(pdf["ref"]), rel=1e-9)


def test_ema_keyless_chunked_parallel(spark):
    """Keyless EMA must (a) match pandas.ewm and (b) run the affine-chunk
    decomposition — multiple chunk groups, never one global Python task."""
    rng = random.Random(7)
    rows = [
        (i, datetime(2024, 1, 1) + timedelta(minutes=i * 13), rng.random() * 10)
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, ["i", "ts", "x"])
    out = finance.ema(df, "ts", "x", alpha=0.25).toPandas().set_index("i").sort_index()
    pdf = pd.DataFrame(rows, columns=["i", "ts", "x"]).sort_values("ts")
    pdf["ref"] = pdf["x"].ewm(alpha=0.25, adjust=False).mean()
    pdf = pdf.set_index("i").sort_index()
    assert list(out["ema"]) == pytest.approx(list(pdf["ref"]), rel=1e-9, abs=1e-12)
    # 2000 rows × 13 min ≈ 18 days → ≥3 seven-day chunks in the plan
    from pyspark.sql import functions as F

    n_chunks = (
        df.withColumn("c", F.window("ts", "7 days")["start"]).select("c").distinct().count()
    )
    assert n_chunks >= 3


def test_latest_on_small(spark):
    rows = [
        (1, "a", datetime(2024, 1, 1, 0), 1.0),
        (2, "a", datetime(2024, 1, 1, 5), 2.0),
        (3, "a", datetime(2024, 1, 1, 5), 3.0),  # ts tie → higher id wins
        (4, "b", datetime(2024, 1, 1, 1), 4.0),
    ]
    df = spark.createDataFrame(rows, ["id", "k", "ts", "v"])
    out = {r["k"]: r for r in latest_on(df, "ts", ["k"], tiebreak="id").collect()}
    assert out["a"]["id"] == 3 and out["a"]["v"] == 3.0
    assert out["b"]["id"] == 4


def test_limit_signed_and_range(spark):
    df = spark.range(1, 101).select(F.col("id").alias("x"))
    assert [r["x"] for r in limit_signed(df, 3, ["x"]).collect()] == [1, 2, 3]
    assert [r["x"] for r in limit_signed(df, -3, ["x"]).collect()] == [98, 99, 100]
    assert [r["x"] for r in limit_range(df, 10, 13, ["x"]).collect()] == [11, 12, 13]


def test_sample_by_interval_parse():
    assert parse_interval("15m") == (15, "m")
    assert parse_interval("1h") == (1, "h")
    assert parse_interval("3M") == (3, "M")
    with pytest.raises(ValueError):
        parse_interval("5q")


def test_bucket_col_units(spark):
    df = spark.createDataFrame(
        [(datetime(2024, 3, 17, 14, 37, 21, 500000),)], ["ts"]
    )
    got = df.select(
        bucket_col(F.col("ts"), "5m").alias("m5"),
        bucket_col(F.col("ts"), "1h").alias("h1"),
        bucket_col(F.col("ts"), "1d").alias("d1"),
        bucket_col(F.col("ts"), "1M").alias("mo"),
        bucket_col(F.col("ts"), "3M").alias("q"),
        bucket_col(F.col("ts"), "1y").alias("y"),
    ).first()
    assert str(got["m5"]) == "2024-03-17 14:35:00"
    assert str(got["h1"]) == "2024-03-17 14:00:00"
    assert str(got["d1"]) == "2024-03-17 00:00:00"
    assert str(got["mo"]) == "2024-03-01 00:00:00"
    assert str(got["q"]) == "2024-01-01 00:00:00"
    assert str(got["y"]) == "2024-01-01 00:00:00"


def test_interval_string_parse():
    lo, hi = parse_interval_string("2024-01")
    assert (str(lo), str(hi)) == ("2024-01-01 00:00:00", "2024-02-01 00:00:00")
    lo, hi = parse_interval_string("2024-12")
    assert str(hi) == "2025-01-01 00:00:00"
    lo, hi = parse_interval_string("2024-01-15T12")
    assert (str(lo), str(hi)) == ("2024-01-15 12:00:00", "2024-01-15 13:00:00")
    lo, hi = parse_interval_string("2024-01-15;2d")
    assert str(hi) == "2024-01-18 00:00:00"
    with pytest.raises(ValueError):
        parse_interval_string("not-a-date")


def test_l2price_fold(spark):
    df = spark.createDataFrame(
        [
            (1, [10.0, 10.0, 100.0], [1.0, 2.0, 3.0]),   # fill 15: 10@1 + 5@2
            (2, [5.0, 5.0], [1.0, 2.0]),                  # can't fill 15 → NULL
        ],
        ["id", "sizes", "prices"],
    )
    out = {
        r["id"]: r["px"]
        for r in df.select(
            "id", finance.l2price(F.lit(15.0), F.col("sizes"), F.col("prices")).alias("px")
        ).collect()
    }
    assert out[1] == pytest.approx((10 * 1.0 + 5 * 2.0) / 15)
    assert out[2] is None


def test_geohash_roundtrip(spark):
    # reference values from the public geohash algorithm
    df = spark.createDataFrame(
        [(57.64911, 10.40744), (-25.382708, -49.265506), (0.0, 0.0)],
        ["lat", "lon"],
    )
    out = df.select(
        geohash.geohash_encode(F.col("lat"), F.col("lon"), 8).alias("gh")
    ).collect()
    assert out[0]["gh"] == "u4pruydq"
    assert out[1]["gh"] == "6gkzwgjz"
    assert out[2]["gh"][:4] == "s000"


def test_ipv4_roundtrip(spark):
    df = spark.createDataFrame([("192.168.1.77",), ("10.0.255.1",)], ["ip"])
    out = df.select(
        ipv4.long_to_ipv4(ipv4.ipv4_to_long(F.col("ip"))).alias("rt"),
        ipv4.long_to_ipv4(
            ipv4.ipv4_and(ipv4.ipv4_to_long(F.col("ip")), ipv4.netmask(24))
        ).alias("subnet"),
    ).collect()
    assert out[0]["rt"] == "192.168.1.77" and out[0]["subnet"] == "192.168.1.0"
    assert out[1]["rt"] == "10.0.255.1" and out[1]["subnet"] == "10.0.255.0"


@pytest.mark.parametrize("chunk", ["30 minutes", "1 hour", "6 hours"])
def test_keyless_asof_chunked_equals_global(spark, chunk):
    """The parallel chunked keyless ASOF must equal the single-partition
    formulation exactly (including chunks with no slave rows)."""
    rng = random.Random(23)
    base = datetime(2024, 1, 1)
    master = [
        (i, base + timedelta(seconds=rng.randrange(90000)), rng.random())
        for i in range(300)
    ]
    slave_rows = {}
    for _ in range(80):
        # cluster slave rows to leave some chunks empty
        ts = base + timedelta(seconds=rng.choice([0, 20000, 70000]) + rng.randrange(4000))
        slave_rows[ts] = rng.random() * 100
    slave = [(ts, v) for ts, v in slave_rows.items()]

    mdf = spark.createDataFrame(master, ["mid", "ts", "mval"])
    sdf = spark.createDataFrame(slave, ["ts", "sval"])

    plain = asof_join(mdf, sdf, "ts").toPandas().set_index("mid").sort_index()
    chunked = (
        asof_join(mdf, sdf, "ts", chunk=chunk).toPandas().set_index("mid").sort_index()
    )
    for col in ["sval", "slave_ts"]:
        mism = [
            (a, b)
            for a, b in zip(plain[col], chunked[col])
            if not ((pd.isna(a) and pd.isna(b)) or a == b)
        ]
        assert not mism, f"{col}: {mism[:3]}"


def test_salted_join_equals_plain(spark):
    from questdb_spark.operators.skew import salted_join

    rng = random.Random(5)
    left = spark.createDataFrame(
        [(i, rng.choice(["hot", "hot", "hot", "a", "b"]), rng.random()) for i in range(500)],
        ["id", "k", "v"],
    )
    right = spark.createDataFrame(
        [("hot", 1.0), ("a", 2.0), ("b", 3.0), ("absent", 4.0)], ["k", "w"]
    )
    plain = left.join(right, ["k"]).select("id", "k", "v", "w")
    salted = salted_join(left, right, ["k"]).select("id", "k", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left join parity incl. unmatched rows
    pl = left.join(right, ["k"], "left").select("id", "w")
    sl = salted_join(left, right, ["k"], "left").select("id", "w")
    assert sorted(map(tuple, pl.collect())) == sorted(map(tuple, sl.collect()))


def test_asof_slave_column_collision_suffixed(spark):
    """A slave column named like a master column must come back as
    '<col>_slave', not as a duplicate column name."""
    m = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 1), 10.0)], ["id", "ts", "value"]
    )
    s = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0), 99.0)], ["ts", "value"]
    )
    out = asof_join(m, s, "ts")
    assert out.columns.count("value") == 1
    assert "value_slave" in out.columns
    row = out.collect()[0]
    assert row["value"] == 10.0 and row["value_slave"] == 99.0


def test_approx_aggs_error_bounds(spark, ddb):
    """Sketch aggregates vs the exact oracle, tolerance-checked (VERDICT §9;
    ref GroupByHistogram.java / hyperloglog/HyperLogLog.java):
    - approx_count_distinct: HLL++ relative standard deviation defaults to
      0.05; assert per-group relative error <= 4*rsd (catches a broken
      sketch while immune to noise).
    - percentile_approx(accuracy=1000): rank error <= 1/accuracy; assert the
      approx p50 lies within the exact [p45, p55] value envelope (50x the
      documented rank tolerance — fails only if the sketch is wrong)."""
    from questdb_spark.queries_functions import approx_aggs
    from .conftest import SF_DIR

    # approx_aggs now RETURNS the bound-assert booleans (so the driver
    # records a hash row against TRUE literals); the test checks every
    # group passes both bounds
    got = approx_aggs(spark, SF_DIR).collect()
    assert len(got) > 0
    for r in got:
        assert r["users_within_rsd"] is True, f"{r['event_type']}: HLL out of bound"
        assert r["p50_within_rank_err"] is True, (
            f"{r['event_type']}: approx p50 outside exact [p45, p55]"
        )


def test_nanos_true_resolution(spark):
    """TIMESTAMP_NANO shadow column carries TRUE sub-microsecond precision
    (ColumnType.java:149-150): verify load_table_ns + functions/nanos against
    a pyarrow ground truth, which reads the raw nano int64s directly —
    unlike the DuckDB oracle, whose parquet scan truncates nanos to micros
    (that is why the registry `nanos_sample_by` entry feeds micros input)."""
    import pyarrow.parquet as pq

    from questdb_spark.functions import nanos as N
    from questdb_spark.sources.parquet import load_table_ns
    from .conftest import SF_DIR

    ev = load_table_ns(spark, SF_DIR, "events")
    got = ev.agg(
        F.min("ts_ns").alias("mn"),
        F.max("ts_ns").alias("mx"),
        F.sum(N.subsec_ns(F.col("ts_ns"))).alias("sub"),
    ).collect()[0]

    tbl = pq.read_table(f"{SF_DIR}/events.parquet", columns=["ts"])
    unit = tbl.schema.field("ts").type.unit  # 'us' or 'ns' depending on testdata gen
    scale = {"s": 10**9, "ms": 10**6, "us": 10**3, "ns": 1}[unit]
    raw = [v * scale for v in tbl.column("ts").cast("int64").to_pylist()]
    assert got["mn"] == min(raw)
    assert got["mx"] == max(raw)
    assert got["sub"] == sum(v % 1_000_000_000 for v in raw)
    if unit == "ns":
        # prove the data really is sub-microsecond (the point of the shadow col)
        assert any(v % 1_000 for v in raw)
    # micros TimestampType column agrees with the truncated shadow
    trunc = ev.select(
        F.sum((N.ns_of(F.col("ts")) - F.col("ts_ns") + F.col("ts_ns") % 1_000).cast("long")).alias("z")
    ).collect()[0]["z"]
    assert trunc == 0


def test_decimal256_limb_arithmetic(spark):
    """DECIMAL256 emulation (ColumnType.java:104-135): limb add/sum/compare/
    string round-trip vs Python's arbitrary-precision ints on values built
    to hit carry boundaries."""
    import random

    from questdb_spark.functions import decimal256 as D

    rng = random.Random(7)
    vals = [0, 1, D.LIMB - 1, D.LIMB, D.LIMB**2 - 1] + [
        rng.randrange(0, 10**54) for _ in range(40)
    ]
    rows = [(i, str(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["i", "s"])
    wcol = D.from_string(F.col("s"))
    # round-trip
    out = df.select("i", "s", D.to_string(wcol).alias("rt")).collect()
    assert all(r["s"] == r["rt"] for r in out)
    # pairwise add + compare vs python
    a = df.select(F.col("i").alias("ia"), wcol.alias("wa"), F.col("s").alias("sa"))
    b = df.select(F.col("i").alias("ib"), wcol.alias("wb"), F.col("s").alias("sb"))
    pairs = a.crossJoin(b).filter(F.col("ia") < F.col("ib")).select(
        "sa", "sb",
        D.to_string(D.add(F.col("wa"), F.col("wb"))).alias("sum_str"),
        D.compare(F.col("wa"), F.col("wb")).alias("cmp"),
    )
    for r in pairs.collect():
        x, y = int(r["sa"]), int(r["sb"])
        assert r["sum_str"] == str(x + y)
        assert r["cmp"] == (0 if x == y else (1 if x > y else -1))
    # group SUM with carry ripple vs python
    g = df.withColumn("grp", F.col("i") % 3)
    got = (
        g.select("grp", wcol.alias("w"))
        .groupBy("grp")
        .agg(*D.sum_agg(F.col("w")))
        .select("grp", D.to_string(D.normalized()).alias("total"))
        .collect()
    )
    exp = {}
    for i, v in enumerate(vals):
        exp[i % 3] = exp.get(i % 3, 0) + v
    assert {r["grp"]: r["total"] for r in got} == {k: str(v) for k, v in exp.items()}


def test_decimal256_subtract_multiply(spark):
    """DECIMAL256 subtract (borrow ripple) and multiply (full 7-position
    limb convolution) vs Python bigints, on values engineered to hit limb
    boundaries, long borrow chains, and near-the-72-digit-cap products."""
    import random

    from questdb_spark.functions import decimal256 as D

    rng = random.Random(11)
    # keep every pairwise product < 10^72: (10^36-1)^2 fits, 10^36*10^36 not
    vals = [0, 1, D.LIMB - 1, D.LIMB, D.LIMB + 1, 10**36 - 1] + [
        rng.randrange(0, 10**35) for _ in range(25)
    ]
    rows = [(i, str(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["i", "s"])
    wcol = D.from_string(F.col("s"))
    a = df.select(F.col("i").alias("ia"), wcol.alias("wa"), F.col("s").alias("sa"))
    b = df.select(F.col("i").alias("ib"), wcol.alias("wb"), F.col("s").alias("sb"))
    pairs = a.crossJoin(b).select(
        "sa", "sb",
        # subtract requires a >= b: order operands by compare first
        D.to_string(
            F.when(
                D.compare(F.col("wa"), F.col("wb")) >= 0,
                D.subtract(F.col("wa"), F.col("wb")),
            ).otherwise(D.subtract(F.col("wb"), F.col("wa")))
        ).alias("diff_str"),
        D.to_string(D.multiply(F.col("wa"), F.col("wb"))).alias("prod_str"),
    )
    for r in pairs.collect():
        x, y = int(r["sa"]), int(r["sb"])
        assert r["diff_str"] == str(abs(x - y)), (x, y)
        assert r["prod_str"] == str(x * y), (x, y)
    # multiply overflow (>= 10^72) raises rather than truncating
    import pytest as _pytest

    big = spark.range(1).select(D.from_string(F.lit("9" * 40)).alias("w"))
    with _pytest.raises(Exception, match="(?i)overflow|assert"):
        big.select(D.to_string(D.multiply(F.col("w"), F.col("w")))).collect()


def test_sample_by_tz_dst_transition(spark):
    """ALIGN TO CALENDAR TIME ZONE across a DST change
    (TimezoneFloorTimestampSampler): New-York day buckets start at 05:00
    UTC before 2024-03-10 and 04:00 UTC after — a constant-shift
    implementation fails this; per-row convert_timezone does not."""
    from questdb_spark.operators.sample_by import sample_by
    from questdb_spark.sources.generators import rnd_frame, rnd_double, rnd_timestamp

    t = rnd_frame(
        spark, 2000, seed=11,
        ts=lambda x: rnd_timestamp(x, "2024-03-07", "2024-03-14"),
        v=lambda x: rnd_double(x),
    )
    out = sample_by(
        t, "ts", "1d", {"n": F.count(F.lit(1))}, tz="America/New_York"
    ).collect()
    starts = sorted(str(r["ts_bucket"]) for r in out)
    # DST starts 02:00 local on Mar 10: that day's local midnight is still
    # EST (05:00 UTC); from Mar 11 local midnight is EDT (04:00 UTC)
    for s in starts:
        day = s[:10]
        if day <= "2024-03-10":
            assert s.endswith("05:00:00"), s
        else:
            assert s.endswith("04:00:00"), s
    assert sum(r["n"] for r in out) == 2000
    # the DST-day bucket is 23 hours long; every row must land in exactly
    # one bucket (no gaps/overlaps at the transition)
    assert len(starts) == len(set(starts))


def test_decimal256_divide_rescale(spark):
    """DECIMAL256 divide-by-long (schoolbook limb long division) and
    HALF_UP rescale vs Python bigints on values spanning limb boundaries
    and divisors from 1 digit to the full 18-digit limb."""
    import random

    from questdb_spark.functions import decimal256 as D

    rng = random.Random(13)
    vals = [0, 1, D.LIMB - 1, D.LIMB, D.LIMB**2 - 1, 10**72 - 1] + [
        rng.randrange(0, 10**72) for _ in range(9)
    ]
    divs = [1, 2, 3, 7, 10, 999983, D.LIMB - 1] + [
        rng.randrange(1, D.LIMB) for _ in range(8)
    ]
    rows = [
        (str(v), d) for v in vals for d in rng.sample(divs, 2)
    ]
    df = spark.createDataFrame(rows, ["s", "d"])
    w = D.from_string(F.col("s"))
    out = df.select(
        "s", "d",
        D.to_string(D.divide_long(w, F.col("d"))).alias("q"),
        D.mod_long(w, F.col("d")).alias("r"),
    ).collect()
    for row in out:
        x, d = int(row["s"]), int(row["d"])
        assert row["q"] == str(x // d), (x, d)
        assert row["r"] == x % d, (x, d)
    # rescale: HALF_UP at exponents crossing limb boundaries — one plan
    ks = [1, 18, 19, 71]  # in-limb, pure shift, shift+divide, top digit
    got = df.select(
        "s", *[D.to_string(D.rescale(w, k)).alias(f"q{k}") for k in ks]
    ).collect()
    for row in got:
        x = int(row["s"])
        for k in ks:
            want = (x + 5 * 10 ** (k - 1)) // 10**k  # HALF_UP
            assert row[f"q{k}"] == str(want), (x, k)


def test_rank_n_array_ops(spark):
    """Rank-N array forms (r9): recursive-HOF elementwise ops and the
    numpy transpose at rank 3 and 4 (DerivedArrayView.transpose reverses
    shape at any rank); rank validation at the 32-dim reference limit."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from questdb_spark.functions import arrays as A

    a4 = [[[[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]], [[[7.0, 8.0], [9.0, 10.0], [11.0, 12.0]]]]
    df = spark.createDataFrame(
        [(a4,)], "a array<array<array<array<double>>>>"
    )
    r = df.select(
        A.elementwise_nd(F.col("a"), F.col("a"), "+", 4).alias("dbl"),
        A.array_neg_nd(F.col("a"), 4).alias("neg"),
        A.scale_nd(F.col("a"), 3.0, 4).alias("x3"),
        A.array_sum_nd(F.col("a"), 4).alias("tot"),
        A.transpose_ndim_udf(4)(F.col("a")).alias("t"),
        A.dim_length(F.col("a"), 1).alias("d1"),
        A.dim_length(F.col("a"), 4).alias("d4"),
    ).first()
    npa = np.asarray(a4)
    assert np.allclose(np.asarray(r["dbl"]), npa * 2)
    assert np.allclose(np.asarray(r["neg"]), -npa)
    assert np.allclose(np.asarray(r["x3"]), npa * 3)
    assert r["tot"] == npa.sum()
    assert np.asarray(r["t"]).shape == npa.T.shape
    assert np.allclose(np.asarray(r["t"]), npa.T)
    assert (r["d1"], r["d4"]) == (2, 2)
    # rank bounds: the reference's 32-dim limit
    with _pytest.raises(ValueError, match="maximum number of array dimensions"):
        A.map_nd(F.col("a"), lambda x: x, 33)
    with _pytest.raises(ValueError, match="maximum number of array dimensions"):
        A.transpose_ndim_udf(0)


def test_bpe_merge_step_greedy_and_cascade(spark):
    """Greedy left-to-right merge semantics: 'a a a' with pair (a,a) gives
    ['a a', 'a'] (no overlap reuse); a later round can merge a previously
    merged token; empty and 1-token rows pass through."""
    from pyspark.sql import functions as F

    from questdb_spark.pipeline.text import bpe_apply, bpe_merge_step, bpe_train

    rows = [(1, "a a a"), (2, "x a a y"), (3, "a"), (4, "")]
    df = spark.createDataFrame(rows, ["id", "text"])
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    got = {
        r["id"]: r["m"]
        for r in df.select(
            "id", bpe_merge_step(toks, "a", "a").alias("m")
        ).collect()
    }
    assert got[1] == ["a a", "a"]
    assert got[2] == ["x", "a a", "y"]
    assert got[3] == ["a"]
    # cascade: merging ('a a', 'a') on the round-1 output of row 1
    got2 = (
        df.filter("id = 1")
        .select(bpe_merge_step(bpe_merge_step(toks, "a", "a"), "a a", "a").alias("m"))
        .collect()[0]["m"]
    )
    assert got2 == ["a a a"]
    # train + apply round-trip: merges learned on a tiny corpus apply
    corpus = spark.createDataFrame(
        [(i, "the cat sat on the cat mat") for i in range(4)], ["id", "text"]
    )
    merges = bpe_train(corpus, merges=2)
    assert merges[0][1:3] == ("the", "cat")  # most frequent pair, tie-broken
    applied = bpe_apply(corpus, merges).select("__t").collect()
    assert all("the cat" in r["__t"] for r in applied)


def test_chunk_documents_windows(spark):
    """Window arithmetic: n<=size -> 1 chunk; exact multiples; tail rule
    (a window starts while new tokens remain); stride validation."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from questdb_spark.pipeline.text import chunk_documents

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    df = spark.createDataFrame(
        [(1, words(5)), (2, words(8)), (3, words(9)), (4, words(20))],
        ["doc_id", "text"],
    )
    out = chunk_documents(df, size=8, stride=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["tok_start"], r["n_tokens"])
        )
    for v in got.values():
        v.sort()
    assert got[1] == [(0, 0, 5)]            # shorter than one window
    assert got[2] == [(0, 0, 8)]            # exactly one window
    assert got[3] == [(0, 0, 8), (1, 4, 5)] # tail window carries the rest
    # n=20: ceil((20-8)/4)+1 = 4 windows, last covers tokens 12..19
    assert got[4] == [(0, 0, 8), (1, 4, 8), (2, 8, 8), (3, 12, 8)]
    # overlap property: consecutive windows share size-stride tokens
    texts = {
        (r["doc_id"], r["chunk_idx"]): r["chunk_text"].split()
        for r in out.collect()
    }
    assert texts[(4, 0)][4:] == texts[(4, 1)][:4]
    with _pt.raises(ValueError):
        chunk_documents(df, size=4, stride=8)
