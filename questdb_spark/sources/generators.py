"""Row generators: generate_series / long_sequence / rnd_* equivalents.

Reference: ``functions/rnd/`` (47 factories: rnd_double, rnd_symbol,
rnd_symbol_zipf, …), ``functions/rnd/LongSequenceFunctionFactory``,
``functions/date/GenerateSeriesTimestampLongRecordCursorFactory``.
QuestDB uses these to build test fixtures; we reproduce the capability
with ``spark.range`` + deterministic mixing arithmetic so generated data
is reproducible across engines and runs (no JVM RNG).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_MIX = 2654435761  # Knuth multiplicative hash constant


def long_sequence(spark: SparkSession, n: int) -> DataFrame:
    """QuestDB long_sequence(n): x = 1..n."""
    return spark.range(1, n + 1).select(F.col("id").alias("x"))


def rnd_double(x: Column, seed: int = 0) -> Column:
    """Deterministic pseudo-random double in [0,1) from a row index."""
    return ((x + seed) * _MIX % 1_000_000) / 1_000_000.0


def rnd_int(x: Column, lo: int, hi: int, seed: int = 0) -> Column:
    """Deterministic pseudo-random int in [lo, hi]."""
    return ((x + seed) * _MIX % (hi - lo + 1) + lo).cast("int")


def rnd_symbol(x: Column, symbols: list[str], seed: int = 0) -> Column:
    """Deterministic symbol pick (uniform)."""
    arr = F.array(*[F.lit(s) for s in symbols])
    return F.element_at(arr, (((x + seed) * _MIX % len(symbols)) + 1).cast("int"))


def rnd_symbol_zipf(x: Column, symbols: list[str], seed: int = 0) -> Column:
    """Zipf-ish skewed pick: P(symbol_k) ∝ 1/(k+1) (QuestDB RndSymbolZipf)."""
    n = len(symbols)
    weights = [1.0 / (k + 1) for k in range(n)]
    total = sum(weights)
    cum = []
    acc = 0.0
    for wt in weights:
        acc += wt
        cum.append(acc / total)
    u = rnd_double(x, seed)
    expr = F.lit(symbols[-1])
    for k in range(n - 2, -1, -1):
        expr = F.when(u < cum[k], symbols[k]).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# rnd_* breadth (functions/rnd/, 47 factories). All generators are
# DETERMINISTIC functions of the row index: the same (x, seed) always
# yields the same value, in Spark AND in ANSI SQL (every generator has an
# oracle-expressible form — no engine RNG, no xxhash). Mixing is two
# multiplicative rounds mod Mersenne primes, kept well inside signed-64
# range so DuckDB's checked arithmetic matches Spark's exactly.
# ---------------------------------------------------------------------------

_P31 = 2_147_483_647  # 2^31 - 1 (Mersenne)
_K2 = 48271  # MINSTD multiplier


def _mix(x: Column, seed: int, tag: int) -> Column:
    """Two-round deterministic mix → long in [0, 2^31-1)."""
    h = (x + F.lit(seed * 1_000_003 + tag * 7_919)) * F.lit(_MIX) % F.lit(_P31)
    return (h * F.lit(_K2) + F.lit(tag)) % F.lit(_P31)


def mix_sql(x: str, seed: int, tag: int) -> str:
    """ANSI-SQL twin of :func:`_mix` (for DuckDB oracles)."""
    return (
        f"((({x} + {seed * 1_000_003 + tag * 7_919}) * {_MIX} % {_P31})"
        f" * {_K2} + {tag}) % {_P31}"
    )


def rnd_boolean(x: Column, seed: int = 0) -> Column:
    return (_mix(x, seed, 1) % 2 == 0).alias("b")


def rnd_byte(x: Column, seed: int = 0) -> Column:
    return (_mix(x, seed, 2) % 128).cast("tinyint")


def rnd_short(x: Column, seed: int = 0) -> Column:
    return (_mix(x, seed, 3) % 32768).cast("smallint")


def rnd_long(x: Column, lo: int, hi: int, seed: int = 0) -> Column:
    return (_mix(x, seed, 4) % (hi - lo + 1) + lo).cast("long")


def rnd_float(x: Column, seed: int = 0) -> Column:
    return (_mix(x, seed, 5) % 1_000_000 / 1_000_000.0).cast("float")


def rnd_char(x: Column, seed: int = 0) -> Column:
    """Uppercase A-Z (RndCharFunctionFactory)."""
    return F.char(_mix(x, seed, 6) % 26 + 65)


def rnd_str(x: Column, lo: int, hi: int, seed: int = 0, null_rate: int = 0) -> Column:
    """Hex string with length uniform in [lo, hi]; ``null_rate`` n → every
    ~n-th value NULL (RndStrFunctionFactory semantics; charset is md5 hex
    rather than the reference's a-z — documented divergence, identical
    distribution properties for fixture purposes)."""
    ln = (_mix(x, seed, 7) % (hi - lo + 1) + lo).cast("int")
    s = F.substring(F.md5((x + F.lit(seed)).cast("string")), F.lit(1), ln)
    if null_rate > 0:
        return F.when(_mix(x, seed, 8) % null_rate == 0, F.lit(None)).otherwise(s)
    return s


def rnd_uuid4(x: Column, seed: int = 0) -> Column:
    """Deterministic RFC-4122-shaped v4 UUID from the md5 of the index
    (RndUuidFunctionFactory)."""
    h = F.md5((x + F.lit(seed * 31 + 11)).cast("string"))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(F.lit("4"), F.substring(h, 14, 3)),
        F.concat(F.lit("8"), F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def rnd_ipv4(x: Column, seed: int = 0) -> Column:
    """Dotted-quad IPv4 (RndIPv4FunctionFactory)."""
    m = _mix(x, seed, 9)
    return F.concat_ws(
        ".",
        (m % 256).cast("string"),
        (F.floor(m / 256) % 256).cast("string"),
        (F.floor(m / 65536) % 256).cast("string"),
        (F.floor(m / 16777216) % 128 + 1).cast("string"),
    )


_GEO_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def rnd_geohash(x: Column, chars: int, seed: int = 0) -> Column:
    """Geohash of ``chars`` base-32 characters (RndGeoHashFunctionFactory;
    reference sizes in bits — chars = bits/5)."""
    out = F.lit("")
    for i in range(chars):
        idx = (_mix(x, seed, 20 + i) % 32 + 1).cast("int")
        out = F.concat(out, F.lit(_GEO_ALPHABET).substr(idx, F.lit(1)))
    return out


def rnd_long256(x: Column, seed: int = 0) -> Column:
    """0x-prefixed 64-hex-digit LONG256 (RndLong256FunctionFactory)."""
    a = F.md5((x + F.lit(seed * 7 + 1)).cast("string"))
    b = F.md5((x + F.lit(seed * 7 + 2)).cast("string"))
    return F.concat(F.lit("0x"), a, b)


def rnd_bin(x: Column, lo: int, hi: int, seed: int = 0) -> Column:
    """Binary blob with length uniform in [lo, hi] (RndBinFunctionFactory);
    bytes from the md5 stream."""
    ln = (_mix(x, seed, 10) % (hi - lo + 1) + lo).cast("int")
    return F.unhex(F.substring(F.repeat(F.md5((x + F.lit(seed)).cast("string")), (hi * 2 + 31) // 32 + 1), F.lit(1), ln * 2))


def rnd_date(x: Column, lo: str, hi: str, seed: int = 0) -> Column:
    """DATE uniform in [lo, hi] (RndDateCCCFunctionFactory); day grain."""
    span = F.datediff(F.lit(hi).cast("date"), F.lit(lo).cast("date")) + 1
    return F.date_add(F.lit(lo).cast("date"), (_mix(x, seed, 11) % span).cast("int"))


def rnd_timestamp(x: Column, lo: str, hi: str, seed: int = 0) -> Column:
    """TIMESTAMP uniform in [lo, hi) at second grain
    (RndTimestampFunctionFactory)."""
    lo_ts = F.lit(lo).cast("timestamp")
    span = F.unix_timestamp(F.lit(hi).cast("timestamp")) - F.unix_timestamp(lo_ts)
    return F.timestamp_seconds(
        F.unix_timestamp(lo_ts) + _mix(x, seed, 12) % span
    )


def rnd_symbol_weighted(x: Column, weighted: dict[str, float], seed: int = 0) -> Column:
    """Explicit-weight symbol pick (RndSymbolWeightedFunctionFactory)."""
    total = sum(weighted.values())
    u = (_mix(x, seed, 13) % 1_000_000) / 1_000_000.0
    items = list(weighted.items())
    acc = 0.0
    expr = F.lit(items[-1][0])
    cum = []
    for sym, w in items:
        acc += w / total
        cum.append((sym, acc))
    for sym, c in reversed(cum[:-1]):
        expr = F.when(u < c, sym).otherwise(expr)
    return expr


def rnd_str_pool(
    x: Column, count: int, lo: int, hi: int, seed: int = 0, null_rate: int = 0
) -> Column:
    """``rnd_str(count, lo, hi, nullRate)`` — the POOL form
    (RndStrFunctionFactory with a count argument): values draw from a
    fixed pool of ``count`` distinct strings whose lengths are uniform in
    [lo, hi]. The pool member for a row is itself a deterministic function
    of the pool index, so the pool is plan-time-stable without being
    materialized anywhere."""
    idx = _mix(x, seed, 14) % count  # which pool member
    ln = (_mix(idx, seed, 15) % (hi - lo + 1) + lo).cast("int")
    s = F.substring(F.md5(F.concat(F.lit("pool:"), idx.cast("string"))), F.lit(1), ln)
    if null_rate > 0:
        return F.when(_mix(x, seed, 16) % null_rate == 0, F.lit(None)).otherwise(s)
    return s


def rnd_symbol_pool(x: Column, count: int, lo: int, hi: int, seed: int = 0) -> Column:
    """``rnd_symbol(count, lo, hi)`` pool form (RndSymbolFunctionFactory):
    SYMBOL column drawing from ``count`` generated distinct names."""
    return rnd_str_pool(x, count, lo, hi, seed=seed + 23)


def rnd_symbol_zipf_n(x: Column, count: int, lo: int, hi: int, seed: int = 0) -> Column:
    """``rnd_symbol_zipf(count, lo, hi)`` pool form
    (RndSymbolZipfNFunctionFactory): Zipf-skewed draw over ``count``
    generated distinct symbols — pool member k has P ∝ 1/(k+1), the hot-key
    generator for skew testing."""
    u = (_mix(x, seed, 17) % 1_000_000) / 1_000_000.0
    weights = [1.0 / (k + 1) for k in range(count)]
    total = sum(weights)
    acc, cum = 0.0, []
    for w in weights:
        acc += w / total
        cum.append(acc)

    def member(k: int) -> Column:
        ln = (_mix(F.lit(k), seed, 15) % (hi - lo + 1) + lo).cast("int")
        return F.substring(F.md5(F.lit(f"zpool:{k}")), F.lit(1), ln)

    expr = member(count - 1)
    for k in range(count - 2, -1, -1):
        expr = F.when(u < cum[k], member(k)).otherwise(expr)
    return expr


def rnd_decimal(x: Column, precision: int, scale: int, seed: int = 0) -> Column:
    """DECIMAL(p,s) uniform over the full p-digit range
    (RndDecimalFunctionFactory ``rnd_decimal(iii)``). Digits come from
    chained mixes so any precision ≤ 38 is exact."""
    if not 1 <= precision <= 38 or not 0 <= scale <= precision:
        raise ValueError("need 1 <= precision <= 38, 0 <= scale <= precision")
    digits = F.lit("")
    for i in range(0, precision, 9):  # 9 decimal digits per mix draw
        take = min(9, precision - i)
        d = F.lpad((_mix(x, seed, 30 + i) % (10**take)).cast("string"), take, "0")
        digits = F.concat(digits, d)
    unscaled = digits
    if scale == 0:
        return unscaled.cast(f"decimal({precision},0)")
    body = F.concat(
        F.substring(unscaled, 1, precision - scale),
        F.lit("."),
        F.substring(unscaled, precision - scale + 1, scale),
    )
    return body.cast(f"decimal({precision},{scale})")


def rnd_log(x: Column, scale: float = 1.0, seed: int = 0) -> Column:
    """Log-distributed positive double (RndLogFunctionFactory
    ``rnd_log(ld)``): -scale·ln(u) with u uniform in (0,1]."""
    u = (_mix(x, seed, 40) % 1_000_000 + 1) / 1_000_000.0
    return -F.lit(float(scale)) * F.log(u)


def rnd_interval(x: Column, lo: str = "2024-01-01", hi: str = "2024-03-01",
                 seed: int = 0) -> Column:
    """INTERVAL value as a (start, end) timestamp struct
    (RndIntervalFunctionFactory; the reference bounds span at ~6 years —
    here the caller supplies the base range)."""
    start = rnd_timestamp(x, lo, hi, seed=seed)
    span_s = _mix(x, seed, 41) % 86_400  # up to a day
    return F.struct(
        start.alias("lo"),
        (start + F.make_dt_interval(secs=span_s.cast("double"))).alias("hi"),
    )


def rnd_double_array(x: Column, length: int, seed: int = 0) -> Column:
    """DOUBLE[] of fixed length (RndDoubleArrayFunctionFactory
    ``rnd_double_array(lv)``; reference caps dim length at 16)."""
    if not 1 <= length <= 16:
        raise ValueError("length must be in [1, 16]")
    return F.array(*[
        (_mix(x, seed, 50 + i) % 1_000_000 / 1_000_000.0) for i in range(length)
    ])


def _nullify(c: Column, x: Column, seed: int, null_rate: int, tag: int) -> Column:
    """Every ~null_rate-th value NULL (the reference's nullRate argument in
    the *CC factory forms)."""
    if null_rate > 0:
        return F.when(_mix(x, seed, tag) % null_rate == 0, F.lit(None)).otherwise(c)
    return c


def rnd_byte_cc(x: Column, lo: int, hi: int, seed: int = 0) -> Column:
    """``rnd_byte(lo, hi)`` range form (RndByteCCFunctionFactory)."""
    return (_mix(x, seed, 60) % (hi - lo + 1) + lo).cast("tinyint")


def rnd_short_cc(x: Column, lo: int, hi: int, seed: int = 0) -> Column:
    """``rnd_short(lo, hi)`` range form (RndShortCCFunctionFactory)."""
    return (_mix(x, seed, 61) % (hi - lo + 1) + lo).cast("smallint")


def rnd_int_cc(x: Column, lo: int, hi: int, null_rate: int = 0, seed: int = 0) -> Column:
    """``rnd_int(lo, hi, nullRate)`` (RndIntCCFunctionFactory)."""
    v = (_mix(x, seed, 62) % (hi - lo + 1) + lo).cast("int")
    return _nullify(v, x, seed, null_rate, 63)


def rnd_long_cc(x: Column, lo: int, hi: int, null_rate: int = 0, seed: int = 0) -> Column:
    """``rnd_long(lo, hi, nullRate)`` (RndLongCCFunctionFactory)."""
    v = (_mix(x, seed, 64) % (hi - lo + 1) + lo).cast("long")
    return _nullify(v, x, seed, null_rate, 65)


def rnd_double_cc(x: Column, null_rate: int = 0, seed: int = 0) -> Column:
    """``rnd_double(nullRate)`` (RndDoubleCCFunctionFactory)."""
    v = _mix(x, seed, 66) % 1_000_000 / 1_000_000.0
    return _nullify(v, x, seed, null_rate, 67)


def rnd_float_c(x: Column, null_rate: int = 0, seed: int = 0) -> Column:
    """``rnd_float(nullRate)`` (RndFloatCFunctionFactory)."""
    v = (_mix(x, seed, 68) % 1_000_000 / 1_000_000.0).cast("float")
    return _nullify(v, x, seed, null_rate, 69)


def rnd_ipv4_cc(x: Column, subnet: str, null_rate: int = 0, seed: int = 0) -> Column:
    """``rnd_ipv4('b.b.b.b/mask', nullRate)`` (RndIPv4CCFunctionFactory):
    host part randomized inside the given subnet."""
    base, mask = subnet.split("/")
    mask = int(mask)
    parts = [int(p) for p in base.split(".")]
    base_int = (
        parts[0] * 16777216 + parts[1] * 65536 + parts[2] * 256 + parts[3]
    ) & (~((1 << (32 - mask)) - 1) & 0xFFFFFFFF)
    host = _mix(x, seed, 70) % (1 << (32 - mask))
    ip = F.lit(base_int) + host
    v = F.concat_ws(
        ".",
        F.floor(ip / 16777216).cast("int").cast("string"),
        (F.floor(ip / 65536) % 256).cast("int").cast("string"),
        (F.floor(ip / 256) % 256).cast("int").cast("string"),
        (ip % 256).cast("int").cast("string"),
    )
    return _nullify(v, x, seed, null_rate, 71)


def rnd_uuid_cc(x: Column, null_rate: int = 0, seed: int = 0) -> Column:
    """``rnd_uuid4(nullRate)`` (RndUuidCCFunctionFactory)."""
    return _nullify(rnd_uuid4(x, seed=seed), x, seed, null_rate, 72)


def rnd_long256_n(x: Column, count: int, seed: int = 0) -> Column:
    """``rnd_long256(count)`` pool form (RndLong256NFunctionFactory):
    draws from ``count`` distinct LONG256 values."""
    idx = _mix(x, seed, 73) % count
    a = F.md5(F.concat(F.lit("l256a:"), idx.cast("string")))
    b = F.md5(F.concat(F.lit("l256b:"), idx.cast("string")))
    return F.concat(F.lit("0x"), a, b)


def rnd_timestamp_nano(x: Column, lo: str, hi: str, seed: int = 0) -> Column:
    """TIMESTAMP_NS uniform in [lo, hi) as epoch-NANOS BIGINT
    (RndTimestampNanoFunctionFactory; long carrier — the engine's
    TIMESTAMP_NANO representation, see functions/nanos.py)."""
    lo_ts = F.lit(lo).cast("timestamp")
    span = F.unix_timestamp(F.lit(hi).cast("timestamp")) - F.unix_timestamp(lo_ts)
    secs = F.unix_timestamp(lo_ts) + _mix(x, seed, 74) % span
    nanos = _mix(x, seed, 75) % 1_000_000_000
    return secs * F.lit(1_000_000_000) + nanos


def rnd_str_list(x: Column, values: list[str], seed: int = 0) -> Column:
    """``rnd_str('a','b',...)`` explicit-list form (RndStringListFunction
    Factory; RndSymbolList/RndVarcharList are the same draw over other
    carrier types)."""
    return rnd_symbol(x, values, seed=seed)


def rnd_frame(spark: SparkSession, n: int, seed: int = 0, **cols) -> DataFrame:
    """Seedable fixture-frame generator (the AbstractCairoTest pattern —
    the reference populates golden-test tables entirely from rnd_*
    factories over long_sequence). ``cols`` maps output name → callable
    taking the row-index Column; the same (n, seed) always builds the
    identical frame, distributed (spark.range partitions the index space,
    no driver materialization)."""
    base = long_sequence(spark, n)
    return base.select(
        "x", *[fn(F.col("x") + F.lit(seed)).alias(name) for name, fn in cols.items()]
    )
