"""Queries exercising the function library (finance, geohash, IPv4,
arrays), generators, pivot/unnest/lateral, interval strings, percentiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import finance, ipv4
from .operators.intervals import in_interval
from .queries_core import _sql_dbl as _sdbl
from .tsutil import to_micros
from .queries_core import dec2, to_dbl
from .sources import generators
from .sources.parquet import load_table, register_views

# --------------------------------------------------------------------------
# Finance
# --------------------------------------------------------------------------

def twap_vwap_events(spark: SparkSession, sf: str) -> DataFrame:
    """twap + vwap per event_type over the events stream (QuestDB
    functions/groupby/Twap*, Vwap*). Weights: twap = next-observation
    holding time in micros; vwap weights = props.k."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    dur = to_micros(F.lead("ts", 1).over(w)) - to_micros("ts")
    k = F.get_json_object("props", "$.k").cast("long")
    base = ev.withColumn("__dur", dur).withColumn("__k", k)
    return (
        base.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("__dur").isNotNull(), dec2("value") * F.col("__dur"))).alias("__pd"),
            F.sum("__dur").alias("__d"),
            F.sum(dec2("value") * F.col("__k")).alias("__pk"),
            F.sum("__k").alias("__ks"),
        )
        .select(
            "event_type",
            (to_dbl("__pd", 0) / F.col("__d").cast("double")).alias("twap"),
            (to_dbl("__pk", 2) / F.col("__ks").cast("double")).alias("vwap_k"),
        )
    )


TWAP_VWAP_SQL = """
WITH base AS (
  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v,
    epoch_us(LEAD(ts, 1) OVER (PARTITION BY event_type ORDER BY ts, event_id)) - epoch_us(ts) AS dur,
    CAST(props->>'k' AS BIGINT) AS k
  FROM events
)
SELECT event_type,
  CAST(CAST(ROUND(SUM(CASE WHEN dur IS NOT NULL THEN v * dur END), 0) AS DECIMAL(20,0)) AS DOUBLE)
    / CAST(SUM(dur) AS DOUBLE) AS twap,
  CAST(CAST(ROUND(SUM(v * k), 2) AS DECIMAL(20,2)) AS DOUBLE)
    / CAST(SUM(k) AS DOUBLE) AS vwap_k
FROM base GROUP BY event_type
"""


def l2price_orderbook(spark: SparkSession, sf: str) -> DataFrame:
    """Order-book sweep price (QuestDB l2price,
    functions/finance/LevelTwoPriceFunctionFactory): treat each order's
    lineitems as book levels (size=l_quantity, price=l_extendedprice/qty
    per unit — here just extendedprice) and compute the average execution
    price of buying 100 units."""
    li = load_table(spark, sf, "lineitem")
    # l_linenumber repeats within an order in this dataset — extend the
    # ordering to a total one and use an explicit ROWS frame (the default
    # ordered-window frame is RANGE, which lumps peers together)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_extendedprice", "l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    size = dec2("l_quantity")
    price = dec2("l_extendedprice")
    target = F.lit(100).cast("decimal(12,2)")
    cum = F.sum(size).over(w)
    filled_before = (cum - size).cast("decimal(20,2)")
    take = F.least(F.greatest(target - filled_before, F.lit(0).cast("decimal(20,2)")), size)
    lv = li.select(
        "l_orderkey",
        take.alias("__take"),
        (take * price).cast("decimal(30,4)").alias("__cost"),
    )
    agg = lv.groupBy("l_orderkey").agg(
        F.sum("__take").alias("__filled"), F.sum("__cost").alias("__c")
    )
    return agg.select(
        "l_orderkey",
        F.when(
            F.col("__filled") >= target, to_dbl("__c", 2) / F.lit(100.0)
        ).alias("l2price_100"),
    )


L2PRICE_SQL = """
WITH lv AS (
  SELECT l_orderkey,
    LEAST(GREATEST(CAST(100 AS DECIMAL(12,2)) - CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
        OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_extendedprice, l_quantity
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(20,2)),
      CAST(0 AS DECIMAL(20,2))), CAST(l_quantity AS DECIMAL(12,2))) AS take,
    CAST(l_extendedprice AS DECIMAL(12,2)) AS price
  FROM lineitem
)
SELECT l_orderkey,
  CASE WHEN SUM(take) >= CAST(100 AS DECIMAL(12,2))
       THEN CAST(CAST(ROUND(SUM(CAST(take * price AS DECIMAL(30,4))), 2) AS DECIMAL(20,2)) AS DOUBLE) / 100.0
  END AS l2price_100
FROM lv GROUP BY l_orderkey
"""


def ema_events(spark: SparkSession, sf: str) -> DataFrame:
    """EMA(α=0.2) of value per user (QuestDB window ema()). Oracle: DuckDB
    recursive CTE running the identical recurrence y = 0.2·x + 0.8·y_prev
    (pandas ewm(adjust=False) computes the same expression, so the floats
    agree to the driver's rounding)."""
    ev = load_table(spark, sf, "events").select("event_id", "user_id", "ts", "value")
    return finance.ema(ev, "ts", "value", alpha=0.2, keys=["user_id"])


# The recurrence is per-(user, row-rank): seed with rn=1, join rn = prev+1.
# (user_id, ts) is unique in the testdata, so the ordering is deterministic.
EMA_EVENTS_SQL = """
WITH RECURSIVE ordered AS (
  SELECT event_id, user_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events
),
rec(event_id, user_id, ts, value, ema, rn) AS (
  SELECT event_id, user_id, ts, value, value AS ema, rn FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.event_id, o.user_id, o.ts, o.value,
         -- pandas ewm skips the update when cur == weighted ("avoid
         -- numerical errors on constant series") — mirror the guard
         CASE WHEN o.value = r.ema THEN r.ema
              ELSE 0.2 * o.value + 0.8 * r.ema END, o.rn
  FROM ordered o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT event_id, user_id, ts, value, ema FROM rec
"""


def spread_mid_events(spark: SparkSession, sf: str) -> DataFrame:
    """mid / spread_bps (functions/finance/): synthesize bid/ask from value."""
    ev = load_table(spark, sf, "events").filter(F.col("event_id") < 2000)
    bid = F.col("value")
    ask = F.col("value") + F.get_json_object("props", "$.k").cast("double") / 100.0
    return ev.select(
        "event_id",
        finance.mid(bid, ask).alias("mid"),
        finance.spread_bps(bid, ask).alias("spread_bps"),
    )


SPREAD_MID_SQL = """
SELECT event_id,
  (value + (value + CAST(props->>'k' AS BIGINT) / 100.0)) / 2 AS mid,
  ((value + CAST(props->>'k' AS BIGINT) / 100.0) - value)
    / ((value + (value + CAST(props->>'k' AS BIGINT) / 100.0)) / 2) * 10000 AS spread_bps
FROM events WHERE event_id < 2000
"""


# --------------------------------------------------------------------------
# Geohash / IPv4
# --------------------------------------------------------------------------

def geohash_events(spark: SparkSession, sf: str) -> DataFrame:
    """Geohash encoding of synthetic coordinates (QuestDB make_geohash +
    GEOLONG cast), plus coarse prefix bucketing, rendered as one SQL text
    with the bit interleave unrolled.  One spark.sql parse replaces ~1250
    py4j round-trips of Column-tree build, and staging gh6 as a named CTE
    attribute computes the encode once per row instead of once per
    output — r14."""
    ev = load_table(spark, sf, "events").filter(F.col("event_id") < 2000)
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    bits = []
    lon_k = lat_k = 0
    for i in range(30):
        if i % 2 == 0:
            lon_k += 1
            bits.append(f"(CAST(floor(lonn * {2 ** lon_k}) AS BIGINT) % 2)")
        else:
            lat_k += 1
            bits.append(f"(CAST(floor(latn * {2 ** lat_k}) AS BIGINT) % 2)")
    chars = []
    for c in range(6):
        v = "0"
        for j in range(5):
            v = f"({v} * 2 + {bits[c * 5 + j]})"
        chars.append(f"substr('{b32}', CAST({v} AS INT) + 1, 1)")
    gh_long = (
        "aggregate(filter(transform(split(gh6, ''), "
        f"ch -> CASE WHEN ch != '' THEN instr('{b32}', ch) - 1 END), "
        "p -> p IS NOT NULL), CAST(0 AS BIGINT), (acc, p) -> acc * 32 + p)"
    )
    q = f"""
WITH c AS (
  SELECT event_id,
    ((((value % 180.0D) - 90.0D) + 90.0D) / 180.0D) AS latn,
    (((((value * 2.0D) % 360.0D) - 180.0D) + 180.0D) / 360.0D) AS lonn
  FROM {{inp}}
),
g AS (SELECT event_id, concat({", ".join(chars)}) AS gh6 FROM c)
SELECT event_id, gh6, substring(gh6, 1, 3) AS gh3, {gh_long} AS gh_long
FROM g
"""
    return spark.sql(q, inp=ev)


def _geohash_sql() -> str:
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    bits = []
    lon_k = lat_k = 0
    for i in range(30):
        if i % 2 == 0:
            lon_k += 1
            bits.append(f"(CAST(FLOOR(lonn * {2 ** lon_k}) AS BIGINT) % 2)")
        else:
            lat_k += 1
            bits.append(f"(CAST(FLOOR(latn * {2 ** lat_k}) AS BIGINT) % 2)")
    chars = []
    for c in range(6):
        v = "0"
        for j in range(5):
            v = f"({v} * 2 + {bits[c * 5 + j]})"
        chars.append(f"substr('{b32}', CAST({v} AS INTEGER) + 1, 1)")
    gh6 = " || ".join(chars)
    # gh_long: fold base32 positions
    return f"""
WITH c AS (
  SELECT event_id,
    ((value % 180.0) - 90.0 + 90.0) / 180.0 AS latn,
    (((value * 2.0) % 360.0) - 180.0 + 180.0) / 360.0 AS lonn
  FROM events WHERE event_id < 2000
),
g AS (SELECT event_id, {gh6} AS gh6 FROM c)
SELECT event_id, gh6, substr(gh6, 1, 3) AS gh3,
  CAST(list_reduce(list_transform(range(1, 7),
        i -> CAST(strpos('{b32}', substr(gh6, i, 1)) - 1 AS BIGINT)),
    (a, b) -> a * 32 + b) AS BIGINT) AS gh_long
FROM g
"""


GEOHASH_SQL = _geohash_sql()


def ipv4_subnets(spark: SparkSession, sf: str) -> DataFrame:
    """IPv4 netmask math (QuestDB IPv4 type + BitwiseAndIPv4): synthesize an
    IP per event, group by /24 subnet."""
    ev = load_table(spark, sf, "events")
    ip_long = (F.col("event_id") * 2654435761) % 4294967296
    base = ev.select(ip_long.alias("__ip"))
    sub = ipv4.ipv4_and(F.col("__ip"), ipv4.netmask(24))
    return (
        base.select(ipv4.long_to_ipv4(sub).alias("subnet"))
        .groupBy("subnet")
        .agg(F.count(F.lit(1)).alias("n_ips"))
    )


IPV4_SQL = """
WITH b AS (
  SELECT ((event_id * 2654435761) % 4294967296) & 4294967040 AS sub FROM events
)
SELECT
  CAST((sub >> 24) & 255 AS VARCHAR) || '.' ||
  CAST((sub >> 16) & 255 AS VARCHAR) || '.' ||
  CAST((sub >> 8) & 255 AS VARCHAR) || '.' ||
  CAST(sub & 255 AS VARCHAR) AS subnet,
  COUNT(*) AS n_ips
FROM b GROUP BY 1
"""


# --------------------------------------------------------------------------
# Arrays
# --------------------------------------------------------------------------

def array_ops(spark: SparkSession, sf: str) -> DataFrame:
    """1-D array op surface (QuestDB functions/array/): sums/extrema/dot/
    insertion_point/cumsum — quantized to longs where summation order would
    otherwise make results engine-dependent."""
    from .pipeline.similarity import dot_q, quantize

    emb = load_table(spark, sf, "embeddings")
    qv = quantize(F.col("embedding"))
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    cumsum5 = F.transform(
        F.sequence(F.lit(1), F.lit(5)),
        lambda i: F.aggregate(
            F.slice(qv, 1, i.cast("int")), F.lit(0).cast("long"), lambda a, x: a + x
        ),
    )
    return emb.select(
        "vec_id",
        F.aggregate(qv, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_q"),
        F.array_min(dv).alias("min_val"),
        F.array_max(dv).alias("max_val"),
        F.size(F.col("embedding")).alias("dim"),
        dot_q(qv, qv).alias("dot_self_q"),
        (F.size(F.filter(qv, lambda x: x < 0)) + 1).alias("insertion_point_0"),
        F.concat_ws(",", cumsum5).alias("cumsum5"),
    )


ARRAY_OPS_SQL = """
WITH e AS (
  SELECT vec_id, embedding,
    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
)
SELECT vec_id,
  CAST(list_sum(qv) AS BIGINT) AS sum_q,
  CAST(list_min(embedding) AS DOUBLE) AS min_val,
  CAST(list_max(embedding) AS DOUBLE) AS max_val,
  len(embedding) AS dim,
  CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS BIGINT) AS dot_self_q,
  len(list_filter(qv, x -> x < 0)) + 1 AS insertion_point_0,
  array_to_string(list_transform(range(1, 6),
      i -> CAST(list_sum(qv[1:i]) AS BIGINT)), ',') AS cumsum5
FROM e
"""


# --------------------------------------------------------------------------
# Pivot / unnest / lateral
# --------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def pivot_events(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT (QuestDB SqlParser.java:4260, rewrite SqlOptimiser.java:8976):
    event counts per user × type as dynamic columns."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count().na.fill(0)
    )


PIVOT_SQL = """
SELECT user_id,
  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
  COUNT(*) FILTER (WHERE event_type = 'view') AS view
FROM events GROUP BY user_id
"""


def unnest_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """UNNEST WITH ORDINALITY (QuestDB UnnestRecordCursorFactory,
    OrdinalityUnnestSource) → posexplode."""
    from .pipeline.text import tokens_col

    docs = load_table(spark, sf, "documents").filter(F.col("doc_id") < 20)
    return docs.select("doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "token"))


UNNEST_SQL = """
SELECT doc_id,
  UNNEST(range(0, len(string_split_regex(lower(trim(text)), '\\s+')))) AS pos,
  UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS token
FROM documents WHERE doc_id < 20
"""


def lateral_topn(spark: SparkSession, sf: str) -> DataFrame:
    """LATERAL join (QuestDB LateralJoinRewriter): top-2 orders per
    customer via correlated lateral subquery in Spark SQL."""
    register_views(spark, sf)
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) o
        """
    )


LATERAL_SQL = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) o
"""


# --------------------------------------------------------------------------
# Interval strings / percentiles / generators
# --------------------------------------------------------------------------

def interval_search(spark: SparkSession, sf: str) -> DataFrame:
    """QuestDB `ts IN '2024-01-15'` + `IN '...;2d'` duration form
    (WhereClauseParser.java:77) — lowered to pushdown-able range predicates."""
    ev = load_table(spark, sf, "events")
    day = ev.filter(in_interval(F.col("ts"), "2024-01-15")).select(
        "event_id", "ts", F.lit("day").alias("which")
    )
    span = ev.filter(in_interval(F.col("ts"), "2024-01-20T06;2d")).select(
        "event_id", "ts", F.lit("span").alias("which")
    )
    return day.unionByName(span)


INTERVAL_SEARCH_SQL = """
SELECT event_id, ts, 'day' AS which FROM events
 WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16'
UNION ALL
SELECT event_id, ts, 'span' AS which FROM events
 WHERE ts >= TIMESTAMP '2024-01-20 06:00:00' AND ts < TIMESTAMP '2024-01-22 07:00:00'
"""


def interval_repeat(spark: SparkSession, sf: str) -> DataFrame:
    """Repeating interval `'2024-01-10T09;4h;1d;5'` — the morning window on
    Jan 10 and the same window on the next 4 days
    (IntervalUtils.parseIntervalSuffix case 2, WhereClauseParser.java:464).
    Lowered to an OR of constant ranges, all parquet-pushdown-able."""
    ev = load_table(spark, sf, "events")
    return ev.filter(in_interval(F.col("ts"), "2024-01-10T09;4h;1d;5")).select(
        "event_id", "ts", "event_type"
    )


def _repeat_sql() -> str:
    terms = " OR ".join(
        f"(ts >= TIMESTAMP '2024-01-{10 + k} 09:00:00'"
        f" AND ts < TIMESTAMP '2024-01-{10 + k} 14:00:00')"
        for k in range(5)
    )
    return f"SELECT event_id, ts, event_type FROM events WHERE {terms}"


INTERVAL_REPEAT_SQL = _repeat_sql()


def percentiles_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (QuestDB approx_percentile's exact
    sibling; Spark `percentile` = DuckDB `quantile_cont`)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", 0.5).alias("p50_qty"),
        F.percentile("l_quantity", 0.9).alias("p90_qty"),
        F.median("l_quantity").alias("median_qty"),
    )


PERCENTILES_SQL = """
SELECT l_returnflag,
  quantile_cont(l_quantity, 0.5) AS p50_qty,
  quantile_cont(l_quantity, 0.9) AS p90_qty,
  median(l_quantity) AS median_qty
FROM lineitem GROUP BY l_returnflag
"""


def approx_aggs(spark: SparkSession, sf: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog — QuestDB
    griffin/engine/groupby/hyperloglog/HyperLogLog.java:39) and
    percentile_approx. Sketch internals differ per engine, so the
    driver-checkable contract is the ERROR BOUND, not the raw sketch value:
    emit per-group booleans asserting |approx-exact| is inside the
    documented rsd (HLL default rsd 5% → assert 15% ≈ 3σ) / rank-error
    (accuracy 1000 → well inside the exact p45..p55 band); the oracle's
    TRUE literals then hash-match iff every bound holds."""
    ev = load_table(spark, sf, "events")
    # distinct and non-distinct aggregates in ONE agg force Catalyst's
    # expand/multi-pass plan (3× slower); two single-pass aggregations
    # joined on the tiny key set keep each at full map-side speed
    plain = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("__au"),
        F.percentile_approx("value", 0.5, 1000).alias("__ap50"),
        # one sort, both exact band edges
        F.expr("percentile(value, array(0.45, 0.55))").alias("__pb"),
    ).withColumns({"__p45": F.col("__pb")[0], "__p55": F.col("__pb")[1]})
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("__eu"))
    agg = plain.join(F.broadcast(exact), "event_type")
    return agg.select(
        "event_type",
        (F.abs(F.col("__au") - F.col("__eu")) <= F.col("__eu") * 0.15).alias("users_within_rsd"),
        ((F.col("__ap50") >= F.col("__p45")) & (F.col("__ap50") <= F.col("__p55"))).alias(
            "p50_within_rank_err"
        ),
    )


APPROX_AGGS_SQL = """
SELECT event_type,
       TRUE AS users_within_rsd,
       TRUE AS p50_within_rank_err
FROM events GROUP BY event_type
"""


def generate_series_rnd(spark: SparkSession, sf: str) -> DataFrame:
    """Row generators (QuestDB long_sequence + rnd_* + timestamp_sequence,
    functions/rnd/): deterministic mixing arithmetic, engine-portable."""
    base = generators.long_sequence(spark, 1000)
    return base.select(
        "x",
        generators.rnd_double(F.col("x")).alias("r"),
        generators.rnd_int(F.col("x"), 1, 100).alias("ri"),
        generators.rnd_symbol(F.col("x"), ["a", "b", "c"]).alias("sym"),
        generators.rnd_symbol_zipf(F.col("x"), ["s0", "s1", "s2", "s3"]).alias("zsym"),
        F.expr("timestampadd(MINUTE, CAST(x AS INT), TIMESTAMP '2024-01-01')").alias("ts"),
    )


def _gen_sql() -> str:
    # mirror rnd_symbol_zipf cumulative thresholds for 4 symbols
    weights = [1.0 / (k + 1) for k in range(4)]
    total = sum(weights)
    cum, acc = [], 0.0
    for wt in weights:
        acc += wt
        cum.append(acc / total)
    zipf = (
        f"CASE WHEN u < {cum[0]!r} THEN 's0' WHEN u < {cum[1]!r} THEN 's1' "
        f"WHEN u < {cum[2]!r} THEN 's2' ELSE 's3' END"
    )
    return f"""
WITH s AS (SELECT UNNEST(range(1, 1001)) AS x),
b AS (SELECT x, ((x * 2654435761) % 1000000) / 1000000.0 AS u FROM s)
SELECT x, u AS r,
  CAST((x * 2654435761) % 100 + 1 AS INTEGER) AS ri,
  ['a','b','c'][CAST((x * 2654435761) % 3 AS INTEGER) + 1] AS sym,
  {zipf} AS zsym,
  TIMESTAMP '2024-01-01' + x * INTERVAL 1 MINUTE AS ts
FROM b
"""


GENERATE_SERIES_SQL = _gen_sql()


def _rnd_generators_spark_exprs() -> list[str]:
    """Spark-SQL renderings of the exact Column trees the sources.generators
    factories build for the rnd_generators query (same mix tags, literal
    values and cast order — see tests/test_generators.py which asserts the
    two routes are value-identical row for row). Built once at import; the
    query then plans through a single selectExpr instead of ~600 py4j
    Column-construction round-trips (~0.8 s/call driver-side)."""
    from .sources.generators import mix_sql

    def m(tag: int) -> str:
        return mix_sql("x", 0, tag)

    # rnd_symbol_weighted thresholds: replicate the factory's float loop
    # bit-for-bit (0.7+0.2 != 0.9 in IEEE; repr round-trips the double)
    weighted = {"hot": 0.7, "warm": 0.2, "cold": 0.1}
    total = sum(weighted.values())
    acc, cum = 0.0, []
    for sym, wt in weighted.items():
        acc += wt / total
        cum.append((sym, acc))
    w_expr = f"'{cum[-1][0]}'"
    u13 = f"(({m(13)}) % 1000000) / 1.0E6"
    for sym, c in reversed(cum[:-1]):
        w_expr = f"CASE WHEN {u13} < {c!r}D THEN '{sym}' ELSE {w_expr} END"

    u4 = (
        "concat_ws('-', substring(md5(CAST(x + 11 AS STRING)), 1, 8), "
        "substring(md5(CAST(x + 11 AS STRING)), 9, 4), "
        "concat('4', substring(md5(CAST(x + 11 AS STRING)), 14, 3)), "
        "concat('8', substring(md5(CAST(x + 11 AS STRING)), 18, 3)), "
        "substring(md5(CAST(x + 11 AS STRING)), 21, 12))"
    )
    gh = "concat('', " + ", ".join(
        f"substring('{generators._GEO_ALPHABET}', "
        f"CAST(({m(20 + i)}) % 32 + 1 AS INT), 1)"
        for i in range(6)
    ) + ")"
    dec_digits = (
        f"concat('', lpad(CAST(({m(30)}) % 1000000000 AS STRING), 9, '0'), "
        f"lpad(CAST(({m(39)}) % 1000 AS STRING), 3, '0'))"
    )
    ipsub = f"(169082880 + ({m(70)}) % 65536)"
    ipsub_v = (
        f"concat_ws('.', CAST(CAST(FLOOR({ipsub} / 16777216) AS INT) AS STRING), "
        f"CAST(CAST(FLOOR({ipsub} / 65536) % 256 AS INT) AS STRING), "
        f"CAST(CAST(FLOOR({ipsub} / 256) % 256 AS INT) AS STRING), "
        f"CAST(CAST({ipsub} % 256 AS INT) AS STRING))"
    )
    uts = "unix_timestamp(CAST('{0}' AS TIMESTAMP))"
    return [
        "x",
        f"({m(1)}) % 2 = 0 AS `b`",
        f"CAST(({m(2)}) % 128 AS TINYINT) AS `by`",
        f"CAST(({m(3)}) % 32768 AS SMALLINT) AS `sh`",
        f"CAST((({m(4)}) % 1001) + -500 AS BIGINT) AS `lg`",
        f"CAST((({m(5)}) % 1000000) / 1.0E6 AS FLOAT) AS `fl`",
        f"char(({m(6)}) % 26 + 65) AS `ch`",
        f"CASE WHEN ({m(8)}) % 10 = 0 THEN NULL "
        f"ELSE substring(md5(CAST(x + 0 AS STRING)), 1, "
        f"CAST((({m(7)}) % 6) + 3 AS INT)) END AS `s`",
        f"{u4} AS `u4`",
        f"concat_ws('.', CAST(({m(9)}) % 256 AS STRING), "
        f"CAST(FLOOR(({m(9)}) / 256) % 256 AS STRING), "
        f"CAST(FLOOR(({m(9)}) / 65536) % 256 AS STRING), "
        f"CAST((FLOOR(({m(9)}) / 16777216) % 128) + 1 AS STRING)) AS `ip`",
        f"{gh} AS `gh`",
        "concat('0x', md5(CAST(x + 1 AS STRING)), md5(CAST(x + 2 AS STRING))) AS `l256`",
        f"hex(unhex(substring(repeat(md5(CAST(x + 0 AS STRING)), 2), 1, "
        f"CAST((({m(10)}) % 7) + 2 AS INT) * 2))) AS `bin_hex`",
        # QuestDB DATE is epoch millis (ColumnType DATE → timestamp in the
        # engine's type map); surfaced as midnight timestamps
        f"CAST(date_add(CAST('2024-01-01' AS DATE), CAST(({m(11)}) % "
        f"(datediff(CAST('2024-03-31' AS DATE), CAST('2024-01-01' AS DATE)) + 1) "
        f"AS INT)) AS TIMESTAMP) AS `d`",
        f"timestamp_seconds({uts.format('2024-01-01')} + ({m(12)}) % "
        f"({uts.format('2024-01-08')} - {uts.format('2024-01-01')})) AS `t`",
        f"{w_expr} AS `w`",
        # surfaced as double for the cross-engine hash (pandas reprs a Spark
        # DECIMAL as Decimal, DuckDB's as float; the 12-digit value is
        # double-exact so the cast loses nothing)
        f"CAST(CAST(concat(substring({dec_digits}, 1, 10), '.', "
        f"substring({dec_digits}, 11, 2)) AS DECIMAL(12,2)) AS DOUBLE) AS `dec`",
        # r4 breadth: range (*CC), null-rate, subnet, pool and nano forms
        f"CAST((({m(60)}) % 41) + 10 AS TINYINT) AS `by2`",
        f"CAST((({m(61)}) % 201) + -100 AS SMALLINT) AS `sh2`",
        # nullable numerics surface as DOUBLE: pandas' NaN carrier turns a
        # nullable int into float64 anyway, so pin the type on BOTH sides
        f"CAST(CASE WHEN ({m(63)}) % 7 = 0 THEN NULL "
        f"ELSE CAST((({m(62)}) % 41) + -20 AS INT) END AS DOUBLE) AS `in2`",
        f"CAST(CASE WHEN ({m(65)}) % 9 = 0 THEN NULL "
        f"ELSE CAST((({m(64)}) % 1000000000) + 0 AS BIGINT) END AS DOUBLE) AS `lg2`",
        f"CASE WHEN ({m(67)}) % 5 = 0 THEN NULL "
        f"ELSE (({m(66)}) % 1000000) / 1.0E6 END AS `dbl`",
        f"CASE WHEN ({m(69)}) % 6 = 0 THEN NULL "
        f"ELSE CAST((({m(68)}) % 1000000) / 1.0E6 AS FLOAT) END AS `fl2`",
        f"CASE WHEN ({m(71)}) % 8 = 0 THEN NULL ELSE {ipsub_v} END AS `ipsub`",
        f"CASE WHEN ({m(72)}) % 4 = 0 THEN NULL ELSE {u4} END AS `u2`",
        f"concat('0x', md5(concat('l256a:', CAST(({m(73)}) % 5 AS STRING))), "
        f"md5(concat('l256b:', CAST(({m(73)}) % 5 AS STRING)))) AS `l256n`",
        f"({uts.format('2024-01-01')} + ({m(74)}) % "
        f"({uts.format('2024-01-02')} - {uts.format('2024-01-01')})) "
        f"* 1000000000 + ({m(75)}) % 1000000000 AS `tn`",
        "element_at(array('aaa', 'bb', 'c'), "
        "CAST(((x + 0) * 2654435761 % 3) + 1 AS INT)) AS `sl`",
    ]


_RND_GENERATORS_SPARK_EXPRS = _rnd_generators_spark_exprs()


def rnd_generators(spark: SparkSession, sf: str) -> DataFrame:
    """rnd_* factory breadth (functions/rnd/, 47 factories in the
    reference): boolean/byte/short/long/float/char/str/varchar/uuid4/ipv4/
    geohash/long256/bin/date/timestamp/weighted-symbol, all deterministic
    functions of the row index so the DuckDB oracle reproduces every value
    exactly. The same generators power `rnd_frame` fixtures
    (AbstractCairoTest pattern, tests/test_generators.py, which also pins
    this selectExpr form value-identical to the Column-API factories)."""
    base = generators.long_sequence(spark, 1000)
    return base.selectExpr(*_RND_GENERATORS_SPARK_EXPRS)


def _rnd_generators_sql() -> str:
    from .sources.generators import mix_sql

    def m(tag: int) -> str:
        return mix_sql("x", 0, tag)

    cum = [0.7, 0.9]  # weighted-symbol thresholds (total 1.0)
    geo = " || ".join(
        f"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST({m(20 + i)} % 32 + 1 AS INTEGER), 1)"
        for i in range(6)
    )
    return f"""
WITH s AS (SELECT UNNEST(range(1, 1001)) AS x)
SELECT x,
  ({m(1)}) % 2 = 0 AS b,
  CAST(({m(2)}) % 128 AS TINYINT) AS by,
  CAST(({m(3)}) % 32768 AS SMALLINT) AS sh,
  CAST(({m(4)}) % 1001 - 500 AS BIGINT) AS lg,
  CAST(({m(5)}) % 1000000 / 1000000.0 AS FLOAT4) AS fl,
  chr(CAST(({m(6)}) % 26 + 65 AS INTEGER)) AS ch,
  CASE WHEN ({m(8)}) % 10 = 0 THEN NULL
       ELSE substr(md5(CAST(x AS VARCHAR)), 1, CAST(({m(7)}) % 6 + 3 AS INTEGER)) END AS s,
  concat_ws('-',
    substr(md5(CAST(x + 11 AS VARCHAR)), 1, 8),
    substr(md5(CAST(x + 11 AS VARCHAR)), 9, 4),
    '4' || substr(md5(CAST(x + 11 AS VARCHAR)), 14, 3),
    '8' || substr(md5(CAST(x + 11 AS VARCHAR)), 18, 3),
    substr(md5(CAST(x + 11 AS VARCHAR)), 21, 12)) AS u4,
  CAST(({m(9)}) % 256 AS VARCHAR) || '.' ||
    CAST(({m(9)}) // 256 % 256 AS VARCHAR) || '.' ||
    CAST(({m(9)}) // 65536 % 256 AS VARCHAR) || '.' ||
    CAST(({m(9)}) // 16777216 % 128 + 1 AS VARCHAR) AS ip,
  {geo} AS gh,
  '0x' || md5(CAST(x + 1 AS VARCHAR)) || md5(CAST(x + 2 AS VARCHAR)) AS l256,
  upper(substr(repeat(md5(CAST(x AS VARCHAR)), 2), 1, CAST(({m(10)}) % 7 + 2 AS INTEGER) * 2)) AS bin_hex,
  CAST(DATE '2024-01-01' + CAST(({m(11)}) % 91 AS INTEGER) AS TIMESTAMP) AS d,
  TIMESTAMP '2024-01-01' + INTERVAL (CAST(({m(12)}) % 604800 AS BIGINT)) SECOND AS t,
  CASE WHEN ({m(13)}) % 1000000 / 1000000.0 < {cum[0]!r} THEN 'hot'
       WHEN ({m(13)}) % 1000000 / 1000000.0 < {cum[1]!r} THEN 'warm'
       ELSE 'cold' END AS w,
  CAST(substr(lpad(CAST(({m(30)}) % 1000000000 AS VARCHAR), 9, '0')
           || lpad(CAST(({m(39)}) % 1000 AS VARCHAR), 3, '0'), 1, 10)
    || '.' ||
    substr(lpad(CAST(({m(30)}) % 1000000000 AS VARCHAR), 9, '0')
           || lpad(CAST(({m(39)}) % 1000 AS VARCHAR), 3, '0'), 11, 2)
    AS DOUBLE) AS dec,
  CAST(({m(60)}) % 41 + 10 AS TINYINT) AS by2,
  CAST(({m(61)}) % 201 - 100 AS SMALLINT) AS sh2,
  CASE WHEN ({m(63)}) % 7 = 0 THEN NULL
       ELSE CAST(({m(62)}) % 41 - 20 AS DOUBLE) END AS in2,
  CASE WHEN ({m(65)}) % 9 = 0 THEN NULL
       ELSE CAST(({m(64)}) % 1000000000 AS DOUBLE) END AS lg2,
  CASE WHEN ({m(67)}) % 5 = 0 THEN NULL
       ELSE ({m(66)}) % 1000000 / 1000000.0 END AS dbl,
  CASE WHEN ({m(69)}) % 6 = 0 THEN NULL
       ELSE CAST(({m(68)}) % 1000000 / 1000000.0 AS FLOAT4) END AS fl2,
  CASE WHEN ({m(71)}) % 8 = 0 THEN NULL
       ELSE CAST((169082880 + ({m(70)}) % 65536) // 16777216 AS VARCHAR) || '.' ||
            CAST((169082880 + ({m(70)}) % 65536) // 65536 % 256 AS VARCHAR) || '.' ||
            CAST((169082880 + ({m(70)}) % 65536) // 256 % 256 AS VARCHAR) || '.' ||
            CAST((169082880 + ({m(70)}) % 65536) % 256 AS VARCHAR) END AS ipsub,
  CASE WHEN ({m(72)}) % 4 = 0 THEN NULL
       ELSE concat_ws('-',
         substr(md5(CAST(x + 11 AS VARCHAR)), 1, 8),
         substr(md5(CAST(x + 11 AS VARCHAR)), 9, 4),
         '4' || substr(md5(CAST(x + 11 AS VARCHAR)), 14, 3),
         '8' || substr(md5(CAST(x + 11 AS VARCHAR)), 18, 3),
         substr(md5(CAST(x + 11 AS VARCHAR)), 21, 12)) END AS u2,
  '0x' || md5('l256a:' || CAST(({m(73)}) % 5 AS VARCHAR))
       || md5('l256b:' || CAST(({m(73)}) % 5 AS VARCHAR)) AS l256n,
  CAST((1704067200 + ({m(74)}) % 86400) AS BIGINT) * 1000000000
       + ({m(75)}) % 1000000000 AS tn,
  list_extract(['aaa','bb','c'], CAST((x * 2654435761) % 3 + 1 AS INTEGER)) AS sl
FROM s
"""


RND_GENERATORS_SQL = _rnd_generators_sql()


_SQL_RND_MACROS_QUERY = """select x,
  rnd_char() ch,
  rnd_byte(10, 20) byr,
  rnd_short() sh2,
  rnd_float() fl,
  rnd_str(3, 8) s1,
  rnd_str(3, 8, 4) s2,
  rnd_uuid4() u,
  rnd_ipv4() ip,
  rnd_geohash(30) gh,
  hex(rnd_bin(4, 8)) bh,
  rnd_long256() l256,
  round(rnd_log(2.0), 6) lg,
  cast(rnd_date('2020-01-01', '2020-12-30') as timestamp) d,
  rnd_timestamp('2020-01-01', '2020-06-01') t
from long_sequence(500)"""


def sql_rnd_macros(spark: SparkSession, sf: str) -> DataFrame:
    """The SQL-callable rnd_* macro surface (r5: 47-factory completion —
    char/byte-range/short/float/str/uuid4/ipv4/geohash/bin/long256/log/
    date/timestamp now callable from SQL text, ``functions/rnd/``).
    Every draw is a deterministic mix of the row index with a per-call-site
    tag, so the DuckDB oracle replays the identical formulas."""
    from .sqlfront.engine import QdbEngine

    return QdbEngine(spark).sql(_SQL_RND_MACROS_QUERY)


def _sql_rnd_macros_sql() -> str:
    from .sources.generators import mix_sql

    def m(tag: int) -> str:
        # twin of engine._rnd_sql: per-site stride multiplier on x
        return mix_sql(f"(x * {2 * tag + 1})", 0, tag)

    # call sites get tags 100, 116, 132, ... in textual order
    # (engine._expand_fn_macros stride 16)
    t = {
        name: 100 + 16 * i
        for i, name in enumerate(
            ["ch", "byr", "sh2", "fl", "s1", "s2", "u", "ip",
             "gh", "bh", "l256", "lg", "d", "ts"]
        )
    }
    geo = " || ".join(
        f"substr('0123456789bcdefghjkmnpqrstuvwxyz', "
        f"CAST(({m(t['gh'] + i)}) % 32 + 1 AS INTEGER), 1)"
        for i in range(6)
    )
    uh = f"md5(CAST(({m(t['u'])}) AS VARCHAR))"
    span_s = 152 * 86400  # 2020-01-01 .. 2020-06-01 in seconds
    return f"""
WITH s AS (SELECT UNNEST(range(1, 501)) AS x)
SELECT x,
  chr(CAST(({m(t['ch'])}) % 26 + 65 AS INTEGER)) AS ch,
  CAST(({m(t['byr'])}) % 11 + 10 AS TINYINT) AS byr,
  CAST(({m(t['sh2'])}) % 32768 AS SMALLINT) AS sh2,
  CAST(({m(t['fl'])}) % 1000000 / 1000000.0 AS FLOAT4) AS fl,
  substr(md5(CAST(({m(t['s1'] + 1)}) AS VARCHAR)), 1,
         CAST(({m(t['s1'])}) % 6 + 3 AS INTEGER)) AS s1,
  CASE WHEN ({m(t['s2'] + 2)}) % 4 = 0 THEN NULL
       ELSE substr(md5(CAST(({m(t['s2'] + 1)}) AS VARCHAR)), 1,
                   CAST(({m(t['s2'])}) % 6 + 3 AS INTEGER)) END AS s2,
  concat_ws('-', substr({uh}, 1, 8), substr({uh}, 9, 4),
    '4' || substr({uh}, 14, 3), '8' || substr({uh}, 18, 3),
    substr({uh}, 21, 12)) AS u,
  CAST(({m(t['ip'])}) % 256 AS VARCHAR) || '.' ||
    CAST(({m(t['ip'])}) // 256 % 256 AS VARCHAR) || '.' ||
    CAST(({m(t['ip'])}) // 65536 % 256 AS VARCHAR) || '.' ||
    CAST(({m(t['ip'])}) // 16777216 % 128 + 1 AS VARCHAR) AS ip,
  {geo} AS gh,
  upper(substr(repeat(md5(CAST(({m(t['bh'] + 1)}) AS VARCHAR)), 2), 1,
               CAST(({m(t['bh'])}) % 5 + 4 AS INTEGER) * 2)) AS bh,
  '0x' || md5(CAST(({m(t['l256'])}) AS VARCHAR))
       || md5(CAST(({m(t['l256'] + 1)}) AS VARCHAR)) AS l256,
  round(-2.0 * ln((({m(t['lg'])}) % 1000000 + 1) / 1000000.0), 6) AS lg,
  CAST(DATE '2020-01-01' + CAST(({m(t['d'])}) % 365 AS INTEGER) AS TIMESTAMP) AS d,
  make_timestamp(epoch_us(TIMESTAMP '2020-01-01')
                 + (({m(t['ts'])}) % {span_s}) * 1000000) AS t
FROM s
"""


SQL_RND_MACROS_SQL = _sql_rnd_macros_sql()


# --------------------------------------------------------------------------
# Aggregate long tail: haversine, sparkline, union harmonization
# --------------------------------------------------------------------------

def haversine_paths(spark: SparkSession, sf: str) -> DataFrame:
    """haversine_dist_deg aggregate (QuestDB
    functions/groupby/HaversineDistDegree...): per-user great-circle path
    over synthetic coordinates, segments summed exactly via decimal."""
    from .functions.misc_aggs import haversine_dist_deg

    ev = load_table(spark, sf, "events")
    lat = F.col("value") % 180.0 - 90.0
    lon = (F.col("value") * 2.0) % 360.0 - 180.0
    base = ev.select("user_id", "ts", "event_id", lat.alias("lat"), lon.alias("lon"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = haversine_dist_deg(
        F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
    )
    return (
        base.withColumn("__seg", seg.cast("decimal(30,6)"))
        .groupBy("user_id")
        .agg(
            F.sum("__seg").cast("decimal(20,6)").cast("double").alias("path_km"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


HAVERSINE_SQL = """
WITH base AS (
  SELECT user_id, ts, event_id,
    (value % 180.0) - 90.0 AS lat, ((value * 2.0) % 360.0) - 180.0 AS lon
  FROM events
),
lagged AS (
  SELECT user_id, lat, lon,
    LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
  CAST(CAST(SUM(CAST(
    2 * 6371.0 * ASIN(SQRT(
      SIN(RADIANS(lat - plat) / 2) * SIN(RADIANS(lat - plat) / 2)
      + COS(RADIANS(plat)) * COS(RADIANS(lat))
        * SIN(RADIANS(lon - plon) / 2) * SIN(RADIANS(lon - plon) / 2)
    )) AS DECIMAL(30,6))) AS DECIMAL(20,6)) AS DOUBLE) AS path_km,
  COUNT(*) AS n_points
FROM lagged GROUP BY user_id
"""


def sparkline_daily(spark: SparkSession, sf: str) -> DataFrame:
    """sparkline() (QuestDB functions/groupby/Sparkline...): unicode chart
    of daily event counts per type."""
    from .functions.misc_aggs import sparkline
    from .operators.sample_by import bucket_col

    ev = load_table(spark, sf, "events")
    daily = (
        ev.withColumn("d", bucket_col(F.col("ts"), "1d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("d"), F.col("n")))
        ).alias("__s")
    ).select(
        "event_type",
        sparkline(F.transform(F.col("__s"), lambda s: s["n"])).alias("chart"),
    )
    return series


SPARKLINE_SQL = """
WITH daily AS (
  SELECT event_type, time_bucket(INTERVAL 1 DAY, ts) AS d,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2
),
series AS (
  SELECT event_type, list(n ORDER BY d) AS s FROM daily GROUP BY event_type
),
lv AS (
  SELECT event_type, s, list_min(s) AS lo,
    CASE WHEN list_max(s) > list_min(s) THEN list_max(s) - list_min(s) ELSE 1.0 END AS span
  FROM series
)
SELECT event_type,
  list_aggr(list_transform(s, v ->
    array_extract('▁▂▃▄▅▆▇█', LEAST(CAST(FLOOR((v - lo) / span * 8) AS INTEGER), 7) + 1)
  ), 'string_agg', '') AS chart
FROM lv
"""


def union_harmonize_types(spark: SparkSession, sf: str) -> DataFrame:
    """UNION implicit-cast harmonization (§2.7, UnionCastRecord): int keys
    vs double measures unify positionally to the wider type."""
    from .functions.misc_aggs import union_harmonized

    a = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("k"), F.col("n_name").alias("v")
    )
    b = load_table(spark, sf, "customer").select(
        F.col("c_acctbal").alias("k"), F.col("c_mktsegment").alias("v")
    )
    return union_harmonized(a, b)


UNION_CAST_SQL = """
SELECT CAST(n_nationkey AS DOUBLE) AS k, n_name AS v FROM nation
UNION ALL
SELECT c_acctbal AS k, c_mktsegment AS v FROM customer
"""


def uuid_long256_bin(spark: SparkSession, sf: str) -> DataFrame:
    """UUID / LONG256 / BINARY surface (ColumnType.java UUID/LONG256/BINARY,
    Long256Impl.java): deterministic uuid-v4 shape, 256-bit hex values with
    literal round-trip, binary hex import/export — all fixed-width string /
    BinaryType lowerings, so comparisons and joins stay JVM-native."""
    from .functions import uuid256 as u

    ev = load_table(spark, sf, "events").filter(F.col("event_id") < 200)
    l256 = u.long256_from(F.col("user_id"))
    lit = u.long256_to_literal(l256)
    payload = u.bin_from_hex(F.md5(F.col("user_id").cast("string")))
    return ev.select(
        "event_id",
        u.uuid_v4_from(F.col("user_id")).alias("uid"),
        l256.alias("l256"),
        lit.alias("l256_literal"),
        (u.long256_normalize(lit) == l256).alias("l256_roundtrip"),
        F.length(payload).alias("bin_len"),
        u.bin_to_hex(payload).alias("bin_hex"),
    )


def catalog_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Catalogue table functions (§2.8 catalogue/: tables(),
    table_columns(), table_partitions() — QuestDB meta functions): column
    metadata for the events table plus the partition listing of a
    day-partitioned TimeTable built over a fixed 5-day slice, so the
    output is SF-independent and literal-oracle-checkable."""
    import tempfile

    from .sources import catalog
    from .table import TimeTable

    ev = load_table(spark, sf, "events")
    ev.createOrReplaceTempView("events_cat")
    cols = catalog.table_columns(spark, "events_cat").select(
        F.lit("column").alias("kind"),
        F.col("column_name").alias("name"),
        F.lower(F.col("data_type")).alias("detail"),
    )
    path = tempfile.mkdtemp(prefix="qdb_cat_")
    t = TimeTable(spark, path, "ts", "day")
    t.write(ev.filter(in_interval(F.col("ts"), "2024-01-10;4d")))
    parts = catalog.table_partitions(spark, path).select(
        F.lit("partition").alias("kind"),
        F.col("partition").cast("string").alias("name"),
        F.lit("day").alias("detail"),
    )
    return cols.unionByName(parts)


CATALOG_FUNCTIONS_SQL = """
SELECT * FROM (VALUES
  ('column', 'event_id', 'bigint'),
  ('column', 'ts', 'timestamp'),
  ('column', 'user_id', 'bigint'),
  ('column', 'event_type', 'string'),
  ('column', 'value', 'double'),
  ('column', 'props', 'string'),
  ('partition', '2024-01-10', 'day'),
  ('partition', '2024-01-11', 'day'),
  ('partition', '2024-01-12', 'day'),
  ('partition', '2024-01-13', 'day'),
  ('partition', '2024-01-14', 'day')
) AS t(kind, name, detail)
"""


def cb_topk_users(spark: SparkSession, sf: str) -> DataFrame:
    """ClickBench shape (reference ClickBenchTest.java:42 compiles all 43):
    multi-aggregate top-K on a high-cardinality key with a LIKE filter —
    the hits-table workhorse pattern."""
    ev = load_table(spark, sf, "events")
    return (
        ev.filter(F.col("props").like("%k%"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("decimal(20,2)").cast("double").alias("sv"),
            F.countDistinct("event_type").alias("types"),
        )
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(10)
    )


CB_TOPK_USERS_SQL = """
SELECT user_id, COUNT(*) AS n,
  CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(20,2)) AS DOUBLE) AS sv,
  COUNT(DISTINCT event_type) AS types
FROM events WHERE props LIKE '%k%'
GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10
"""


def cb_regex_extract_group(spark: SparkSession, sf: str) -> DataFrame:
    """ClickBench shape: regexp extraction feeding a group-by (the
    URL-domain pattern), over documents.text."""
    docs = load_table(spark, sf, "documents")
    word = F.regexp_extract(F.col("text"), r"^(\w+)", 1)
    return (
        docs.select(word.alias("first_word"))
        .filter(F.col("first_word") != "")
        .groupBy("first_word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("first_word"))
        .limit(15)
    )


CB_REGEX_GROUP_SQL = r"""
SELECT regexp_extract(text, '^(\w+)', 1) AS first_word, COUNT(*) AS n
FROM documents
WHERE regexp_extract(text, '^(\w+)', 1) <> ''
GROUP BY 1 ORDER BY n DESC, first_word LIMIT 15
"""


def vwema_events(spark: SparkSession, sf: str) -> DataFrame:
    """Volume-weighted EMA per user (VwemaDoubleWindowFunctionFactory:
    ema(value·weight)/ema(weight)). Oracle: one recursive CTE advancing
    BOTH recurrences with the identical float expressions, so the ratio
    matches bit-for-bit like ema_events."""
    from .functions.window_extras import vwema

    ev = (
        load_table(spark, sf, "events")
        .select(
            "event_id", "user_id", "ts", "value",
            ((F.col("event_id") % 7 + 1).cast("double")).alias("w"),
        )
    )
    return vwema(ev, "ts", "value", "w", alpha=0.2, keys=["user_id"])


VWEMA_EVENTS_SQL = """
WITH RECURSIVE ordered AS (
  SELECT event_id, user_id, ts, value, CAST(event_id % 7 + 1 AS DOUBLE) AS w,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events
),
rec(event_id, user_id, ts, value, w, ev, ew, rn) AS (
  SELECT event_id, user_id, ts, value, w, value * w, w, rn FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.event_id, o.user_id, o.ts, o.value, o.w,
         CASE WHEN o.value * o.w = r.ev THEN r.ev
              ELSE 0.2 * (o.value * o.w) + 0.8 * r.ev END,
         CASE WHEN o.w = r.ew THEN r.ew
              ELSE 0.2 * o.w + 0.8 * r.ew END, o.rn
  FROM ordered o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT event_id, user_id, ts, value, w, ev / ew AS vwema FROM rec
"""


def ilp_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ILP ingest end-to-end under the driver oracle: deterministic ILP
    text lines (tags, double/int fields, nano timestamps —
    ``cutlass/line/tcp/LineTcpParser.java:45``) are built, parsed with the
    pure-column parser, flattened to a table (auto-create schema
    inference), and aggregated; the oracle recomputes the same values from
    the generator arithmetic directly, so a parse error anywhere breaks
    the hash."""
    from .sources.generators import long_sequence, rnd_int, rnd_symbol
    from .sources.ilp import ilp_to_table, parse_ilp

    base = long_sequence(spark, 2000)
    x = F.col("x")
    dev = rnd_symbol(x, ["cpu0", "cpu1", "cpu2"])
    host = rnd_symbol(x, ["east", "west"], seed=5)
    usage = rnd_int(x, 0, 10000) / F.lit(100.0)
    cnt = rnd_int(x, 1, 50, seed=9)
    ts_ns = F.lit(1_704_067_200_000_000_000) + x * F.lit(1_000_000_000)
    line = F.concat(
        F.lit("metrics,dev="), dev, F.lit(",host="), host,
        F.lit(" usage="), usage.cast("string"),
        F.lit(",cnt="), cnt.cast("string"), F.lit("i "),
        ts_ns.cast("string"),
    )
    tbl = ilp_to_table(parse_ilp(base.select(line.alias("value"))), "metrics")
    return tbl.groupBy("dev", "host").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("usage").cast("decimal(12,2)")).cast("double").alias("sum_usage"),
        F.sum("cnt").alias("sum_cnt"),
        F.max("ts").alias("max_ts"),
    )


def _ilp_sql() -> str:
    mix = 2654435761
    return f"""
WITH s AS (SELECT UNNEST(range(1, 2001)) AS x),
v AS (
  SELECT x,
    ['cpu0','cpu1','cpu2'][CAST((x * {mix}) % 3 AS INTEGER) + 1] AS dev,
    ['east','west'][CAST(((x + 5) * {mix}) % 2 AS INTEGER) + 1] AS host,
    ((x * {mix}) % 10001) / 100.0 AS usage,
    ((x + 9) * {mix}) % 50 + 1 AS cnt,
    TIMESTAMP '2024-01-01' + INTERVAL (x) SECOND AS ts
  FROM s
)
SELECT dev, host, COUNT(*) AS n,
  CAST(SUM(CAST(usage AS DECIMAL(12,2))) AS DOUBLE) AS sum_usage,
  CAST(SUM(cnt) AS BIGINT) AS sum_cnt, MAX(ts) AS max_ts
FROM v GROUP BY dev, host
"""


ILP_ROUNDTRIP_SQL = _ilp_sql()


def cast_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Implicit/explicit cast-matrix edges Spark's own coercion does not
    cover (reference ``functions/cast/``, 247 factories): LONG256
    arithmetic (``AddLong256FunctionFactory``) and narrowing casts
    (``CastLong256To{Long,Boolean}``), BIGINT→LONG256 widening, and
    string→geohash with base32 validation + bit-granularity truncation
    (``CastStrToGeoHashFunctionFactory``, geohash types sized in bits).
    One spark.sql text (replaces ~770 py4j round-trips of Column-tree
    build — r14).  Carry totals are staged as named CTE attributes so
    the text stays linear in limb count (the same rule as the decimal256
    staged divmod)."""
    ev = load_table(spark, sf, "events").filter(F.col("event_id") < 500)
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    limbs_a = ", ".join(
        f"CAST(conv(substring(ha, {8 * i + 1}, 8), 16, 10) AS BIGINT) AS a{i}"
        for i in range(8)
    )
    limbs_b = ", ".join(
        f"CAST(conv(substring(hb, {8 * i + 1}, 8), 16, 10) AS BIGINT) AS b{i}"
        for i in range(8)
    )
    # carry ripple least-significant limb (7) first; tot staged per CTE
    carry_ctes = []
    src = "parsed"
    for i in range(7, -1, -1):
        cin = (
            "CAST(0 AS BIGINT)"
            if i == 7
            else f"CAST(floor(t{i + 1} / 4294967296) AS BIGINT)"
        )
        carry_ctes.append(f"s{i} AS (SELECT *, (a{i} + b{i} + {cin}) AS t{i} FROM {src})")
        src = f"s{i}"
    hexcat = ", ".join(
        f"lower(lpad(hex(t{i} % 4294967296), 8, '0'))" for i in range(8)
    )
    gh_long = (
        "aggregate(filter(transform(split(substring(gh6, 1, 6), ''), "
        f"ch -> CASE WHEN ch != '' THEN instr('{b32}', ch) - 1 END), "
        "p -> p IS NOT NULL), CAST(0 AS BIGINT), (acc, p) -> acc * 32 + p)"
    )
    q = f"""
WITH base AS (
  SELECT event_id, user_id,
    concat(md5(CAST(user_id AS STRING)), md5(concat(CAST(user_id AS STRING), ':1'))) AS ha,
    concat(md5(CAST(event_id AS STRING)), md5(concat(CAST(event_id AS STRING), ':1'))) AS hb,
    lower(substring(md5(CAST(event_id AS STRING)), 1, 6)) AS g
  FROM {{inp}}
),
parsed AS (SELECT *, {limbs_a}, {limbs_b} FROM base),
{", ".join(carry_ctes)},
packed AS (
  SELECT *, concat({hexcat}) AS sum256,
    CASE WHEN g RLIKE '^[{b32}]{{{{6}}}}$' THEN g END AS gh6
  FROM s0
),
lowp AS (
  SELECT *, CAST(conv(substring(sum256, 49, 16), 16, 10) AS DECIMAL(20,0)) AS lowv
  FROM packed
)
SELECT event_id, sum256,
  CAST(CASE WHEN lowv >= CAST('9223372036854775808' AS DECIMAL(20,0))
            THEN lowv - CAST('18446744073709551616' AS DECIMAL(21,0))
            ELSE lowv END AS BIGINT) AS low_long,
  regexp_replace(sum256, '0', '') != '' AS nonzero,
  lpad(lower(hex(user_id)), 64, '0') AS from_long,
  gh6,
  CASE WHEN gh6 IS NOT NULL THEN shiftright({gh_long}, 3) END AS gh_bits27
FROM lowp
"""
    return spark.sql(q, inp=ev)


def _cast_matrix_sql() -> str:
    from .queries_pipeline import _sql_hex8

    def limbs(col: str, tag: str) -> str:
        return ", ".join(
            f"{_sql_hex8(col, 8 * i + 1)} AS {tag}{i}" for i in range(8)
        )

    # carry ripple via DuckDB lateral column aliases, least-significant first
    chain = []
    for i in range(7, -1, -1):
        cin = f" + c{i + 1}" if i < 7 else ""
        chain.append(f"a{i} + b{i}{cin} AS t{i}")
        chain.append(f"t{i} % 4294967296 AS l{i}")
        chain.append(f"t{i} // 4294967296 AS c{i}")
    hexcat = " || ".join(f"printf('%08x', l{i})" for i in range(8))
    g32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    gh_full = " + ".join(
        f"(strpos('{g32}', substr(gh6, {i + 1}, 1)) - 1) * {32 ** (5 - i)}"
        for i in range(6)
    )
    return f"""
WITH base AS (
  SELECT event_id, user_id,
         md5(CAST(user_id AS VARCHAR)) || md5(CAST(user_id AS VARCHAR) || ':1') AS ha,
         md5(CAST(event_id AS VARCHAR)) || md5(CAST(event_id AS VARCHAR) || ':1') AS hb,
         lower(substr(md5(CAST(event_id AS VARCHAR)), 1, 6)) AS g
  FROM events WHERE event_id < 500
),
parsed AS (SELECT *, {limbs('ha', 'a')}, {limbs('hb', 'b')} FROM base),
summed AS (SELECT *, {', '.join(chain)} FROM parsed),
packed AS (
  SELECT event_id, user_id, g, {hexcat} AS sum256 FROM summed
),
lowp AS (
  SELECT *,
    CAST({_sql_hex8('sum256', 49)} AS HUGEINT) * 4294967296
      + CAST({_sql_hex8('sum256', 57)} AS HUGEINT) AS lowu
  FROM packed
)
SELECT event_id, sum256,
  CAST(CASE WHEN lowu >= 9223372036854775808 THEN lowu - 18446744073709551616
            ELSE lowu END AS BIGINT) AS low_long,
  regexp_replace(sum256, '0', '', 'g') <> '' AS nonzero,
  lpad(lower(hex(user_id)), 64, '0') AS from_long,
  CASE WHEN regexp_matches(g, '^[{g32}]{{6}}$') THEN g END AS gh6,
  CASE WHEN regexp_matches(g, '^[{g32}]{{6}}$')
       THEN ({gh_full}) // 8 END AS gh_bits27
FROM lowp
"""


CAST_MATRIX_SQL = _cast_matrix_sql()


_UUID_VARIANT_SQL = (
    "substr('89ab', (strpos('0123456789abcdef', substr(m, 17, 1)) - 1) % 4 + 1, 1)"
)

UUID_LONG256_SQL = f"""
WITH base AS (
  SELECT event_id, md5(CAST(user_id AS VARCHAR)) AS m,
         md5(CAST(user_id AS VARCHAR)) || md5(CAST(user_id AS VARCHAR) || ':1') AS h
  FROM events WHERE event_id < 200
),
lit AS (
  SELECT *, '0x' || (CASE WHEN regexp_replace(h, '^0+', '') = '' THEN '0'
                          ELSE regexp_replace(h, '^0+', '') END) AS l256_literal
  FROM base
)
SELECT event_id,
  substr(m, 1, 8) || '-' || substr(m, 9, 4) || '-4' || substr(m, 14, 3)
    || '-' || {_UUID_VARIANT_SQL} || substr(m, 18, 3) || '-' || substr(m, 21, 12) AS uid,
  h AS l256,
  l256_literal,
  lpad(lower(regexp_replace(l256_literal, '^0[xX]', '')), 64, '0') = h AS l256_roundtrip,
  octet_length(from_hex(m)) AS bin_len,
  lower(hex(from_hex(m))) AS bin_hex
FROM lit
"""


def nanos_sample_by(spark: SparkSession, sf: str) -> DataFrame:
    """TIMESTAMP_NANO surface (ColumnType.java:149-150,
    NanosTimestampDriver.java): SAMPLE BY 6h computed entirely in epoch-nanos
    int64 arithmetic — truncation, diff and sub-second extraction never
    round-trip through doubles.

    Cross-engine note: the DuckDB oracle truncates parquet NANO timestamps
    to micros at scan (DuckDB 1.0 maps them to TIMESTAMP), so this entry
    feeds the nano kernel the micros-resolution column via ns_of() — both
    engines then see bit-identical inputs. The true sub-microsecond path
    (load_table_ns shadow column) is exercised in
    tests/test_operators.py::test_nanos_true_resolution against a pyarrow
    ground truth, which DOES see the raw nanos."""
    from .functions import nanos as N

    ev = load_table(spark, sf, "events")
    ns = N.ns_of(F.col("ts"))
    return (
        ev.select(N.ns_trunc(ns, 6, "h").alias("bucket_ns"), ns.alias("__ns"))
        .groupBy("bucket_ns")
        .agg(
            F.count("*").alias("n"),
            F.min("__ns").alias("first_ns"),
            F.max("__ns").alias("last_ns"),
            F.sum(N.subsec_ns(F.col("__ns"))).alias("subsec_sum"),
        )
        .select(
            "bucket_ns",
            N.ns_to_timestamp(F.col("bucket_ns")).alias("bucket_ts"),
            "n",
            "first_ns",
            "last_ns",
            N.ns_diff(F.col("last_ns"), F.col("first_ns")).alias("span_ns"),
            "subsec_sum",
        )
        .orderBy("bucket_ns")
    )


NANOS_SAMPLE_BY_SQL = """
WITH e AS (
  SELECT epoch_ns(ts) AS ns, epoch_ns(ts) - epoch_ns(ts) % 21600000000000 AS bucket_ns
  FROM events
)
SELECT bucket_ns,
  make_timestamp(bucket_ns // 1000) AS bucket_ts,
  COUNT(*) AS n,
  MIN(ns) AS first_ns,
  MAX(ns) AS last_ns,
  MAX(ns) - MIN(ns) AS span_ns,
  CAST(SUM(ns % 1000000000) AS BIGINT) AS subsec_sum
FROM e GROUP BY bucket_ns ORDER BY bucket_ns
"""


def count_star_fast(spark: SparkSession, sf: str) -> DataFrame:
    """count(*) fast path (CountRecordCursorFactory.java — QuestDB answers
    from table metadata without scanning): Spark answers from parquet
    row-group footers — the scan's ReadSchema is the empty struct, no data
    pages are decoded (asserted in tests/test_plans.py)."""
    li = load_table(spark, sf, "lineitem")
    ev = load_table(spark, sf, "events")
    return (
        li.groupBy().agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("lineitem").alias("tab"), "cnt")
        .unionAll(
            ev.groupBy().agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.lit("events").alias("tab"), "cnt")
        )
    )


COUNT_STAR_SQL = """
SELECT 'lineitem' AS tab, COUNT(*) AS cnt FROM lineitem
UNION ALL
SELECT 'events' AS tab, COUNT(*) AS cnt FROM events
"""


def bind_variables(spark: SparkSession, sf: str) -> DataFrame:
    """Bind variables (griffin/engine/functions/bind/*, PGwire extended
    protocol): parameterized SQL via spark.sql(sql, args) — named markers
    are bound server-side, the plan is built with the literals in place
    (same constant-folding benefits as QuestDB's bind variable cache)."""
    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(20,2))
                    AS DOUBLE) AS sum_price
        FROM orders
        WHERE o_orderdate >= :lo AND o_orderdate < :hi AND o_orderstatus = :st
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"lo": "1996-01-01", "hi": "1997-01-01", "st": "O"},
    )


BIND_VARIABLES_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(20,2))
            AS DOUBLE) AS sum_price
FROM orders
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01' AND o_orderstatus = 'O'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def decimal256_sum(spark: SparkSession, sf: str) -> DataFrame:
    """DECIMAL256 arithmetic past Spark's 38-digit cap
    (ColumnType.java:104-135, griffin/engine/functions/decimal/): per-row
    ~54-digit values built as base-10^18 limbs, exact group SUM via four
    map-side-combinable limb sums + one carry ripple, canonical digit
    string out.  Limb 0 is engineered near the 10^18 boundary so carries
    genuinely fire at every test scale.  Rendered as one ``spark.sql``
    to drop ~600 py4j round-trips of Column-tree build — r14."""
    from .functions import decimal256 as D

    li = load_table(spark, sf, "lineitem")
    cents = "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
    limb_exprs = [
        f"CAST(({cents} * 999983) % {D.LIMB_SQL} AS BIGINT)",
        f"CAST({cents} AS BIGINT)",
        "CAST(CAST(l_orderkey AS BIGINT) AS BIGINT)",
        "CAST(0 AS BIGINT)",
    ]
    rows_sel = ", ".join(f"{e} AS {f}" for e, f in zip(limb_exprs, D.FIELDS))
    sums_sel = ", ".join(
        f"sum(CAST({f} AS DECIMAL(38,0))) AS sum_{f}" for f in D.FIELDS
    )
    rippled = D.sql_ripple([f"sum_{f}" for f in D.FIELDS])
    out_sel = ", ".join(f"{e} AS {f}" for e, f in zip(rippled, D.FIELDS))
    q = f"""
WITH rows_w AS (SELECT l_returnflag, {rows_sel} FROM {{inp}}),
agg AS (
  SELECT l_returnflag, count(1) AS n, {sums_sel}
  FROM rows_w GROUP BY l_returnflag
)
SELECT l_returnflag, n, {out_sel},
       {D.sql_to_string_limbs(rippled)} AS wide_str
FROM agg ORDER BY l_returnflag
"""
    return spark.sql(q, inp=li)


DECIMAL256_SUM_SQL = """
WITH rows_w AS (
  SELECT l_returnflag,
    (CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 999983)
      % 1000000000000000000 AS w0,
    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS w1,
    l_orderkey AS w2
  FROM lineitem
),
s AS (
  SELECT l_returnflag, COUNT(*) AS n,
    SUM(CAST(w0 AS HUGEINT)) AS s0, SUM(CAST(w1 AS HUGEINT)) AS s1,
    SUM(CAST(w2 AS HUGEINT)) AS s2, CAST(0 AS HUGEINT) AS s3
  FROM rows_w GROUP BY l_returnflag
),
r AS (
  SELECT l_returnflag, n, s2,
    s0 % 1000000000000000000 AS l0,
    s1 + (s0 - s0 % 1000000000000000000) // 1000000000000000000 AS a1
  FROM s
),
r2 AS (
  SELECT l_returnflag, n, l0,
    a1 % 1000000000000000000 AS l1,
    s2 + (a1 - a1 % 1000000000000000000) // 1000000000000000000 AS a2
  FROM r
),
r3 AS (
  SELECT l_returnflag, n, l0, l1,
    a2 % 1000000000000000000 AS l2,
    (a2 - a2 % 1000000000000000000) // 1000000000000000000 AS l3
  FROM r2
)
SELECT l_returnflag, n,
  CAST(l0 AS BIGINT) AS l0, CAST(l1 AS BIGINT) AS l1,
  CAST(l2 AS BIGINT) AS l2, CAST(l3 AS BIGINT) AS l3,
  CASE WHEN ltrim(
         lpad(CAST(l3 AS VARCHAR), 18, '0') || lpad(CAST(l2 AS VARCHAR), 18, '0')
         || lpad(CAST(l1 AS VARCHAR), 18, '0') || lpad(CAST(l0 AS VARCHAR), 18, '0'),
         '0') = ''
       THEN '0'
       ELSE ltrim(
         lpad(CAST(l3 AS VARCHAR), 18, '0') || lpad(CAST(l2 AS VARCHAR), 18, '0')
         || lpad(CAST(l1 AS VARCHAR), 18, '0') || lpad(CAST(l0 AS VARCHAR), 18, '0'),
         '0')
  END AS wide_str
FROM r3 ORDER BY l_returnflag
"""


def decimal256_div(spark: SparkSession, sf: str) -> DataFrame:
    """DECIMAL256 divide/rescale (r6; griffin/engine/functions/math/
    decimal div families, ColumnType.java:104-135): schoolbook limb long
    division by a per-row divisor, exact remainder, and HALF_UP rescale
    by 10^20.  Values are built 2-limb (< 10^36) so DuckDB can verify
    with NATIVE HUGEINT division — an independent oracle, not a mirrored
    limb algorithm (the >36-digit range is covered by the Python-bigint
    pytest).  Rendered as ONE ``spark.sql`` statement: a Column-tree
    build cost 1216 py4j round-trips ≈ 0.5 s of the query's 2 s (r14
    profiling — the rnd_generators rule).  The narrow limb projection +
    cores-wide repartition stay as Columns and ride in as the template
    relation."""
    from .functions import decimal256 as D

    li = load_table(spark, sf, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long")
    w = D.wide(F.col("l_orderkey").cast("long"), cents)
    d = (F.col("l_partkey") % 97 + 3).cast("long")
    lcols = [f"L{i}" for i in range(D.N_LIMBS)]
    base = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        d.alias("d"),
        *[w[f].alias(c) for f, c in zip(D.FIELDS, lcols)],
    ).repartition(spark.sparkContext.defaultParallelism)

    dv_ctes, qs, rcol = D.sql_staged_divmod("{inp}", lcols, "d", "dv_")
    # quotient digits as NAMED attributes too: in TEXT form every reuse
    # re-embeds the expression literally, so unstaged quotients tripled
    # the statement size and the ANTLR parse ate the py4j saving
    # (0.35 s in one spark.sql call, measured) — CollapseProject inlines
    # the single-use aliases back, so the executed plan is unchanged
    qcols = [f"Q{i}" for i in range(D.N_LIMBS)]
    q_sel = ", ".join(f"{e} AS {c}" for e, c in zip(qs, qcols))
    # rescale by 10^20: whole-limb shift (k//18 = 1) then staged division
    # by 10^(k%18), HALF_UP bump from digit 19 of the original value
    k = 20
    m, rr = divmod(k, 18)
    shift = [f"S{i}" for i in range(D.N_LIMBS)]
    shift_sel = ", ".join(
        f"{lcols[i + m]} AS {s}" if i + m < D.N_LIMBS else f"CAST(0 AS BIGINT) AS {s}"
        for i, s in enumerate(shift)
    )
    rs_ctes, ss, _ = D.sql_staged_divmod("shifted", shift, f"CAST({10**rr} AS INT)", "rs_")
    tcols = [f"T{i}" for i in range(D.N_LIMBS)]
    dl, dp = divmod(k - 1, 18)
    bump = (
        f"CAST(CASE WHEN ({lcols[dl]} % {10 ** (dp + 1)}) >= {5 * 10**dp} "
        f"THEN 1 ELSE 0 END AS BIGINT)"
    )
    t_sel = ", ".join(
        [f"{e} AS {c}" for e, c in zip(ss, tcols)] + [f"{bump} AS BUMP"]
    )
    zero = "CAST(0 AS BIGINT)"
    rs_limbs = D.sql_add_limbs(tcols, ["BUMP", zero, zero, zero])
    ctes = ",\n".join(
        [f"{name} AS ({sel})" for name, sel in dv_ctes]
        + [
            f"qn AS (SELECT *, {q_sel}, CAST({rcol} AS BIGINT) AS RR"
            f" FROM {dv_ctes[-1][0]})",
            f"shifted AS (SELECT *, {shift_sel} FROM qn)",
        ]
        + [f"{name} AS ({sel})" for name, sel in rs_ctes]
        + [f"tn AS (SELECT *, {t_sel} FROM {rs_ctes[-1][0]})"]
    )
    q = f"""
WITH {ctes},
rows_t AS (
  SELECT okey, lineno, d,
         {D.sql_to_string_limbs(qcols)} AS q_str,
         RR AS r,
         {D.sql_to_string_limbs(rs_limbs)} AS rs_str
  FROM tn
)
SELECT d, CAST(count(1) AS BIGINT) AS n, CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(CAST(conv(substring(md5(concat_ws('|', okey, lineno, q_str, r, rs_str)), 1, 8), 16, 10) AS BIGINT)) AS BIGINT) AS sum_hash
FROM rows_t GROUP BY d ORDER BY d
"""
    return spark.sql(q, inp=base)


DECIMAL256_DIV_SQL = """
WITH b AS (
  SELECT l_orderkey AS okey, l_linenumber AS lineno,
    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS HUGEINT)
      * 1000000000000000000::HUGEINT + l_orderkey AS x,
    l_partkey % 97 + 3 AS d
  FROM lineitem
),
rws AS (
  SELECT okey, lineno, d,
    CAST(x // d AS VARCHAR) AS q_str,
    CAST(x % d AS BIGINT) AS r,
    CAST((x + 50000000000000000000::HUGEINT)
         // 100000000000000000000::HUGEINT AS VARCHAR) AS rs_str
  FROM b
)
SELECT d, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(r) AS BIGINT) AS sum_r,
  CAST(SUM((
    (strpos('0123456789abcdef', substr(md5(concat_ws('|', okey, lineno, q_str, r, rs_str)), 1, 1)) - 1) * 268435456
  + (strpos('0123456789abcdef', substr(md5(concat_ws('|', okey, lineno, q_str, r, rs_str)), 2, 1)) - 1) * 16777216
  + (strpos('0123456789abcdef', substr(md5(concat_ws('|', okey, lineno, q_str, r, rs_str)), 3, 1)) - 1) * 1048576
  + (strpos('0123456789abcdef', substr(md5(concat_ws('|', okey, lineno, q_str, r, rs_str)), 4, 1)) - 1) * 65536
  + (strpos('0123456789abcdef', substr(md5(concat_ws('|', okey, lineno, q_str, r, rs_str)), 5, 1)) - 1) * 4096
  + (strpos('0123456789abcdef', substr(md5(concat_ws('|', okey, lineno, q_str, r, rs_str)), 6, 1)) - 1) * 256
  + (strpos('0123456789abcdef', substr(md5(concat_ws('|', okey, lineno, q_str, r, rs_str)), 7, 1)) - 1) * 16
  + (strpos('0123456789abcdef', substr(md5(concat_ws('|', okey, lineno, q_str, r, rs_str)), 8, 1)) - 1)
  )) AS BIGINT) AS sum_hash
FROM rws
GROUP BY d
ORDER BY d
"""


def window_groups_exclude(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPS frames + EXCLUDE clauses (WindowExpression.java:47-55) over
    events: minute-truncated ts creates real peer groups per user.
    GROUPS is lowered to dense_rank+RANGE (its SQL definition); EXCLUDE
    variants are frame-subtraction identities with SQL-standard
    empty-frame NULLs — checked against DuckDB's NATIVE ``EXCLUDE``
    window clause.  Two fused window passes in one spark.sql text (one
    parse replaces ~570 py4j round-trips of Column-tree build — r14)."""
    ev = load_table(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.date_trunc("minute", F.col("ts")).alias("m"),
        dec2("value").alias("v"),
    )
    w = "PARTITION BY user_id ORDER BY __mm"
    rows_lo = f"OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    rows_hi = f"OVER ({w} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
    rng_lo = f"OVER ({w} RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    rng_hi = f"OVER ({w} RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
    dsum, dcnt, dmin = f"sum(v) {rows_lo}", f"count(v) {rows_lo}", f"min(v) {rows_lo}"
    esum, ecnt, emin = f"sum(v) {rows_hi}", f"count(v) {rows_hi}", f"min(v) {rows_hi}"
    fsum, fcnt, fmax = f"sum(v) {rng_lo}", f"count(v) {rng_lo}", f"max(v) {rng_lo}"
    gsum, gcnt, gmax = f"sum(v) {rng_hi}", f"count(v) {rng_hi}", f"max(v) {rng_hi}"
    grp1 = (
        "OVER (PARTITION BY user_id ORDER BY __grp "
        "RANGE BETWEEN 1 PRECEDING AND CURRENT ROW)"
    )

    def _dd(c: str, n: str) -> str:
        return f"CAST(CAST({c} AS DECIMAL(20,2)) AS DOUBLE) AS {n}"

    q = f"""
WITH b AS (SELECT *, unix_micros(m) AS __mm FROM {{inp}}),
p1 AS (
  SELECT event_id, user_id, m, v,
    dense_rank() OVER ({w}) AS __grp,
    CASE WHEN {dcnt} + {ecnt} > 0
         THEN coalesce({dsum}, 0) + coalesce({esum}, 0) END AS __ec,
    least({dmin}, {emin}) AS __mc,
    CASE WHEN {fcnt} + {gcnt} > 0
         THEN coalesce({fsum}, 0) + coalesce({gsum}, 0) END AS __eg,
    ({fcnt} + {gcnt}) AS __cg,
    CASE WHEN {fcnt} + {gcnt} + CAST(v IS NOT NULL AS BIGINT) > 0
         THEN coalesce({fsum}, 0) + coalesce({gsum}, 0) + coalesce(v, 0)
         END AS __et,
    greatest({fmax}, {gmax}, v) AS __mt
  FROM b
),
p2 AS (SELECT *, sum(v) {grp1} AS __g, min(v) {grp1} AS __gmin FROM p1)
SELECT event_id, user_id, m,
  {_dd("__g", "sum_groups")},
  {_dd("__ec", "sum_excl_cur")},
  {_dd("__eg", "sum_excl_grp")},
  {_dd("__et", "sum_excl_ties")},
  {_dd("__gmin", "min_groups")},
  {_dd("__mc", "min_excl_cur")},
  {_dd("__mt", "max_excl_ties")},
  CAST(__cg AS BIGINT) AS cnt_excl_grp
FROM p2
"""
    return spark.sql(q, inp=ev)


WINDOW_GROUPS_EXCLUDE_SQL = """
WITH base AS (
  SELECT event_id, user_id, date_trunc('minute', ts) AS m,
         CAST(value AS DECIMAL(12,2)) AS v
  FROM events
),
ranked AS (
  SELECT *, DENSE_RANK() OVER (PARTITION BY user_id ORDER BY m) AS grp FROM base
)
SELECT event_id, user_id, m,
  CAST(CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY grp
       RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS DECIMAL(20,2)) AS DOUBLE) AS sum_groups,
  CAST(CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY m
       RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       EXCLUDE CURRENT ROW) AS DECIMAL(20,2)) AS DOUBLE) AS sum_excl_cur,
  CAST(CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY m
       RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       EXCLUDE GROUP) AS DECIMAL(20,2)) AS DOUBLE) AS sum_excl_grp,
  CAST(CAST(SUM(v) OVER (PARTITION BY user_id ORDER BY m
       RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       EXCLUDE TIES) AS DECIMAL(20,2)) AS DOUBLE) AS sum_excl_ties,
  CAST(CAST(MIN(v) OVER (PARTITION BY user_id ORDER BY grp
       RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS DECIMAL(20,2)) AS DOUBLE)
       AS min_groups,
  CAST(CAST(MIN(v) OVER (PARTITION BY user_id ORDER BY m
       RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       EXCLUDE CURRENT ROW) AS DECIMAL(20,2)) AS DOUBLE) AS min_excl_cur,
  CAST(CAST(MAX(v) OVER (PARTITION BY user_id ORDER BY m
       RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       EXCLUDE TIES) AS DECIMAL(20,2)) AS DOUBLE) AS max_excl_ties,
  COUNT(v) OVER (PARTITION BY user_id ORDER BY m
       RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       EXCLUDE GROUP) AS cnt_excl_grp
FROM ranked
"""


def regr_bit_aggs(spark: SparkSession, sf: str) -> DataFrame:
    """Aggregate long tail: linear regression (RegressionSlope/Intercept/
    R2FunctionFactory.java, AbstractRegressionGroupByFunction.java),
    bit_and/bit_or/bit_xor (BitAndLongGroupByFunction.java family),
    string_distinct_agg (StringDistinctAggGroupByFunction.java),
    frequency-weighted stddev (AbstractWeightedStdDevGroupByFunction.java),
    isOrdered (functions/groupby IsOrdered*).  All moments are exact
    decimal sums, so the final double expressions are bit-identical
    across engines; bit/string aggs are exact by construction.  One
    spark.sql text (replaces ~650 py4j round-trips of Column-tree build
    — r14)."""
    li = load_table(spark, sf, "lineitem")
    x = "CAST(l_quantity AS DECIMAL(12,2))"
    y = "CAST(l_extendedprice AS DECIMAL(12,2))"
    w = "CAST(l_linenumber AS BIGINT)"
    wd = f"CAST({w} AS DECIMAL(3,0))"

    def _dbl(c: str, s: int) -> str:
        return f"CAST(CAST(round({c}, {s}) AS DECIMAL(20,{s})) AS DOUBLE)"

    n = "CAST(n AS DOUBLE)"
    sx, sy = _dbl("_sx", 2), _dbl("_sy", 2)
    sxx, syy, sxy = _dbl("_sxx", 0), _dbl("_syy", 0), _dbl("_sxy", 0)
    sw = "CAST(_sw AS DOUBLE)"
    swy, swyy = _dbl("_swy", 2), _dbl("_swyy", 0)
    slope = f"(({n} * {sxy} - {sx} * {sy}) / ({n} * {sxx} - {sx} * {sx}))"
    r2 = (
        f"((({n} * {sxy} - {sx} * {sy}) * ({n} * {sxy} - {sx} * {sy})) / "
        f"(({n} * {sxx} - {sx} * {sx}) * ({n} * {syy} - {sy} * {sy})))"
    )
    wvar = f"(({swyy} - {swy} * {swy} / {sw}) / ({sw} - 1.0D))"
    q = f"""
WITH base AS (
  SELECT *, coalesce(l_shipdate >= lag(l_shipdate) OVER (
      PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber), true) AS __ord
  FROM {{inp}}
),
g AS (
  SELECT l_returnflag,
    count(1) AS n,
    sum({x}) AS _sx,
    sum({y}) AS _sy,
    sum(CAST({x} * {x} AS DECIMAL(25,4))) AS _sxx,
    sum(CAST({y} * {y} AS DECIMAL(25,4))) AS _syy,
    sum(CAST({x} * {y} AS DECIMAL(25,4))) AS _sxy,
    sum({w}) AS _sw,
    sum(CAST({y} * {wd} AS DECIMAL(25,2))) AS _swy,
    sum(CAST(CAST({y} * {y} AS DECIMAL(25,4)) * {wd} AS DECIMAL(30,4))) AS _swyy,
    bit_and(l_partkey) AS band_part,
    bit_or(l_partkey) AS bor_part,
    bit_xor(l_partkey) AS bxor_part,
    array_join(array_sort(collect_set(l_linestatus)), ',') AS distinct_status,
    bool_and(__ord) AS is_ordered_shipdate
  FROM base GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  {slope} AS regr_slope_pq,
  (({sy} - {slope} * {sx}) / {n}) AS regr_intercept_pq,
  {r2} AS regr_r2_pq,
  sqrt({wvar}) AS wstddev_price,
  band_part, bor_part, bxor_part, distinct_status, is_ordered_shipdate
FROM g
"""
    return spark.sql(q, inp=li)


REGR_BIT_AGGS_SQL = f"""
WITH base AS (
  SELECT *,
    COALESCE(l_shipdate >= LAG(l_shipdate) OVER (
      PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber), TRUE) AS o
  FROM lineitem
), g AS (
  SELECT l_returnflag, COUNT(*) AS n,
    {_sdbl("SUM(CAST(l_quantity AS DECIMAL(12,2)))", 2)} AS sx,
    {_sdbl("SUM(CAST(l_extendedprice AS DECIMAL(12,2)))", 2)} AS sy,
    {_sdbl("SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS DECIMAL(25,4)))", 0)} AS sxx,
    {_sdbl("SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(25,4)))", 0)} AS syy,
    {_sdbl("SUM(CAST(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(25,4)))", 0)} AS sxy,
    CAST(SUM(CAST(l_linenumber AS BIGINT)) AS DOUBLE) AS sw,
    {_sdbl("SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_linenumber AS DECIMAL(3,0)) AS DECIMAL(25,2)))", 2)} AS swy,
    {_sdbl("SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2)) AS DECIMAL(25,4)) * CAST(l_linenumber AS DECIMAL(3,0)) AS DECIMAL(30,4)))", 0)} AS swyy,
    BIT_AND(l_partkey) AS band_part,
    BIT_OR(l_partkey) AS bor_part,
    BIT_XOR(l_partkey) AS bxor_part,
    ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT l_linestatus)), ',') AS distinct_status,
    BOOL_AND(o) AS is_ordered_shipdate
  FROM base GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS regr_slope_pq,
  (sy - (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx) / CAST(n AS DOUBLE) AS regr_intercept_pq,
  ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
    / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS regr_r2_pq,
  SQRT((swyy - swy * swy / sw) / (sw - 1.0)) AS wstddev_price,
  band_part, bor_part, bxor_part, distinct_status, is_ordered_shipdate
FROM g
"""


def cb_referer_domains(spark: SparkSession, sf: str) -> DataFrame:
    """ClickBench shape (ClickBenchTest.java q28): regexp_replace-derived
    key, multi-agg, then a HAVING-style filter applied by an outer query
    over the derived relation."""
    docs = load_table(spark, sf, "documents")
    key = F.regexp_replace(F.col("text"), r"^(\w+)[\s\S]*$", "$1")
    inner = (
        docs.filter(F.col("text").isNotNull())
        .groupBy(key.alias("k"))
        .agg(
            (F.sum(F.length("text")) / F.count(F.lit(1))).alias("l"),
            F.count(F.lit(1)).alias("c"),
            F.min("source").alias("m"),
        )
    )
    return inner.filter(F.col("c") > 20).orderBy(
        F.desc("l"), F.asc("k")
    ).limit(25)


CB_REFERER_DOMAINS_SQL = r"""
SELECT * FROM (
  SELECT regexp_replace(text, '^(\w+)[\s\S]*$', '\1') AS k,
         SUM(length(text)) / COUNT(*) AS l, COUNT(*) AS c, MIN(source) AS m
  FROM documents WHERE text IS NOT NULL GROUP BY k
) WHERE c > 20 ORDER BY l DESC, k ASC LIMIT 25
"""


def cb_minute_groups(spark: SparkSession, sf: str) -> DataFrame:
    """ClickBench shape (q17): time-part extraction inside a multi-key
    group-by with a top-K tail."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            "user_id",
            F.minute("ts").alias("m"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("user_id"), F.asc("m"), F.asc("event_type"))
        .limit(10)
    )


CB_MINUTE_GROUPS_SQL = """
SELECT user_id, EXTRACT(minute FROM ts) AS m, event_type, COUNT(*) AS c
FROM events GROUP BY 1, 2, 3
ORDER BY c DESC, user_id ASC, m ASC, event_type ASC LIMIT 10
"""


def cb_wide_sums(spark: SparkSession, sf: str) -> DataFrame:
    """ClickBench shape (q29): many shifted SUM expressions in one
    aggregate — whole-stage-codegen expression breadth; exact decimals so
    every column hash-matches."""
    ev = load_table(spark, sf, "events")
    base = F.col("value").cast("decimal(12,2)")
    return ev.agg(
        *[
            F.sum(base + F.lit(i))
            .cast("decimal(24,2)")
            .cast("double")
            .alias(f"s{i}")
            for i in range(10)
        ]
    )


CB_WIDE_SUMS_SQL = " ".join(
    ["SELECT"]
    + [
        ", ".join(
            f"CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)) + {i}) AS DECIMAL(24,2)) AS DOUBLE) AS s{i}"
            for i in range(10)
        )
    ]
    + ["FROM events"]
)


def cb_expr_group_pagination(spark: SparkSession, sf: str) -> DataFrame:
    """ClickBench shapes q36 + q41 (ClickBenchTest.java:662,711):
    expression GROUP BY keys (``ClientIP, ClientIP - 1, ...``) combined
    with deep ``LIMIT offset, count`` pagination after an ORDER BY — the
    TakeOrderedAndProject path must carry the offset."""
    from .sqlfront.engine import QdbEngine

    eng = QdbEngine(spark)
    eng.register("events", load_table(spark, sf, "events"), designated_ts="ts")
    return eng.sql(
        "SELECT user_id, user_id - 1 AS u1, user_id - 2 AS u2, "
        "count(*) AS c "
        "FROM events GROUP BY user_id, user_id - 1, user_id - 2 "
        "ORDER BY c DESC, user_id ASC LIMIT 10, 25"
    )


CB_EXPR_GROUP_SQL = """
SELECT user_id, user_id - 1 AS u1, user_id - 2 AS u2, COUNT(*) AS c
FROM events GROUP BY user_id, user_id - 1, user_id - 2
ORDER BY c DESC, user_id ASC LIMIT 15 OFFSET 10
"""


def cb_case_group_sample(spark: SparkSession, sf: str) -> DataFrame:
    """ClickBench shapes q38 + q43 (ClickBenchTest.java:727,778): a CASE
    expression as a GROUP BY key, then the SAMPLE BY 1h ALIGN TO CALENDAR
    + ORDER + offset-LIMIT time-series form."""
    from .sqlfront.engine import QdbEngine

    eng = QdbEngine(spark)
    eng.register("events", load_table(spark, sf, "events"), designated_ts="ts")
    part1 = eng.sql(
        "SELECT CASE WHEN value < 25 THEN 'low' WHEN value < 75 THEN 'mid' "
        "ELSE 'high' END AS src, event_type, count(*) AS n "
        "FROM events GROUP BY src, event_type ORDER BY n DESC, src, event_type"
    )
    part2 = eng.sql(
        "SELECT ts AS m, count(*) AS pv FROM events "
        "WHERE event_type = 'view' SAMPLE BY 1h ALIGN TO CALENDAR "
        "ORDER BY m LIMIT 5, 29"
    )
    return part1.selectExpr(
        "src AS k1", "event_type AS k2", "n", "CAST(NULL AS TIMESTAMP) AS m"
    ).unionByName(
        part2.selectExpr("'__ts' AS k1", "'bucket' AS k2", "pv AS n", "m")
    )


CB_CASE_GROUP_SQL = """
WITH part1 AS (
  SELECT CASE WHEN value < 25 THEN 'low' WHEN value < 75 THEN 'mid'
         ELSE 'high' END AS src, event_type, COUNT(*) AS n
  FROM events GROUP BY src, event_type
),
part2 AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS m, COUNT(*) AS pv
  FROM events WHERE event_type = 'view' GROUP BY 1
  ORDER BY m LIMIT 24 OFFSET 5
)
SELECT src AS k1, event_type AS k2, n, CAST(NULL AS TIMESTAMP) AS m FROM part1
UNION ALL
SELECT '__ts' AS k1, 'bucket' AS k2, pv AS n, m FROM part2
"""


def array_ops2(spark: SparkSession, sf: str) -> DataFrame:
    """Array long-tail surface (griffin/engine/functions/array/):
    array_sort asc/desc (DoubleArraySort[Desc]FunctionFactory),
    array_stddev_samp/pop, shift ± with default (DoubleArrayShift*),
    round(D[]I), array_reverse, array_position, array_count,
    insertion_point after-equal, unary neg / scalar∘array forms, and the
    2-D ops dim_length / flatten.  Values are quantized to integer-valued
    doubles so moments and sums are order-independent and bit-equal to
    the DuckDB oracle.  One spark.sql text (replaces ~810 py4j
    round-trips of Column-tree build — r14); qd is staged as a named CTE
    attribute instead of re-embedding the quantize tree under each of
    the ~17 outputs."""
    # CPU-bound per-row HOF tree over a single sub-MB split — width
    # follows cores (same rule and measurement as array_ops3 below)
    emb = load_table(spark, sf, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    fin = "filter(qd, x -> x IS NOT NULL AND NOT isnan(x))"
    nonfin = "filter(qd, x -> x IS NULL OR isnan(x))"
    sort_asc = f"concat(array_sort({fin}), {nonfin})"
    sort_desc = f"concat(reverse(array_sort({fin})), {nonfin})"
    n = f"CAST(size({fin}) AS DOUBLE)"
    s = f"aggregate({fin}, 0.0D, (acc, x) -> acc + x)"
    sq = f"aggregate({fin}, 0.0D, (acc, x) -> acc + x * x)"
    shift2 = (
        "slice(concat(array_repeat(-9999.0D, 2), "
        "slice(qd, 1, greatest(size(qd) - 2, 0))), 1, size(qd))"
    )
    shift_m2 = (
        "slice(concat(slice(qd, 3, greatest(size(qd) - 2, 0)), "
        "array_repeat(-9999.0D, 2)), 1, size(qd))"
    )
    m2 = "array(slice(qd, 1, 3), slice(qd, 4, 3))"

    def _csl(e: str, name: str) -> str:
        return f"concat_ws(',', CAST({e} AS ARRAY<BIGINT>)) AS {name}"

    q = f"""
WITH b AS (
  SELECT vec_id,
    transform(transform(transform(embedding, x -> CAST(x AS DOUBLE)),
              x -> CAST(round(x * 1000) AS BIGINT)), x -> CAST(x AS DOUBLE)) AS qd
  FROM {{inp}}
)
SELECT vec_id,
  {_csl(f"slice({sort_asc}, 1, 5)", "sort_asc5")},
  {_csl(f"slice({sort_desc}, 1, 5)", "sort_desc5")},
  CASE WHEN {n} >= 2 THEN sqrt(({sq} - {s} * {s} / {n}) / ({n} - 1.0D)) END AS sd_samp,
  CASE WHEN {n} >= 1 THEN sqrt(({sq} - {s} * {s} / {n}) / {n}) END AS sd_pop,
  size({fin}) AS cnt,
  {_csl(f"slice({shift2}, 1, 5)", "shift2")},
  {_csl(f"slice({shift_m2}, 1, 5)", "shift_m2")},
  {_csl("slice(reverse(qd), 1, 5)", "rev5")},
  nullif(array_position(qd, element_at(qd, 3)), 0) AS pos3,
  nullif(array_position(qd, 1000000000.0D), 0) AS pos_missing,
  (size(filter({sort_asc}, x -> x <= 0.0D)) + 1) AS ipa0,
  round(element_at(qd, 1) / 8.0D, 2) AS rnd1,
  (-element_at(qd, 1)) AS neg1,
  (1000.0D - element_at(qd, 1)) AS ssub1,
  (100.0D / (element_at(qd, 1) + 0.5D)) AS sdiv1,
  size({m2}) AS dim1,
  size(element_at({m2}, 1)) AS dim2,
  {_csl(f"flatten({m2})", "flat6")}
FROM b
"""
    return spark.sql(q, inp=emb)


ARRAY_OPS2_SQL = """
WITH e AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
), t AS (
  SELECT vec_id, qv,
    CAST(len(qv) AS DOUBLE) AS n,
    CAST(list_sum(qv) AS DOUBLE) AS s,
    CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE) AS sq,
    CAST(qv[1] AS DOUBLE) AS el1
  FROM e
)
SELECT vec_id,
  array_to_string(list_sort(qv)[1:5], ',') AS sort_asc5,
  array_to_string(list_reverse_sort(qv)[1:5], ',') AS sort_desc5,
  sqrt((sq - s * s / n) / (n - 1)) AS sd_samp,
  sqrt((sq - s * s / n) / n) AS sd_pop,
  CAST(n AS INT) AS cnt,
  array_to_string((list_concat([CAST(-9999 AS BIGINT), CAST(-9999 AS BIGINT)], qv[1:len(qv)-2]))[1:5], ',') AS shift2,
  array_to_string((list_concat(qv[3:len(qv)], [CAST(-9999 AS BIGINT), CAST(-9999 AS BIGINT)]))[1:5], ',') AS shift_m2,
  array_to_string(list_reverse(qv)[1:5], ',') AS rev5,
  CAST(list_position(qv, qv[3]) AS BIGINT) AS pos3,
  CAST(NULLIF(list_position(qv, CAST(1000000000 AS BIGINT)), 0) AS BIGINT) AS pos_missing,
  CAST(len(list_filter(qv, x -> x <= 0)) + 1 AS INT) AS ipa0,
  round(el1 / 8.0, 2) AS rnd1,
  -el1 AS neg1,
  1000.0 - el1 AS ssub1,
  100.0 / (el1 + 0.5) AS sdiv1,
  2 AS dim1,
  3 AS dim2,
  array_to_string(qv[1:6], ',') AS flat6
FROM t
"""


def array_ops3(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-3 array surface (r9): the reference supports arrays up to 32
    dims (cairo/ColumnType.java:59) with shape-generic elementwise ops
    (DoubleArrayAddFunctionFactory walks the flat value vector) and a
    transpose that reverses shape+strides at any rank
    (cairo/arr/DerivedArrayView.java:305).  Exercises a 2x3x2 array built
    from quantized embedding values: dim_length 1..3, rank-3 elementwise
    add of two DIFFERENT arrays, unary neg, scalar scale, full flatten,
    whole-array sum, and the rank-3 transpose (numpy-backed, axes
    reversed).  All values integer-valued doubles -> bit-equal oracle."""
    from .functions import arrays as A

    # the nested-HOF expression tree below is CPU-bound per row and the
    # embeddings parquet is a single sub-MB split — measured 1 job /
    # 1 stage / 1 TASK, ~3 s serial on one core at sf0.1 (r13 opt).
    # Width must follow cores, not bytes, when the cost is per-row
    # compute (the decimal256_div / EMA rule); the 800 KB shuffle is
    # noise next to it.
    emb = load_table(spark, sf, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    dv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qd = F.transform(dv, lambda x: F.round(x * 1000))

    def e(i):
        return F.element_at(qd, i)

    def cube(base):
        return F.array(
            F.array(
                F.array(e(base + 1), e(base + 2)),
                F.array(e(base + 3), e(base + 4)),
                F.array(e(base + 5), e(base + 6)),
            ),
            F.array(
                F.array(e(base + 7), e(base + 8)),
                F.array(e(base + 9), e(base + 10)),
                F.array(e(base + 11), e(base + 12)),
            ),
        )

    a3, b3 = cube(0), cube(12)
    tr = A.transpose_ndim_udf(3)

    def flat_str(c):
        return F.concat_ws(",", A.flatten_ndim(c, 2).cast("array<long>"))

    return emb.select(
        "vec_id",
        A.dim_length(a3, 1).alias("dim1"),
        A.dim_length(a3, 2).alias("dim2"),
        A.dim_length(a3, 3).alias("dim3"),
        flat_str(A.elementwise_nd(a3, b3, "+", 3)).alias("add_flat"),
        flat_str(A.array_neg_nd(a3, 3)).alias("neg_flat"),
        flat_str(A.scale_nd(a3, 2.0, 3)).alias("scale_flat"),
        flat_str(a3).alias("flat12"),
        A.array_sum_nd(a3, 3).alias("total"),
        flat_str(tr(a3)).alias("t_flat"),
    )


ARRAY_OPS3_SQL = """
WITH e AS (
  SELECT vec_id,
    list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * 1000)) AS qv
  FROM embeddings
), c AS (
  SELECT vec_id,
    [[[qv[1], qv[2]], [qv[3], qv[4]], [qv[5], qv[6]]],
     [[qv[7], qv[8]], [qv[9], qv[10]], [qv[11], qv[12]]]] AS a,
    [[[qv[13], qv[14]], [qv[15], qv[16]], [qv[17], qv[18]]],
     [[qv[19], qv[20]], [qv[21], qv[22]], [qv[23], qv[24]]]] AS b
  FROM e
)
SELECT vec_id,
  len(a) AS dim1,
  len(a[1]) AS dim2,
  len(a[1][1]) AS dim3,
  array_to_string(list_transform(flatten(flatten(
    [[[a[i][j][k] + b[i][j][k] FOR k IN [1, 2]] FOR j IN [1, 2, 3]] FOR i IN [1, 2]]
  )), x -> CAST(x AS BIGINT)), ',') AS add_flat,
  array_to_string(list_transform(flatten(flatten(a)), x -> CAST(-x AS BIGINT)), ',') AS neg_flat,
  array_to_string(list_transform(flatten(flatten(a)), x -> CAST(x * 2.0 AS BIGINT)), ',') AS scale_flat,
  array_to_string(list_transform(flatten(flatten(a)), x -> CAST(x AS BIGINT)), ',') AS flat12,
  list_sum(flatten(flatten(a))) AS total,
  array_to_string(list_transform(flatten(flatten(
    [[[a[k][j][i] FOR k IN [1, 2]] FOR j IN [1, 2, 3]] FOR i IN [1, 2]]
  )), x -> CAST(x AS BIGINT)), ',') AS t_flat
FROM c
"""
