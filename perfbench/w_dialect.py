"""``dialect_interactive``: a seeded stream of QuestDB-dialect SELECTs.

One client, closed loop.  Each operation is ``QdbEngine.sql(text, args)``
followed by its action (``toPandas``), over ``events``, ``orders`` and
``lineitem`` registered with designated timestamps, plus ``clicks`` and
``purchases`` carved out of ``events``.  Each query of the frozen
registry list (``registry_queries.json``, ``select_registry.py``) runs
once after the loop.  Templates cover SAMPLE BY with
FILL(NULL/PREV/LINEAR) and ALIGN TO CALENDAR, LATEST ON, ASOF/LT/SPLICE
JOIN, WINDOW JOIN, ``ts IN '<interval>'`` scans and bind variables.

Templates rotate in a fixed order and rotations alternate between new
texts and repeats of earlier texts (see ``Statements``), so every run has
the same template mix and half its statements are plan-cache candidates.
The measured loop is a fixed number of rotation pairs for a given
``--seconds``, so every run does the same work.

Every template has a DuckDB twin over the same parquet files; after the
loop each distinct statement's twin runs once and every result digest of
that statement is compared with it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import checks
import harness

SF = 0.1
# a (repeat, new) rotation pair, 18 statements, takes about 5 s on the
# 4-core reference box: the loop runs seconds / PAIR_S pairs
PAIR_S = 5.0
DEC_SUM = "CAST(CAST(SUM(CAST({c} AS DECIMAL(12,2))) AS DECIMAL(20,2)) AS DOUBLE)"
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_IV_SQL = {"15m": "15 MINUTE", "30m": "30 MINUTE", "1h": "1 HOUR", "2h": "2 HOUR"}


def _spine(bucketed: str, iv: str) -> str:
    return (
        f"WITH b AS ({bucketed}), sp AS (SELECT unnest(generate_series("
        f"min(b), max(b), INTERVAL {iv})) AS ts FROM b)"
    )


def _sample_fill(r) -> tuple:
    et, u = r.choice(_EVENT_TYPES), r.randint(20, 40)
    iv, fill = r.choice(list(_IV_SQL)), r.choice(["NULL", "PREV", "LINEAR"])
    w = f"event_type = '{et}' AND user_id < {u}"
    ivs = _IV_SQL[iv]
    tb = f"time_bucket(INTERVAL {ivs}, ts)"
    if fill == "NULL":
        aggs = f"count(*) AS n, {DEC_SUM.format(c='value')} AS s"
        twin = (
            _spine(f"SELECT {tb} AS b, {aggs} FROM events WHERE {w} GROUP BY 1", ivs)
            + " SELECT sp.ts, b.n, b.s FROM sp LEFT JOIN b ON b.b = sp.ts"
        )
    elif fill == "PREV":
        aggs = "count(*) AS n, max(value) AS mx"
        carry = "last_value(b.{c} IGNORE NULLS) OVER (ORDER BY sp.ts) AS {c}"
        twin = (
            _spine(f"SELECT {tb} AS b, {aggs} FROM events WHERE {w} GROUP BY 1", ivs)
            + f" SELECT sp.ts, {carry.format(c='n')}, {carry.format(c='mx')}"
            " FROM sp LEFT JOIN b ON b.b = sp.ts"
        )
    else:
        aggs = "avg(value) AS a"
        before = "ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        after = "ORDER BY ts ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
        twin = (
            _spine(f"SELECT {tb} AS b, {aggs} FROM events WHERE {w} GROUP BY 1", ivs)
            + ", j AS (SELECT sp.ts, b.a, epoch_us(sp.ts) AS x, CASE WHEN b.a IS"
            " NOT NULL THEN epoch_us(sp.ts) END AS kx FROM sp LEFT JOIN b ON b.b = sp.ts),"
            f" w AS (SELECT ts, a, x, last_value(kx IGNORE NULLS) OVER ({before}) AS x0,"
            f" last_value(a IGNORE NULLS) OVER ({before}) AS y0,"
            f" first_value(kx IGNORE NULLS) OVER ({after}) AS x1,"
            f" first_value(a IGNORE NULLS) OVER ({after}) AS y1 FROM j)"
            " SELECT ts, CASE WHEN a IS NOT NULL THEN a"
            " ELSE y0 + (y1 - y0) * (x - x0) / (x1 - x0) END AS a FROM w"
        )
    text = (
        f"SELECT ts, {aggs} FROM events WHERE {w} "
        f"SAMPLE BY {iv} FILL({fill}) ALIGN TO CALENDAR"
    )
    return text, None, twin


def _sample_month(r) -> tuple:
    year, status = r.randint(1995, 2001), r.choice(["F", "O"])
    text = (
        "SELECT l_shipdate, l_returnflag, count(*) AS n, sum(l_quantity) AS q "
        f"FROM lineitem WHERE l_shipdate IN '{year}' AND l_linestatus = '{status}' "
        "SAMPLE BY 1M ALIGN TO CALENDAR"
    )
    twin = (
        "SELECT time_bucket(INTERVAL 1 MONTH, l_shipdate) AS l_shipdate, l_returnflag,"
        " count(*) AS n, sum(l_quantity) AS q FROM lineitem"
        f" WHERE l_shipdate >= '{year}-01-01' AND l_shipdate < '{year + 1}-01-01'"
        f" AND l_linestatus = '{status}' GROUP BY 1, 2"
    )
    return text, None, twin


def _latest(r) -> tuple:
    et, u = r.choice(_EVENT_TYPES), r.randint(200, 300)
    w = f"event_type = '{et}' AND user_id < {u}"
    text = (
        f"SELECT user_id, ts, event_id, value FROM events WHERE {w} "
        "LATEST ON ts PARTITION BY user_id"
    )
    twin = (
        "SELECT user_id, ts, event_id, value FROM (SELECT *, row_number() OVER ("
        "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events"
        f" WHERE {w}) WHERE rn = 1"
    )
    return text, None, twin


def _asof(r) -> tuple:
    kind, u = r.choice(["ASOF", "LT"]), r.randint(60, 90)
    text = (
        "SELECT c.event_id, c.ts, c.value AS cv, p.event_id AS pid, p.value AS pv "
        f"FROM clicks c {kind} JOIN purchases p ON (user_id) WHERE c.user_id < {u}"
    )
    op = ">=" if kind == "ASOF" else ">"
    twin = (
        "SELECT c.event_id, c.ts, c.value AS cv, p.event_id AS pid, p.value AS pv "
        "FROM clicks c ASOF LEFT JOIN purchases p "
        f"ON c.user_id = p.user_id AND c.ts {op} p.ts WHERE c.user_id < {u}"
    )
    return text, None, twin


_SPLICE_COLS = ("event_id", "event_type", "props", "value")
_SPLICE_NULLS = (
    "NULL::TIMESTAMP AS s_ts, NULL::BIGINT AS s_event_id, NULL::VARCHAR AS s_event_type,"
    " NULL::VARCHAR AS s_props, NULL::DOUBLE AS s_value"
)


def _splice(r) -> tuple:
    u = r.randint(15, 25)
    text = (
        "SELECT * FROM clicks c SPLICE JOIN purchases p ON (user_id) "
        f"WHERE c.user_id < {u}"
    )
    carry = "last_value({s} IGNORE NULLS) OVER w AS {d}"
    outs = [carry.format(s="m_ts", d="master_ts"), carry.format(s="s_ts", d="slave_ts")]
    outs += [carry.format(s=f"m_{c}", d=c) for c in _SPLICE_COLS]
    outs += [carry.format(s=f"s_{c}", d=f"{c}_slave") for c in _SPLICE_COLS]
    master = ", ".join(f"{c} AS m_{c}" for c in _SPLICE_COLS)
    nulls = ", ".join(["NULL"] * (1 + len(_SPLICE_COLS)))
    twin = (
        f"WITH u AS (SELECT user_id, ts, ts AS m_ts, {master}, {_SPLICE_NULLS}"
        f" FROM clicks WHERE user_id < {u} UNION ALL SELECT user_id, ts, {nulls}, ts,"
        f" {', '.join(_SPLICE_COLS)} FROM purchases WHERE user_id < {u})"
        f" SELECT user_id, ts, {', '.join(outs)} FROM u WINDOW w AS (PARTITION BY"
        " user_id ORDER BY ts RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return text, None, twin


def _window(r) -> tuple:
    lo, hi, u = r.choice([10, 20, 30, 60]), r.choice([0, 5, 10]), r.randint(60, 90)
    text = (
        f"SELECT event_id, ts, count(p.value) AS n, {DEC_SUM.format(c='p.value')} AS s "
        "FROM clicks WINDOW JOIN purchases p ON (user_id) "
        f"RANGE BETWEEN {lo} minute PRECEDING AND {hi} minute FOLLOWING "
        f"EXCLUDE PREVAILING WHERE user_id < {u}"
    )
    twin = (
        f"SELECT c.event_id, c.ts, count(p.value) AS n, {DEC_SUM.format(c='p.value')}"
        " AS s FROM clicks c LEFT JOIN purchases p ON p.user_id = c.user_id"
        f" AND p.ts >= c.ts - INTERVAL {lo} MINUTE AND p.ts <= c.ts + INTERVAL {hi} MINUTE"
        f" WHERE c.user_id < {u} GROUP BY 1, 2"
    )
    return text, None, twin


def _interval(r) -> tuple:
    day, hour, k = r.randint(1, 30), r.randint(0, 20), r.randint(1, 6)
    start = dt.datetime(2024, 1, day, hour)
    # 'YYYY-MM-DDTHH;kh' is the whole hour HH widened by k hours
    end = start + dt.timedelta(hours=1 + k)
    aggs = f"count(*) AS n, {DEC_SUM.format(c='value')} AS s"
    text = (
        f"SELECT event_type, {aggs} FROM events "
        f"WHERE ts IN '{start:%Y-%m-%dT%H};{k}h'"
    )
    twin = (
        f"SELECT event_type, {aggs} FROM events WHERE ts >= '{start:%Y-%m-%d %H}:00:00'"
        f" AND ts < '{end:%Y-%m-%d %H}:00:00' GROUP BY 1"
    )
    return text, None, twin


def _month_bounds(r) -> tuple[str, str, str]:
    y, m = r.randint(1995, 2000), r.randint(1, 12)
    nxt = f"{y + (m == 12)}-{m % 12 + 1:02d}-01"
    return f"{y}-{m:02d}", f"{y}-{m:02d}-01", nxt


def _bind_named(r) -> tuple:
    month, lo_day, hi_day = _month_bounds(r)
    lo = round(r.uniform(100_000, 400_000), 2)
    text = (
        "SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS mx FROM orders "
        f"WHERE o_orderdate IN '{month}' AND o_totalprice > :lo"
    )
    twin = (
        "SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS mx FROM orders"
        f" WHERE o_orderdate >= '{lo_day}' AND o_orderdate < '{hi_day}'"
        f" AND o_totalprice > {lo!r} GROUP BY 1"
    )
    return text, {"lo": lo}, twin


def _bind_positional(r) -> tuple:
    month, lo_day, hi_day = _month_bounds(r)
    disc = r.randint(1, 9) / 100
    text = (
        "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem "
        f"WHERE l_shipdate IN '{month}' AND l_discount >= $1"
    )
    twin = (
        "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem"
        f" WHERE l_shipdate >= '{lo_day}' AND l_shipdate < '{hi_day}'"
        f" AND l_discount >= {disc!r} GROUP BY 1"
    )
    return text, [disc], twin


TEMPLATES = [
    _sample_fill,
    _sample_month,
    _latest,
    _asof,
    _splice,
    _window,
    _interval,
    _bind_named,
    _bind_positional,
]


class Statements:
    """The seeded statement stream.

    Templates rotate in a fixed order, so every run has the same template
    mix; the seed picks parameters and which earlier text a repeat takes.
    Rotations alternate between new texts and repeats, so half of the
    statements repeat an earlier text: a repeat picks, Zipf-skewed, one of
    the texts its template issued so far (earliest first)."""

    def __init__(self, rng):
        self.rng = rng
        self.count = 0
        self.issued: dict = {t: [] for t in TEMPLATES}  # first-issue order
        self._seen: set = set()

    def next(self) -> tuple[tuple, bool]:
        template = TEMPLATES[self.count % len(TEMPLATES)]
        repeat = (self.count // len(TEMPLATES)) % 2 == 1
        self.count += 1
        earlier = self.issued[template]
        if repeat and earlier:
            weights = [1.0 / (k + 1) for k in range(len(earlier))]  # Zipf, s = 1
            return self.rng.choices(earlier, weights)[0], False
        while True:
            text, args, twin = template(self.rng)
            key = (text, repr(args))
            if key not in self._seen:
                self._seen.add(key)
                stmt = (key, text, args, twin)
                earlier.append(stmt)
                return stmt, True


_REGISTRY_SPEC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_queries.json")


def load_registry_spec() -> dict:
    """The frozen registry query list: scale, names, result digests."""
    with open(_REGISTRY_SPEC) as fh:
        return json.load(fh)


class DialectInteractive:
    """Dialect statements, plus each query of the frozen registry list (its
    ``REGISTRY`` function and the action) after the loop, checked against
    the result digest frozen with the list.  The registry queries feed the
    ``registry`` layer figures, not the end-to-end op statistics."""

    name = "dialect_interactive"
    warm_setups = 6  # a warm set-up is under a second; more of them steady the median

    def __init__(self) -> None:
        self.registry = load_registry_spec()
        self.scales = (SF, self.registry["sf"])

    def setup(self, ctx) -> None:
        from pyspark.sql import functions as F

        from questdb_spark.sources.parquet import load_table
        from questdb_spark.sqlfront import QdbEngine

        spark, data = ctx.spark, ctx.data[SF]
        eng = QdbEngine(spark, warehouse=ctx.warehouse)
        ev = load_table(spark, data, "events")
        eng.register("events", ev, designated_ts="ts", tiebreak="event_id")
        eng.register("orders", load_table(spark, data, "orders"), designated_ts="o_orderdate")
        eng.register(
            "lineitem", load_table(spark, data, "lineitem"), designated_ts="l_shipdate"
        )
        for name, et in (("clicks", "click"), ("purchases", "purchase")):
            eng.register(
                name, ev.filter(F.col("event_type") == et), designated_ts="ts", tiebreak="event_id"
            )
        self.eng = eng

    def _statement(self, ctx, op_id: str, stream: Statements) -> dict:
        tr = ctx.tracer
        (key, text, args, twin), new = stream.next()
        rec = {"op": op_id, "kind": "statement", "new_text": new, "ok": True}
        with tr.span("op", op=op_id):
            t0 = time.perf_counter()
            try:
                with tr.span("sqlfront.sql", phase="lower", new_text=new):
                    df = self.eng.sql(text, args)
                with tr.span("spark.action", phase="action"):
                    pdf = df.toPandas()
            except Exception as e:  # counted as a failed operation
                rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:200]}")
            rec["ms"] = (time.perf_counter() - t0) * 1e3
        if rec["ok"]:
            rec["plan_cache_hit"] = self.last_frame.get(key) is df
            self.last_frame[key] = df
            self.digests.setdefault(key, []).append((op_id, checks.result_digest(pdf)))
            self.stmts[key] = (text, twin)
        return rec

    def _registry_query(self, ctx, op_id: str, name: str) -> dict:
        from questdb_spark.registry import REGISTRY

        tr = ctx.tracer
        rec = {"op": op_id, "kind": "registry", "query": name, "ok": True}
        with tr.span("op", op=op_id):
            t0 = time.perf_counter()
            try:
                with tr.span("registry.build", phase="build"):
                    df = REGISTRY[name][0](ctx.spark, ctx.data[self.registry["sf"]])
                with tr.span("spark.action", phase="action"):
                    pdf = df.toPandas()
            except Exception as e:  # counted as a failed operation
                rec.update(ok=False, error=f"{type(e).__name__}: {str(e)[:200]}")
            rec["ms"] = (time.perf_counter() - t0) * 1e3
        if rec["ok"] and not self.registry_result_ok(name, pdf):
            rec.update(ok=False, error="result differs from the frozen reference")
        return rec

    def registry_result_ok(self, name: str, pdf) -> bool:
        ref = self.registry["queries"][name]
        return checks.result_digest(pdf) == (ref["rows"], ref["digest"])

    def run(self, ctx, seconds: float) -> list[dict]:
        """Warm-up: one rotation of new texts.  The measured loop then runs
        ``round(seconds / PAIR_S)`` (at least one) whole (repeat, new)
        rotation pairs.  A pair count that followed the clock would give a
        slow run fewer pairs and so a larger share of the slower first
        pair.  Each registry query then runs once, its first call in this
        process."""
        stream = Statements(ctx.rng)
        names = sorted(self.registry["queries"])
        self.last_frame: dict = {}
        self.digests: dict = {}  # statement key -> [(op id, digest)]
        self.stmts: dict = {}
        for i in range(len(TEMPLATES)):
            self._statement(ctx, f"w{i}", stream)
        ops: list[dict] = []
        pairs = max(1, round(seconds / PAIR_S))
        loop_start = time.perf_counter()
        cpu_start = harness.cpu_s(ctx.pids)
        for i in range(pairs * 2 * len(TEMPLATES)):
            ops.append(self._statement(ctx, str(i), stream))
        self.loop_s = time.perf_counter() - loop_start
        self.loop_cpu_s = harness.cpu_s(ctx.pids) - cpu_start
        for name in names:
            ops.append(self._registry_query(ctx, f"r-{name}", name))
        return ops

    def verify(self, ctx, ops: list[dict]) -> None:
        """Mark every statement whose result differs from its DuckDB twin."""
        import duckdb

        data = ctx.data[SF]
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in ("events", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        con.execute("CREATE VIEW clicks AS SELECT * FROM events WHERE event_type = 'click'")
        con.execute(
            "CREATE VIEW purchases AS SELECT * FROM events WHERE event_type = 'purchase'"
        )
        bad: set[str] = set()
        for key, runs in self.digests.items():
            want = checks.result_digest(con.execute(self.stmts[key][1]).df())
            bad.update(op for op, got in runs if got != want)
        con.close()
        for rec in ops:
            if rec["op"] in bad:
                rec.update(ok=False, error="result differs from the DuckDB twin")

    def extra_metrics(self, ops: list[dict]) -> dict:
        ok = [r for r in ops if r["ok"]]
        return {
            "dialect.query_new_text_p50_ms": checks.median(
                r["ms"] for r in ok if r["kind"] == "statement" and r["new_text"]
            ),
            "registry.query_geomean_ms": checks.geomean(
                r["ms"] for r in ok if r["kind"] == "registry"
            ),
        }
