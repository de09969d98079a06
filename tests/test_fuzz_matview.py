"""Operation-sequence fuzz over the mat-view lifecycle (r10) — the same
strategy as test_fuzz_timetable, pointed at CREATE/REFRESH/ALTER
MATERIALIZED VIEW: random base inserts (including O3 rows below the
incremental high-water mark), manual refreshes, SUSPEND/RESUME WAL, and
SET TTL, cross-checked against a pure-Python shadow of the CONTRACT:

    after a refresh, the view equals SAMPLE BY 1h counts over the base
    rows AS OF that refresh, minus TTL eviction against the newest bucket
    date; between refreshes (and while suspended) it serves that stored
    snapshot unchanged.

The contract is path-independent — incremental refresh (with the O3
escalation guard) must land on exactly the same state as a full
recompute — so the shadow never models the incremental machinery, which
is the point: any divergence is an engine bug, not a shadow bug.

``test_matview_dedup_fuzz`` points the same contract at a DEDUP base:
in-order and late upserts (half of them re-sending stored keys with new
values), UPDATE, DELETE and DROP PARTITION, checked on a SAMPLE BY view's
``count(*)`` and ``sum(v)`` and on a LATEST ON live view's values.

Tunables: SPARK_GRAFT_FUZZ_SEEDS (default 3), SPARK_GRAFT_FUZZ_OPS
(default 40 — each op can cost a refresh write).
"""

from __future__ import annotations

import os
import random
from collections import Counter
from datetime import datetime, timedelta

import pytest

from questdb_spark.sqlfront.ddl import _refresh_view
from questdb_spark.sqlfront.engine import QdbEngine

SEEDS = int(os.environ.get("SPARK_GRAFT_FUZZ_SEEDS", "3"))
OPS = int(os.environ.get("SPARK_GRAFT_FUZZ_OPS", "40"))

BASE = datetime(2024, 1, 1)
DAYS = 5  # ts domain: 5 daily partitions / 120 hourly buckets


def _expected_view(applied: list[datetime], ttl_hours: int) -> Counter:
    """The contract: hourly counts over the applied base snapshot, then
    TTL eviction by date partition against the newest bucket date (the
    newest partition is never evicted)."""
    buckets = Counter(ts.replace(minute=0, second=0, microsecond=0) for ts in applied)
    if not buckets or ttl_hours <= 0:
        return buckets
    dates = sorted({b.date() for b in buckets})
    newest = dates[-1]
    boundary = datetime.combine(newest, datetime.min.time()) - timedelta(
        hours=ttl_hours
    )
    keep = {
        d
        for d in dates
        if d == newest
        or datetime.combine(d, datetime.min.time()) + timedelta(days=1) > boundary
    }
    return Counter({b: n for b, n in buckets.items() if b.date() in keep})


@pytest.mark.parametrize("seed", range(SEEDS))
def test_matview_lifecycle_fuzz(spark, tmp_path, seed):
    rng = random.Random(20_241_000 + seed)
    eng = QdbEngine(spark, warehouse=str(tmp_path / f"wh{seed}"))
    eng.sql("CREATE TABLE fb (v DOUBLE, ts TIMESTAMP) TIMESTAMP(ts) PARTITION BY DAY")

    def rand_ts() -> datetime:
        return BASE + timedelta(
            days=rng.randrange(DAYS),
            hours=rng.randrange(24),
            minutes=rng.randrange(60),
        )

    # seed rows so creation materializes a non-empty view
    first = [rand_ts() for _ in range(5)]
    eng.sql(
        "INSERT INTO fb VALUES "
        + ",".join(f"(1.0,'{t.isoformat()}')" for t in first)
    )
    eng.sql(
        "CREATE MATERIALIZED VIEW fmv WITH BASE fb AS ("
        "SELECT ts, count(*) AS n FROM fb SAMPLE BY 1h)"
    )

    base_rows = list(first)
    applied = list(first)  # snapshot at last refresh
    suspended = False
    ttl_hours = 0

    def check() -> None:
        got = Counter()
        for r in eng.sql("SELECT ts, n FROM fmv").collect():
            got[r.ts] += r.n
        want = _expected_view(applied, ttl_hours)
        assert got == want, (
            f"seed={seed} divergence: extra={dict(got - want)} "
            f"missing={dict(want - got)}"
        )

    for step in range(OPS):
        op = rng.choices(
            ["insert", "insert_o3", "refresh_incr", "refresh_full",
             "suspend", "resume", "set_ttl", "read"],
            weights=[4, 2, 3, 1, 1, 2, 1, 3],
        )[0]
        if op in ("insert", "insert_o3"):
            # insert_o3 biases below the current applied high-water mark
            # to exercise the escalation guard; plain insert is uniform
            ts = rand_ts()
            if op == "insert_o3" and applied:
                hwm = max(applied)
                for _ in range(4):
                    if ts < hwm:
                        break
                    ts = rand_ts()
            eng.sql(f"INSERT INTO fb VALUES (1.0,'{ts.isoformat()}')")
            base_rows.append(ts)
        elif op == "refresh_incr":
            eng.sql("REFRESH MATERIALIZED VIEW fmv INCREMENTAL")
            if not suspended:
                applied = list(base_rows)
        elif op == "refresh_full":
            eng.sql("REFRESH MATERIALIZED VIEW fmv FULL")
            if not suspended:
                applied = list(base_rows)
        elif op == "suspend":
            eng.sql("ALTER MATERIALIZED VIEW fmv SUSPEND WAL")
            suspended = True
        elif op == "resume":
            eng.sql("ALTER MATERIALIZED VIEW fmv RESUME WAL")
            suspended = False
            applied = list(base_rows)  # resume applies the backlog
        elif op == "set_ttl":
            # TTL only ever SHRINKS in this fuzz: engine eviction is
            # destructive (an evicted partition only resurrects on a full
            # recompute), so a monotonically tighter TTL keeps the
            # stateless shadow formula exact — everything the engine ever
            # evicted is also formula-evicted under the current boundary
            choices = [h for h in (240, 96, 48, 24) if ttl_hours == 0 or h <= ttl_hours]
            if not choices:
                continue
            ttl_hours = rng.choice(choices)
            eng.sql(f"ALTER MATERIALIZED VIEW fmv SET TTL {ttl_hours} HOURS")
        else:
            check()
    check()


@pytest.mark.parametrize("seed", range(SEEDS))
def test_matview_dedup_fuzz(spark, tmp_path, seed):
    from pyspark.sql import functions as F

    rng = random.Random(20_241_100 + seed)
    eng = QdbEngine(spark, warehouse=str(tmp_path / f"wd{seed}"))
    eng.sql(
        "CREATE TABLE fd (ts TIMESTAMP, k SYMBOL, v DOUBLE) TIMESTAMP(ts) "
        "PARTITION BY DAY WAL DEDUP UPSERT KEYS(ts, k)"
    )
    stored: dict[tuple[datetime, str], float] = {}  # (ts, k) -> v

    def rand_ts(below: datetime | None = None) -> datetime:
        for _ in range(8):
            ts = BASE + timedelta(
                days=rng.randrange(DAYS - 1), minutes=rng.randrange(24 * 60)
            )
            if below is None or ts < below:
                break
        return ts

    def value() -> float:
        return float(rng.randrange(1, 100))

    def insert(batch: list[tuple[datetime, str, float]]) -> None:
        eng.sql(
            "INSERT INTO fd VALUES "
            + ",".join(f"('{ts.isoformat()}','{k}',{v})" for ts, k, v in batch)
        )
        for ts, k, v in batch:  # in-batch last write wins
            stored[(ts, k)] = v

    def resend_or_new(ts: datetime) -> tuple[datetime, str, float]:
        if stored and rng.random() < 0.5:
            key = rng.choice(sorted(stored))
            return (*key, value())
        return (ts, rng.choice("abc"), value())

    insert([(rand_ts(), rng.choice("abc"), value()) for _ in range(6)])
    eng.sql(
        "CREATE MATERIALIZED VIEW fdv WITH BASE fd AS ("
        "SELECT ts, count(*) AS n, sum(v) AS s FROM fd SAMPLE BY 1h)"
    )
    eng.sql(
        "CREATE LIVE VIEW fdl AS (SELECT ts, k, v FROM fd LATEST ON ts PARTITION BY k)"
    )
    applied = dict(stored)  # the base at the last refresh

    def check() -> None:
        got = {r.ts: (r.n, r.s) for r in eng.sql("SELECT ts, n, s FROM fdv").collect()}
        want: dict[datetime, tuple[int, float]] = {}
        for (ts, _k), v in applied.items():
            b = ts.replace(minute=0, second=0, microsecond=0)
            n, s = want.get(b, (0, 0.0))
            want[b] = (n + 1, s + v)
        assert got == want, f"seed={seed} SAMPLE BY view diverged"
        latest: dict[str, tuple[datetime, float]] = {}
        for (ts, k), v in stored.items():
            if k not in latest or ts > latest[k][0]:
                latest[k] = (ts, v)
        got_l = {r.k: (r.ts, r.v) for r in eng.sql("SELECT ts, k, v FROM fdl").collect()}
        assert got_l == latest, f"seed={seed} LATEST ON view diverged"

    for _step in range(OPS):
        op = rng.choices(
            ["insert", "late", "update", "delete", "drop", "refresh_incr",
             "refresh_full", "read"],
            weights=[4, 4, 1, 1, 1, 4, 1, 3],
        )[0]
        newest = max((ts for ts, _k in stored), default=BASE)
        if op == "insert":
            # in order: at or past the newest stored ts
            nxt = newest + timedelta(minutes=rng.randrange(1, 180))
            insert([
                (newest, k, value())
                if rng.random() < 0.5 and (newest, k) in stored
                else (nxt, k, value())
                for k in rng.sample("abc", rng.randrange(1, 3))
            ])
        elif op == "late":
            insert([resend_or_new(rand_ts(below=newest)) for _ in range(2)])
        elif op == "update":
            k = rng.choice("abc")
            eng.sql(f"UPDATE fd SET v = v + 1 WHERE k = '{k}'")
            stored.update({key: v + 1 for key, v in stored.items() if key[1] == k})
        elif op == "delete":
            k, day = rng.choice("abc"), BASE + timedelta(days=rng.randrange(DAYS))
            eng.ddl_tables["fd"].delete_where(
                (F.col("k") == k) & (F.to_date("ts") == F.lit(day.date()))
            )
            _refresh_view(eng, "fd")
            for key in [key for key in stored if key[1] == k and key[0].date() == day.date()]:
                del stored[key]
        elif op == "drop":
            days = sorted({ts.date() for ts, _k in stored})
            if len(days) < 2:
                continue
            day = rng.choice(days[:-1])
            eng.sql(f"ALTER TABLE fd DROP PARTITION LIST '{day.isoformat()}'")
            for key in [key for key in stored if key[0].date() == day]:
                del stored[key]
        elif op in ("refresh_incr", "refresh_full"):
            mode = "INCREMENTAL" if op == "refresh_incr" else "FULL"
            eng.sql(f"REFRESH MATERIALIZED VIEW fdv {mode}")
            applied = dict(stored)
        else:
            check()
    check()
