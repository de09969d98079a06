"""CREATE/REFRESH/DROP MATERIALIZED VIEW and CREATE LIVE VIEW statements.

Reference: mat views are first-class statements dispatched before query
compilation (``griffin/SqlCompilerImpl.java:3338-3346`` CREATE_MAT_VIEW /
CREATE_LIVE_VIEW arms), defined by a stored SAMPLE BY query over a base
table (``cairo/mv/MatViewDefinition.java:54-84``) and refreshed
incrementally — only the time buckets touched by new base transactions are
recomputed (``cairo/mv/MatViewRefreshJob.java:77``,
``cairo/mv/SampleByIntervalIterator.java``). ``REFRESH MATERIALIZED VIEW
name INCREMENTAL`` is the manual-refresh form
(``MatViewDefinition.REFRESH_TYPE_MANUAL``); LIVE views refresh on read.

Spark-first lowering (batch twin of ``streaming/matview.py``):

- the view body is lowered through the engine's own dialect front-end, so
  everything a SAMPLE BY query supports works in a view;
- storage is a ``TimeTable`` in ``__mv_<name>`` under the engine warehouse
  (or the view's volume), like the reference's view, which is an ordinary
  table written by the table writer: SAMPLE BY views are day-partitioned
  on their bucket column, LATEST ON and generic live views are
  unpartitioned;
- a refresh reads the base table's change log (``TimeTable.changes_since``,
  the batch stand-in for the WAL txn ranges the reference's refresh job
  reads) from the txn the view last consumed, kept in its checkpoint.
  Nothing logged: the view stands.  Only added or upserted rows since, at
  designated ts >= lo: a SAMPLE BY view recomputes the buckets >=
  bucket_floor(lo), which ``TimeTable.replace_from`` swaps into the day
  partitions they touch without rewriting the others, so refresh I/O is
  proportional to the CHANGED data, not view size — the economics of the
  reference's interval iterator; a LATEST ON view merges its stored rows
  below lo with the base's latest rows at or above it.  Anything else (an
  UPDATE, DELETE, dropped partition or column change, a log that does not
  continue from the view's txn, a generic view's body) replaces the whole
  view with ``TimeTable.write``.  A base that is not a DDL table has no
  log: a different registered frame refreshes in full.  A PERIOD view
  also checkpoints the cut-off it last served; when the clock has moved
  the cut-off on, the base rows between the two count as a logged range.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

from ..operators.sample_by import _UNIT_MICROS, parse_interval
from ..table import (
    PARTITION_COL,
    VIEW_STATE_FILE,
    TimeTable,
    _minus_hours_or_months,
    _write_json,
)

if TYPE_CHECKING:  # pragma: no cover
    from .engine import QdbEngine

_CREATE_RE = re.compile(
    r"^create\s+(materialized|live)\s+view\s+(if\s+not\s+exists\s+)?(\w+)\s*"
    r"(?:with\s+base\s+'?(\w+)'?\s*)?(refresh\b.*?)?as\s*\(",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_RE = re.compile(
    r"^refresh\s+materialized\s+view\s+(\w+)(?:\s+(full|incremental))?$",
    re.IGNORECASE,
)
_DROP_RE = re.compile(
    r"^drop\s+(?:materialized|live)\s+view\s+(?:if\s+exists\s+)?(\w+)$", re.IGNORECASE
)


@dataclass
class MatViewDef:
    name: str
    base: str  # base table name (WITH BASE or the query's FROM table)
    inner_sql: str  # the stored view query text
    base_ts: str  # base table's designated timestamp column
    ts_out: str  # output column carrying the bucket timestamp
    interval: str  # SAMPLE BY interval spec ('1h', '30m', ...); '' non-sampled
    live: bool = False  # LIVE VIEW: incremental refresh on every read
    table: TimeTable | None = None  # the view's storage
    # general live views (cairo/lv/): the stored query may be any dialect
    # query, with shape-specific incremental strategies
    shape: str = "sample_by"  # sample_by | latest_on | generic
    # what the last refresh consumed: a DDL base's change-log position
    # (log id, txn), or a registered base's frame (not checkpointed)
    base_txn: tuple | None = None
    base_frame: DataFrame | None = None
    # refresh scheduling (SqlParser.java:2590-2717, MatViewDefinition
    # REFRESH_TYPE_TIMER/PERIOD): TIMER views refresh when a read arrives
    # at/after next_due (the batch twin of the reference's timer job);
    # PERIOD views bound every refresh at the last COMPLETE period
    refresh_type: str = "immediate"  # immediate | manual | timer
    deferred: bool = False
    timer_every: str = ""  # '1h' interval spec; '' = no timer
    timer_start: datetime | None = None
    timer_tz: str | None = None
    next_due: datetime | None = None
    period_length: str = ""  # '' = no PERIOD clause
    period_tz: str | None = None
    period_delay: str = ""
    period_cut: datetime | None = None  # the cut-off the last refresh served
    # ALTER MATERIALIZED/LIVE VIEW state (r10 — SqlCompilerImpl.java:2145
    # compileAlterMatView, :2126 compileAlterLiveView):
    wal_suspended: bool = False  # SUSPEND WAL: refreshes park, reads serve stored
    refresh_limit: int = 0  # SET REFRESH LIMIT: hours>0 / months<0 (parse_ttl form)
    ttl_hours_or_months: int = 0  # SET TTL: evict view buckets older than TTL
    symbol_capacities: dict = field(default_factory=dict)  # col -> capacity
    indexed_columns: dict = field(default_factory=dict)  # col -> block size


_EVERY_UNITS = {"m", "h", "d", "w", "y", "M"}  # validateMatViewEveryUnit
_PERIOD_UNITS = {"s": 1, "m": 60, "h": 3600, "d": 86400}  # periodLengthSeconds


def _stride(tok: str, what: str) -> tuple[int, str]:
    m = re.fullmatch(r"(\d+)([a-zA-Z])", tok.strip())
    if not m:
        raise ValueError(f"invalid {what} interval: {tok!r}")
    return int(m.group(1)), m.group(2)


def _parse_refresh(text: str) -> dict:
    """Parse the REFRESH clause of CREATE MATERIALIZED/LIVE VIEW
    (SqlParser.java:2590-2717): IMMEDIATE | MANUAL | INCREMENTAL |
    EVERY <interval> [DEFERRED] [START '<ts>' [TIME ZONE '<tz>']] and the
    optional PERIOD(LENGTH <interval> [TIME ZONE '<tz>'] [DELAY <interval>])
    tail — with the reference's validation surface (unit sets, 24h period
    cap, delay < length, TIMER-only START)."""
    out = {
        "refresh_type": "immediate",
        "deferred": False,
        "timer_every": "",
        "timer_start": None,
        "timer_tz": None,
        "period_length": "",
        "period_tz": None,
        "period_delay": "",
    }
    if not text:
        return out
    toks = re.findall(r"'[^']*'|\(|\)|[^\s()]+", text.strip())
    i = 1  # skip REFRESH
    n = len(toks)

    def peek() -> str:
        return toks[i].lower() if i < n else ""

    if peek() in ("immediate", "incremental"):
        i += 1
    elif peek() == "manual":
        out["refresh_type"] = "manual"
        i += 1
    elif peek() == "every":
        i += 1
        if i >= n:
            raise ValueError("interval expected")
        mult, unit = _stride(toks[i], "EVERY")
        if unit not in _EVERY_UNITS:
            raise ValueError(
                f"unsupported interval unit: {unit}, supported units are "
                "'m', 'h', 'd', 'w', 'y', 'M'"
            )
        out["refresh_type"] = "timer"
        out["timer_every"] = f"{mult}{unit}"
        i += 1
    if peek() == "deferred":
        out["deferred"] = True
        i += 1
    if peek() == "start":
        # START is TIMER-only (the reference's "'as' expected" shape)
        if out["refresh_type"] != "timer":
            raise ValueError("'as' expected")
        i += 1
        lit = toks[i] if i < n else ""
        if not (lit.startswith("'") and lit.endswith("'")):
            raise ValueError("invalid START timestamp value")
        try:
            out["timer_start"] = datetime.fromisoformat(
                lit.strip("'").replace("T", " ").rstrip("Zz")
            ).replace(tzinfo=timezone.utc)
        except ValueError:
            raise ValueError("invalid START timestamp value") from None
        i += 1
        if peek() == "time":
            i += 1
            if peek() != "zone":
                raise ValueError("'zone' expected")
            i += 1
            tz = toks[i] if i < n else ""
            out["timer_tz"] = tz.strip("'")
            i += 1
    if peek() == "period":
        i += 1
        if peek() != "(":
            raise ValueError("'(' expected")
        i += 1
        if peek() == "length":
            i += 1
            mult, unit = _stride(toks[i] if i < n else "", "LENGTH")
            if unit not in _PERIOD_UNITS:
                raise ValueError(
                    f"unsupported length unit: {mult}{unit}, supported "
                    "units are 's', 'm', 'h', 'd'"
                )
            if mult * _PERIOD_UNITS[unit] > 86400:
                raise ValueError(
                    f"maximum supported length interval is 24 hours: {mult}{unit}"
                )
            out["period_length"] = f"{mult}{unit}"
            i += 1
            if peek() == "time":
                i += 1
                if peek() != "zone":
                    raise ValueError("'zone' expected")
                i += 1
                nxt = toks[i] if i < n else ")"
                if nxt == ")" or nxt.lower() == "delay":
                    raise ValueError("TIME ZONE name expected")
                out["period_tz"] = nxt.strip("'")
                i += 1
            if peek() == "delay":
                i += 1
                dmult, dunit = _stride(toks[i] if i < n else "", "DELAY")
                if dunit not in _PERIOD_UNITS:
                    raise ValueError(
                        f"unsupported length unit: {dmult}{dunit}, supported "
                        "units are 's', 'm', 'h', 'd'"
                    )
                lm, lu = _stride(out["period_length"], "LENGTH")
                if dmult * _PERIOD_UNITS[dunit] >= lm * _PERIOD_UNITS[lu]:
                    raise ValueError(
                        "delay cannot be equal to or greater than length"
                    )
                out["period_delay"] = f"{dmult}{dunit}"
                i += 1
        elif peek() == "sample":
            # PERIOD(SAMPLE BY INTERVAL): length = the view's SAMPLE BY
            i += 3  # sample, by, interval
            out["period_length"] = "sample"
        else:
            raise ValueError("'length' or 'sample' expected")
        if peek() != ")":
            raise ValueError("')' expected")
        i += 1
    if i < n:
        # trailing tokens the grammar doesn't place (e.g. DEFERRED after
        # START — the reference orders DEFERRED before START/PERIOD)
        raise ValueError("'as' expected")
    return out


def is_matview_stmt(kind: str, s: str) -> bool:
    low = re.sub(r"\s+", " ", s.strip().lower())
    return (
        (kind == "create" and bool(re.match(r"create (materialized|live) view\b", low)))
        or kind == "refresh"
        or (kind == "alter" and bool(re.match(r"alter (materialized|live) view\b", low)))
        or (kind == "drop" and bool(re.match(r"drop (materialized|live) view\b", low)))
    )


def execute(eng: QdbEngine, kind: str, s: str) -> DataFrame:
    if kind == "create":
        return _create(eng, s)
    if kind == "refresh":
        return _refresh_stmt(eng, s)
    if kind == "alter":
        return _alter(eng, s)
    return _drop(eng, s)


def _status(eng: QdbEngine, op: str, name: str, detail: str = "") -> DataFrame:
    from .ddl import _sql_status_row

    return _sql_status_row(eng.spark, ["op", "view", "detail"], [op, name, detail])


def _create(eng: QdbEngine, s: str) -> DataFrame:
    from .ddl import _balanced_group
    from .parser import parse

    m = _CREATE_RE.match(s)
    if not m:
        raise ValueError(f"cannot parse CREATE VIEW: {s!r}")
    live = m.group(1).lower() == "live"
    if_not_exists, name, with_base = bool(m.group(2)), m.group(3), m.group(4)
    refresh = _parse_refresh(m.group(5) or "")
    if name in eng.matviews:
        if if_not_exists:
            return _status(eng, "create", name, "exists")
        raise ValueError(f"view exists: {name}")
    inner, _rest = _balanced_group(s[m.end() - 1 :])  # trailing PARTITION BY ignored:
    # the view's shape sets its storage layout (module docstring).  IN
    # VOLUME on a mat view (SqlCompilerImpl.java:4589) relocates the view's
    # storage like CREATE TABLE's form does, with the same unknown-alias
    # error.
    volume = None
    vm = re.search(r"\bin\s+volume\s+('[^']*'|\w+)", _rest, re.IGNORECASE)
    if vm:
        volume = vm.group(1).strip("'")
        if volume not in eng.volumes:
            raise ValueError(f"volume alias is not allowed [alias={volume}]")
    q = parse(eng._rewrite_intervals(inner))
    base = with_base or q.table
    base_ts = eng.designated_ts.get(base, "ts")
    # output column holding the bucket: the select item that is the bare
    # designated timestamp (the engine's SAMPLE BY lowering buckets it)
    ts_out = next(
        (i.alias or i.expr.strip() for i in q.select_items
         if (i.alias or i.expr.strip()) and i.expr.strip() == base_ts),
        base_ts,
    )
    # general live views (cairo/lv/ — arbitrary checkpointed queries):
    # SAMPLE BY gets bucket-window incremental refresh, LATEST ON a
    # per-key state merge, anything else change-gated recompute
    if q.sample_by is not None:
        shape, interval = "sample_by", q.sample_by.interval
    elif q.latest_on is not None:
        shape, interval = "latest_on", ""
    else:
        if not live:
            raise ValueError(
                "materialized views must be SAMPLE BY queries "
                "(MatViewDefinition: matViewSql is a sampled query); "
                "use CREATE LIVE VIEW for arbitrary queries (cairo/lv/)"
            )
        shape, interval = "generic", ""
    d = MatViewDef(
        name=name, base=base, inner_sql=inner, base_ts=base_ts, ts_out=ts_out,
        interval=interval, live=live, shape=shape,
        table=TimeTable(
            eng.spark,
            os.path.join(eng.volumes[volume] if volume else eng.warehouse, f"__mv_{name}"),
            ts_out,
            "day" if shape == "sample_by" else "none",
        ),
        **refresh,
    )
    if d.period_length == "sample":
        # PERIOD(SAMPLE BY INTERVAL): length = the view's own SAMPLE BY
        d.period_length = d.interval
    eng.matviews[name] = d
    if _restore_state(eng, d):
        return _status(eng, "create", name, "restored from checkpoint")
    if d.deferred:
        # DEFERRED: no refresh at creation — register the empty schema;
        # the first due read / manual REFRESH populates
        _write_view(d, _compute(eng, d, None).limit(0))
        _save_state(d)
        _register(eng, d)
    else:
        _refresh(eng, d, full=True)
    if d.refresh_type == "timer":
        d.next_due = _next_tick(d, _now())
        _save_state(d)
    return _status(eng, "create", name, "live" if live else "materialized")


def _refresh_stmt(eng: QdbEngine, s: str) -> DataFrame:
    m = _REFRESH_RE.match(re.sub(r"\s+", " ", s.strip()))
    if not m:
        raise ValueError(f"cannot parse REFRESH: {s!r}")
    name, mode = m.group(1), (m.group(2) or "incremental").lower()
    d = eng.matviews.get(name)
    if d is None:
        raise ValueError(f"no such materialized view: {name}")
    if d.wal_suspended:
        # suspended WAL parks the refresh txn (same economics as the
        # table-level queue): the view keeps serving its stored state
        # until ALTER ... RESUME WAL applies the backlog
        return _status(eng, f"refresh_{mode}", name, "wal suspended; refresh parked")
    return _status(eng, f"refresh_{mode}", name, _refresh(eng, d, full=mode == "full"))


def _drop(eng: QdbEngine, s: str) -> DataFrame:
    m = _DROP_RE.match(s)
    if not m:
        raise ValueError(f"cannot parse DROP VIEW: {s!r}")
    name = m.group(1)
    d = eng.matviews.pop(name, None)
    if d is None:
        if re.search(r"if\s+exists", s, re.IGNORECASE):
            return _status(eng, "drop", name, "absent")
        raise ValueError(f"no such materialized view: {name}")
    shutil.rmtree(d.table.path, ignore_errors=True)
    eng.tables.pop(name, None)
    eng.spark.catalog.dropTempView(name)
    return _status(eng, "drop", name)


_ALTER_VIEW_RE = re.compile(
    r"^alter\s+(materialized|live)\s+view\s+(\w+)\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)


def _alter(eng: QdbEngine, s: str) -> DataFrame:
    """ALTER MATERIALIZED VIEW (SqlCompilerImpl.java:2145
    compileAlterMatView) and ALTER LIVE VIEW (:2126 compileAlterLiveView).

    Mat-view forms: SET REFRESH [IMMEDIATE|MANUAL|EVERY <i> [START ..
    [TIME ZONE ..]]] [PERIOD (..)], SET REFRESH LIMIT <n><u>, SET TTL
    <n><u>, ALTER COLUMN <c> SYMBOL CAPACITY <n> | ADD INDEX | DROP
    INDEX, SUSPEND WAL [WITH code, 'msg'], RESUME WAL [FROM TXN n],
    REBASE WAL.  Live views accept only the WAL-control verbs (the
    reference rejects structural ALTERs: a live view's schema is a
    function of its SELECT).

    Spark lowering: scheduling/TTL/limit mutate the MatViewDef and are
    persisted to the state checkpoint; SUSPEND parks refreshes (reads
    serve the stored prefix) and RESUME applies the backlog with one
    catch-up refresh; symbol capacity / index are storage metadata
    recorded for SHOW-parity (parquet has no symbol index — validation
    surface matches the reference's error shapes)."""
    m = _ALTER_VIEW_RE.match(re.sub(r"\s+", " ", s.strip()))
    if not m:
        raise ValueError(f"cannot parse ALTER VIEW: {s!r}")
    kind_word, name, rest = m.group(1).lower(), m.group(2), m.group(3).strip()
    d = eng.matviews.get(name)
    if d is None:
        raise ValueError(
            f"materialized view does not exist: {name}"
            if kind_word == "materialized"
            else f"live view does not exist: {name}"
        )
    if kind_word == "materialized" and d.live:
        raise ValueError("materialized view name expected")
    if kind_word == "live" and not d.live:
        raise ValueError("live view name expected")
    low = rest.lower()

    # WAL-control verbs (shared by both view kinds)
    if low.startswith("suspend wal"):
        if not re.fullmatch(
            r"suspend\s+wal(\s+with\s+\S+\s*,\s*'[^']*')?", low
        ):
            raise ValueError(f"cannot parse SUSPEND WAL: {rest!r}")
        d.wal_suspended = True
        _save_state(d)
        return _status(eng, "alter", name, "wal suspended")
    if low.startswith("resume wal"):
        if not re.fullmatch(
            r"resume\s+wal(?:\s+from\s+(?:txn|transaction)\s+\d+)?", low
        ):
            raise ValueError(f"cannot parse RESUME WAL: {rest!r}")
        d.wal_suspended = False
        # apply the parked backlog: one catch-up refresh brings the view
        # current (the batch analog of replaying queued WAL txns)
        route = _refresh(eng, d, full=False)
        _save_state(d)
        return _status(eng, "alter", name, f"wal resumed; refresh {route}")
    if low.startswith("rebase wal"):
        rm = re.fullmatch(r"rebase\s+wal(?:\s+into\s+('[^']*'|\S+))?", low)
        if not rm:
            raise ValueError(f"cannot parse REBASE WAL: {rest!r}")
        tgt = (rm.group(1) or "").strip("'")
        if tgt and ("/" in tgt or "\\" in tgt or ".." in tgt):
            raise ValueError(f"invalid rebase target directory [dir={tgt}]")
        # rebase mints a fresh WAL lineage past a poison txn: the batch
        # analog clears suspension and forgets the consumed base position,
        # so the next refresh recomputes the view in full
        d.wal_suspended = False
        d.base_txn = d.base_frame = None
        _save_state(d)
        return _status(eng, "alter", name, "wal rebased")

    if kind_word == "live":
        raise ValueError("'resume' or 'suspend' expected")

    # --- mat-view-only structural/scheduling forms ---
    if low.startswith("set ttl"):
        tm = re.fullmatch(r"set\s+ttl\s+(\d+)\s*(\w+)", low)
        if not tm:
            raise ValueError(f"cannot parse SET TTL: {rest!r}")
        from .ddl import parse_ttl

        d.ttl_hours_or_months = parse_ttl(int(tm.group(1)), tm.group(2))
        _enforce_view_ttl(eng, d)
        _save_state(d)
        return _status(eng, "alter", name, f"ttl {tm.group(1)} {tm.group(2)}")

    if low.startswith("set refresh limit"):
        lm = re.fullmatch(r"set\s+refresh\s+limit\s+(\d+)\s*(\w+)", low)
        if not lm:
            raise ValueError(f"cannot parse SET REFRESH LIMIT: {rest!r}")
        from .ddl import parse_ttl

        d.refresh_limit = parse_ttl(int(lm.group(1)), lm.group(2))
        _save_state(d)
        return _status(
            eng, "alter", name, f"refresh limit {lm.group(1)} {lm.group(2)}"
        )

    if low.startswith("set refresh"):
        clause = rest[len("set "):]
        parsed = _parse_refresh(clause)
        if parsed["deferred"]:
            # DEFERRED is a CREATE-only token (the reference's SET REFRESH
            # grammar throws unexpectedToken on it)
            raise ValueError("unexpected token [token=deferred]")
        d.refresh_type = parsed["refresh_type"]
        d.timer_every = parsed["timer_every"]
        d.timer_start = parsed["timer_start"]
        d.timer_tz = parsed["timer_tz"]
        d.period_length = parsed["period_length"]
        d.period_tz = parsed["period_tz"]
        d.period_delay = parsed["period_delay"]
        if d.period_length == "sample":
            d.period_length = d.interval
        if d.refresh_type == "timer":
            # reference: timer start defaults to NOW when START is absent
            if d.timer_start is None:
                d.timer_start = _now()
            d.next_due = _next_tick(d, _now())
        else:
            d.next_due = None
        _save_state(d)
        return _status(eng, "alter", name, f"refresh {d.refresh_type}")

    if low.startswith("set "):
        raise ValueError("'ttl' or 'refresh' expected")

    if low.startswith("alter column"):
        cm = re.fullmatch(
            r"alter\s+column\s+(\w+)\s+"
            r"(symbol\s+capacity\s+(\d+)|add\s+index(?:\s+capacity\s+(\d+))?"
            r"|drop\s+index)",
            low,
        )
        if not cm:
            raise ValueError(
                "'symbol capacity', 'add index' or 'drop index' expected"
            )
        col, verb = cm.group(1), cm.group(2)
        view_df = eng.tables.get(name)
        cols = dict(view_df.dtypes) if view_df is not None else {}
        if col not in cols:
            raise ValueError(
                f"column '{col}' does not exist in materialized view '{name}'"
            )
        if verb.startswith("symbol"):
            if cols[col] != "string":
                raise ValueError(
                    f"column '{col}' is of type '{cols[col]}'. "
                    "SYMBOL CAPACITY supports column type 'SYMBOL' only."
                )
            d.symbol_capacities[col] = int(cm.group(3))
            _save_state(d)
            return _status(
                eng, "alter", name, f"symbol capacity {col} {cm.group(3)}"
            )
        if verb.startswith("add"):
            if col in d.indexed_columns:
                raise ValueError(f"column '{col}' already indexed")
            if cols[col] != "string":
                raise ValueError(
                    f"column '{col}' is of type '{cols[col]}'. "
                    "Index supports column type 'SYMBOL' only."
                )
            d.indexed_columns[col] = int(cm.group(4) or 0)
            _save_state(d)
            return _status(eng, "alter", name, f"add index {col}")
        if col not in d.indexed_columns:
            raise ValueError(f"column '{col}' is not indexed")
        d.indexed_columns.pop(col)
        _save_state(d)
        return _status(eng, "alter", name, f"drop index {col}")

    raise ValueError(
        "'alter', 'set', 'resume', 'suspend' or 'rebase' expected"
    )


def _enforce_view_ttl(eng: QdbEngine, d: MatViewDef) -> None:
    """Evict view day-partitions older than TTL from the newest bucket
    (TableWriter.enforceTtl economics on the view's own storage: partition
    drops keyed off partition names, no data rewrite; the newest partition
    is never evicted)."""
    ttl = d.ttl_hours_or_months
    if ttl == 0 or not os.path.isdir(d.table.path):
        return
    days = sorted(
        p.split("=", 1)[1]
        for p in os.listdir(d.table.path)
        if p.startswith(f"{PARTITION_COL}=")
    )
    if len(days) < 2:
        return
    boundary = _minus_hours_or_months(datetime.strptime(days[-1], "%Y-%m-%d"), ttl)
    evicted = [
        p for p in days[:-1]
        if datetime.strptime(p, "%Y-%m-%d") + timedelta(days=1) <= boundary
    ]
    for p in evicted:
        d.table.force_drop_partition(p)
    if evicted:
        _register(eng, d)


# ---------------------------------------------------------------------------


def _bucket_floor(dt: datetime, interval: str) -> datetime | None:
    """Python-side bucket floor mirroring operators/sample_by.bucket_col:
    fixed-width units floor on the epoch-micros grid, calendar months /
    years floor on multiples since 1970."""
    n, unit = parse_interval(interval)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    if unit == "M":
        months = (dt.year - 1970) * 12 + dt.month - 1
        fl = months // n * n
        return datetime(1970 + fl // 12, fl % 12 + 1, 1, tzinfo=timezone.utc)
    if unit == "y":
        yr = (dt.year - 1970) // n * n + 1970
        return datetime(yr, 1, 1, tzinfo=timezone.utc)
    width = n * _UNIT_MICROS[unit]
    us = int(dt.timestamp() * 1_000_000)
    return datetime.fromtimestamp((us - us % width) / 1_000_000, tz=timezone.utc)


def _now() -> datetime:
    """Wall clock for timer/period scheduling — module-level so tests can
    monkeypatch a fixed instant."""
    return datetime.now(timezone.utc)


def _tz_offset(tz: str | None, at: datetime):
    from zoneinfo import ZoneInfo, ZoneInfoNotFoundError

    if not tz:
        return timedelta(0)
    try:
        off = at.astimezone(ZoneInfo(tz)).utcoffset()
        return off if off is not None else timedelta(0)
    except (ZoneInfoNotFoundError, ValueError):
        # fixed offsets like '+02:00' (Dates.parseOffset)
        m = re.fullmatch(r"([+-])(\d{2}):?(\d{2})", tz)
        if m:
            sign = 1 if m.group(1) == "+" else -1
            return timedelta(minutes=sign * (int(m.group(2)) * 60 + int(m.group(3))))
        raise ValueError(f"invalid timezone: {tz}") from None


def _next_tick(d: MatViewDef, now: datetime) -> datetime:
    """First timer tick strictly after ``now`` on the grid
    start + k*every (MatViewTimerJob equivalent; calendar units step by
    month/year arithmetic)."""
    start = d.timer_start or now
    if start.tzinfo is None:
        start = start.replace(tzinfo=timezone.utc)
    mult, unit = int(d.timer_every[:-1]), d.timer_every[-1]
    if now < start:
        return start
    if unit in ("M", "y"):
        months_per = mult * (12 if unit == "y" else 1)
        elapsed = (now.year - start.year) * 12 + (now.month - start.month)
        k = elapsed // months_per + 1
        total = (start.year * 12 + start.month - 1) + k * months_per
        while True:
            try:
                tick = start.replace(year=total // 12, month=total % 12 + 1)
            except ValueError:  # day overflow (e.g. Jan 31 + 1M)
                total += months_per
                continue
            if tick > now:
                return tick
            total += months_per
    width = timedelta(microseconds=mult * _UNIT_MICROS[unit])
    k = int((now - start) / width) + 1
    return start + k * width


def _period_cutoff(d: MatViewDef, now: datetime) -> datetime | None:
    """Upper bound (exclusive, UTC) of the last COMPLETE period: the
    largest local-time boundary B with B + delay <= now_local
    (MatViewRefreshJob period semantics — an in-progress period is never
    served)."""
    if not d.period_length:
        return None
    off = _tz_offset(d.period_tz, now)
    local = now + off
    if d.period_delay:
        dm, du = int(d.period_delay[:-1]), d.period_delay[-1]
        local = local - timedelta(microseconds=dm * _UNIT_MICROS[du])
    floored = _bucket_floor(local.replace(tzinfo=timezone.utc), d.period_length)
    return floored - off


def _compute(eng: QdbEngine, d: MatViewDef, since: datetime | None) -> DataFrame:
    """Lower the stored view query, optionally bounded to buckets >= since
    (the predicate lands on the BASE scan — parquet row groups older than
    the cutoff are pruned, which is where the incremental economics come
    from)."""
    from .parser import parse

    q = parse(eng._rewrite_intervals(d.inner_sql))
    if since is not None:
        cond = f"{d.base_ts} >= TIMESTAMP '{_ts_text(since)}'"
        q.where = f"({q.where}) AND {cond}" if q.where else cond
    if d.period_length:
        # PERIOD views never serve the in-progress period: every refresh
        # (full and incremental alike) is bounded at the last complete
        # local-time period boundary
        cut = _period_cutoff(d, _now())
        if cut is not None:
            cond = f"{d.base_ts} < TIMESTAMP '{_ts_text(cut)}'"
            q.where = f"({q.where}) AND {cond}" if q.where else cond
    return eng._lower(q)


def _base_changes(eng: QdbEngine, d: MatViewDef):
    """The base's position now, and what changed since the view's last
    refresh, in ``TimeTable.changes_since`` form: ``()`` nothing, ``(lo,
    hi)`` epoch micros, None anything.  A DDL table answers from its change
    log; any other base (a registered frame) is unchanged only while it is
    the very frame the view last consumed."""
    t = eng.ddl_tables.get(d.base)
    if t is not None:
        return t.log_mark(), t.changes_since(d.base_txn)
    frame = eng.tables.get(d.base)
    unchanged = frame is not None and frame is d.base_frame
    return frame, () if unchanged else None


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _from_us(us: int) -> datetime:
    return _EPOCH + timedelta(microseconds=us)


def _to_us(dt: datetime) -> int:
    return (dt - _EPOCH) // timedelta(microseconds=1)


def _refresh(eng: QdbEngine, d: MatViewDef, full: bool) -> str:
    """Bring the view up to its base and return the route taken:
    ``unchanged``, ``full``, or ``from <since>`` (only rows at or after
    ``since`` recomputed)."""
    if d.base in eng._dirty_views:  # stale DDL-table temp view
        eng._flush_dirty_views(d.base)
    # read the base's position BEFORE the compute: an op committed while
    # the view computes is then seen again by the next refresh
    mark, change = _base_changes(eng, d)
    # a PERIOD view's cut-off moves with the clock: base rows in [the cut
    # the view last served, the current one) count as logged
    cut = _period_cutoff(d, _now())
    if cut != d.period_cut and change is not None:
        if cut is None or d.period_cut is None or cut < d.period_cut:
            change = None
        else:
            lo, hi = _to_us(d.period_cut), _to_us(cut) - 1
            change = (min(change[0], lo), max(change[1], hi)) if change else (lo, hi)
    if change == () and not full:
        return "unchanged"
    since = None
    if change and not full and d.shape != "generic":
        lo, hi = change
        since = _from_us(lo)
        if d.shape == "sample_by":
            # only added or upserted rows at ts >= lo: no bucket below
            # floor(lo) changed, and none at or above it can vanish
            since = _bucket_floor(since, d.interval)
            if d.refresh_limit:
                # SET REFRESH LIMIT: buckets older than the newest logged
                # ts - limit keep their stored values
                lim = _minus_hours_or_months(_from_us(hi), d.refresh_limit)
                since = max(since, _bucket_floor(lim, d.interval))
    if since is None:
        _write_view(d, _compute(eng, d, None))
    elif d.shape == "latest_on":
        if not _merge_latest(eng, d, since):
            since = None
            _write_view(d, _compute(eng, d, None))
    else:
        d.table.replace_from(_compute(eng, d, since), since)
    if isinstance(mark, DataFrame):
        d.base_frame, d.base_txn = mark, None
    else:
        d.base_frame, d.base_txn = None, mark
    d.period_cut = cut
    _save_state(d)
    _register(eng, d)
    if d.ttl_hours_or_months:
        _enforce_view_ttl(eng, d)
    return "full" if since is None else f"from {_ts_text(since)}"


def _merge_latest(eng: QdbEngine, d: MatViewDef, since: datetime) -> bool:
    """LATEST ON refresh after add/upsert-only base changes at ts >= since:
    the stored rows below ``since`` stand, the rows at or above it give
    way to the latest rows the base holds there (so incoming rows win every
    ts tie).  An upsert can move a stored row out of the query's filter or
    key; when a key's stored row at or above ``since`` has no successor
    there, its latest row lies below ``since`` and only a full recompute
    finds it — returns False and writes nothing."""
    from ..operators.latest import latest_on as _latest
    from .parser import parse as _parse

    ts_col, keys = _parse(eng._rewrite_intervals(d.inner_sql)).latest_on
    tail = _compute(eng, d, since)
    state = d.table.read().select(*tail.columns)
    recent = F.col(ts_col) >= _ts_lit(since)
    if state.filter(recent).join(tail, keys, "left_anti").limit(1).collect():
        return False
    merged = _latest(state.filter(~recent).unionByName(tail), ts_col, keys)
    _write_view(d, merged.select(*tail.columns))
    return True


def _ts_text(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%d %H:%M:%S.%f")


def _ts_lit(dt: datetime):
    return F.lit(_ts_text(dt)).cast("timestamp")


def _write_view(d: MatViewDef, out: DataFrame) -> None:
    """Replace the whole view.  A live view whose output has no timestamp
    sorts by its first column, the DDL layer's rule for tables without
    one."""
    if d.table.ts_col not in out.columns:
        d.table.ts_col = out.columns[0]
    d.table.write(out)


def _save_state(d: MatViewDef) -> None:
    """Checkpoint (LiveViewCheckpointDataStore equivalent): enough state to
    resume incremental refresh in a NEW session over the same warehouse."""
    _write_json(
        os.path.join(d.table.path, VIEW_STATE_FILE),
        {
            "inner_sql": d.inner_sql,
            "shape": d.shape,
            "base_txn": d.base_txn,
            "period_cut": d.period_cut.isoformat() if d.period_cut else None,
            "next_due": d.next_due.isoformat() if d.next_due else None,
            "wal_suspended": d.wal_suspended,
            "refresh_limit": d.refresh_limit,
            "ttl": d.ttl_hours_or_months,
            "symbol_capacities": d.symbol_capacities,
            "indexed_columns": d.indexed_columns,
        },
    )


def _restore_state(eng: QdbEngine, d: MatViewDef) -> bool:
    """Adopt a previous session's checkpoint when the stored query text
    matches — the restart path: no recompute, incremental refresh resumes
    from the persisted base txn (a checkpoint without one refreshes in
    full first)."""
    f = os.path.join(d.table.path, VIEW_STATE_FILE)
    try:
        with open(f) as fh:
            st = json.load(fh)
    except FileNotFoundError:
        # only a missing checkpoint means "none": a torn one raises rather
        # than silently recompute over the view's ALTER state
        return False
    if st.get("inner_sql") != d.inner_sql or st.get("shape") != d.shape:
        return False
    d.base_txn = tuple(st["base_txn"]) if st.get("base_txn") else None
    # a checkpoint without the served cut-off refreshes a PERIOD view in
    # full once
    d.period_cut = (
        datetime.fromisoformat(st["period_cut"]) if st.get("period_cut") else None
    )
    d.next_due = (
        datetime.fromisoformat(st["next_due"]) if st.get("next_due") else None
    )
    d.wal_suspended = st.get("wal_suspended", False)
    d.refresh_limit = st.get("refresh_limit", 0)
    d.ttl_hours_or_months = st.get("ttl", 0)
    d.symbol_capacities = st.get("symbol_capacities", {}) or {}
    d.indexed_columns = st.get("indexed_columns", {}) or {}
    _register(eng, d)
    return True


def _register(eng: QdbEngine, d: MatViewDef) -> None:
    # the table reads at its meta-cached schema: no inference job, also in
    # a restored session
    eng.register(d.name, d.table.read().drop(PARTITION_COL), designated_ts=d.ts_out)


def read_with_live_refresh(eng: QdbEngine, name: str) -> None:
    """Called by the engine's table resolver: a LIVE view incrementally
    refreshes before every read (the batch stand-in for
    REFRESH_TYPE_IMMEDIATE's refresh-on-transaction); a TIMER view
    refreshes only when the read arrives at/after its next-due tick —
    reads before the tick serve the stored (stale) state, exactly the
    reference's timer-job economics re-expressed pull-style."""
    d = eng.matviews.get(name)
    if d is None:
        return
    if d.wal_suspended:
        return  # SUSPEND WAL: reads serve the stored (stale) prefix
    if d.live:
        _refresh(eng, d, full=False)
        return
    if d.refresh_type == "timer" and d.timer_every:
        now = _now()
        if d.next_due is not None and now >= d.next_due:
            _refresh(eng, d, full=False)
            d.next_due = _next_tick(d, now)
            _save_state(d)
