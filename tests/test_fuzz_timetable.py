"""Operation-sequence fuzz over TimeTable — the reference's fuzz strategy
(``core/src/test/java/io/questdb/test/fuzz/``, ``test/cairo/fuzz/``:
random op sequences cross-checked against a non-WAL oracle), re-expressed
for this engine: every random insert / dedup-append / update / delete /
ALTER / detach / attach / drop-partition / TTL / vacuum / convert is
applied both to a TimeTable and to a pure-Python shadow table, and the
full logical table state is compared after every mutating op.

Tunables (env):
  SPARK_GRAFT_FUZZ_SEEDS  — number of random seeds (default 3)
  SPARK_GRAFT_FUZZ_OPS    — ops per sequence      (default 60)
A full ``SEEDS=10 OPS=200`` sweep is run out-of-band each round; defaults
keep the in-CI cost bounded.
"""

from __future__ import annotations

import os
import random
import shutil
import tempfile
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from questdb_spark.table import TimeTable

SEEDS = int(os.environ.get("SPARK_GRAFT_FUZZ_SEEDS", "3"))
OPS = int(os.environ.get("SPARK_GRAFT_FUZZ_OPS", "60"))

BASE = datetime(2024, 1, 1)
KEYS = ["a", "b", "c", "d"]
DAYS = 6  # ts domain: 6 daily partitions


class Shadow:
    """Pure-Python shadow table mirroring TimeTable's logical semantics —
    an independent reimplementation, not a call into the engine."""

    def __init__(self, dedup: bool, unit: str = "day"):
        self.rows: list[dict] = []  # logical rows
        self.cols: list[str] = ["ts", "k", "v"]
        self.types: dict[str, str] = {"ts": "ts", "k": "str", "v": "double"}
        self.dedup = dedup
        self.unit = unit
        self.detached: dict = {}  # partition date -> rows
        self.ttl_hours = 0
        self.suspended = False
        self.pending: list[tuple[int, list[dict]]] = []  # (seq, batch)

    def append(self, batch: list[dict]) -> None:
        if not self.dedup:
            self.rows.extend({c: r.get(c) for c in self.cols} for r in batch)
            return
        # in-batch last-write-wins on (k, ts) in row order
        last: dict = {}
        for r in batch:
            last[(r["k"], r["ts"])] = r
        incoming = list(last.values())
        inc_keys = set(last)
        matched = set()
        for row in self.rows:
            key = (row["k"], row["ts"])
            if key in inc_keys:
                src = last[key]
                for c in self.cols:
                    if c not in ("ts", "k"):
                        row[c] = src.get(c)
                matched.add(key)
        for r in incoming:
            if (r["k"], r["ts"]) not in matched:
                self.rows.append({c: r.get(c) for c in self.cols})

    def update(self, key: str, col: str, value) -> None:
        for r in self.rows:
            if r["k"] == key:
                r[col] = value

    def delete_v_below(self, bound: float) -> None:
        self.rows = [r for r in self.rows if not (r["v"] is not None and r["v"] < bound)]

    def add_column(self, name: str, typ: str) -> None:
        self.cols.append(name)
        self.types[name] = typ
        for r in self.rows:
            r[name] = None
        for rows in self.detached.values():
            for r in rows:
                r[name] = None  # detached partitions predate the column —
                # but attach() schema-checks, so they only return via rewrite

    def drop_column(self, name: str) -> None:
        self.cols.remove(name)
        del self.types[name]
        for r in self.rows:
            r.pop(name, None)

    def rename_column(self, old: str, new: str) -> None:
        self.cols[self.cols.index(old)] = new
        self.types[new] = self.types.pop(old)
        for r in self.rows:
            r[new] = r.pop(old, None)

    def convert_column(self, name: str, new_typ: str) -> None:
        """ALTER COLUMN TYPE mirror: numeric casts (values in the fuzz are
        whole numbers, so double<->long round-trips exactly)."""
        self.types[name] = new_typ
        cast = float if new_typ == "double" else int
        for r in self.rows:
            if r.get(name) is not None:
                r[name] = cast(r[name])

    def part_of(self, ts: datetime):
        if self.unit == "hour":
            return ts.replace(minute=0, second=0, microsecond=0)
        return ts.date()

    def detach(self, day) -> bool:
        moving = [r for r in self.rows if self.part_of(r["ts"]) == day]
        if not moving or day in self.detached:
            return False
        self.detached[day] = moving
        self.rows = [r for r in self.rows if self.part_of(r["ts"]) != day]
        return True

    def attach(self, day) -> None:
        self.rows.extend(self.detached.pop(day))

    def drop_partition(self, day) -> None:
        self.rows = [r for r in self.rows if self.part_of(r["ts"]) != day]

    def enforce_ttl(self) -> None:
        """Mirror TableWriter.enforceTtl: evict partitions whose ceiling is
        older than max(ts) − ttl; never the newest partition."""
        if self.ttl_hours == 0 or not self.rows:
            return
        parts = sorted({self.part_of(r["ts"]) for r in self.rows})
        if len(parts) < 2:
            return
        max_ts = max(r["ts"] for r in self.rows)
        boundary = max_ts - timedelta(hours=self.ttl_hours)
        evict = set()
        for p in parts[:-1]:
            if self.unit == "hour":
                ceiling = p + timedelta(hours=1)
            else:
                ceiling = datetime(p.year, p.month, p.day) + timedelta(days=1)
            if ceiling <= boundary:
                evict.add(p)
            else:
                break
        self.rows = [r for r in self.rows if self.part_of(r["ts"]) not in evict]


def _norm(v, typ):
    if v is None:
        return None
    if typ == "double":
        return round(float(v), 6)
    if typ == "long":
        return int(v)
    return v


def _sortkey(tup):
    return [repr(x) for x in tup]  # None-safe, type-stable total order


def _snapshot_shadow(sh: Shadow):
    return sorted(
        (tuple(_norm(r.get(c), sh.types[c]) for c in sh.cols) for r in sh.rows),
        key=_sortkey,
    )


def _snapshot_table(t: TimeTable, sh: Shadow):
    df = t.read(dedup=True)
    rows = df.select(*sh.cols).collect()
    return sorted(
        (tuple(_norm(r[c], sh.types[c]) for c in sh.cols) for r in rows),
        key=_sortkey,
    )


def _batch(rng: random.Random, sh: Shadow, n: int) -> list[dict]:
    out = []
    for _ in range(n):
        r = {
            "ts": BASE + timedelta(hours=rng.randrange(0, DAYS * 24)),
            "k": rng.choice(KEYS),
            "v": float(rng.randrange(0, 1000)),
        }
        for c in sh.cols:
            if c not in r:
                r[c] = (
                    float(rng.randrange(0, 100))
                    if sh.types[c] == "double"
                    else rng.randrange(0, 100)
                    if sh.types[c] == "long"
                    else rng.choice(["x", "y", None])
                )
        out.append(r)
    return out


def _spark_batch(spark, sh: Shadow, batch: list[dict]):
    t_map = {"ts": "timestamp", "str": "string", "double": "double", "long": "long"}
    schema = ", ".join(f"{c} {t_map[sh.types[c]]}" for c in sh.cols)
    return spark.createDataFrame(
        [tuple(r.get(c) for c in sh.cols) for r in batch], schema
    )


def _part_str(sh, p) -> str:
    """Engine interval string selecting exactly shadow-partition p."""
    return f"{p:%Y-%m-%dT%H}" if sh.unit == "hour" else p.isoformat()


@pytest.mark.parametrize("seed", range(SEEDS))
@pytest.mark.parametrize("dedup", [False, True], ids=["plain", "dedup"])
@pytest.mark.parametrize("unit", ["day", "hour"])
def test_fuzz_op_sequence(spark, seed, dedup, unit):
    rng = random.Random(8800 + seed)
    path = tempfile.mkdtemp(prefix=f"fuzz_{unit}_{int(dedup)}_{seed}_")
    t = TimeTable(spark, path, "ts", unit, dedup_keys=["k"] if dedup else None)
    sh = Shadow(dedup, unit)
    first = _batch(rng, sh, 8)
    t.append(_spark_batch(spark, sh, first), seq=0)
    sh.append(first)

    extra_col_i = 0
    seq = 1
    try:
        for step in range(OPS):
            op = rng.choices(
                ["append", "update", "delete", "addcol", "dropcol", "rename",
                 "detach", "attach", "droppart", "ttl", "vacuum", "convert",
                 "suspend", "resume", "squash", "forcedrop", "rebase"],
                weights=[38, 10, 8, 6, 3, 4, 6, 6, 5, 5, 9, 3, 4, 4, 3, 3, 2],
            )[0]
            if os.environ.get("SPARK_GRAFT_FUZZ_TRACE"):
                print(f"fuzz step={step} op={op} suspended={sh.suspended}", flush=True)
            # schema DDL and in-place DML are refused while the WAL is
            # suspended (the engine cannot order an eager rewrite against
            # parked txns) — assert the guard fires, state untouched
            guarded = {"update", "delete", "addcol", "dropcol", "rename",
                       "detach", "attach", "droppart", "ttl", "convert"}
            if sh.suspended and op in guarded:
                with pytest.raises(ValueError, match="suspended"):
                    t.add_column("__nope", "long")
                continue
            if op == "suspend":
                if sh.suspended:
                    continue
                t.suspend_wal()
                sh.suspended = True
            elif op == "resume":
                if not sh.suspended:
                    continue
                # skip a random prefix of parked txns (RESUME WAL FROM TXN)
                n_skip = rng.randrange(0, len(sh.pending) + 1)
                from_txn = (
                    sh.pending[n_skip][0] if n_skip < len(sh.pending) else seq
                ) if n_skip else None
                t.resume_wal(from_txn=from_txn)
                for s, b in sh.pending:
                    if from_txn is None or s >= from_txn:
                        sh.append(b)
                sh.pending = []
                sh.suspended = False
            elif op == "append":
                b = _batch(rng, sh, rng.randrange(1, 7))
                if dedup and b and rng.random() < 0.5:
                    # force exact (k, ts) dupes: in-batch + vs-storage
                    b.append({**b[0], "v": float(rng.randrange(0, 1000))})
                t.append(_spark_batch(spark, sh, b), seq=seq)
                if sh.suspended:
                    sh.pending.append((seq, b))
                else:
                    sh.append(b)
                seq += 1
            elif op == "update":
                key = rng.choice(KEYS)
                val = float(rng.randrange(0, 1000))
                t.update_where(F.col("k") == key, {"v": F.lit(val)})
                sh.update(key, "v", val)
            elif op == "delete":
                bound = float(rng.randrange(0, 300))
                t.delete_where(F.col("v") < bound)
                sh.delete_v_below(bound)
            elif op == "addcol":
                name = f"x{extra_col_i}"
                extra_col_i += 1
                typ = rng.choice(["double", "long", "str"])
                t.add_column(
                    name, {"double": "double", "long": "long", "str": "string"}[typ]
                )
                sh.add_column(name, typ)
            elif op == "dropcol":
                cands = [c for c in sh.cols if c.startswith("x")]
                if not cands:
                    continue
                name = rng.choice(cands)
                t.drop_column(name)
                sh.drop_column(name)
            elif op == "rename":
                cands = [c for c in sh.cols if c.startswith("x")]
                if not cands:
                    continue
                old = rng.choice(cands)
                new = f"x{extra_col_i}"
                extra_col_i += 1
                t.rename_column(old, new)
                sh.rename_column(old, new)
            elif op == "detach":
                live_days = sorted({sh.part_of(r["ts"]) for r in sh.rows})
                if len(live_days) < 2:
                    continue
                day = rng.choice(live_days[:-1])
                if day in sh.detached:
                    continue
                t.detach_partition(_part_str(sh, day))
                assert sh.detach(day)
            elif op == "attach":
                if not sh.detached:
                    continue
                day = rng.choice(sorted(sh.detached))
                try:
                    t.attach_partition(_part_str(sh, day))
                except ValueError:
                    # schema evolved since detach — the reference refuses
                    # the attach too; shadow keeps it detached
                    continue
                sh.attach(day)
            elif op == "droppart":
                live_days = sorted({sh.part_of(r["ts"]) for r in sh.rows})
                if len(live_days) < 2:
                    continue
                day = rng.choice(live_days[:-1])
                t.drop_partition(_part_str(sh, day))
                sh.drop_partition(day)
            elif op == "ttl":
                hours = rng.choice([0, 48, 72, 24 * 10])
                t.ttl_hours_or_months = hours
                sh.ttl_hours = hours
                t.enforce_ttl()
                sh.enforce_ttl()
            elif op == "rebase":
                # REBASE WAL: discard every parked txn, lift suspension —
                # the recovery path past a poison-pill commit
                t.rebase_wal()
                sh.pending = []
                sh.suspended = False
            elif op == "squash":
                # SQUASH PARTITIONS: compaction only, never a semantic
                # change — and legal while suspended (parked txns live in
                # the pending queue, not in partition dirs)
                t.vacuum()
            elif op == "forcedrop":
                # FORCE DROP PARTITION bypasses the suspension guard
                live_days = sorted({sh.part_of(r["ts"]) for r in sh.rows})
                if len(live_days) < 2:
                    continue
                day = rng.choice(live_days[:-1])
                t.force_drop_partition(_part_str(sh, day))
                sh.drop_partition(day)
            elif op == "vacuum":
                if dedup and rng.random() < 0.5:
                    t.compact()
                else:
                    t.vacuum()
                # no semantic change — state compare below is the check
            elif op == "convert":
                # ALTER COLUMN TYPE (ConvertOperatorImpl): numeric x-cols
                # toggle double<->long — a physical full rewrite
                cands = [
                    c for c in sh.cols
                    if c.startswith("x") and sh.types[c] in ("double", "long")
                ]
                if not cands:
                    continue
                name = rng.choice(cands)
                new_typ = "long" if sh.types[name] == "double" else "double"
                t.alter_column_type(name, new_typ)
                sh.convert_column(name, new_typ)
            if not sh.rows:
                # drop/TTL can empty the table: parquet dir has no live
                # files; re-seed so reads stay well-defined (mutations are
                # guarded while suspended, so rows can only empty here with
                # the WAL live — resume defensively regardless)
                if sh.suspended:
                    t.resume_wal()
                    for _s, b in sh.pending:
                        sh.append(b)
                    sh.pending = []
                    sh.suspended = False
                b = _batch(rng, sh, 4)
                t.append(_spark_batch(spark, sh, b), seq=seq)
                sh.append(b)
                seq += 1
            got = _snapshot_table(t, sh)
            want = _snapshot_shadow(sh)
            if got != want:
                from collections import Counter

                cg, cw = Counter(got), Counter(want)
                raise AssertionError(
                    f"seed={seed} dedup={dedup} unit={unit} step={step} op={op}:\n"
                    f"engine-only={list((cg - cw).elements())[:6]}\n"
                    f"shadow-only={list((cw - cg).elements())[:6]}"
                )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@pytest.mark.parametrize("seed", range(SEEDS))
@pytest.mark.parametrize("unit", ["day", "hour"])
def test_fuzz_in_order_commits(spark, seed, unit):
    """The in-order/O3 split of a DEDUP commit against the shadow: batches
    past the current max (half of them also re-sending the row AT the max
    with its stored key), resends of the previous batch, late batches,
    detach / attach of the newest partition, ``compact`` and ``vacuum``."""
    rng = random.Random(9900 + seed)
    path = tempfile.mkdtemp(prefix=f"fuzz_inorder_{unit}_{seed}_")
    t = TimeTable(spark, path, "ts", unit, dedup_keys=["k"])
    sh = Shadow(True, unit)
    step_h = 1 if unit == "hour" else 7  # event-time advance per batch

    def row(ts):
        return {"ts": ts, "k": rng.choice(KEYS), "v": float(rng.randrange(0, 1000))}

    prev = [row(BASE + timedelta(hours=h)) for h in range(0, 30, 3)]
    t.append(_spark_batch(spark, sh, prev), seq=0)
    sh.append(prev)
    seq = 1
    try:
        for step in range(max(OPS // 2, 1)):
            op = rng.choices(
                ["in_order", "resend", "late", "detach", "attach", "compact", "vacuum"],
                weights=[40, 12, 16, 8, 8, 6, 10],
            )[0]
            live_max = max((r["ts"] for r in sh.rows), default=BASE)
            if op == "in_order":
                b = [
                    row(live_max + timedelta(hours=rng.randrange(1, step_h + 1), minutes=m))
                    for m in rng.sample(range(60), rng.randrange(1, 5))
                ]
                if rng.random() < 0.5:
                    top = max(sh.rows, key=lambda r: r["ts"])
                    b.append({**row(top["ts"]), "k": top["k"]})
            elif op == "resend":
                b = prev
            elif op == "late":
                span = int((live_max - BASE).total_seconds() // 3600) + 1
                b = [
                    row(BASE + timedelta(hours=rng.randrange(span)))
                    for _ in range(rng.randrange(1, 5))
                ]
            if op in ("in_order", "resend", "late"):
                t.append(_spark_batch(spark, sh, b), seq=seq)
                sh.append(b)
                prev = b
                seq += 1
            elif op == "detach":
                live = sorted({sh.part_of(r["ts"]) for r in sh.rows})
                if len(live) < 2 or live[-1] in sh.detached:
                    continue
                t.detach_partition(_part_str(sh, live[-1]))
                assert sh.detach(live[-1])
            elif op == "attach":
                if not sh.detached:
                    continue
                day = max(sh.detached)
                try:
                    t.attach_partition(_part_str(sh, day))
                except ValueError:
                    # commits recreated the partition since the detach —
                    # the reference refuses the attach; the shadow keeps it
                    continue
                sh.attach(day)
            elif op == "compact":
                t.compact()
            else:
                t.vacuum()
            got, want = _snapshot_table(t, sh), _snapshot_shadow(sh)
            assert got == want, f"seed={seed} unit={unit} step={step} op={op}"
    finally:
        shutil.rmtree(path, ignore_errors=True)


# -- crash points of the partition commit -------------------------------------
# Every op that replaces or drops partitions commits through one record.
# Each op runs once to count the steps it reaches — staged writes, the
# record write, renames, the schema-cache fold, the stage delete — then
# once per step with that step raising.  A reopened table must read the
# shadow from before the op when the crash came before the record, and
# from after it otherwise, with no stage left behind.

_STEPS_BEFORE_RECORD = ("write", "record")
_DAY = timedelta(days=1)


def _crash_template(spark, path) -> Shadow:
    """A DEDUP day table over three partitions, each written by two
    in-order commits (two files each, so ``vacuum`` has work)."""
    t = TimeTable(spark, path, "ts", "day", dedup_keys=["k"])
    sh = Shadow(True)
    hours = [[0, 6, 12], [18, 30], [42, 54], [66]]
    for seq, hs in enumerate(hours):
        b = [
            {"ts": BASE + timedelta(hours=h), "k": KEYS[(h // 6) % 3], "v": float(h)}
            for h in hs
        ]
        t.append(_spark_batch(spark, sh, b), seq=seq)
        sh.append(b)
    return sh


def _crash_op(spark, t: TimeTable, sh: Shadow, op: str) -> Shadow:
    """Apply ``op`` to ``t``; return the shadow after it."""
    import copy

    after = copy.deepcopy(sh)
    if op == "merge":  # late rows into two partitions, one an upsert
        b = [
            {"ts": BASE + timedelta(hours=6), "k": KEYS[1], "v": 600.0},
            {"ts": BASE + timedelta(hours=31), "k": "d", "v": 31.0},
        ]
        t.append(_spark_batch(spark, sh, b), seq=9)
        after.append(b)
    elif op == "update":
        t.update_where(F.col("k") == "a", {"v": F.lit(-1.0)})
        after.update("a", "v", -1.0)
    elif op == "delete":  # empties the first partition, thins the second
        t.delete_where((F.col("ts") < F.lit(BASE + _DAY)) | (F.col("v") == 30.0))
        after.rows = [
            r for r in after.rows if r["ts"] >= BASE + _DAY and r["v"] != 30.0
        ]
    elif op == "replace_from":  # the stored rows carry the seq column
        since = BASE + timedelta(hours=24)
        b = [{"ts": BASE + timedelta(hours=50), "k": "d", "v": 50.0}]
        t.replace_from(
            _spark_batch(spark, sh, b).withColumn(t.seq_col, F.lit(0)), since
        )
        after.rows = [r for r in after.rows if r["ts"] < since] + b
    elif op == "write":
        b = [{"ts": BASE + timedelta(hours=30), "k": "d", "v": 1.0}]
        t.write(_spark_batch(spark, sh, b))
        after.rows = b
    elif op == "compact":
        t.compact()
    elif op == "vacuum":
        assert t.vacuum() == 3
    elif op == "droppart":
        t.drop_partition(_part_str(sh, (BASE + _DAY).date()))
        after.drop_partition((BASE + _DAY).date())
    else:  # ttl: evicts the two older partitions
        t.ttl_hours_or_months = after.ttl_hours = 12
        assert len(t.enforce_ttl()) == 2
        after.enforce_ttl()
    return after


def _instrument(monkeypatch, crash_at=None):
    """Count the commit's steps, and raise at ``crash_at`` = (step, k)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from questdb_spark import table as table_mod

    seen: dict[str, int] = {}

    def in_stage(args):
        return any(
            ".stage" in os.fspath(x) for x in args if isinstance(x, (str, os.PathLike))
        )

    def step(kind, real, match):
        def wrapped(*a, **k):
            if not match(a):
                return real(*a, **k)
            seen[kind] = seen.get(kind, 0) + 1
            if crash_at == (kind, seen[kind]):
                if kind == "write":
                    real(*a, **k)  # the staged copy is complete, then the crash
                raise OSError(f"injected crash at {kind} {seen[kind]}")
            return real(*a, **k)

        return wrapped

    monkeypatch.setattr(
        DataFrameWriter, "parquet",
        step("write", DataFrameWriter.parquet, lambda a: in_stage(a[1:2])),
    )
    monkeypatch.setattr(
        table_mod, "_write_json",
        step("record", table_mod._write_json, lambda a: a[0].endswith("commit.json")),
    )
    monkeypatch.setattr(os, "rename", step("rename", os.rename, in_stage))
    monkeypatch.setattr(
        TimeTable, "_note_write", step("note", TimeTable._note_write, lambda a: True)
    )
    monkeypatch.setattr(shutil, "rmtree", step("delete", shutil.rmtree, in_stage))
    return seen


@pytest.mark.parametrize(
    "op",
    ["merge", "update", "delete", "replace_from", "write", "compact", "vacuum",
     "droppart", "ttl"],
)
def test_crash_point_every_rewrite(spark, tmp_path, monkeypatch, op):
    template = str(tmp_path / "template")
    sh = _crash_template(spark, template)

    def run(name, crash_at=None):
        path = str(tmp_path / name)
        shutil.copytree(template, path)
        t = TimeTable(spark, path, "ts", "day", dedup_keys=["k"])
        seen = _instrument(monkeypatch, crash_at)
        try:
            after = _crash_op(spark, t, sh, op)
        finally:
            monkeypatch.undo()
        return path, after, seen

    path, after, counts = run("clean")
    assert not os.path.exists(os.path.join(path, ".stage"))
    assert _snapshot_table(TimeTable(spark, path, "ts", "day", ["k"]), sh) == (
        _snapshot_shadow(after)
    )
    assert "record" in counts and "rename" in counts and "delete" in counts
    for kind, n in sorted(counts.items()):
        for k in range(1, n + 1):
            with pytest.raises(OSError, match="injected"):
                run(f"{kind}{k}", (kind, k))
            path = str(tmp_path / f"{kind}{k}")
            t = TimeTable(spark, path, "ts", "day", dedup_keys=["k"])
            want = sh if kind in _STEPS_BEFORE_RECORD else after
            assert not os.path.exists(os.path.join(path, ".stage")), (kind, k)
            assert _snapshot_table(t, sh) == _snapshot_shadow(want), (kind, k)
