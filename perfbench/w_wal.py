"""``wal_ingest``: ILP commits into a WAL dedup table with a mat view.

Set-up creates ``ticks`` with ``PARTITION BY DAY WAL DEDUP UPSERT
KEYS(ts, sym)``, commits a first day of rows, creates a ``SAMPLE BY 1h``
materialized view over it and reads both back.  Each step of the closed loop is then:

1. commit: a seeded batch rendered as ILP lines, parsed through
   ``sources.ilp`` and written with ``INSERT INTO ticks SELECT``;
2. read-after-write: ``REFRESH MATERIALIZED VIEW .. INCREMENTAL``, a
   ``LATEST ON ts PARTITION BY sym`` read of the table, then a read of
   the view's buckets from the start of the previous day on (every bucket
   the commit can change).

Each commit advances event time by a fixed slice, so a day partition
holds a bounded number of commits.  Every odd step also carries
out-of-order rows into the previous day partition: seeded keys of that
day re-sent with new values, which dedup must upsert, and as many new
keys.  The new keys matter: the engine's incremental refresh notices
writes below its cut-off by the change in their row count, so upserts
alone would leave stale view buckets (its docs ask for ``REFRESH .. FULL``
then), and the view checks would count every later read as failed.  The
loop runs a fixed number of whole (odd, even) step pairs for a given
``--seconds``, each followed by a ``VACUUM TABLE`` as maintenance, so
every run does the same work.  A pandas shadow keeps last-write-wins on
(ts, sym); every read, the final count and sum, and the whole view are
checked against it.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import harness

ROWS_PER_COMMIT = 2_500
SLICE_US = 6 * 3600 * 1_000_000
LATE_ROWS = 250
# an (odd, even) step pair takes about 7.5 s on the 4-core reference box:
# the loop runs seconds / PAIR_S pairs
PAIR_S = 7.5
SYMS = [f"S{i:02d}" for i in range(20)]
START = np.datetime64("2024-03-01T00:00:00", "us")
DAY_US = 86_400 * 1_000_000
_LAYOUT = {"tags": ["sym"], "double": ["price"], "long": ["qty"], "string": [], "bool": []}


def _view_lo(step: int) -> np.datetime64:
    """Start of the day before the slice of ``step``: the earliest view
    bucket that a commit of ``step``, late rows included, can change."""
    day0 = (step * SLICE_US // DAY_US) * DAY_US
    return START + np.timedelta64(max(day0 - DAY_US, 0), "us")


def _table_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


class WalIngest:
    name = "wal_ingest"
    scales = ()  # makes its own rows, reads no generated tables
    warm_setups = 2  # a warm set-up commits a day of rows, about 5 s

    def _batch(
        self, rng: np.random.Generator, step: int, slices: int = 1
    ) -> pd.DataFrame:
        """Rows for ``slices`` time slices from ``step`` on; every odd step
        also carries late rows into the previous day: half of them re-sent
        keys, half new ones."""
        lo = START + np.timedelta64(step * SLICE_US, "us")
        n = ROWS_PER_COMMIT * slices
        offs = np.sort(rng.choice(SLICE_US * slices, n, replace=False))
        b = pd.DataFrame(
            {
                "ts": lo + offs.astype("timedelta64[us]"),
                "sym": rng.choice(SYMS, n),
                "price": np.round(rng.uniform(10, 500, n), 2),
                "qty": rng.integers(1, 1000, n),
            }
        )
        day0 = (step * SLICE_US // DAY_US) * DAY_US
        if day0 > 0 and step % 2 == 1:
            prev_lo = START + np.timedelta64(day0 - DAY_US, "us")
            prev = self.shadow[
                (self.shadow["ts"] >= prev_lo)
                & (self.shadow["ts"] < START + np.timedelta64(day0, "us"))
            ]
            resent = prev.sample(n=min(LATE_ROWS // 2, len(prev)), random_state=rng)
            k = LATE_ROWS - len(resent)
            offs = np.sort(rng.choice(DAY_US, k, replace=False))
            fresh = pd.DataFrame(
                {
                    "ts": prev_lo + offs.astype("timedelta64[us]"),
                    "sym": rng.choice(SYMS, k),
                }
            )
            late = pd.concat([resent[["ts", "sym"]], fresh], ignore_index=True)
            late = late.assign(
                price=np.round(rng.uniform(10, 500, len(late)), 2),
                qty=rng.integers(1, 1000, len(late)),
            )
            b = pd.concat([b, late], ignore_index=True)
        return b

    def _commit(self, ctx, batch: pd.DataFrame) -> float:
        """ILP render (client side, untimed), then parse + INSERT (timed)."""
        from questdb_spark.sources import ilp

        ns = batch["ts"].to_numpy().astype("datetime64[ns]").astype(np.int64)
        lines = [
            f"ticks,sym={s} price={p!r},qty={q}i {t}"
            for s, p, q, t in zip(batch["sym"], batch["price"], batch["qty"], ns)
        ]
        tr = ctx.tracer
        t0 = time.perf_counter()
        with tr.span("sources.ilp", phase="ilp"):
            raw = ctx.spark.createDataFrame(pd.DataFrame({"value": lines}))
            rows = ilp.parse_ilp(raw).filter("measurement = 'ticks'")
            self.eng.register("ilp_batch", ilp.project_layout(rows, _LAYOUT))
        with tr.span("table.commit", phase="commit"):
            self.eng.sql("INSERT INTO ticks SELECT ts, sym, price, qty FROM ilp_batch")
        ms = (time.perf_counter() - t0) * 1e3
        self.shadow = (
            pd.concat([self.shadow, batch], ignore_index=True)
            .drop_duplicates(["ts", "sym"], keep="last")
        )
        self.user_bytes += pa.Table.from_pandas(batch, preserve_index=False).nbytes
        self.user_rows += len(batch)
        return ms

    def setup(self, ctx) -> None:
        from questdb_spark.sqlfront import QdbEngine

        self.eng = QdbEngine(ctx.spark, warehouse=ctx.warehouse)
        self.table_dir = os.path.join(ctx.warehouse, "ticks")
        self.shadow = pd.DataFrame(
            {"ts": pd.Series(dtype="datetime64[us]"), "sym": [], "price": [], "qty": []}
        )
        self.user_bytes = self.user_rows = 0
        self.eng.sql(
            "CREATE TABLE ticks (ts TIMESTAMP, sym SYMBOL, price DOUBLE, qty LONG) "
            "TIMESTAMP(ts) PARTITION BY DAY WAL DEDUP UPSERT KEYS(ts, sym)"
        )
        # the first day in one commit, so the loop's out-of-order rows
        # always have a previous day partition to land in
        day = DAY_US // SLICE_US
        self._commit(ctx, self._batch(np.random.default_rng(0), 0, slices=day))
        self.eng.sql(
            "CREATE MATERIALIZED VIEW ticks_1h AS (SELECT ts, sym, count(*) AS n, "
            "sum(qty) AS q, max(price) AS hi FROM ticks SAMPLE BY 1h)"
        )
        # read the first day back: checks the set-up and warms the read path
        if not self._read_after_write(ctx, START)[2]:
            raise RuntimeError("set-up read-back differs from the shadow")
        self.step = day

    def _want_view(self, lo) -> pd.DataFrame:
        """The view's buckets from ``lo`` on, as the shadow has them."""
        recent = self.shadow[self.shadow["ts"] >= lo]
        return (
            recent.assign(ts=recent["ts"].dt.floor("h"))
            .groupby(["ts", "sym"], as_index=False)
            .agg(n=("qty", "size"), q=("qty", "sum"), hi=("price", "max"))
        )

    def _check_reads(self, latest: pd.DataFrame, view: pd.DataFrame, lo) -> bool:
        sh = self.shadow
        want_latest = sh.loc[sh.groupby("sym")["ts"].idxmax(), ["sym", "ts", "price", "qty"]]
        return checks.same_result(latest, want_latest) and checks.same_result(
            view, self._want_view(lo)
        )

    def _read_after_write(self, ctx, lo) -> tuple[float, float, bool]:
        tr = ctx.tracer
        t0 = time.perf_counter()
        with tr.span("streaming.refresh", phase="refresh"):
            self.eng.sql("REFRESH MATERIALIZED VIEW ticks_1h INCREMENTAL")
        t1 = time.perf_counter()
        with tr.span("spark.action", phase="read"):
            latest = self.eng.sql(
                "SELECT sym, ts, price, qty FROM ticks LATEST ON ts PARTITION BY sym"
            ).toPandas()
            view = self.eng.sql(
                f"SELECT * FROM ticks_1h WHERE ts >= '{pd.Timestamp(lo).isoformat()}'"
            ).toPandas()
        t2 = time.perf_counter()
        return (t2 - t0) * 1e3, (t1 - t0) * 1e3, self._check_reads(latest, view, lo)

    def _step(self, ctx, rng, op_id: str) -> list[dict]:
        """One step: the commit and its read-after-write, two operations."""
        tr = ctx.tracer
        batch = self._batch(rng, self.step)
        lo = _view_lo(self.step)
        before = _table_files(self.table_dir) if tr.enabled else None
        commit = {"op": op_id + "c", "kind": "commit", "rows": len(batch), "ok": True}
        with tr.span("op", op=commit["op"]):
            try:
                commit["ms"] = self._commit(ctx, batch)
            except Exception as e:  # counted as a failed operation
                commit.update(ok=False, ms=0.0, error=f"{type(e).__name__}: {str(e)[:200]}")
        if before is not None:
            self.file_stats.append(self._file_delta(before, batch))
        raw = {"op": op_id + "r", "kind": "read_after_write", "ok": True}
        with tr.span("op", op=raw["op"]):
            try:
                raw["ms"], raw["refresh_ms"], raw["ok"] = self._read_after_write(ctx, lo)
                if not raw["ok"]:
                    raw["error"] = "read-after-write differs from the shadow"
            except Exception as e:  # counted as a failed operation
                raw.update(ok=False, ms=0.0, error=f"{type(e).__name__}: {str(e)[:200]}")
        self.step += 1
        return [commit, raw]

    def run(self, ctx, seconds: float) -> list[dict]:
        """Warm-up: one step without late rows (the first merge-upsert of
        this JVM); a failed warm-up operation is counted.  The measured
        loop then runs ``round(seconds / PAIR_S)`` (at least one) whole
        (odd, even) step pairs, so every pair has one out-of-order commit,
        and each pair ends with a ``VACUUM TABLE``.  A pair count that
        followed the clock would give a slow run fewer pairs and so a
        larger share of the slower first pair."""
        tr = ctx.tracer
        rng = np.random.default_rng(ctx.seed)
        self.vacuum_ms: list[float] = []
        self.file_stats: list[dict] = []
        assert self.step % 2 == 0  # the warm-up step carries no late rows
        ops = [r for r in self._step(ctx, rng, "w") if not r["ok"]]
        self.file_stats.clear()
        loop_start = time.perf_counter()
        rows_start = self.user_rows
        cpu_start = harness.cpu_s(ctx.pids)
        for pair in range(max(1, round(seconds / PAIR_S))):
            ops += self._step(ctx, rng, f"{2 * pair}")
            ops += self._step(ctx, rng, f"{2 * pair + 1}")
            with tr.span("table.vacuum", op=f"v{pair}", phase="vacuum"):
                t0 = time.perf_counter()
                self.eng.sql("VACUUM TABLE ticks")
                self.vacuum_ms.append((time.perf_counter() - t0) * 1e3)
        self.loop_s = time.perf_counter() - loop_start
        self.loop_cpu_s = harness.cpu_s(ctx.pids) - cpu_start
        self.loop_rows = self.user_rows - rows_start
        return ops

    def _file_delta(self, before: dict, batch: pd.DataFrame) -> dict:
        after = _table_files(self.table_dir)
        new = [p for p in after if p not in before]
        parts = {os.path.dirname(p) for p in after}
        return {
            "rows_rewritten_per_row": sum(pq.read_metadata(p).num_rows for p in new)
            / len(batch),
            "bytes_written_per_user_byte": sum(after[p] for p in new)
            / pa.Table.from_pandas(batch, preserve_index=False).nbytes,
            "partitions_touched": len({os.path.dirname(p) for p in new}),
            "files_per_partition": len(after) / max(len(parts), 1),
        }

    def verify(self, ctx, ops: list[dict]) -> None:
        """Final count and sum, and the whole view, against the shadow; a
        mismatch fails the last op."""
        got = self.eng.sql("SELECT count(*) AS n, sum(qty) AS q FROM ticks").toPandas()
        want = pd.DataFrame({"n": [len(self.shadow)], "q": [self.shadow["qty"].sum()]})
        if ops and not checks.same_result(got, want):
            ops[-1].update(ok=False, error="final count/sum differs from the shadow")
        view = self.eng.sql("SELECT * FROM ticks_1h").toPandas()
        if ops and not checks.same_result(view, self._want_view(START)):
            ops[-1].update(ok=False, error="final view differs from the shadow")

    def extra_metrics(self, ops: list[dict]) -> dict:
        raw = [r for r in ops if r["ok"] and r["kind"] == "read_after_write"]
        commits = [r["ms"] for r in ops if r["ok"] and r["kind"] == "commit"]
        fs = self.file_stats  # traced runs only
        mean = lambda k: sum(f[k] for f in fs) / len(fs)  # noqa: E731
        table = (
            {
                "table.rows_rewritten_per_row": mean("rows_rewritten_per_row"),
                "table.bytes_written_per_user_byte": mean("bytes_written_per_user_byte"),
                "table.partitions_touched_per_commit": mean("partitions_touched"),
                "table.files_per_partition": mean("files_per_partition"),
            }
            if fs
            else {}
        )
        return {
            **table,
            "wal.commit_p50_ms": checks.median(commits),
            "wal.read_after_write_p50_ms": checks.median(r["ms"] for r in raw),
            "wal.ingest_rows_per_s": self.loop_rows / self.loop_s,
            "wal.storage_bytes_per_user_byte": _dir_bytes(self.table_dir) / self.user_bytes,
            "streaming.matview_refresh_ms": checks.median(r["refresh_ms"] for r in raw),
            "table.vacuum_ms": checks.median(self.vacuum_ms),
        }
