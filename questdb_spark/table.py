"""TimeTable — the engine's table abstraction.

Reference: a QuestDB table is a time-partitioned columnar store sorted by
its designated timestamp with optional dedup keys
(``cairo/TableWriter.java:164``, ``cairo/PartitionBy.java:46-55``,
``DEDUP UPSERT KEYS`` ``griffin/SqlParser.java:3081``), plus online DDL
(``griffin/engine/ops/AlterOperation.java``) and UPDATE
(``griffin/UpdateOperatorImpl.java``).

Spark mapping: a parquet directory partitioned by `part_date =
date_trunc(unit, ts)`, rows sorted by ts within files. That layout gives
Catalyst partition pruning on every time predicate — the interval scan of
the reference at partition grain.  Row groups are NOT pruned by ts: Spark
writes the ts column as INT96, which carries no min/max statistics.
Writes go through append (WAL-style): in-order DEDUP commits and plain
appends add files.  Every op that replaces or drops partitions — the O3
merge, UPDATE, DELETE, ``replace_from``, ``write``/``compact``/ALTER
TYPE, ``vacuum``, DROP PARTITION and TTL — goes through one partition
commit (``_commit``): new partitions stage under ``.stage/``, one record
names what goes in and what goes, and the renames follow; a crash at any
step leaves the old table or, once the record is written, rolls forward
(the reference's O3 apply published by one ``_txn`` bump).  Every op that
changes rows logs what it touched in the meta journal's change log (the
reference's txn log), which dialect view refreshes read.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from calendar import monthrange
from collections.abc import Sequence
from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DateType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .operators.intervals import parse_interval_string
from .operators.latest import latest_on

PARTITION_COL = "part_date"
_UNITS = {"hour", "day", "month", "year", "none"}  # PartitionBy.java incl. NONE
# a dialect view's refresh checkpoint (sqlfront/matview_ddl.py); the
# underscore keeps it out of parquet discovery
VIEW_STATE_FILE = "_lv_state.json"
# a partition commit's staging area: the dot prefix keeps it out of
# Spark's file discovery, ``_any_parquet`` and the partition listings
_STAGE = ".stage"
# change-log entries the meta journal keeps; a reader further behind than
# this sees a gap and recomputes in full
_LOG_KEEP = 64
_LOG_KEYS = ("log_id", "txn", "log")


def _as_nullable(dt):
    """Parquet read-back relaxes nullability recursively (file sources call
    ``asNullable``); normalize cached schemas the same way so an explicit-
    schema read is indistinguishable from an inferred one."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(dt.keyType, _as_nullable(dt.valueType), True)
    return dt


def _any_parquet(path: str) -> bool:
    """True when live (non-detached, non-hidden) parquet files exist."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _part_dirs(root: str) -> list[str]:
    """The partition directory names under ``root``, oldest first."""
    if not os.path.isdir(root):
        return []
    return sorted(p for p in os.listdir(root) if p.startswith(f"{PARTITION_COL}="))


def _write_json(path: str, obj) -> None:
    """Crash-safe JSON state write: dump to a tmp file in the same
    directory, fsync it, then ``os.replace`` it over ``path`` — a reader
    sees the old state or the new one, never a torn file.  The tmp name
    starts with the target's ``_``/``.`` prefix, so Spark's file listing
    skips a leftover from a crash."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _minus_hours_or_months(dt: datetime, hours_or_months: int) -> datetime:
    """Subtract a ``parse_ttl``-encoded span (hours > 0, months < 0), the
    TableWriter.enforceTtl boundary arithmetic. A month step clamps the
    day to the target month's length (Mar 31 − 1 month = Feb 29 in 2024)."""
    if hours_or_months > 0:
        return dt - timedelta(hours=hours_or_months)
    yr, mo = divmod(dt.year * 12 + dt.month - 1 + hours_or_months, 12)
    mo += 1
    return dt.replace(year=yr, month=mo, day=min(dt.day, monthrange(yr, mo)[1]))


class TimeTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        ts_col: str,
        partition_by: str = "day",
        dedup_keys: Sequence[str] | None = None,
        seq_col: str = "__seq",
    ):
        if partition_by not in _UNITS:
            raise ValueError(f"partition_by must be one of {_UNITS}")
        self.spark = spark
        self.path = path
        self.ts_col = ts_col
        self.partition_by = partition_by
        self.dedup_keys = list(dedup_keys) if dedup_keys else []
        # DEDUP UPSERT KEYS(ts) alone is a valid key set (the designated ts
        # is always part of the grain) — the DDL layer sets this True even
        # when the stripped extra-key list is empty
        self.dedup_enabled = bool(self.dedup_keys)
        self.seq_col = seq_col
        # TTL, reference encoding (SqlParser.parseTtlHoursOrMonths): positive
        # = hours, negative = months; 0 = disabled
        self.ttl_hours_or_months = 0
        # table params (alterTableSetParam: maxUncommittedRows, o3MaxLag)
        # and column storage hints (symbol capacity / index / cache) — all
        # recorded, none change this engine's physical plan: parquet
        # dictionary encoding + row-group min/max pruning (which symbol
        # columns carry) substitute for symbol tables and bitmap indexes
        # (SURVEY §2.2)
        self.params: dict[str, str] = {}
        self._declared_cols: list[str] | None = None  # lazy, meta-backed
        self._recover()  # a partition commit cut short by a crash

    # -- write path --------------------------------------------------------
    def _with_partition(self, df: DataFrame, ts_col: str | None = None) -> DataFrame:
        """Partition value for a row. HOUR granularity keeps the hour in the
        value as a 'yyyy-MM-dd-HH' string (PartitionBy.java HOUR) — casting
        to date would silently coarsen hourly partitions to daily, weakening
        pruning and drop_partition. Coarser units stay date-typed."""
        if self.partition_by == "none" or self.ts_col is None:
            # unpartitioned table (PartitionBy.NONE — no designated ts):
            # one constant partition keeps the same on-disk layout
            return df.withColumn(PARTITION_COL, F.lit("1970-01-01").cast("date"))
        trunc = F.date_trunc(self.partition_by, F.col(ts_col or self.ts_col))
        if self.partition_by == "hour":
            return df.withColumn(PARTITION_COL, F.date_format(trunc, "yyyy-MM-dd-HH"))
        return df.withColumn(PARTITION_COL, trunc.cast("date"))

    def _part_bound(self, dt):
        """Truncate a python datetime to this table's partition value
        (the literal compared against PARTITION_COL)."""
        from datetime import date

        if self.partition_by == "none":
            return date(1970, 1, 1)
        if self.partition_by == "hour":
            return dt.strftime("%Y-%m-%d-%H")
        if self.partition_by == "day":
            return dt.date()
        if self.partition_by == "month":
            return date(dt.year, dt.month, 1)
        return date(dt.year, 1, 1)

    def _write_width(self, df: DataFrame | None = None) -> int:
        """Shuffle width for partitioned writes.  A bare
        ``repartition(PARTITION_COL)`` uses spark.sql.shuffle.partitions
        and AQE then coalesces the (small) shuffle to ~one task, which
        writes every partition directory SERIALLY — 4x slower than a
        parallel write even at sf0.1.  An explicit width disables the
        coalesce and spreads partition values across the cluster.

        The width is SIZE-ADAPTIVE (r13 opt, guide §6 output sizing):
        ~32 MB of input per write task, floored at 8 (directory-level
        write parallelism — the r8 serial-write measurement picked 4, an
        interleaved r14 A/B moved the floor to 8: a ~30-dir day write is
        encode-bound and 8 tasks × ~4 dirs beat 4 × ~8 by ~15%), capped
        at defaultParallelism.  A 100 TB write saturates the cluster
        exactly as before (the estimate exceeds cores × 32 MB); a
        MB-scale lifecycle write stops paying 32 task launches to emit
        30 small files (measured 0.62 s -> 0.43-0.47 s per CREATE at
        sf0.1).  Estimate-failure falls back to full width."""
        cores = max(int(self.spark.sparkContext.defaultParallelism), 8)
        if df is None:
            return cores
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            return cores
        if est <= 0 or est > (1 << 50):  # unknown / join-product estimate
            return cores
        return max(8, min(cores, (est >> 25) + 1))

    # -- physical-schema cache (r14 opt, guide §6/§1: every mergeSchema
    # read construction runs a footer-merging Spark job ≈150 ms at sf0.1;
    # the engine is the only writer of its table dirs, so it KNOWS the
    # merged physical schema and can hand it to the reader explicitly.
    # Per-file missing columns still read as nulls (clipped parquet
    # schema), identical to a mergeSchema read. Cache lives in the meta
    # journal so it survives engine restarts; any doubt (type conflict,
    # legacy dir without a cache) falls back to mergeSchema.
    def _cached_schema(self) -> StructType | None:
        js = self._meta().get("phys_schema")
        if not js:
            return None
        try:
            return StructType.fromJson(js)
        except (KeyError, TypeError, ValueError):  # a malformed cache
            return None

    def _readback_schema(self, written: StructType) -> StructType:
        """Schema a fresh read of files written with ``written`` returns:
        data fields nullable-relaxed in written order, the partition
        column appended LAST (Spark reorders partition columns to the
        end) with the directory-inference type."""
        fields = [
            StructField(f.name, _as_nullable(f.dataType), True)
            for f in written.fields
            if f.name != PARTITION_COL
        ]
        ptype = StringType() if self.partition_by == "hour" else DateType()
        fields.append(StructField(PARTITION_COL, ptype, True))
        return StructType(fields)

    def _drop_schema_cache(self) -> None:
        meta = self._meta()
        if "phys_schema" in meta:
            meta.pop("phys_schema")
            _write_json(self._meta_path, meta)

    def _note_write(
        self, written: StructType, replace: bool, had_files: bool = True
    ) -> None:
        """Fold a just-written frame's schema into the cache. ``replace``
        when the write defined the directory contents outright; otherwise
        merge by name (new columns append, like mergeSchema) and DROP the
        cache on any type conflict rather than guess. ``had_files``: did
        the directory hold live parquet BEFORE this write (a merge into a
        legacy cacheless dir with prior files must stay on mergeSchema —
        those files' columns are unknown)."""
        new = self._readback_schema(written)
        if not replace:
            cur = self._cached_schema()
            if cur is None:
                if had_files:
                    self._drop_schema_cache()
                    return
            else:
                by_name = {f.name: f for f in cur.fields if f.name != PARTITION_COL}
                merged = [f for f in cur.fields if f.name != PARTITION_COL]
                for f in new.fields:
                    if f.name == PARTITION_COL:
                        continue
                    old = by_name.get(f.name)
                    if old is None:
                        merged.append(f)
                    elif old.dataType != f.dataType:
                        self._drop_schema_cache()
                        return
                merged.append(new.fields[-1])  # PARTITION_COL
                new = StructType(merged)
        self._write_meta(phys_schema=new.jsonValue())

    def _read_physical(self) -> DataFrame:
        """Scan the table directory at its merged physical schema — the
        explicit-schema fast path when the cache knows it, the mergeSchema
        inference read otherwise."""
        sch = self._cached_schema()
        if sch is not None:
            return self.spark.read.schema(sch).parquet(self.path)
        return self.spark.read.option("mergeSchema", "true").parquet(self.path)

    def write(self, df: DataFrame) -> None:
        """Replace the whole table with ``df``: partition + sort discipline
        enforced.  One partition commit puts the partitions ``df`` fills,
        drops every other live one and replaces the meta journal, so ``df``
        may read the table it replaces.  The DDL ops journal is void;
        ``declared_cols`` (it describes the CREATE, not the ops) and the
        change log carry over."""
        self._log_change()
        self._replace_all(df, ("declared_cols", *_LOG_KEYS))

    def _replace_all(self, df: DataFrame, carry: tuple[str, ...]) -> None:
        """``write`` without its log entry; the new meta journal keeps the
        old one's ``carry`` keys."""
        self._rewrite(
            self._with_partition(df), _part_dirs(self.path), self.ts_col, carry
        )

    def replace_from(self, df: DataFrame, since: datetime) -> None:
        """Replace the rows at or after ``since`` with ``df`` (rows at or
        after ``since``): the partition holding ``since`` keeps its rows
        before it, each partition ``df`` fills takes ``df``'s rows, and the
        others from ``since`` on go; earlier partitions are never
        rewritten.  ``since`` reads in the session time zone, like a
        TIMESTAMP literal."""
        self._log_change(max_ts=None)  # ``df`` may carry any ts
        phys_ts = self._physical_name(self.ts_col)
        inc = self._with_partition(self._to_physical(df), phys_ts)
        cut = F.lit(since.strftime("%Y-%m-%d %H:%M:%S.%f")).cast("timestamp")
        first = self._part_bound(since)
        head = self._read_physical().filter(
            (F.col(PARTITION_COL) == F.lit(first)) & (F.col(phys_ts) < cut)
        )
        later = [p for p in _part_dirs(self.path) if p.split("=", 1)[1] >= str(first)]
        self._rewrite(head.unionByName(inc), later)

    def append(self, df: DataFrame, seq: int = 0) -> bool:
        """WAL-style append; `seq` orders writes for dedup resolution.
        Incoming frames use the LOGICAL schema; renamed columns are mapped
        back to their on-disk names so every partition stays mergeable.
        Returns True when the commit ran the O3 merge.

        With DEDUP UPSERT KEYS this applies the reference's WAL-merge
        semantics EAGERLY (``ApplyWal2TableJob.java:87`` + ``dedup.cpp``,
        pinned by ``sqllogictest/test/dedup/``):

        - in-batch last-write-wins on (keys, ts) in row order (the WAL
          segment order);
        - every matching EXISTING row takes the incoming row's values in
          place — null-safe key equality (NULL and '' are distinct key
          values, ``string_dedup_null_empty.test``), and multiplicity is
          preserved (rows that predate DEDUP ENABLE are not retro-merged,
          ``change_dedup_cols.test``);
        - non-matching incoming rows are appended.

        The commit splits like the reference's WAL apply (``TxWriter``
        max timestamp, ``O3PartitionJob``): the meta journal's ``max_ts``
        bounds every live row's ts from above, and a batch whose min ts
        is past it cannot share a (keys, ts) with a stored row, so it is
        appended in one write job without reading storage.  Any other
        batch is merged: only partitions containing incoming keys are
        rewritten (ts is part of the dedup grain, so a key match can never
        live in another partition) — partition-granular like the O3 merge,
        so a 100 TB table pays for touched partitions only and reads stay
        merge-free (no per-read window shuffle)."""
        if self._wal_state()["suspended"]:
            # suspended WAL (alterTableSuspend): commits park in the
            # pending queue — durable, invisible to reads — until RESUME
            self._buffer_wal_txn(df, seq)
            return False
        base = df
        replayed = "__wal_ord" in base.columns  # parked txn being resumed
        if replayed:
            df = df.drop("__wal_ord")
        if self.dedup_enabled:
            base = base.withColumn(self.seq_col, F.lit(seq))
            if replayed:
                # replayed parked txn: the stamped WAL order IS the row
                # order (a fresh monotonically_increasing_id here would
                # follow scan order, which the parquet roundtrip scrambled)
                base = base.withColumnRenamed("__wal_ord", "__ord")
            else:
                base = base.withColumn("__ord", F.monotonically_increasing_id())
            base = latest_on(
                base, self.seq_col, [*self.dedup_keys, self.ts_col], tiebreak="__ord"
            ).drop("__ord")
            # latest_on emits keys-first — restore the incoming column order
            # so every partition file keeps ONE schema order (mergeSchema
            # reads, and positional INSERTs, depend on it)
            return self._upsert(base.select(*df.columns, self.seq_col))
        if replayed:
            base = base.drop("__wal_ord")
        # rows of a plain append may land anywhere, and the bound and the
        # log entry go first: a crash after the data write must leave no
        # row above the bound, and an unbounded entry.  The write observes
        # its own ts range and row count, which then narrow the entry.
        txn = self._log_change(max_ts=None)
        phys_ts = self._physical_name(self.ts_col)
        obs = Observation()
        self._append_rows(self._with_partition(self._to_physical(base), phys_ts), obs)
        # an action whose plan lost the metrics node (an empty local
        # relation) completes the observation with an empty row
        if obs._jo.getRow().size():
            m = obs.get
            if not m["n"]:
                self._narrow_change(txn, None, None)
            elif m["lo"] is not None and not m["nulls"]:
                self._narrow_change(txn, m["lo"], m["hi"])
        return False

    def _append_rows(self, out: DataFrame, obs: Observation | None = None) -> None:
        """Add ``out`` (physical schema, partition column set) as new files;
        no stored file is read or rewritten.  ``obs`` observes the written
        rows: ts range (epoch micros), count and null-ts count."""
        had_files = _any_parquet(self.path)
        phys_ts = self._physical_name(self.ts_col)
        rows = out.repartition(self._write_width(out), PARTITION_COL).sortWithinPartitions(
            phys_ts
        )
        if obs is not None:
            # above the shuffle: AQE replaces an empty shuffle stage, and a
            # metrics node below it, with an empty relation
            ts_us = self._ts_us(out, phys_ts)
            rows = rows.observe(
                obs,
                F.min(ts_us).alias("lo"),
                F.max(ts_us).alias("hi"),
                F.count(F.lit(1)).alias("n"),
                (F.count(F.lit(1)) - F.count(phys_ts)).alias("nulls"),
            )
        rows.write.mode("append").partitionBy(PARTITION_COL).parquet(self.path)
        self._note_write(out.schema, replace=not had_files, had_files=had_files)

    def _upsert(self, inc: DataFrame) -> bool:
        """Commit an (in-batch-deduped, seq-stamped, logical-schema) frame
        under the current dedup keys: appended when every row is past the
        table's ``max_ts``, merged into its partitions otherwise.  Returns
        True when it merged."""
        phys_ts = self._physical_name(self.ts_col)
        inc = self._with_partition(self._to_physical(inc), phys_ts)
        # the incoming frame's lineage (often an INSERT SELECT over a real
        # query) is consumed more than once below — persist it
        inc = inc.persist()
        try:
            # one metadata-scale collect: the touched partitions and the
            # batch's ts range (a null ts leaves lo unset: it merges)
            ts_us = self._ts_us(inc, phys_ts)
            stats = (
                inc.groupBy(PARTITION_COL)
                .agg(
                    F.min(ts_us).alias("lo"),
                    F.max(ts_us).alias("hi"),
                    (F.count(F.lit(1)) - F.count(phys_ts)).alias("nulls"),
                )
                .collect()
            )
            parts = [r[0] for r in stats]
            nulls = any(r["nulls"] for r in stats)
            lo = None if nulls else min((r["lo"] for r in stats), default=None)
            hi = max((r["hi"] for r in stats if r["hi"] is not None), default=None)
            # the log entry: the batch's range, unbounded with a null ts
            rng = (lo, hi) if lo is not None else ()
            has_files = _any_parquet(self.path)
            bound = self._meta().get("max_ts") if has_files else None
            if has_files and bound is None:
                # no bound (a legacy directory, or after a write that
                # dropped it): merge, then take it from the newest partition
                self._log_change(*rng)
                self._merge_into(inc, parts)
                self._write_meta(max_ts=self._newest_max_us())
                return True
            # log the batch's range and raise the bound BEFORE the data
            # write: a crash after the write then leaves no row above the
            # bound, an entry covering the rows, and a resent batch merges
            new_bound = {} if hi is None else {
                "max_ts": hi if bound is None else max(hi, bound)
            }
            self._log_change(*rng, **new_bound)
            if not has_files or (lo is not None and lo > bound):
                self._append_rows(inc)  # no stored row can match
                return False
            self._merge_into(inc, parts)
            return True
        finally:
            inc.unpersist()

    def _merge_into(self, inc: DataFrame, parts: list) -> None:
        """The O3 merge: rewrite the partitions ``parts`` with ``inc``
        (physical schema, partition column set) upserted into them."""
        from functools import reduce

        phys_ts = self._physical_name(self.ts_col)
        ex = self._read_physical()
        ex = ex.filter(F.col(PARTITION_COL).isin(parts))
        # align schemas both ways (column tops: partitions written before an
        # ADD COLUMN lack it; incoming always carries the logical schema)
        for c in inc.columns:
            if c not in ex.columns:
                ex = ex.withColumn(c, F.lit(None).cast(inc.schema[c].dataType))
        for c in ex.columns:
            if c not in inc.columns:
                inc = inc.withColumn(c, F.lit(None).cast(ex.schema[c].dataType))
        out_cols = ex.columns
        keys = [self._physical_name(k) for k in self.dedup_keys] + [phys_ts]
        payload = [c for c in out_cols if c not in keys and c != PARTITION_COL]
        e, i = ex.alias("e"), inc.withColumn("__m", F.lit(1)).alias("i")
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"e.{k}").eqNullSafe(F.col(f"i.{k}")) for k in keys],
        )
        matched = F.col("i.__m").isNotNull()
        overwritten = e.join(i, cond, "left").select(
            *[F.col(f"e.{k}").alias(k) for k in keys],
            F.col(f"e.{PARTITION_COL}").alias(PARTITION_COL),
            *[
                F.when(matched, F.col(f"i.{c}")).otherwise(F.col(f"e.{c}")).alias(c)
                for c in payload
            ],
        )
        added = inc.alias("i").join(ex.alias("e"), cond, "left_anti")
        self._rewrite(
            overwritten.select(*out_cols).unionByName(added.select(*out_cols))
        )

    # -- max_ts: the reference's _txn max timestamp ------------------------
    # An upper bound on the designated ts of every live row, in epoch
    # micros, kept in the meta journal.  A bound that is too high only
    # costs a merge; one that is too low would let a batch skip the merge
    # and duplicate rows.  So a DEDUP commit raises it before its data
    # write; plain appends, ``replace_from`` and ``attach_partition`` drop
    # it before they write; ``write()``'s commit replaces the journal with
    # one without it; ops that only remove rows or keep every ts (delete,
    # drop, detach, TTL, UPDATE, ``vacuum``, ``compact``) keep it.
    #
    # -- the change log: the reference's txn log, cut to what a view
    # refresh reads.  ``txn`` counts the ops that changed rows or columns;
    # ``log`` keeps the last ``_LOG_KEEP`` entries ``{txn, lo, hi}``: with
    # [lo, hi] (epoch micros) the op only added or upserted rows with
    # designated ts in that range, with ``lo = hi = None`` it may have done
    # anything else, and ``empty`` marks an append that wrote no row.
    # ``log_id`` names this log, so a re-created table is not mistaken for
    # a continuation.  An entry is written BEFORE the data, and so before a
    # partition commit's record: a range that is too wide costs a
    # recompute, a missing entry would be a stale view.  ``vacuum`` and
    # ``compact`` change no rows and log nothing.

    def _log_change(
        self, lo: int | None = None, hi: int | None = None, **updates
    ) -> int:
        """Append one change-log entry and return its txn.  ``updates``
        ride the same meta write; a None value removes its key.  A partition
        commit a crash cut short is finished first: its record may replace
        the journal."""
        self._recover()
        meta = self._meta()
        for k, v in updates.items():
            if v is None:
                meta.pop(k, None)
            else:
                meta[k] = v
        txn = meta.get("txn", 0) + 1
        meta.setdefault("log_id", uuid.uuid4().hex)
        meta["txn"] = txn
        meta["log"] = [
            *meta.get("log", [])[1 - _LOG_KEEP :],
            {"txn": txn, "lo": lo, "hi": hi},
        ]
        _write_json(self._meta_path, meta)
        return txn

    def _narrow_change(self, txn: int, lo: int | None, hi: int | None) -> None:
        """Narrow entry ``txn`` to ``[lo, hi]``, or to ``empty`` when both
        are None."""
        meta = self._meta()
        for e in meta.get("log", []):
            if e["txn"] == txn:
                e["lo"], e["hi"] = lo, hi
                if lo is None:
                    e["empty"] = True
        _write_json(self._meta_path, meta)

    def log_mark(self) -> tuple[str | None, int]:
        """The log's position: (log id, last txn)."""
        meta = self._meta()
        return meta.get("log_id"), meta.get("txn", 0)

    def changes_since(self, mark) -> tuple[int, int] | tuple[()] | None:
        """What changed after ``mark`` (an earlier ``log_mark()``): ``()``
        for nothing; ``(lo, hi)`` when every op since only added or upserted
        rows with designated ts in that range, ``hi`` being the newest ts
        the kept log names; None when anything else happened, or the log
        cannot tell (no mark, another log, entries past the kept tail)."""
        meta = self._meta()
        txn, log = meta.get("txn", 0), meta.get("log", [])
        if not mark or mark[0] != meta.get("log_id") or mark[1] > txn:
            return None
        new = [e for e in log if e["txn"] > mark[1]]
        if len(new) != txn - mark[1]:
            return None
        new = [e for e in new if not e.get("empty")]
        if not new:
            return ()
        if any(e["lo"] is None for e in new):
            return None
        return min(e["lo"] for e in new), max(
            e["hi"] for e in log if e["hi"] is not None
        )

    def _ts_us(self, df: DataFrame, phys_ts: str) -> Column:
        """The designated ts as epoch micros; null when the column is not a
        TIMESTAMP (a ts-less table), which keeps every commit on the merge."""
        if isinstance(df.schema[phys_ts].dataType, TimestampType):
            return F.unix_micros(F.col(phys_ts))
        return F.lit(None).cast("long")

    def _newest_max_us(self) -> int | None:
        """Max ts (epoch micros) of the newest partition directory — the
        table's max ts, since partitions are ts-ordered.  One small job
        over that directory only."""
        parts = _part_dirs(self.path)
        if not parts:
            return None
        newest = self.spark.read.parquet(os.path.join(self.path, parts[-1]))
        phys_ts = self._physical_name(self.ts_col)
        return newest.agg(F.max(self._ts_us(newest, phys_ts))).collect()[0][0]

    # -- WAL lifecycle: SUSPEND / RESUME ------------------------------------
    # Reference model (alterTableSuspend/alterTableResume,
    # TableSequencerAPI): a suspended table keeps ACCEPTING commits into
    # the WAL but stops APPLYING them — reads serve the last applied txn —
    # and RESUME WAL [FROM TXN n] restarts apply, optionally skipping the
    # poisoned transactions before n. This engine applies WAL commits
    # eagerly, so suspension parks incoming batches in a hidden pending
    # queue (parquet under `.qdb_wal_pending/`, invisible to the table
    # scan) and resume replays them in txn order through the normal
    # merge path. Durable across engine restarts; per-txn parquet keeps
    # the queue append-only (no rewrite while suspended).

    @property
    def _wal_state_path(self) -> str:
        return os.path.join(self.path, ".qdb_wal.json")

    def _wal_state(self) -> dict:
        try:
            with open(self._wal_state_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"suspended": False, "pending": []}

    def _save_wal_state(self, st: dict) -> None:
        _write_json(self._wal_state_path, st)

    def _buffer_wal_txn(self, df: DataFrame, seq: int) -> None:
        d = os.path.join(self.path, ".qdb_wal_pending", f"txn-{seq:09d}")
        # stamp the WAL row order BEFORE parking: a parquet roundtrip does
        # NOT preserve row order (the scan bin-packs files by size), and
        # dedup's in-batch last-write-wins is defined over row order —
        # r6 fuzz find #3 (seed 8, 200-op dedup sequences)
        df.withColumn("__wal_ord", F.monotonically_increasing_id()).write.mode(
            "overwrite"
        ).parquet(d)
        st = self._wal_state()
        if seq not in st["pending"]:
            st["pending"].append(seq)
        self._save_wal_state(st)

    def suspend_wal(self) -> None:
        st = self._wal_state()
        st["suspended"] = True
        self._save_wal_state(st)

    def _require_not_suspended(self) -> None:
        """Schema DDL and in-place DML are refused while suspended: this
        engine applies WAL commits eagerly, so an eager ALTER/UPDATE could
        not be ordered against the parked (not-yet-applied) txns — the
        reference queues those operations IN the WAL, which a
        parked-queue model cannot reproduce. RESUME first."""
        if self._wal_state()["suspended"]:
            raise ValueError("table WAL is suspended; RESUME WAL first")

    def resume_wal(self, from_txn: int | None = None) -> tuple[list[int], list[int]]:
        """RESUME WAL [FROM TXN n]: re-enable apply and replay pending
        txns ≥ n in order; txns before n are the poisoned commits the
        operator chose to skip — discarded, like the reference. Returns
        (applied, skipped)."""
        st = self._wal_state()
        st["suspended"] = False
        pending = sorted(st["pending"])
        st["pending"] = []
        self._save_wal_state(st)
        applied: list[int] = []
        skipped: list[int] = []
        for txn in pending:
            d = os.path.join(self.path, ".qdb_wal_pending", f"txn-{txn:09d}")
            if from_txn is not None and txn < from_txn:
                skipped.append(txn)
            else:
                self.append(self.spark.read.parquet(d), seq=txn)
                applied.append(txn)
            shutil.rmtree(d, ignore_errors=True)
        return applied, skipped

    def rebase_wal(self) -> list[int]:
        """REBASE WAL (SqlCompilerImpl.parseRebaseWal): recovery past a
        poison-pill WAL transaction — the reference mints a fresh table
        dir with a new sequencer base so replication can move on.  Here
        the WAL base is the pending queue: rebasing accepts the current
        on-disk state as the new base, DISCARDS every parked txn (they
        are the poison), and lifts the suspension.  The replica-side
        ``INTO '<dir>'`` variant is replication plumbing, out of scope
        per SURVEY §2.1.  Returns the discarded txn ids."""
        st = self._wal_state()
        discarded = sorted(st["pending"])
        st["suspended"] = False
        st["pending"] = []
        self._save_wal_state(st)
        shutil.rmtree(os.path.join(self.path, ".qdb_wal_pending"), ignore_errors=True)
        return discarded

    # -- ALTER TABLE column surface (AlterOperation.java) --------------------
    # add/drop/rename are METADATA-ONLY: an ops journal (`_qdb_meta.json`,
    # invisible to parquet discovery) is replayed onto every read. That
    # mirrors the reference — ADD COLUMN backfills nothing
    # (`AlterOperation.java` ADD_COLUMN), DROP/RENAME touch only column
    # metadata (`ColumnVersionWriter`) — and stays O(1) at 100 TB where a
    # rewrite-per-DDL would be a full-table job. Type conversion
    # (`ConvertOperatorImpl.java`) genuinely rewrites column data in the
    # reference and does here too.

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "_qdb_meta.json")

    def _meta(self) -> dict:
        try:
            with open(self._meta_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _write_meta(self, **updates) -> None:
        meta = self._meta()
        meta.update(updates)
        _write_json(self._meta_path, meta)

    def _ops(self) -> list[dict]:
        return self._meta().get("ops", [])

    def _append_op(self, op: dict) -> None:
        self._log_change(ops=[*self._ops(), op])

    # declared column list (CREATE TABLE order) — persisted alongside the
    # ops journal so an EMPTY table's schema survives a new engine/process
    # (r8 advice: an in-memory-only attribute lost SHOW COLUMNS / ALTER
    # validation for CREATEd-but-unwritten tables across restarts)
    @property
    def declared_cols(self) -> list[str]:
        if self._declared_cols is None:
            self._declared_cols = self._meta().get("declared_cols", [])
        return self._declared_cols

    @declared_cols.setter
    def declared_cols(self, cols: Sequence[str]) -> None:
        self._declared_cols = list(cols)
        self._write_meta(declared_cols=self._declared_cols)

    def add_column(self, name: str, dtype: str) -> None:
        """ALTER TABLE ADD COLUMN — null for existing rows, no backfill."""
        self._require_not_suspended()
        if name in self._logical_columns() or name in self._retired_names():
            raise ValueError(f"column exists: {name}")
        self._append_op({"op": "add", "name": name, "type": dtype})

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — metadata-only."""
        self._require_not_suspended()
        if name == self.ts_col or name in self.dedup_keys:
            raise ValueError(f"cannot drop designated/dedup column: {name}")
        if name not in self._logical_columns():
            raise ValueError(f"no such column: {name}")
        self._append_op({"op": "drop", "name": name})

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — metadata-only."""
        self._require_not_suspended()
        cols = self._logical_columns()
        if old not in cols:
            raise ValueError(f"no such column: {old}")
        if new in cols or new in self._retired_names():
            raise ValueError(f"column exists: {new}")
        self._append_op({"op": "rename", "old": old, "new": new})
        if old == self.ts_col:
            self.ts_col = new
        self.dedup_keys = [new if k == old else k for k in self.dedup_keys]

    def alter_column_type(self, name: str, new_type: str) -> None:
        """ALTER TABLE ALTER COLUMN TYPE (ConvertOperatorImpl.java): casts
        and physically rewrites; pending metadata ops are materialized."""
        self._require_not_suspended()
        if name not in self._logical_columns():
            raise ValueError(f"no such column: {name}")
        df = self._logical(self._read_physical())
        # a whole-table rewrite at the materialized logical schema
        self.write(df.withColumn(name, F.col(name).cast(new_type)))

    def _logical_columns(self) -> list[str]:
        import glob as _glob
        import os as _os

        # existence probe, not a full listing: iglob stops at the first
        # hit, so populated tables don't pay a recursive directory walk
        # on every ALTER/column check (r8 advice)
        if (
            next(
                _glob.iglob(
                    _os.path.join(self.path, "**", "*.parquet"), recursive=True
                ),
                None,
            )
            is None
        ):
            # empty table (CREATE but no writes yet): replay the journal
            # over the declared column list (set by the DDL layer)
            cols = list(self.declared_cols)
            for op in self._ops():
                if op["op"] == "add" and op["name"] not in cols:
                    cols.append(op["name"])
                elif op["op"] == "drop" and op["name"] in cols:
                    cols.remove(op["name"])
                elif op["op"] == "rename" and op["old"] in cols:
                    cols[cols.index(op["old"])] = op["new"]
            return cols
        sch = self._cached_schema()
        if sch is not None:
            # name-level ops replay over the cached physical schema — no
            # reader construction, no py4j round trips
            cols = [f.name for f in sch.fields if f.name != PARTITION_COL]
            for op in self._ops():
                if op["op"] == "add" and op["name"] not in cols:
                    cols.append(op["name"])
                elif op["op"] == "drop" and op["name"] in cols:
                    cols.remove(op["name"])
                elif op["op"] == "rename" and op["old"] in cols:
                    if op["new"] in cols:
                        # mixed physical state folds into the new name
                        cols.remove(op["old"])
                    else:
                        cols[cols.index(op["old"])] = op["new"]
            return cols
        return [
            c
            for c in self._logical(
                self._read_physical()
            ).columns
            if c != PARTITION_COL
        ]

    def _logical(self, df: DataFrame) -> DataFrame:
        """Replay the ops journal: physical parquet schema → logical schema."""
        for op in self._ops():
            if op["op"] == "add" and op["name"] not in df.columns:
                df = df.withColumn(op["name"], F.lit(None).cast(op["type"]))
            elif op["op"] == "drop" and op["name"] in df.columns:
                df = df.drop(op["name"])
            elif op["op"] == "rename" and op["old"] in df.columns:
                if op["new"] in df.columns:
                    # mixed physical state: old partitions carry the old
                    # name, rewritten partitions the new — fold them
                    df = df.withColumn(
                        op["new"], F.coalesce(F.col(op["new"]), F.col(op["old"]))
                    ).drop(op["old"])
                else:
                    df = df.withColumnRenamed(op["old"], op["new"])
        return df

    def _retired_names(self) -> set[str]:
        """Names still present in old partition files (renamed-away or
        dropped) — reusing one would collide with on-disk data."""
        out: set[str] = set()
        for op in self._ops():
            if op["op"] == "rename":
                out.add(op["old"])
            elif op["op"] == "drop":
                out.add(op["name"])
        return out

    def _physical_name(self, name: str) -> str:
        """Logical column name → its on-disk name (undo renames)."""
        for op in reversed(self._ops()):
            if op["op"] == "rename" and op["new"] == name:
                name = op["old"]
        return name

    def _to_physical(self, df: DataFrame) -> DataFrame:
        """Logical → physical for writes: renamed columns go back to their
        on-disk names so partitions stay schema-mergeable; dropped columns
        are removed."""
        for op in reversed(self._ops()):
            if op["op"] == "rename" and op["new"] in df.columns:
                df = df.withColumnRenamed(op["new"], op["old"])
            elif op["op"] == "drop" and op["name"] in df.columns:
                df = df.drop(op["name"])
        return df

    # -- read path ---------------------------------------------------------
    def read(self, dedup: bool = True) -> DataFrame:
        """Storage is already dedup-resolved (append merges eagerly), so a
        read is a plain scan; ``dedup=True`` only hides the internal seq
        column."""
        df = self._logical(self._read_physical())
        if dedup and self.seq_col in df.columns:
            df = df.drop(self.seq_col)
        return df

    def scan_interval(self, interval: str, dedup: bool = True) -> DataFrame:
        """QuestDB interval scan: `'2024-01'`-style strings become
        partition-pruned range reads (IntervalFwdPartitionFrameCursor)."""
        from datetime import timedelta

        lo, hi = parse_interval_string(interval)
        ts = F.col(self.ts_col)
        # Spark can't derive part_date bounds from the ts predicate — add the
        # partition filter explicitly so whole partition dirs are skipped
        # (the ts PushedFilters prune no row groups: the INT96 ts column
        # has no min/max statistics, so survivors are read whole).
        # Filter BEFORE dedup: ts is part of the dedup grain, so range-
        # filtering first is semantics-preserving and keeps the pushdown.
        # Bounds are truncated to the PARTITION unit: a partition's value is
        # its period START, so a mid-period `lo` must not exclude the
        # partition containing it; `hi` is exclusive, so bound by hi - 1µs.
        part = F.col(PARTITION_COL)
        lo_p = self._part_bound(lo)
        hi_p = self._part_bound(hi - timedelta(microseconds=1))
        df = self._logical(
            self._read_physical()
        ).filter(
            (part >= F.lit(lo_p))
            & (part <= F.lit(hi_p))
            & (ts >= F.lit(lo.isoformat(sep=" ")).cast("timestamp"))
            & (ts < F.lit(hi.isoformat(sep=" ")).cast("timestamp"))
        )
        if dedup and self.seq_col in df.columns:
            df = df.drop(self.seq_col)
        return df

    # -- maintenance (UPDATE / DELETE / compaction) ------------------------
    def update_where(self, predicate: Column, assignments: dict[str, Column]) -> None:
        """UPDATE ... SET ... WHERE ...: rewrite ONLY partitions containing
        matching rows (UpdateOperatorImpl; partition-granular like O3)."""
        self._require_not_suspended()
        self._refuse_ts_update(assignments)
        df = self._logical(
            self._read_physical()
        )
        # touched-partition restriction as a broadcast semi-join instead of
        # a driver collect: ONE Spark action (the staged write) instead of
        # two — the commit only replaces partitions that receive rows, so
        # an empty match set replaces nothing (r8 verdict task 9:
        # per-statement action count is the lifecycle fixed cost)
        touched = df.filter(predicate).select(PARTITION_COL).distinct()
        sub = df.join(F.broadcast(touched), PARTITION_COL, "left_semi")
        for name, expr in assignments.items():
            sub = sub.withColumn(name, F.when(predicate, expr).otherwise(F.col(name)))
        self._log_change()
        self._rewrite(self._to_physical(sub))

    def update_from(
        self,
        other: DataFrame,
        join_pred: Column,
        assignments: dict[str, Column],
    ) -> None:
        """UPDATE ... FROM: rows with a join match take the assignments
        (``UpdateOperatorImpl`` with a fromModel); non-matching rows and
        untouched partitions are left as-is. ``other``'s columns must be
        pre-renamed to avoid collisions (ddl.py prefixes ``__f_``). With
        multiple FROM matches per row one arbitrary match applies (the
        reference updates the row once per join match in storage order; a
        batch rewrite keeps exactly one row)."""
        self._refuse_ts_update(assignments)
        df = self._logical(
            self._read_physical()
        ).withColumn("__rid", F.monotonically_increasing_id())
        other = other.withColumn("__match", F.lit(1))
        joined = df.join(other, join_pred, "left")
        touched = (
            joined.filter(F.col("__match").isNotNull())
            .select(PARTITION_COL).distinct().collect()
        )
        parts = [r[PARTITION_COL] for r in touched]
        if not parts:
            return
        sub = joined.filter(F.col(PARTITION_COL).isin(parts))
        for name, expr in assignments.items():
            sub = sub.withColumn(
                name, F.when(F.col("__match").isNotNull(), expr).otherwise(F.col(name))
            )
        sub = sub.drop(*other.columns).dropDuplicates(["__rid"]).drop("__rid")
        self._log_change()
        self._rewrite(self._to_physical(sub))

    def _refuse_ts_update(self, assignments: dict[str, Column]) -> None:
        """The reference refuses an UPDATE of the designated timestamp: a
        new ts would belong in another partition, which an in-place
        partition rewrite cannot move it to."""
        if self.ts_col.lower() in (name.lower() for name in assignments):
            raise ValueError(
                f"cannot update designated timestamp column: {self.ts_col}"
            )

    def delete_where(self, predicate: Column) -> None:
        self._require_not_suspended()
        df = self._logical(
            self._read_physical()
        )
        touched = df.filter(predicate).select(PARTITION_COL).distinct().collect()
        parts = [r[PARTITION_COL] for r in touched]
        if not parts:
            return
        sub = df.filter(F.col(PARTITION_COL).isin(parts)).filter(~predicate)
        self._log_change()
        # a touched partition with no row left is not staged: the commit
        # drops it
        self._rewrite(
            self._to_physical(sub), [f"{PARTITION_COL}={p}" for p in parts]
        )

    def _partitions_in(self, interval: str) -> list[str]:
        """Partition dir values whose start falls in the interval string's
        range.  Pure directory listing — partitions ARE directories, so no
        Spark job and no data scan, O(partition count) like the
        reference's partition table walk."""
        from datetime import datetime

        lo, hi = parse_interval_string(interval)
        out: list[str] = []
        for d in _part_dirs(self.path):
            v = d.split("=", 1)[1]
            try:
                start = datetime.strptime(v, "%Y-%m-%d-%H")
            except ValueError:
                try:
                    start = datetime.strptime(v, "%Y-%m-%d")
                except ValueError:
                    continue
            if lo <= start < hi:
                out.append(v)
        return out

    def drop_partition(self, interval: str) -> None:
        """ALTER TABLE DROP PARTITION equivalents: remove partition dirs in
        a time range (no data rewrite)."""
        self._require_not_suspended()
        self._drop(self._partitions_in(interval))

    def _drop(self, values: list) -> None:
        """Drop the partitions ``values`` name (no data rewrite)."""
        if values:
            self._log_change()
            self._commit([f"{PARTITION_COL}={v}" for v in values])

    def force_drop_partition(self, name: str) -> list[str]:
        """``ALTER TABLE ... FORCE DROP PARTITION LIST`` (AlterOperation
        FORCE_DROP, SqlCompilerImpl.java:2571): the recovery form of DROP —
        it bypasses the WAL-suspension guard (the reference routes it
        around the sequencer precisely so a poisoned table can be
        repaired), accepts exact full-format partition names as well as
        ranges, and ignores names that match nothing instead of erroring.
        O(1) directory renames, no data rewrite."""
        if os.path.isdir(os.path.join(self.path, f"{PARTITION_COL}={name}")):
            parts = [name]
        else:
            try:
                parts = self._partitions_in(name)
            except ValueError:
                parts = []
        self._drop(parts)
        return parts

    @property
    def _detached_root(self) -> str:
        # underscore prefix: invisible to Spark's parquet discovery, so a
        # detached partition is out of every query until re-attached
        return os.path.join(self.path, "_detached")

    def detach_partition(self, interval: str) -> list[str]:
        """``ALTER TABLE ... DETACH PARTITION LIST`` (AlterOperation.java
        DETACH: the reference renames the partition dir to ``<p>.detached``
        — archive-without-delete).  Partition dirs move under
        ``_detached/``: O(1) renames, no data rewrite, any partition count.
        Returns the detached partition names."""
        self._require_not_suspended()
        moved = []
        parts = self._partitions_in(interval)
        if parts:
            self._log_change()
        for p in parts:
            src = os.path.join(self.path, f"{PARTITION_COL}={p}")
            dst = os.path.join(self._detached_root, f"{PARTITION_COL}={p}")
            os.makedirs(self._detached_root, exist_ok=True)
            if os.path.exists(dst):
                raise ValueError(f"partition already detached: {p}")
            os.rename(src, dst)
            # snapshot the DDL-journal position: the reference stores the
            # partition's _meta alongside detached data and refuses an
            # attach whose metadata no longer matches the table
            # (AlterTableAttachPartitionTest "metadata does not match") —
            # record enough state to enforce the same check
            _write_json(
                os.path.join(dst, ".qdb_detach_meta.json"),
                {"ops_len": len(self._ops())},
            )
            moved.append(str(p))
        if not moved:
            raise ValueError(f"no partitions in range: {interval!r}")
        return moved

    def attach_partition(self, interval: str) -> list[str]:
        """``ALTER TABLE ... ATTACH PARTITION LIST`` — inverse of detach,
        with a schema check against the live table (the reference validates
        metadata compatibility before attaching)."""
        self._require_not_suspended()
        from datetime import datetime

        lo, hi = parse_interval_string(interval)
        self._log_change(max_ts=None)  # attached rows may lie past the bound

        def start_of(name: str) -> datetime:
            v = name.split("=", 1)[1]
            try:
                return datetime.strptime(v, "%Y-%m-%d-%H")
            except ValueError:
                return datetime.strptime(v, "%Y-%m-%d")

        moved = []
        if not os.path.isdir(self._detached_root):
            raise ValueError(f"no detached partitions at {self._detached_root}")
        live_schema = (
            self.spark.read.parquet(self.path).drop(PARTITION_COL).schema
            if _any_parquet(self.path)
            else None
        )
        for d in sorted(os.listdir(self._detached_root)):
            if not d.startswith(f"{PARTITION_COL}=") or not (
                lo <= start_of(d) < hi
            ):
                continue
            src = os.path.join(self._detached_root, d)
            meta = os.path.join(src, ".qdb_detach_meta.json")
            if os.path.exists(meta):
                with open(meta) as f:
                    ops_at_detach = json.load(f).get("ops_len", 0)
                if ops_at_detach != len(self._ops()):
                    # column DDL landed between detach and attach: the
                    # detached files' schema predates the table's current
                    # metadata — the reference refuses this attach
                    raise ValueError(
                        f"table metadata changed since detach: {d}"
                    )
            if os.path.exists(os.path.join(self.path, d)):
                # new writes recreated this partition after the detach —
                # the reference refuses the attach ("partition already
                # attached", AlterTableAttachPartitionTest) rather than
                # merging two generations of data
                raise ValueError(f"partition already attached: {d}")
            if live_schema is not None:
                incoming = self.spark.read.parquet(src).schema
                if {(f.name, f.dataType) for f in incoming} != {
                    (f.name, f.dataType) for f in live_schema
                }:
                    raise ValueError(
                        f"schema mismatch attaching {d}: {incoming.simpleString()}"
                        f" vs {live_schema.simpleString()}"
                    )
            os.rename(src, os.path.join(self.path, d))
            try:
                os.remove(os.path.join(self.path, d, ".qdb_detach_meta.json"))
            except OSError:
                pass
            moved.append(d.split("=", 1)[1])
        if not moved:
            raise ValueError(f"no detached partitions in range: {interval!r}")
        return moved

    def compact(self) -> None:
        """Defragment a dedup table: merge the per-commit append files into
        one sorted file per partition (dedup itself is already materialized
        at append time)."""
        if not self.dedup_enabled:
            return
        # every row and ts kept: the bound still holds, and nothing to log
        self._replace_all(
            self.read(dedup=True).withColumn(self.seq_col, F.lit(-1)),
            ("declared_cols", "max_ts", *_LOG_KEYS),
        )

    def enforce_ttl(self) -> list:
        """Evict partitions whose CEILING (start of the next logical
        partition) is older than max(ts) − TTL — a partition expires only
        once even its newest possible record is past the TTL, and the
        active partition is never evicted (``TableWriter.enforceTtl``:7197,
        ``TableUtils.checkTtl``:395). Runs inside the ingest commit like
        the reference; cost is one max-ts lookup on the newest partition +
        directory removals, no data rewrite."""
        ttl = self.ttl_hours_or_months
        if ttl == 0:
            return []
        parts = _part_dirs(self.path)
        if len(parts) < 2:
            return []  # only the active partition
        # max ts lives in the newest partition — scan just that directory
        max_us = self._newest_max_us()
        if max_us is None:
            return []
        max_ts = datetime(1970, 1, 1) + timedelta(microseconds=max_us)

        def start_of(pv: str) -> datetime:
            if self.partition_by == "hour":
                return datetime.strptime(pv, "%Y-%m-%d-%H")
            return datetime.strptime(pv, "%Y-%m-%d")

        def ceiling(dt: datetime) -> datetime:
            if self.partition_by == "hour":
                return dt + timedelta(hours=1)
            if self.partition_by == "day":
                return dt + timedelta(days=1)
            if self.partition_by == "month":
                return datetime(dt.year + (dt.month == 12), dt.month % 12 + 1, 1)
            return datetime(dt.year + 1, 1, 1)

        boundary = _minus_hours_or_months(max_ts, ttl)
        evicted = []
        for p in parts[:-1]:  # oldest first, never the active partition
            pv = p.split("=", 1)[1]
            if ceiling(start_of(pv)) > boundary:
                break  # partitions are time-sorted; the rest are younger
            evicted.append(pv)
        self._drop(evicted)
        return evicted

    def vacuum(self) -> int:
        """VACUUM TABLE: reclaim storage (``VacuumColumnVersions.java``;
        the parquet analog of purging superseded column versions is
        compacting the small append files each WAL commit leaves behind).
        Each partition holding more than one parquet file is staged as one
        sorted file with its own columns, and one partition commit puts
        them all in; returns the number of partitions compacted.
        Partition-granular — a 100 TB table vacuums only its fragmented
        partitions."""
        new = self._begin()
        frag = []
        for p in _part_dirs(self.path):
            pdir = os.path.join(self.path, p)
            if sum(f.endswith(".parquet") for f in os.listdir(pdir)) < 2:
                continue
            (
                self.spark.read.option("mergeSchema", "true").parquet(pdir)
                .sort(self._physical_name(self.ts_col))
                .coalesce(1)
                .write.parquet(os.path.join(new, p))
            )
            frag.append(p)
        if frag:
            self._commit(frag)
        return len(frag)

    # -- the partition commit ----------------------------------------------
    # QuestDB's O3 apply rewrites the partitions a commit touches and
    # publishes them with one ``_txn`` bump (``O3PartitionJob``,
    # ``TxWriter``).  Here an op stages its new partitions under
    # ``.stage/new/`` and writes one record, ``.stage/commit.json`` — the
    # commit point — naming the partitions to put (the staged ones), the
    # live ones to drop, and the meta change.  Applying it renames each
    # named live partition to ``.stage/old/`` and each staged one in, folds
    # the written schema into the cache (``write()`` first replaces the
    # journal), and deletes the stage.  A crash before the record leaves
    # the old table; ``_recover`` (on open and before every commit or log
    # entry) rolls a record forward, or drops a stage that has none.

    @property
    def _stage_dir(self) -> str:
        return os.path.join(self.path, _STAGE)

    def _begin(self) -> str:
        """Open a commit: finish or drop what an earlier one left, and
        return the directory new partitions stage under."""
        self._recover()
        return os.path.join(self._stage_dir, "new")

    def _rewrite(
        self,
        out: DataFrame,
        names: Sequence[str] = (),
        ts: str | None = None,
        carry: tuple[str, ...] | None = None,
    ) -> None:
        """Stage ``out`` (physical schema, partition column set) sorted by
        ``ts`` (default: the physical designated ts) and commit it."""
        (
            out.repartition(self._write_width(out), PARTITION_COL)
            .sortWithinPartitions(ts or self._physical_name(self.ts_col))
            .write.partitionBy(PARTITION_COL)
            .parquet(self._begin())
        )
        self._commit(names, out.schema, carry)

    def _commit(
        self,
        names: Sequence[str] = (),
        written: StructType | None = None,
        carry: tuple[str, ...] | None = None,
    ) -> None:
        """Record and apply a commit: every staged partition goes in, and
        each live partition in ``names`` that is not staged goes.
        ``written``: the staged rows' schema, for the cache.  ``carry``: a
        new meta journal keeping only these keys of the current one."""
        put = _part_dirs(os.path.join(self._stage_dir, "new"))
        meta = None
        if carry is not None:
            cur = self._meta()
            meta = {k: cur[k] for k in carry if k in cur}
        rec = {
            "put": put,
            "drop": [p for p in names if p not in put],
            "schema": None if written is None else written.jsonValue(),
            "meta": meta,
        }
        _write_json(os.path.join(self._stage_dir, "commit.json"), rec)
        self._apply(rec)

    def _apply(self, rec: dict) -> None:
        """Carry out a commit record.  Each step is skipped when done, so a
        record applies any number of times."""
        new, old = (os.path.join(self._stage_dir, d) for d in ("new", "old"))
        os.makedirs(old, exist_ok=True)
        for p in (*rec["drop"], *rec["put"]):
            live, staged = os.path.join(self.path, p), os.path.join(new, p)
            if p in rec["put"] and not os.path.exists(staged):
                continue  # already in
            if os.path.exists(live):
                os.rename(live, os.path.join(old, p))
            if p in rec["put"]:
                os.rename(staged, live)
        if rec["meta"] is not None:
            _write_json(self._meta_path, rec["meta"])
        if rec["schema"] is not None:
            self._note_write(
                StructType.fromJson(rec["schema"]), replace=rec["meta"] is not None
            )
        shutil.rmtree(self._stage_dir)

    def _recover(self) -> None:
        record = os.path.join(self._stage_dir, "commit.json")
        if os.path.exists(record):
            with open(record) as f:
                self._apply(json.load(f))
        elif os.path.exists(self._stage_dir):
            shutil.rmtree(self._stage_dir)  # no record: the commit never was
