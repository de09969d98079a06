"""TimeTable — the engine's table abstraction.

Reference: a QuestDB table is a time-partitioned columnar store sorted by
its designated timestamp with optional dedup keys
(``cairo/TableWriter.java:164``, ``cairo/PartitionBy.java:46-55``,
``DEDUP UPSERT KEYS`` ``griffin/SqlParser.java:3081``), plus online DDL
(``griffin/engine/ops/AlterOperation.java``) and UPDATE
(``griffin/UpdateOperatorImpl.java``).

Spark mapping: a parquet directory partitioned by `part_date =
date_trunc(unit, ts)`, rows sorted by ts within files. That layout gives
Catalyst partition pruning + row-group min/max pruning on every time
predicate — the interval-scan machinery of the reference for free. Writes
go through append (WAL-style) or upsert-compaction; UPDATE/DELETE are
partition rewrites touching only affected partitions (the O3 merge
discipline).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DateType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .operators.intervals import parse_interval_string
from .operators.latest import latest_on

PARTITION_COL = "part_date"
_UNITS = {"hour", "day", "month", "year", "none"}  # PartitionBy.java incl. NONE


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
        # dictionary encoding + row-group min/max pruning substitute for
        # symbol tables and bitmap indexes (SURVEY §2.2)
        self.params: dict[str, str] = {}
        self._declared_cols: list[str] | None = None  # lazy, meta-backed

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
        except Exception:
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

    def write(self, df: DataFrame, mode: str = "overwrite") -> None:
        """Create/replace the table: partition + sort discipline enforced."""
        declared = None
        if mode == "overwrite":
            # fresh table definition — any pending DDL journal is void
            # (declared_cols survives: it describes the CREATE, not the
            # ops; re-persisted after the write since Spark's overwrite
            # clears the directory)
            declared = self._meta().get("declared_cols")
            try:
                os.remove(self._meta_path)
            except OSError:
                pass
        # cache bookkeeping: a static overwrite (or a write into an empty
        # dir) defines the directory contents; a dynamic-mode overwrite of
        # a populated dir only replaces the partitions present in ``df``
        had_files = _any_parquet(self.path)
        full_replace = not had_files or (
            mode == "overwrite"
            and self.spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            ).lower()
            != "dynamic"
        )
        out = self._with_partition(df)
        (
            out.repartition(self._write_width(df), PARTITION_COL)
            .sortWithinPartitions(self.ts_col)
            .write.mode(mode)
            .partitionBy(PARTITION_COL)
            .parquet(self.path)
        )
        if declared:
            self._write_meta(declared_cols=declared)
        self._note_write(out.schema, replace=full_replace, had_files=had_files)

    def append(self, df: DataFrame, seq: int = 0) -> None:
        """WAL-style append; `seq` orders writes for dedup resolution.
        Incoming frames use the LOGICAL schema; renamed columns are mapped
        back to their on-disk names so every partition stays mergeable.

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

        Only partitions containing incoming keys are rewritten (ts is part
        of the dedup grain, so a key match can never live in another
        partition) — partition-granular like the O3 merge, so a 100 TB
        table pays for touched partitions only and reads stay merge-free
        (no per-read window shuffle)."""
        if self._wal_state()["suspended"]:
            # suspended WAL (alterTableSuspend): commits park in the
            # pending queue — durable, invisible to reads — until RESUME
            self._buffer_wal_txn(df, seq)
            return
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
            base = base.select(*df.columns, self.seq_col)
            if _any_parquet(self.path):
                self._merge_upsert(base)
                return
        elif replayed:
            base = base.drop("__wal_ord")
        base = self._to_physical(base)  # dedup first: keys are logical names
        phys_ts = self._physical_name(self.ts_col)
        had_files = _any_parquet(self.path)
        out = self._with_partition(base, phys_ts)
        (
            out.repartition(self._write_width(base), PARTITION_COL)
            .sortWithinPartitions(phys_ts)
            .write.mode("append")
            .partitionBy(PARTITION_COL)
            .parquet(self.path)
        )
        self._note_write(out.schema, replace=not had_files, had_files=had_files)

    def _merge_upsert(self, inc: DataFrame) -> None:
        """Merge an (in-batch-deduped, seq-stamped, logical-schema) frame
        into existing storage under the current dedup keys."""
        from functools import reduce

        phys_ts = self._physical_name(self.ts_col)
        inc = self._with_partition(self._to_physical(inc), phys_ts)
        # the incoming frame's lineage (often an INSERT SELECT over a real
        # query) is consumed three times below — partition listing, the
        # overwrite join, the anti join — persist it for the merge
        inc_cached = inc.persist()
        inc = inc_cached
        # touched partitions: one value per incoming partition (metadata-
        # scale collect, same economics as update_where)
        parts = [r[0] for r in inc.select(PARTITION_COL).distinct().collect()]
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
        merged = overwritten.select(*out_cols).unionByName(added.select(*out_cols))
        self._rewrite_partitions(merged, parts)
        inc_cached.unpersist()

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
        ops = self._ops()
        ops.append(op)
        self._write_meta(ops=ops)

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
        df = df.withColumn(name, F.col(name).cast(new_type))
        tmp = self.path.rstrip("/") + ".convert"
        out = df.drop(PARTITION_COL).transform(self._with_partition)
        (
            out.repartition(self._write_width(df), PARTITION_COL)
            .sortWithinPartitions(self.ts_col)
            .write.mode("overwrite")
            .partitionBy(PARTITION_COL)
            .parquet(tmp)
        )
        self._swap_in(tmp)
        # the swap replaced the whole directory (and its meta journal) with
        # files at the materialized logical schema
        self._note_write(out.schema, replace=True)

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
        """QuestDB interval scan: `'2024-01'`-style strings become partition
        + row-group pruned range reads (IntervalFwdPartitionFrameCursor)."""
        from datetime import timedelta

        lo, hi = parse_interval_string(interval)
        ts = F.col(self.ts_col)
        # Spark can't derive part_date bounds from the ts predicate — add the
        # partition filter explicitly so whole partition dirs are skipped
        # (the ts PushedFilters then prune row groups within survivors).
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
        df = self._logical(
            self._read_physical()
        )
        # touched-partition restriction as a broadcast semi-join instead of
        # a driver collect: ONE Spark action (the dynamic-overwrite write)
        # instead of two — the write itself only rewrites partitions that
        # receive rows, so an empty match set rewrites nothing (r8 verdict
        # task 9: per-statement action count is the lifecycle fixed cost)
        touched = df.filter(predicate).select(PARTITION_COL).distinct()
        sub = df.join(F.broadcast(touched), PARTITION_COL, "left_semi")
        for name, expr in assignments.items():
            sub = sub.withColumn(name, F.when(predicate, expr).otherwise(F.col(name)))
        self._rewrite_partitions(self._to_physical(sub), [])

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
        self._rewrite_partitions(self._to_physical(sub), parts)

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
        # dynamic partition overwrite only rewrites partitions PRESENT in
        # the output — a partition whose every row matches the predicate
        # yields no output rows and would silently survive (found by the
        # r6 op-sequence fuzz).  Remove fully-deleted partitions directly.
        survived = {
            r[PARTITION_COL]
            for r in sub.select(PARTITION_COL).distinct().collect()
        }
        emptied = [p for p in parts if p not in survived]
        if len(emptied) < len(parts):
            self._rewrite_partitions(self._to_physical(sub), parts)
        for p in emptied:
            shutil.rmtree(
                os.path.join(self.path, f"{PARTITION_COL}={p}"), ignore_errors=True
            )

    def _partitions_in(self, interval: str) -> list[str]:
        """Partition dir values whose start falls in the interval string's
        range.  Pure directory listing — partitions ARE directories, so no
        Spark job and no data scan, O(partition count) like the
        reference's partition table walk."""
        from datetime import datetime

        lo, hi = parse_interval_string(interval)
        out: list[str] = []
        for d in sorted(os.listdir(self.path)):
            if not d.startswith(f"{PARTITION_COL}="):
                continue
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
        for p in self._partitions_in(interval):
            shutil.rmtree(os.path.join(self.path, f"{PARTITION_COL}={p}"), ignore_errors=True)

    def force_drop_partition(self, name: str) -> list[str]:
        """``ALTER TABLE ... FORCE DROP PARTITION LIST`` (AlterOperation
        FORCE_DROP, SqlCompilerImpl.java:2571): the recovery form of DROP —
        it bypasses the WAL-suspension guard (the reference routes it
        around the sequencer precisely so a poisoned table can be
        repaired), accepts exact full-format partition names as well as
        ranges, and ignores names that match nothing instead of erroring.
        O(1) directory removals, no data rewrite."""
        exact = os.path.join(self.path, f"{PARTITION_COL}={name}")
        if os.path.isdir(exact):
            shutil.rmtree(exact, ignore_errors=True)
            return [name]
        dropped = []
        try:
            parts = self._partitions_in(name)
        except ValueError:
            parts = []
        for p in parts:
            shutil.rmtree(
                os.path.join(self.path, f"{PARTITION_COL}={p}"), ignore_errors=True
            )
            dropped.append(str(p))
        return dropped

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
        for p in self._partitions_in(interval):
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
        out = self.read(dedup=True).withColumn(self.seq_col, F.lit(-1))
        tmp = self.path.rstrip("/") + ".compact"
        part = self._with_partition(out)
        (
            part.repartition(self._write_width(out), PARTITION_COL)
            .sortWithinPartitions(self.ts_col)
            .write.mode("overwrite")
            .partitionBy(PARTITION_COL)
            .parquet(tmp)
        )
        self._swap_in(tmp)
        # whole-directory swap at the materialized logical schema
        self._note_write(part.schema, replace=True)

    def _swap_in(self, tmp: str) -> None:
        """Replace the table directory with a rewritten copy, carrying
        sibling state across — detached partitions (r6 fuzz find) and the
        WAL suspend state + parked txns (r6 fuzz find #2: compact while
        suspended silently un-suspended the table and dropped its pending
        queue). The DDL ops journal is deliberately NOT carried: both
        callers (compact, alter_column_type) materialize the logical
        schema into the rewrite."""
        keep = [
            (self._detached_root, os.path.basename(self._detached_root)),
            (self._wal_state_path, os.path.basename(self._wal_state_path)),
            (os.path.join(self.path, ".qdb_wal_pending"), ".qdb_wal_pending"),
        ]
        saved: list[tuple[str, str]] = []
        for src, base in keep:
            if os.path.exists(src):
                hold = tmp.rstrip("/") + f".keep_{base}"
                os.rename(src, hold)
                saved.append((hold, base))
        shutil.rmtree(self.path)
        os.rename(tmp, self.path)
        for hold, base in saved:
            os.rename(hold, os.path.join(self.path, base))

    def enforce_ttl(self) -> list:
        """Evict partitions whose CEILING (start of the next logical
        partition) is older than max(ts) − TTL — a partition expires only
        once even its newest possible record is past the TTL, and the
        active partition is never evicted (``TableWriter.enforceTtl``:7197,
        ``TableUtils.checkTtl``:395). Runs inside the ingest commit like
        the reference; cost is one max-ts lookup on the newest partition +
        directory removals, no data rewrite."""
        from datetime import datetime, timedelta

        ttl = self.ttl_hours_or_months
        if ttl == 0:
            return []
        parts = sorted(
            p for p in os.listdir(self.path) if p.startswith(f"{PARTITION_COL}=")
        )
        if len(parts) < 2:
            return []  # only the active partition
        # max ts lives in the newest partition — scan just that directory
        newest = os.path.join(self.path, parts[-1])
        max_ts = (
            self.spark.read.parquet(newest)
            .agg(F.max(self._physical_name(self.ts_col)))
            .collect()[0][0]
        )
        if max_ts is None:
            return []

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

        def minus_ttl(dt: datetime) -> datetime:
            if ttl > 0:
                return dt - timedelta(hours=ttl)
            months = -ttl
            mo = (dt.month - 1 - months) % 12 + 1
            yr = dt.year + (dt.month - 1 - months) // 12
            from calendar import monthrange

            return dt.replace(year=yr, month=mo, day=min(dt.day, monthrange(yr, mo)[1]))

        boundary = minus_ttl(max_ts)
        evicted = []
        for p in parts[:-1]:  # oldest first, never the active partition
            pv = p.split("=", 1)[1]
            if ceiling(start_of(pv)) <= boundary:
                shutil.rmtree(os.path.join(self.path, p), ignore_errors=True)
                evicted.append(pv)
            else:
                break  # partitions are time-sorted; the rest are younger
        return evicted

    def vacuum(self, max_files_per_partition: int = 1) -> int:
        """VACUUM TABLE: reclaim storage (``VacuumColumnVersions.java``;
        the parquet analog of purging superseded column versions is
        compacting the small append files each WAL commit leaves behind).
        Partitions holding more than ``max_files_per_partition`` parquet
        files are rewritten as one sorted file; returns the number of
        partitions compacted. Partition-granular — a 100 TB table vacuums
        only its fragmented partitions."""
        compacted = 0
        for p in sorted(os.listdir(self.path)):
            if not p.startswith(f"{PARTITION_COL}="):
                continue
            pdir = os.path.join(self.path, p)
            files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
            if len(files) <= max_files_per_partition:
                continue
            tmp = pdir + ".vacuum"
            (
                self.spark.read.option("mergeSchema", "true").parquet(pdir)
                .sort(self._physical_name(self.ts_col))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(tmp)
            )
            shutil.rmtree(pdir)
            os.rename(tmp, pdir)
            compacted += 1
        return compacted

    def _rewrite_partitions(self, sub: DataFrame, parts: list) -> None:
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            sub.repartition(self._write_width(sub), PARTITION_COL)
            .sortWithinPartitions(self._physical_name(self.ts_col))
            .write.mode("overwrite")
            .partitionBy(PARTITION_COL)
            .parquet(self.path)
        )
        # dynamic overwrite touches only the partitions present in ``sub``;
        # untouched partitions keep their files, so the cache merges
        self._note_write(sub.schema, replace=False)
