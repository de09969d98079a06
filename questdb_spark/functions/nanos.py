"""Nanosecond-precision timestamp arithmetic (QuestDB TIMESTAMP_NANO).

Reference: ``cairo/ColumnType.java:149-150`` (``TIMESTAMP_NANO = 1<<18 |
TIMESTAMP``), ``cairo/NanosTimestampDriver.java`` — QuestDB timestamps
carry micro- OR nano-second resolution; SAMPLE BY, interval pruning and
timestamp arithmetic all operate at the column's native resolution.

Spark has no nanosecond timestamp type, so per SURVEY §1.2 the lowering is
a **LongType shadow column** holding epoch nanos (exactly what
``spark.sql.legacy.parquet.nanosAsLong`` hands us from nano parquet).
All arithmetic stays in 64-bit integers — exact, overflow-safe until year
2262, and identical in every engine (DuckDB: ``epoch_ns``) — and converts
to a micros TimestampType only at the display boundary.

Exactness notes: truncation uses ``ns - ns % width`` (pure int64, = floor
for positive epochs — never a double round-trip: epoch nanos ~1.7e18
exceed double's 2^53 mantissa).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..tsutil import to_nanos

NS_PER = {
    "ns": 1,
    "us": 1_000,
    "ms": 1_000_000,
    "s": 1_000_000_000,
    "m": 60_000_000_000,
    "h": 3_600_000_000_000,
    "d": 86_400_000_000_000,
}


def _width(amount: int, unit: str) -> int:
    if unit not in NS_PER:
        raise ValueError(f"unit must be one of {sorted(NS_PER)}, got {unit!r}")
    return amount * NS_PER[unit]


def ns_of(ts: Column) -> Column:
    """TimestampType (micros) → epoch-nanos long. unix_micros is integer
    micros; ×1000 stays well inside int64. NTZ-robust via tsutil."""
    return to_nanos(ts)


def ns_trunc(ns: Column, amount: int, unit: str) -> Column:
    """Floor an epoch-nanos value to an ``amount × unit`` grid — the
    SAMPLE BY bucket at nano resolution (fixed-width units; calendar
    month/year alignment lives in operators/sample_by.py)."""
    w = F.lit(_width(amount, unit))
    return ns - (ns % w)


def ns_diff(a: Column, b: Column) -> Column:
    """datediff in nanos: a - b."""
    return a - b


def ns_to_timestamp(ns: Column) -> Column:
    """Epoch-nanos long → TimestampType, truncating to micros (the only
    lossy step; keep the long column when full precision matters).
    (ns - ns%1000)/1000 is an exact double (micros < 2^53) → exact long."""
    return F.timestamp_micros(((ns - ns % F.lit(1_000)) / F.lit(1_000)).cast("long"))


def subsec_ns(ns: Column) -> Column:
    """Nanoseconds past the whole second (0..999_999_999)."""
    return ns % F.lit(1_000_000_000)
