"""Aggregate long-tail: haversine distance, sparkline, UNION type
harmonization.

Reference: ``griffin/engine/functions/groupby/`` — HaversineDistDegree...,
Sparkline...; ``griffin/engine/union/...CastRecordCursor`` (§2.7 type
harmonization).  The compensated sums ksum/nsum (KSumDouble/NSumDouble)
lower in the dialect, ``sqlfront/engine._compensated_sum``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def haversine_dist_deg(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km between degree coordinates
    (HaversineDistDegreeGroupByFunction semantics, per-pair form)."""
    r = 6371.0
    p1 = F.radians(lat1)
    p2 = F.radians(lat2)
    dp = F.radians(lat2 - lat1) / 2
    dl = F.radians(lon2 - lon1) / 2
    a = F.sin(dp) * F.sin(dp) + F.cos(p1) * F.cos(p2) * F.sin(dl) * F.sin(dl)
    return 2 * r * F.asin(F.sqrt(a))


_SPARK_BARS = "▁▂▃▄▅▆▇█"


def sparkline(values: Column) -> Column:
    """Unicode sparkline of an array of doubles (QuestDB sparkline());
    cosmetic, but exact: bucket each value into 8 levels of its own range."""
    lo = F.array_min(values)
    hi = F.array_max(values)
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
    idx = F.transform(
        values,
        lambda v: F.least(
            F.floor((v - lo) / span * 8).cast("int"), F.lit(7)
        ),
    )
    chars = F.transform(idx, lambda i: F.lit(_SPARK_BARS).substr(i + F.lit(1), F.lit(1)))
    return F.concat_ws("", chars)


def union_harmonized(a: DataFrame, b: DataFrame) -> DataFrame:
    """UNION with QuestDB-style implicit cast harmonization
    (UnionCastRecord): columns matched by position, each output column takes
    the wider of the two input types."""
    if len(a.columns) != len(b.columns):
        raise ValueError("UNION inputs must have the same arity")
    from pyspark.sql.types import DataType

    def wider(t1: DataType, t2: DataType) -> str:
        # ordered within each family; DATE widens to TIMESTAMP (a date is a
        # midnight timestamp — the reverse cast would truncate time-of-day)
        numeric = ["boolean", "tinyint", "smallint", "int", "bigint", "float",
                   "double", "decimal"]
        temporal = ["date", "timestamp"]
        s1, s2 = t1.simpleString(), t2.simpleString()
        if s1 == s2:
            return s1
        base1 = "decimal" if s1.startswith("decimal") else s1
        base2 = "decimal" if s2.startswith("decimal") else s2
        for order in (numeric, temporal):
            if base1 in order and base2 in order:
                return s1 if order.index(base1) >= order.index(base2) else s2
        # cross-family (e.g. double vs timestamp) or unknown: harmonize via
        # string rather than inventing a lossy numeric↔temporal cast
        return "string"

    cols_a, cols_b = [], []
    for fa, fb in zip(a.schema.fields, b.schema.fields):
        target = wider(fa.dataType, fb.dataType)
        cols_a.append(F.col(fa.name).cast(target).alias(fa.name))
        cols_b.append(F.col(fb.name).cast(target).alias(fa.name))
    return a.select(*cols_a).unionAll(b.select(*cols_b))
