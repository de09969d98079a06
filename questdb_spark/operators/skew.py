"""Skew-handling join utilities.

AQE's skew-join splitting (enabled in `session.py`) handles most skew at
runtime; explicit salting remains the tool of choice when one side must be
replicated deterministically (e.g. a hot key joining a non-broadcastable
dimension). QuestDB doesn't need this (single node); at 1000 executors a
zipf-distributed symbol column would pin one task without it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Equi-join with key salting: the (large, skewed) ``left`` gets a
    random-ish salt derived from a stable row hash; the (smaller, but not
    broadcastable) ``right`` is replicated ``salt`` times. Result equals a
    plain join; the shuffle key cardinality is multiplied by ``salt``, so a
    hot key spreads across ``salt`` tasks."""
    keys = list(keys)
    lsalt = F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(salt))
    l = left.withColumn("__salt", lsalt)
    r = right.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = l.join(r, [*keys, "__salt"], how)
    return out.drop("__salt")
