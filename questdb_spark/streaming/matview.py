"""Incrementally-refreshed materialized views.

Reference: QuestDB mat views are incrementally refreshed SAMPLE BY queries
(``cairo/mv/MatViewRefreshJob.java:77``, ``cairo/mv/
SampleByIntervalIterator.java``): on new WAL transactions, only the time
buckets touched by new rows are recomputed.

Spark mapping: Structured Streaming windowed aggregation with watermark
(late data within the watermark updates its bucket) in update mode, sunk
via foreachBatch as an upsert into a ``TimeTable`` keyed on (keys,
bucket): each micro-batch rewrites ONLY the partitions holding the
buckets it touched (QuestDB's interval-iterator refresh).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..table import TimeTable, _any_parquet


def sample_by_matview(
    stream: DataFrame,
    view: TimeTable,
    checkpoint: str,
    ts_col: str,
    interval: str,
    aggs: Mapping[str, Column],
    watermark: str = "10 seconds",
    tz: str | None = None,
    offset: str | None = None,
    trigger_available_now: bool = False,
):
    """Maintain `SELECT bucket, keys, aggs ... SAMPLE BY interval` as the
    continuously-refreshed table ``view``: its designated timestamp names
    the bucket column and its dedup keys are the SAMPLE BY keys. The
    (keys, bucket) grain is always the upsert key, so a keyless view
    dedups on the bucket alone.

    ``tz`` / ``offset``: QuestDB ``ALIGN TO CALENDAR TIME ZONE '<tz>'
    [WITH OFFSET 'hh:mm']`` (``TimezoneFloorTimestampSampler``): buckets
    align to LOCAL calendar boundaries. Lowered by shifting the event time
    to wall-clock local time (per-row ``convert_timezone`` — DST-correct,
    unlike a constant shift), windowing on the shifted column, and shifting
    the bucket start back to UTC. ``offset`` is a Spark duration string
    (e.g. ``'30 minutes'``) applied as the window's startTime."""
    keys = view.dedup_keys
    view.dedup_enabled = True
    evt = ts_col
    if tz is not None:
        stream = stream.withColumn(
            "__local_ts",
            F.convert_timezone(F.lit("UTC"), F.lit(tz), F.col(ts_col)).cast("timestamp"),
        )
        evt = "__local_ts"
    win = (
        F.window(evt, interval, interval, offset) if offset else F.window(evt, interval)
    )
    start = F.col("__w.start")
    if tz is not None:
        start = F.convert_timezone(
            F.lit(tz), F.lit("UTC"), start.cast("timestamp_ntz")
        ).cast("timestamp")
    bucketed = (
        stream.withWatermark(evt, watermark)
        .groupBy(win.alias("__w"), *keys)
        .agg(*[expr.alias(name) for name, expr in aggs.items()])
        .select(start.alias(view.ts_col), *keys, *aggs.keys())
    )
    # update mode emits each changed (bucket, keys) row with its full
    # aggregate state, so an upsert on that grain is the whole refresh
    w = (
        bucketed.writeStream.outputMode("update")
        .foreachBatch(lambda batch, batch_id: view.append(batch, seq=batch_id))
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def latest_on_liveview(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    ts_col: str,
    keys: Sequence[str],
    watermark: str = "1 hour",
    trigger_available_now: bool = False,
):
    """Live view (QuestDB ``cairo/lv/`` checkpointed incremental state):
    continuously maintain LATEST ON ts PARTITION BY keys as an
    unpartitioned ``TimeTable`` at ``path``.

    Stateful streaming max_by per key in update mode; each micro-batch
    merges its changed keys into the result and replaces the view with
    ``TimeTable.write``, one partition commit (checkpoint = the live-view
    checkpoint store)."""
    keys = list(keys)
    payload = [c for c in stream.columns if c not in keys]
    latest = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(
            F.max_by(F.struct(*[F.col(c) for c in payload]), F.col(ts_col)).alias("__row")
        )
        .select(*keys, *[F.col("__row")[c].alias(c) for c in payload])
    )
    view = TimeTable(stream.sparkSession, path, ts_col, "none")

    def refresh(batch: DataFrame, batch_id: int) -> None:
        if not batch.columns:
            return
        out = batch
        if _any_parquet(path):
            # null-safe key match: a NULL key is one key, like the
            # TimeTable merge (a name-based join never matches NULLs)
            e = view.read().select(*batch.columns).alias("e")
            b = batch.select(*keys).alias("b")
            same = reduce(
                lambda x, y: x & y,
                [F.col(f"e.{k}").eqNullSafe(F.col(f"b.{k}")) for k in keys],
            )
            out = batch.unionByName(e.join(b, same, "left_anti"))
        view.write(out)

    w = (
        latest.writeStream.outputMode("update")
        .foreachBatch(refresh)
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
