"""Streaming ingestion: the WAL-apply path re-expressed as Structured
Streaming.

Reference mapping (SURVEY §2.9): WAL segments + the apply job
(``cairo/wal/ApplyWal2TableJob.java:87``, ``cairo/O3PartitionJob.java:72``,
``c/share/ooo.cpp``, ``DEDUP UPSERT KEYS`` ``c/share/dedup.cpp``) →
one micro-batch = one WAL commit, applied by ``TimeTable.append(batch,
seq=batch_id)``. The table is the only writer of its storage, so a
streamed table has exactly the layout, DEDUP UPSERT semantics (in-batch
last-write-wins in arrival order, null-safe key merge into the touched
partitions, every row kept when the table has no keys), partitioning and
compaction of a table written any other way; read it with
``TimeTable.read()``. An out-of-order row merges into its own partition
however late it arrives, so there is no lag bound to configure.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..table import TimeTable, _write_json


def write_stream_ingest(
    stream: DataFrame,
    table: TimeTable,
    checkpoint: str,
    trigger_available_now: bool = False,
):
    """Start the ingest stream: each micro-batch commits into ``table``
    as WAL txn ``batch_id``."""
    w = (
        stream.writeStream.foreachBatch(
            lambda batch, batch_id: table.append(batch, seq=batch_id)
        )
        .option("checkpointLocation", checkpoint)
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def start_ilp_ingest(
    spark: SparkSession,
    *,
    measurement: str,
    table: TimeTable,
    checkpoint: str,
    host: str | None = None,
    port: int | None = None,
    lines_path: str | None = None,
    trigger_available_now: bool = False,
):
    """End-to-end ILP ingest (SURVEY §2.1; reference
    ``cutlass/line/tcp/LineTcpReceiver.java`` + ``ApplyWal2TableJob``):
    a live line source → `parse_ilp` → per-batch commit into ``table``
    (whose designated timestamp must be ``ts``).

    Source: exactly one of ``(host, port)`` — Structured Streaming's
    ``socket`` source, the TCP listener mapping — or ``lines_path`` — a
    ``text`` file-stream (the replayable form: restarts resume from the
    checkpoint, which a raw socket cannot).

    The column layout is inferred from the FIRST non-empty micro-batch
    (the ILP auto-create behavior) and persisted beside the checkpoint,
    so a restarted stream keeps the established table schema instead of
    re-inferring a narrower one from whatever the next batch holds."""
    from ..sources.ilp import infer_layout, parse_ilp, project_layout

    if (host is None) == (lines_path is None):
        raise ValueError("exactly one of (host, port) or lines_path")
    if host is not None:
        raw = (
            spark.readStream.format("socket")
            .option("host", host)
            .option("port", int(port))
            .load()
        )
    else:
        raw = spark.readStream.format("text").load(lines_path)
    parsed = parse_ilp(raw, "value").filter(F.col("measurement") == measurement)
    os.makedirs(checkpoint, exist_ok=True)
    schema_file = os.path.join(checkpoint, "_ilp_schema.json")

    def apply(batch: DataFrame, batch_id: int) -> None:
        try:
            with open(schema_file) as fh:
                layout = json.load(fh)
        except FileNotFoundError:
            if batch.isEmpty():
                return
            layout = infer_layout(batch)
            _write_json(schema_file, layout)
        table.append(project_layout(batch, layout), seq=batch_id)

    w = parsed.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()
