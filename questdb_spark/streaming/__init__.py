"""Structured-Streaming surface: ingest committed through ``TimeTable``
(DEDUP UPSERT), incremental materialized views, custom stateful operators
(SURVEY §2.9)."""

from .ingest import write_stream_ingest
from .matview import latest_on_liveview, sample_by_matview
from .stateful import streaming_asof_join, streaming_ema

__all__ = [
    "write_stream_ingest",
    "latest_on_liveview", "sample_by_matview",
    "streaming_asof_join", "streaming_ema",
]
