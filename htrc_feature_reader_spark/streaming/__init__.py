"""Structured Streaming faces of the batch operators: each takes streaming
DataFrames (``stream_jsonl`` reads one from JSONL files)."""

from .asof import stream_asof_join, stream_forward_fill
from .dedup import stream_exact_dedup
from .jsonl import route_good_and_quarantine, stream_jsonl
from .sessionize import stream_session_counts, stream_windowed_rollup

__all__ = ["route_good_and_quarantine", "stream_asof_join", "stream_exact_dedup",
           "stream_forward_fill", "stream_jsonl", "stream_session_counts",
           "stream_windowed_rollup"]
