"""Sink layer (SURVEY.md §2.2): streaming landing append (K1/K3) and
the checkpointed merge sink (K2 analog)."""

from etl_stream_spark.sinks.append import start_landing_stream, start_merge_stream

__all__ = [
    "start_landing_stream",
    "start_merge_stream",
]
