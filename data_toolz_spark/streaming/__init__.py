"""Structured Streaming operators (extension surface; SURVEY §2.9 X6)."""

from data_toolz_spark.streaming.events import (
    dedup_stream,
    read_events_stream,
    run_to_memory_sink,
    run_to_parquet_sink,
    running_user_totals_stream,
    sessionize_stream,
    windowed_event_counts,
)
from data_toolz_spark.streaming.ingest import (
    run_dedup_ingest,
    run_fingerprint_ingest,
    run_near_dup_ingest,
    run_quota_ingest,
    run_span_dedup_ingest,
    run_vector_ingest,
)

__all__ = [
    "dedup_stream",
    "read_events_stream",
    "run_dedup_ingest",
    "run_fingerprint_ingest",
    "run_near_dup_ingest",
    "run_quota_ingest",
    "run_span_dedup_ingest",
    "run_vector_ingest",
    "run_to_memory_sink",
    "run_to_parquet_sink",
    "running_user_totals_stream",
    "sessionize_stream",
    "windowed_event_counts",
]
