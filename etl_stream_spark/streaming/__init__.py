"""Streaming orchestration layer (SURVEY.md §2.8, §3.1, §3.3):
pipeline reconciliation, sustained-threshold alerting, circuit breaking,
retries, and lag monitoring."""

from etl_stream_spark.streaming.manager import PipelineManager, detect_new_tables
from etl_stream_spark.streaming.alerting import (
    AlertPayload,
    AlertStateMachine,
    AlertStatus,
    sustained_threshold_alerts,
)
from etl_stream_spark.streaming.resilience import (
    CircuitBreaker,
    CircuitOpenError,
    retry_with_backoff,
)
from etl_stream_spark.streaming.monitor import wal_size_mb

__all__ = [
    "PipelineManager",
    "detect_new_tables",
    "AlertPayload",
    "AlertStateMachine",
    "AlertStatus",
    "sustained_threshold_alerts",
    "CircuitBreaker",
    "CircuitOpenError",
    "retry_with_backoff",
    "wal_size_mb",
]

from etl_stream_spark.streaming.metrics import MetricsRegistry, health_snapshot  # noqa: E402
from etl_stream_spark.streaming.progress import ProgressMetricsListener  # noqa: E402
from etl_stream_spark.streaming.windows import (  # noqa: E402
    dedup_within_watermark,
    tumbling_counts,
)

__all__ += [
    "MetricsRegistry",
    "health_snapshot",
    "ProgressMetricsListener",
    "dedup_within_watermark",
    "tumbling_counts",
]
