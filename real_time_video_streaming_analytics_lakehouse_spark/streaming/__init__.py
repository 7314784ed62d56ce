from .monitor import StreamMonitor
from .pipelines import (
    anomaly_stream,
    content_popularity_stream,
    dedup_stream,
    dedup_stream_within_watermark,
    kafka_stream,
    parse_kafka_events,
    run_available_now,
    run_merge_stream_versioned,
    run_cms_stream,
    run_quarantine_stream,
    run_sketch_stream,
    stream_events_from_files,
    user_activity_stream,
)

__all__ = [
    "StreamMonitor",
    "anomaly_stream",
    "content_popularity_stream",
    "dedup_stream",
    "dedup_stream_within_watermark",
    "kafka_stream",
    "parse_kafka_events",
    "run_available_now",
    "run_merge_stream_versioned",
    "run_cms_stream",
    "run_quarantine_stream",
    "run_sketch_stream",
    "stream_events_from_files",
    "user_activity_stream",
]
