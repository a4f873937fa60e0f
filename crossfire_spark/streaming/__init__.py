"""Structured Streaming jobs over the events table (SURVEY §2.10).

The reference has no streaming surface (closest: Promise.period
wall-clock scheduling, Promise.java:353-376); this is the engine's
north-star extension, with batch-equivalent declared queries so the
streaming path is oracle-checkable."""

from crossfire_spark.streaming.jobs import (  # noqa: F401
    events_stream,
    run_stream_to_memory,
)
