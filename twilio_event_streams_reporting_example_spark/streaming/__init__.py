"""Structured Streaming variants of the TaskRouter pipeline.

``taskrouter_stream`` — watermarked CloudEvent ingest, the stateful
conversation lifecycle (one applyInPandasWithState state function,
grouped per task or per hash shard of tasks, which also drops
redelivered CloudEvent ids in its task state; event-time timeout →
CORRUPTED CONVERSATION), the date-partitioned parquet segments
sink (S5) and the foreachBatch agents upsert. ``sessions`` — the
streaming session-window twin of the batch sessionizer. Every file-stream
harness runs its availableNow query through
``taskrouter_stream.run_available_now``.
"""
