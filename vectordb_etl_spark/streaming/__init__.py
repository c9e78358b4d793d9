"""Structured Streaming tier (SURVEY.md §2.10 — beyond-reference north star).

The reference orchestrates daily batches (dags/vectordb_etl_dag.py:269);
this package feeds the SAME clean→chunk→dedup→embed pipeline from a
Structured Streaming file source, with watermarked dedup and windowed
aggregates for late data, and a foreachBatch collection sink. Sink
builders return an unstarted ``DataStreamWriter``; ``run_available_now``
drains one to completion and returns its per-micro-batch progress.
"""

from vectordb_etl_spark.streaming.ingest import (
    read_document_stream,
    run_available_now,
    transform_stream,
    dedup_stream,
    write_collection_stream,
    windowed_event_counts,
    interval_join_streams,
    sessionize_stream,
    upsert_collection_stream,
)

__all__ = [
    "upsert_collection_stream",
    "read_document_stream",
    "run_available_now",
    "transform_stream",
    "dedup_stream",
    "write_collection_stream",
    "windowed_event_counts",
    "interval_join_streams",
    "sessionize_stream",
]
