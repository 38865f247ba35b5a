"""Structured Streaming variants of the event operators."""

from __future__ import annotations


def run_stream(stream, checkpoint: str, body):
    """Drain ``stream`` once (``availableNow``), calling
    ``body(batch, batch_id)`` per micro-batch; returns the StreamingQuery.
    Spark may replay a batch after a crash, so every body is idempotent."""
    return (
        stream.writeStream.foreachBatch(body)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
