"""Structured Streaming ingestion — the reference's actual job shape:
file-stream sources, watermarked windowed aggregation, streaming
dedup, arbitrary stateful processing, stream-static enrichment, and
idempotent foreachBatch warehouse sinks with checkpointing.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from pg_telemetry_spark.session import scoped_conf


def run_available_now(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
    output_mode: str | None = None,
    confs: dict[str, str] | None = None,
) -> list[dict]:
    """Run ``stream`` into the ``foreachBatch`` ``sink`` under
    ``Trigger.AvailableNow`` (the collector's cron tick), with ``confs``
    scoped to the run, and return the finished query's
    ``recentProgress`` (read after ``awaitTermination``: every batch)."""
    with scoped_conf(stream.sparkSession, confs or {}):
        writer = stream.writeStream.foreachBatch(sink).option(
            "checkpointLocation", checkpoint
        )
        if output_mode:
            writer = writer.outputMode(output_mode)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return [p for p in q.recentProgress if p]
