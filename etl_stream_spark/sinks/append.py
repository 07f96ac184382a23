"""Streaming sinks: landing append and merge-apply (K1/K2/K3).

* Landing append — the ``LANDING_<T>`` bronze log (Snowpipe Streaming
  append, ``etl-snowflake-py/etl_snowflake/client.py:573-685``; Iceberg
  fast-append, ``etl-destination/src/iceberg/client.rs:296-393``) maps to
  a ``foreachBatch`` append through
  :class:`~etl_stream_spark.cdc.pipeline.LandingTable`; the channel
  offset-token resume maps to ``checkpointLocation``.
* Merge-apply — BigQuery server-side CDC upserts
  (``etl-destination/src/bigquery/client.rs:343-440``) map to a
  ``foreachBatch`` driving :class:`~etl_stream_spark.cdc.pipeline.
  CdcBatchApplier` (the exactly-once landing→target MERGE).

``batch_max_fill_ms`` governs the processing-time trigger
(``migrations/001_create_tables.sql:54``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from etl_stream_spark.cdc.pipeline import CdcBatchApplier, LandingTable


def _trigger(writer, trigger_interval_ms: int | None, available_now: bool):
    if available_now:
        return writer.trigger(availableNow=True)
    if trigger_interval_ms is not None:
        return writer.trigger(processingTime=f"{trigger_interval_ms} milliseconds")
    return writer


def start_landing_stream(
    events: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: tuple[str, ...] = (),
    trigger_interval_ms: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Append-only bronze landing stream (K1/K3): each micro-batch is
    appended through the landing's :class:`LandingTable`, whose purge
    the landing's next read sees because no file sink keeps a
    ``_spark_metadata`` list beside it. At-least-once: an epoch replayed
    after a crash lands twice, which ``MergeTask``'s sequence resolution
    absorbs."""
    landing = LandingTable(events.sparkSession, path, partition_cols)
    writer = events.writeStream.foreachBatch(
        lambda df, _epoch: landing.append(df)
    ).option("checkpointLocation", checkpoint)
    return _trigger(writer, trigger_interval_ms, available_now).start()


def start_merge_stream(
    events: DataFrame,
    applier: CdcBatchApplier,
    checkpoint: str,
    trigger_interval_ms: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """CDC merge stream (K2 analog): every micro-batch is grouped by
    table, deduped last-writer-wins, and MERGEd into its target —
    exactly-once via the checkpoint + idempotent stale-sequence guard.
    The one place a stream is connected to
    :meth:`CdcBatchApplier.apply_batch` (the catalog's streaming merge
    and ``bench.py`` both start their streams here)."""
    writer = events.writeStream.foreachBatch(applier.apply_batch).option(
        "checkpointLocation", checkpoint
    )
    return _trigger(writer, trigger_interval_ms, available_now).start()
