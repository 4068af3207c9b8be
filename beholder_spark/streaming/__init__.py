"""Structured Streaming pieces of the pipeline (SURVEY.md §2.9).

Beholder is a continuously-running daemon; its streaming twin here is
:func:`beholder_spark.config.run_config_stream` (``--daemon``), whose one
foreachBatch writer lands every sink through the batch engine's
manifest/lineage machinery, keyed per source file by
:func:`batch_key_col`.

Event-time semantics Beholder lacks (watermarks, tumbling windows) are
exposed here because the aggregate layer needs them under unbounded
input: ``windowed_counts`` = the stats command with late-data bounds.
Sandbox testing uses ``trigger(availableNow=True)`` over parquet
directories — identical code path to a Kafka source in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "warc_ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """A2/A3 under unbounded input: watermarked tumbling-window counts.

    The watermark bounds state: late rows beyond it are dropped (counted
    by the streaming progress metrics — Beholder's overflow-drop
    accounting analogue).
    """
    # watermarks require TIMESTAMP (ltz); parquet NTZ casts losslessly
    # under the session's pinned UTC zone
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.window(F.col(ts_col), window).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(*keys, F.col("win.start").alias("bucket"), "n")
    )


def batch_key_col(batch_id: int):
    """File-keyed manifest partition key: ``f<md5(source file)>`` per
    input file, falling back to ``b<batch id>`` when provenance is
    unavailable (non-file sources), for the one foreachBatch writer
    (:func:`beholder_spark.config.run_config_stream`). Callers MUST
    evaluate this against the original file scan: caching/persisting the
    batch slice first makes
    input_file_name() return '' (InMemoryTableScan has no file), which
    silently degrades every key to b<batch_id> and re-breaks the
    checkpoint-loss replay guarantee the file keying exists for."""
    src = F.input_file_name()
    return F.when(src == "", F.lit(f"b{batch_id}")).otherwise(
        F.concat(F.lit("f"), F.md5(src))
    )
