"""Structured Streaming pieces of the pipeline (SURVEY.md §2.9).

Beholder is a continuously-running daemon; its streaming twin here is
:func:`beholder_spark.config.run_config_stream`, which runs a compiled
config over ``readStream`` and lands every sink in ``foreachBatch``
through the batch engine's manifest/lineage machinery
(:func:`write_manifested_stream`, keyed per source file by
:func:`batch_key_col`).

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
    unavailable (non-file sources). ONE definition shared by every
    foreachBatch writer. Callers MUST evaluate this against the original
    file scan: caching/persisting the batch slice first makes
    input_file_name() return '' (InMemoryTableScan has no file), which
    silently degrades every key to b<batch_id> and re-breaks the
    checkpoint-loss replay guarantee the file keying exists for."""
    src = F.input_file_name()
    return F.when(src == "", F.lit(f"b{batch_id}")).otherwise(
        F.concat(F.lit("f"), F.md5(src))
    )


def write_manifested_stream(
    stream: DataFrame,
    out_root: str,
    stage: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """EXACTLY-ONCE streaming sink: foreachBatch + the manifest machinery
    of :mod:`beholder_spark.plans.lineage`, keyed by batch CONTENT.

    The streaming checkpoint already dedups batches — until the
    checkpoint is lost or the sink dir is reused. This sink survives
    both. Each row's manifest partition is ``_batch=f<md5(source file)>``
    (``input_file_name()``), NOT the micro-batch id: after checkpoint
    loss batch ids restart at 0, and if the source GREW since the
    original run the replayed batch 0 holds old+new files — a
    batch-id-keyed manifest would skip it wholesale and silently drop
    the new rows. File-keyed partitions skip exactly the already-
    manifested files and append exactly the new ones, and a batch that
    crashed mid-write leaves only an invisible orphan run dir. This is
    the streaming twin of the batch pipeline's resume story — one
    bookkeeping mechanism for both engines.

    Fallback: when the batch plan erases file provenance (aggregated
    streams, non-file sources — ``input_file_name()`` returns ''), rows
    key on ``_batch=b<id>`` and the guarantee degrades to the original
    one: checkpoint loss is only replay-safe while the source is
    unchanged.
    """
    from beholder_spark.plans import lineage as ln

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # no rebalance: each _batch directory is one source file, which
        # one scan task reads whole (below spark.sql.files.maxPartitionBytes)
        # — a shuffle would cost time and save no file
        b = batch_df.withColumn("_batch", batch_key_col(batch_id))
        ln.run_stage(b.sparkSession, out_root, stage, b, partition_col="_batch", rebalance=False)

    w = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
