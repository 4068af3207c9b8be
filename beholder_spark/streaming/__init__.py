"""Structured Streaming variant of the pipeline (SURVEY.md §2.9).

Beholder is a continuously-running daemon; the batch engine's streaming
twin maps its sources onto ``readStream`` and its sinks onto
``writeStream`` + ``foreachBatch``. The SAME stage compiler
(:func:`beholder_spark.pipeline.compile_pipeline`) transforms the
streaming DataFrame — one pipeline definition, two execution modes.

Event-time semantics Beholder lacks (watermarks, tumbling windows) are
exposed here because the aggregate layer needs them under unbounded
input: ``windowed_counts`` = the stats command with late-data bounds.
Sandbox testing uses ``trigger(availableNow=True)`` over parquet
directories — identical code path to a Kafka source in production.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beholder_spark.pipeline import compile_pipeline
from beholder_spark.sinks import write_table


def read_pages_stream(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S1/S2 streaming scan: file source (one-file-per-trigger batching);
    production swaps format('kafka') — downstream stages are unchanged."""
    return spark.readStream.schema(schema).parquet(path)


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


def run_stream_once(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    spec: list[dict[str, Any]],
    out_path: str,
    checkpoint_path: str,
    route_col: str = "route",
) -> None:
    """Run the routed pipeline over all available input, then stop
    (trigger availableNow) — the batch-equivalence test harness.

    ``foreachBatch`` gives each micro-batch the full batch writer —
    :func:`beholder_spark.sinks.write_table`'s clustered fan-out by
    ``route_col`` — with exactly-once bookkeeping from the streaming
    checkpoint (the streaming twin of our manifest).
    """
    stream = read_pages_stream(spark, source_path, schema)
    routed = compile_pipeline(stream, spec)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_table(batch_df, out_path, [route_col], mode="append")

    q = (
        routed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def session_windows(
    stream: DataFrame,
    key: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of :func:`beholder_spark.operators.aggregate.sessionize`:
    gap-based sessions via the built-in ``session_window`` — state merges
    adjacent events per key, watermark closes sessions and bounds state.
    """
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), F.session_window(F.col(ts_col), gap).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
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
    buffer_rows: int | None = None,
    order_col: str | None = None,
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

    Backpressure (K5 ``buffer N`` drop semantics): ``buffer_rows`` caps
    each micro-batch at that many rows — the buffer fills in
    ``order_col`` order and overflow (the latest arrivals) is DROPPED
    and COUNTED in ``_lineage.dropped_overflow``, Beholder's counted
    drop-on-overflow contract. ``order_col`` must be a unique key for a
    deterministic survivor set. Pair with a source trigger limit
    (``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``) to bound batch
    size — that is Spark's native backpressure; the buffer bound is the
    LOSSY mode on top. Counting the overflow costs one extra pass over
    the (bounded) micro-batch, and a lossy sink is inherently weaker
    than exactly-once: after checkpoint loss the replayed batch may
    regroup rows and keep a different survivor set.
    """
    from beholder_spark.plans import lineage as ln

    if buffer_rows is not None and order_col is None:
        raise ValueError("buffer_rows requires order_col (deterministic survivor set)")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # key FIRST: batch_key_col must see the original file scan —
        # evaluating it above the orderBy().limit() exchange would read
        # input_file_name() as '' and degrade every key to b<batch_id>
        # (the checkpoint-loss silent-drop class; see batch_key_col)
        b = batch_df.withColumn("_batch", batch_key_col(batch_id))
        dropped = 0
        if buffer_rows is not None:
            n_in = b.count()
            if n_in > buffer_rows:
                # sort+limit compiles to TakeOrderedAndProject — per-
                # partition top-N then merge, never a full global sort
                b = b.orderBy(order_col).limit(buffer_rows)
                dropped = n_in - buffer_rows
        # no rebalance: each _batch directory is one source file, which
        # one scan task reads whole (below spark.sql.files.maxPartitionBytes)
        # — a shuffle would cost time and save no file
        ln.run_stage(
            b.sparkSession, out_root, stage, b, partition_col="_batch",
            extra_lineage={"dropped_overflow": dropped}, rebalance=False,
        )

    w = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    watermark: str = "2 hours",
    max_lag_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: left rows pair with right rows of
    the same key whose timestamp lies in ``[left_ts − max_lag, left_ts]``
    — the streaming twin of :func:`beholder_spark.operators.asof
    .interval_join_count`'s trailing window (attribution under unbounded
    input).

    State stays BOUNDED because both requirements Spark demands are met:
    each side is watermarked, and the join condition constrains the two
    event times relative to each other — so the engine can evict buffered
    rows older than ``watermark + max_lag``. Without the time-range
    predicate a stream-stream join would buffer forever.

    Right-side columns are prefixed ``r_`` (both sides carry ``key`` and
    a timestamp — unprefixed they'd be ambiguous in the join output).
    """
    lt = left.withColumn(left_ts, F.col(left_ts).cast("timestamp")).withWatermark(
        left_ts, watermark
    )
    rt = right.select([F.col(c).alias(f"r_{c}") for c in right.columns])
    rt = rt.withColumn(f"r_{right_ts}", F.col(f"r_{right_ts}").cast("timestamp")).withWatermark(
        f"r_{right_ts}", watermark
    )
    cond = (
        (F.col(key) == F.col(f"r_{key}"))
        & (F.col(f"r_{right_ts}") <= F.col(left_ts))
        & (
            F.col(f"r_{right_ts}")
            >= F.col(left_ts) - F.expr(f"INTERVAL {max_lag_seconds} SECOND")
        )
    )
    return lt.join(rt, cond, how)


def running_counts_stateful(
    stream: DataFrame,
    key: str,
    ts_col: str,
    timeout_after_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the escape
    hatch for per-key logic the built-in streaming aggregates can't
    express (Beholder's long-lived per-source counters, rate trackers).

    Demonstrator semantics: per key, emit (key, total_events, batches_seen)
    on every trigger, keeping a running total in state. Arrow-batched:
    each key's micro-batch rows arrive as pandas DataFrames — no per-row
    Python. ``timeout_after_ms`` arms a processing-time state expiry
    (bounds memory under key churn in a long-running daemon); leave None
    under ``trigger(availableNow)`` — pending timers keep that trigger
    alive past the available data, so the run never terminates.
    """
    import pandas as pd  # noqa: F401  (worker-side import)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("total_events", T.LongType()),
            T.StructField("batches_seen", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("total", T.LongType()),
            T.StructField("batches", T.LongType()),
        ]
    )

    def update(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        if timeout_after_ms is not None and state.hasTimedOut:
            state.remove()
            return
        rows = sum(len(p) for p in pdfs)
        total, batches = state.get if state.exists else (0, 0)
        total, batches = total + rows, batches + 1
        state.update((total, batches))
        if timeout_after_ms is not None:
            state.setTimeoutDuration(timeout_after_ms)
        yield pd.DataFrame(
            {"key": [str(key_tuple[0])], "total_events": [total], "batches_seen": [batches]}
        )

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_after_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        stream.groupBy(F.col(key).cast("string").alias(key))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )
