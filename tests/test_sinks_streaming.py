"""Structured Streaming: watermarked window counts and the exactly-once
manifested sink."""

from __future__ import annotations


def test_streaming_windowed_counts(spark, fixture_dir, tmp_path):
    from beholder_spark.streaming import windowed_counts

    pages_path = str(tmp_path / "pages_dir2")
    spark.read.parquet(f"{fixture_dir}/pages.parquet").write.parquet(pages_path)
    schema = spark.read.parquet(pages_path).schema
    stream = spark.readStream.schema(schema).parquet(pages_path)
    agg = windowed_counts(stream, ["lang"], ts_col="warc_ts", window="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select sum(n) s from win_counts").first().s
    # watermark may drop the deliberately-late rows (~0.5%); never exceeds input
    total = spark.read.parquet(pages_path).count()
    assert total * 0.99 <= got <= total


def test_manifested_stream_sink_idempotent_under_replay(spark, tmp_path):
    """The manifested streaming sink stays exactly-once even when the
    STREAMING CHECKPOINT IS DELETED (full batch replay): replayed batches
    hit the manifest anti-join and append nothing."""
    import shutil

    from beholder_spark.config import run_config_stream
    from beholder_spark.plans import lineage as ln

    src_dir = str(tmp_path / "src")
    spark.range(200).selectExpr("id", "CAST(id % 7 AS STRING) AS k").write.parquet(src_dir)
    out_root = str(tmp_path / "mstream")
    ckpt = str(tmp_path / "ckpt_m")

    stream = spark.readStream.schema("id long, k string").parquet(src_dir)
    q = run_config_stream(spark, stream, "", out_root, ckpt, stage="events")
    q.awaitTermination(120)
    first = ln.read_stage(spark, out_root, "events", "_batch")
    assert first.count() == 200

    # nuke the streaming checkpoint: Spark replays EVERY batch
    shutil.rmtree(ckpt)
    stream2 = spark.readStream.schema("id long, k string").parquet(src_dir)
    q2 = run_config_stream(spark, stream2, "", out_root, ckpt, stage="events")
    q2.awaitTermination(120)
    again = ln.read_stage(spark, out_root, "events", "_batch")
    assert again.count() == 200  # no duplicates despite full replay
    assert again.select("id").distinct().count() == 200


def test_manifested_stream_checkpoint_loss_with_grown_source(spark, tmp_path):
    """Regression (ADVICE r2): after checkpoint loss, batch ids restart at
    0 — a batch-id-keyed manifest would skip the replayed batch 0 wholesale
    and silently DROP rows from files added since the original run. The
    file-content-keyed manifest must append exactly the new file's rows."""
    import shutil

    from beholder_spark.config import run_config_stream
    from beholder_spark.plans import lineage as ln

    src_dir = str(tmp_path / "src")
    spark.range(100).selectExpr("id", "CAST(id % 7 AS STRING) AS k").write.parquet(src_dir)
    out_root = str(tmp_path / "mstream")
    ckpt = str(tmp_path / "ckpt_m")

    stream = spark.readStream.schema("id long, k string").parquet(src_dir)
    run_config_stream(spark, stream, "", out_root, ckpt, stage="events").awaitTermination(120)
    assert ln.read_stage(spark, out_root, "events", "_batch").count() == 100

    # checkpoint lost AND the source grew: replayed batch 0 = old+new files
    shutil.rmtree(ckpt)
    spark.range(100, 150).selectExpr("id", "CAST(id % 7 AS STRING) AS k").write.mode(
        "append"
    ).parquet(src_dir)
    stream2 = spark.readStream.schema("id long, k string").parquet(src_dir)
    run_config_stream(spark, stream2, "", out_root, ckpt, stage="events").awaitTermination(120)
    again = ln.read_stage(spark, out_root, "events", "_batch")
    assert again.count() == 150  # new rows appended, old rows not duplicated
    assert again.select("id").distinct().count() == 150
    # file-keyed _batch values, never the b<batch_id> fallback that would
    # skip the replayed batch 0 wholesale (see streaming.batch_key_col)
    keys = [r._batch for r in again.select("_batch").distinct().collect()]
    assert keys and all(k.startswith("f") for k in keys), keys
