"""Fan-out sink strategies + Structured Streaming twin."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from beholder_spark import sinks
from beholder_spark.operators import route


def _routed(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 3 == 0 else ("de" if i % 3 == 1 else "xx")) for i in range(30)],
        ["id", "lang"],
    )
    return route.switch(df, [(F.col("lang") == "en", "en"), (F.col("lang") == "de", "euro")])


def test_fanout_single_pass(spark, tmp_path):
    out = str(tmp_path / "fan1")
    sinks.write_fanout_single_pass(_routed(spark), out)
    back = spark.read.parquet(out)
    got = {r.route: r.n for r in back.groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {"en": 10, "euro": 10, route.UNMATCHED: 10}


def test_fanout_branches_equal_single_pass(spark, tmp_path):
    routed = _routed(spark)
    sinks.write_fanout_branches(
        routed,
        {"en": str(tmp_path / "b_en"), "euro": str(tmp_path / "b_euro")},
    )
    assert spark.read.parquet(str(tmp_path / "b_en")).count() == 10
    assert spark.read.parquet(str(tmp_path / "b_euro")).count() == 10


def test_streaming_matches_batch(spark, fixture_dir, tmp_path):
    """availableNow streaming run of the SAME compiled pipeline must land
    exactly the batch row sets per route, one file per route directory:
    every route spans all 4 input files (scan tasks), and the micro-batch
    writer is rebalanced by the route."""
    from beholder_spark.pipeline import compile_pipeline, pages_spec
    from beholder_spark.streaming import run_stream_once

    # streaming file source needs a directory — stage pages into one
    pages_path = str(tmp_path / "pages_dir")
    spark.read.parquet(f"{fixture_dir}/pages.parquet").repartition(4).write.parquet(pages_path)
    lookup = spark.read.parquet(f"{fixture_dir}/host_lookup.parquet")
    schema = spark.read.parquet(pages_path).schema
    spec = pages_spec(lookup)

    out = str(tmp_path / "stream_out")
    run_stream_once(
        spark, pages_path, schema, spec, out, str(tmp_path / "ckpt")
    )
    stream_counts = {
        r.route: r.n
        for r in spark.read.parquet(out).groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    batch = compile_pipeline(spark.read.parquet(pages_path), spec)
    batch_counts = {
        r.route: r.n for r in batch.groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert stream_counts == batch_counts
    per_dir = {
        d: sum(f.startswith("part-") for f in os.listdir(os.path.join(out, d)))
        for d in os.listdir(out)
        if d.startswith("route=")
    }
    assert len(per_dir) == len(batch_counts) and set(per_dir.values()) == {1}, per_dir


def test_session_window_stream_matches_batch_sessionize(spark, tmp_path):
    """Streaming session_window must produce the same sessions as the
    batch lag+cumsum sessionize when all data is on time (single batch)."""
    import datetime as dt

    from beholder_spark.operators.aggregate import sessionize
    from beholder_spark.streaming import session_windows

    base = dt.datetime(2026, 1, 1)
    rows = []
    for uid in range(5):
        t = base + dt.timedelta(minutes=uid)
        for j in range(20):
            # j%6==0 → exactly the 30-min gap: the SPEC boundary (merges —
            # session_window merges touching windows; batch uses > gap)
            gap = dt.timedelta(
                minutes=45 if j % 7 == 0 and j else (30 if j % 6 == 0 and j else j % 5)
            )
            t = t + gap
            rows.append((uid, t))
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    src = str(tmp_path / "sess_src")
    df.write.parquet(src)

    batch = sessionize(spark.read.parquet(src), "user_id", "ts", gap_seconds=1800)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    agg = session_windows(stream, "user_id", "ts", gap="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in spark.sql("select * from sessions").collect()
    }
    exp = {(r.user_id, r.session_start, r.n_events) for r in batch.collect()}
    assert got == exp


def test_stateful_running_counts(spark, tmp_path):
    from beholder_spark.streaming import running_counts_stateful

    df = spark.createDataFrame(
        [(f"u{i % 3}", i) for i in range(30)], ["user_id", "v"]
    ).withColumn("ts", F.current_timestamp())
    src = str(tmp_path / "state_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = running_counts_stateful(stream, "user_id", "ts")
    q = (
        out.writeStream.format("memory")
        .queryName("state_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.key, r.total_events) for r in spark.sql("select * from state_counts").collect()}
    assert got == {("u0", 10), ("u1", 10), ("u2", 10)}


def test_streaming_windowed_counts(spark, fixture_dir, tmp_path):
    from beholder_spark.streaming import read_pages_stream, windowed_counts

    pages_path = str(tmp_path / "pages_dir2")
    spark.read.parquet(f"{fixture_dir}/pages.parquet").write.parquet(pages_path)
    schema = spark.read.parquet(pages_path).schema
    stream = read_pages_stream(spark, pages_path, schema)
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


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream join (purchases ⋈ clicks within the
    trailing hour per user) equals the batch inequality join on the same
    rows — and the time-range + watermark pair keeps state bounded."""
    from beholder_spark import streaming as st

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    clicks_dir, purch_dir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    clicks.write.parquet(clicks_dir)
    purch.write.parquet(purch_dir)

    ls = spark.readStream.schema(purch.schema).parquet(purch_dir)
    rs = spark.readStream.schema(clicks.schema).parquet(clicks_dir)
    joined = st.stream_stream_join(ls, rs, "user_id", "ts", "ts", max_lag_seconds=3600)
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_rows")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id, r_event_id FROM ssj_rows").collect()

    batch = purch.alias("p").join(
        clicks.alias("c"),
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") <= F.col("p.ts"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 3600 SECOND")),
    ).select(F.col("p.event_id"), F.col("c.event_id").alias("r_event_id"))
    exp = batch.collect()
    assert sorted((r[0], r[1]) for r in got) == sorted((r[0], r[1]) for r in exp)
    assert len(exp) > 0  # the fixture actually produces pairs


def test_manifested_stream_sink_idempotent_under_replay(spark, tmp_path):
    """The manifested streaming sink stays exactly-once even when the
    STREAMING CHECKPOINT IS DELETED (full batch replay): replayed batches
    hit the manifest anti-join and append nothing."""
    import shutil

    from beholder_spark import streaming as st
    from beholder_spark.plans import lineage as ln

    src_dir = str(tmp_path / "src")
    spark.range(200).selectExpr("id", "CAST(id % 7 AS STRING) AS k").write.parquet(src_dir)
    out_root = str(tmp_path / "mstream")
    ckpt = str(tmp_path / "ckpt_m")

    stream = spark.readStream.schema("id long, k string").parquet(src_dir)
    q = st.write_manifested_stream(stream, out_root, "events", ckpt)
    q.awaitTermination(120)
    first = ln.read_stage(spark, out_root, "events", "_batch")
    assert first.count() == 200

    # nuke the streaming checkpoint: Spark replays EVERY batch
    shutil.rmtree(ckpt)
    stream2 = spark.readStream.schema("id long, k string").parquet(src_dir)
    q2 = st.write_manifested_stream(stream2, out_root, "events", ckpt)
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

    from beholder_spark import streaming as st
    from beholder_spark.plans import lineage as ln

    src_dir = str(tmp_path / "src")
    spark.range(100).selectExpr("id", "CAST(id % 7 AS STRING) AS k").write.parquet(src_dir)
    out_root = str(tmp_path / "mstream")
    ckpt = str(tmp_path / "ckpt_m")

    stream = spark.readStream.schema("id long, k string").parquet(src_dir)
    st.write_manifested_stream(stream, out_root, "events", ckpt).awaitTermination(120)
    assert ln.read_stage(spark, out_root, "events", "_batch").count() == 100

    # checkpoint lost AND the source grew: replayed batch 0 = old+new files
    shutil.rmtree(ckpt)
    spark.range(100, 150).selectExpr("id", "CAST(id % 7 AS STRING) AS k").write.mode(
        "append"
    ).parquet(src_dir)
    stream2 = spark.readStream.schema("id long, k string").parquet(src_dir)
    st.write_manifested_stream(stream2, out_root, "events", ckpt).awaitTermination(120)
    again = ln.read_stage(spark, out_root, "events", "_batch")
    assert again.count() == 150  # new rows appended, old rows not duplicated
    assert again.select("id").distinct().count() == 150


def test_manifested_stream_counts_overflow_drops(spark, tmp_path):
    """K5 counted drop-on-overflow: under an artificially throttled
    trigger (1 file/micro-batch) a `buffer 30` sink keeps the earliest 30
    rows of each batch, DROPS the overflow, and COUNTS it in
    `_lineage.dropped_overflow` — Beholder's backpressure contract."""
    from beholder_spark import streaming as st
    from beholder_spark.plans import lineage as ln

    src_dir = str(tmp_path / "src")
    for lo in (0, 50, 100):
        spark.createDataFrame([(lo + i, f"k{i}") for i in range(50)], ["id", "k"]).coalesce(
            1
        ).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema("id long, k string")
        .option("maxFilesPerTrigger", 1)  # native backpressure: bound intake
        .parquet(src_dir)
    )
    q = st.write_manifested_stream(
        stream, str(tmp_path / "out"), "events", str(tmp_path / "ckpt"),
        buffer_rows=30, order_col="id",
    )
    q.awaitTermination(120)

    got = ln.read_stage(spark, str(tmp_path / "out"), "events", "_batch")
    kept = sorted(r.id for r in got.select("id").collect())
    # deterministic survivor set: the earliest 30 ids of each 50-row batch
    assert kept == [lo + i for lo in (0, 50, 100) for i in range(30)]

    lin = ln.read_lineage(spark, str(tmp_path / "out")).filter("stage = 'events'")
    rows = lin.select("rows_out", "dropped_overflow").collect()
    assert sorted((r.rows_out, r.dropped_overflow) for r in rows) == [(30, 20)] * 3

    # regression (r4 review): the overflow path must key BEFORE the
    # orderBy().limit() exchange — file-keyed _batch values, never the
    # b<batch_id> degradation that silently drops rows on
    # checkpoint-loss replay
    keys = [r._batch for r in got.select("_batch").distinct().collect()]
    assert keys and all(k.startswith("f") for k in keys), keys
