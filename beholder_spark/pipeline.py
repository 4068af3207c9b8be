"""The flagship job: Common-Crawl-style pages → parse → enrich → route →
fan-out sink → per-sink aggregates (SURVEY.md §3.2 lifecycle, entry
point 1).

:func:`route_pages` is the narrow per-row chain, one Beholder command
per call: ``parse`` (html → ``text_out`` via the Arrow pandas UDF, plus
``parse_ok``), ``set $host`` from the url, ``enrich`` against the host
lookup, then ``switch`` over :func:`default_routes`. Catalyst owns the
physical plan. :func:`run_pages_pipeline` adds the actions around it:
the checkpointed (day, route) sink write with lineage, and the
aggregate. The config-language front end (:mod:`beholder_spark.config`)
compiles its own commands onto the same operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beholder_spark import sinks as sk
from beholder_spark.functions import extract_text_udf
from beholder_spark.operators import fields as fo
from beholder_spark.operators import route as ro
from beholder_spark.operators.enrich import enrich_lookup
from beholder_spark.plans import lineage as ln


# ---------------------------------------------------------------------------
# The flagship end-to-end job (BASELINE.json:6): CC-style pages →
# parse → enrich → route → fan-out sinks → per-sink aggregates,
# checkpointed per day-partition with lineage metrics.
# ---------------------------------------------------------------------------

def default_routes() -> list:
    """First-match-wins, Beholder case order (built lazily — Column
    construction needs an active session)."""
    return [
        (~F.col("parse_ok"), "_unparsed"),  # quarantine first
        (F.col("category") == "spam", "spam"),
        (F.col("lang") == "en", "en"),
        (F.col("lang").isin("de", "fr", "es"), "euro"),
    ]


def route_pages(pages: DataFrame, lookup: DataFrame) -> DataFrame:
    """parse → set host → enrich → route: one narrow pass (the pandas UDF,
    a broadcast join and codegen'd projections; no shuffle of its own)."""
    df = pages.withColumn("text_out", extract_text_udf(F.col("html")))
    df = df.withColumn("parse_ok", F.col("text_out").isNotNull())
    df = fo.set_host_from_url(df, "host", "url")
    df = enrich_lookup(df, lookup, "host", "left")
    return ro.switch(df, default_routes())


def run_pages_pipeline(
    spark: SparkSession,
    pages_path: str,
    lookup_path: str,
    out_root: str,
    checkpoint: bool = True,
) -> dict[str, DataFrame]:
    """Full parse→enrich→route→aggregate over the pages table.

    Scale shape: the parse+enrich+route chain is ONE narrow pass (pandas
    UDF + broadcast join + codegen'd projections — no shuffle of its own);
    the fan-out is ONE ``sinks.write_table`` partitioned by (day, route) —
    ``_run_id`` first when checkpointed — whose ``REBALANCE`` shuffle
    puts each directory in one task, so one file per directory;
    aggregates shuffle only (route, host, lang, bucket) partial counts.
    The aggregate is a plain groupBy count, not salted: map-side partial
    aggregation sends each reducer at most one row per key per input
    task, so a hot host costs its reducer one partial row per task, not
    one row per page.
    """
    from beholder_spark.session import ship_package

    ship_package(spark)  # pandas UDFs need the package on worker path
    pages = spark.read.parquet(pages_path)
    lookup = spark.read.parquet(lookup_path)

    if checkpoint:
        # Resume scan-pruning: drop already-done days BEFORE the parse
        # chain. The predicate depends only on warc_ts, so Catalyst pushes
        # it below the pandas-UDF stage — a resumed run never pays text
        # extraction for completed partitions (on a day-partitioned input
        # table this is partition pruning; run_stage's manifest anti-join
        # stays as the correctness backstop).
        done = ln.done_partitions(spark, out_root, "routed")
        if done:
            # NULL-safe via the manifest's sentinel key: NULL-day rows are
            # tracked as __NULL__, so they are pruned once written and
            # never silently dropped nor re-appended on resume.
            day_key = F.coalesce(
                F.to_date(F.col("warc_ts")).cast("string"), F.lit(ln.NULL_PARTITION)
            )
            pages = pages.filter(~day_key.isin(*done))

    routed = route_pages(pages, lookup)
    routed = routed.withColumn("day", F.to_date(F.col("warc_ts")))

    # Sink hygiene at 100 TB: the routed table carries the pipeline's
    # OUTPUT (text_out), never the raw html bytes nor the input's golden
    # text column — persisting either would double sink bytes for data
    # already durable in the input table.
    sink_drop = [c for c in ("html", "text") if c in routed.columns]
    if checkpoint:
        routed_tbl = ln.run_stage(
            spark,
            out_root,
            "routed",
            routed.drop(*sink_drop),
            partition_col="day",
            partition_by=["route"],
            extra_metrics={
                "parse_failures": F.count_if(~F.col("parse_ok")),
                "dropped": F.count_if(F.col("route") == ro.UNMATCHED),
            },
        )
    else:
        routed_path = os.path.join(out_root, "routed")
        sk.write_table(routed.drop(*sink_drop), routed_path, ["day", "route"])
        routed_tbl = spark.read.parquet(routed_path)

    # per-sink aggregate counts: messages per (route, host, lang, hour)
    counts = (
        routed_tbl.withColumn("bucket", F.date_trunc("hour", F.col("warc_ts")))
        .groupBy("route", "host", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    counts.write.mode("overwrite").parquet(os.path.join(out_root, "agg_counts"))

    return {
        "routed": routed_tbl,
        "agg_counts": spark.read.parquet(os.path.join(out_root, "agg_counts")),
    }
