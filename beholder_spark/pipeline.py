"""Pipeline spec compiler — our analogue of Beholder's config language
(SURVEY.md §3.2 lifecycle, entry point 1).

Beholder parses a config text into a command tree and interprets it per
message; we compile a declarative stage list into DataFrame
transformations and let Catalyst own the physical plan. One spec stage ≈
one Beholder command:

    spec = [
      {"op": "parse_text", "src": "html", "dst": "text_out"},
      {"op": "set_host", "url_col": "url"},
      {"op": "enrich", "lookup": <df>, "on": "host"},
      {"op": "set", "field": "tag", "template": "%s/%s", "cols": ["lang", "geo"]},
      {"op": "keep", "fields": [...]},
      {"op": "drop_when", "condition": <Column>},
      {"op": "route", "cases": [(<Column>, "name"), ...]},
    ]

``compile_pipeline(df, spec)`` returns the transformed DataFrame; sinks
and aggregates are separate stages because they are *actions* (see
:func:`run_pages_pipeline` for the full parse→enrich→route→aggregate job
with checkpoint/lineage).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beholder_spark import sinks as sk
from beholder_spark.functions import extract_text_udf
from beholder_spark.operators import fields as fo
from beholder_spark.operators import route as ro
from beholder_spark.operators.enrich import enrich_lookup
from beholder_spark.plans import lineage as ln


def _op_parse_text(df: DataFrame, st: dict) -> DataFrame:
    """Beholder ``parse`` analogue for web pages: html bytes → text via
    the Arrow pandas UDF, plus parse_ok (NULL text = unparseable)."""
    out = df.withColumn(st.get("dst", "text_out"), extract_text_udf(F.col(st["src"])))
    return out.withColumn("parse_ok", F.col(st.get("dst", "text_out")).isNotNull())


OPS = {
    "parse_text": _op_parse_text,
    "set_host": lambda df, st: fo.set_host_from_url(df, st.get("field", "host"), st.get("url_col", "url")),
    "set": lambda df, st: fo.set_template(df, st["field"], st["template"], *st["cols"]),
    "set_replace": lambda df, st: fo.set_replace(df, st["field"], st["pattern"], st["replacement"], st.get("src")),
    "set_date": lambda df, st: fo.set_date(df, st["field"], st["ts_col"], st.get("fmt", "yyyy-MM-dd'T'HH:mm:ssXXX")),
    "keep": lambda df, st: fo.keep(df, *st["fields"]),
    "unset": lambda df, st: fo.unset(df, *st["fields"]),
    "drop_when": lambda df, st: fo.drop_when(df, st["condition"]),
    "enrich": lambda df, st: enrich_lookup(df, st["lookup"], st["on"], st.get("how", "left")),
    "route": lambda df, st: ro.switch(df, st["cases"], st.get("route_col", "route"), st.get("default", ro.UNMATCHED)),
    "filter": lambda df, st: df.filter(st["condition"]),
}


# Row filters change WHICH rows survive, so they are never prunable;
# `prune_spec` treats every enrich as row-semantic too.
_ROW_OPS = {"drop_when", "filter"}


def _stage_outputs(st: dict) -> set[str]:
    op = st["op"]
    if op == "parse_text":
        return {st.get("dst", "text_out"), "parse_ok"}
    if op == "set_host":
        return {st.get("field", "host")}
    if op in ("set", "set_replace", "set_date"):
        return {st["field"]}
    if op == "enrich":
        return set(st["lookup"].columns) - {st["on"]}
    if op == "route":
        return {st.get("route_col", "route")}
    return set()  # keep/unset reshape the schema, produce no values


def _stage_deps(st: dict) -> set[str] | None:
    """Input columns a stage reads; None = unknown (opaque Column
    condition with no declared ``deps`` list)."""
    if "deps" in st:
        return set(st["deps"])
    op = st["op"]
    if op == "parse_text":
        return {st["src"]}
    if op == "set_host":
        return {st.get("url_col", "url")}
    if op == "set":
        return set(st["cols"])
    if op == "set_replace":
        return {st.get("src") or st["field"]}
    if op == "set_date":
        return {st["ts_col"]}
    if op == "enrich":
        return {st["on"]}
    if op in ("keep", "unset"):
        return set()
    return None  # route/drop_when/filter hold opaque Column conditions


def prune_spec(spec: list[dict[str, Any]], needed: list[str] | set[str]) -> list[dict[str, Any]]:
    """Stage-level dependency pruning — the optimizer pass Catalyst CANNOT
    do for us: ``parse_ok = isnotnull(<pandas UDF>(html))`` makes the
    Python UDF load-bearing in every downstream expression, so Catalyst
    must run it even for aggregates that never touch a parse output.
    This pass works at STAGE granularity instead: walking the spec
    backwards from the caller's needed columns, a stage survives only if
    it produces a needed column (or filters rows); everything else —
    including the parse UDF — is dropped before Catalyst ever sees it.

    Row-semantics stages (drop_when / filter / non-left enrich) are
    always kept. If a kept stage's inputs can't be determined (an opaque
    Column condition with no ``deps`` declared on the stage), pruning
    bails out and returns the original spec — correctness is never
    traded for the optimization.
    """
    need = set(needed)
    kept: list[dict[str, Any]] = []
    for st in reversed(spec):
        # enrich is ALWAYS row-semantics here: even a left join multiplies
        # rows when the lookup has duplicate keys, which would change
        # aggregate results if pruned. (It's a cheap broadcast join — the
        # expensive prunable stage is the parse UDF, which stays prunable.)
        rowish = st["op"] in _ROW_OPS or st["op"] == "enrich"
        outs = _stage_outputs(st)
        if not (rowish or outs & need):
            continue  # pruned: contributes no needed column, drops no row
        deps = _stage_deps(st)
        if deps is None:
            return list(spec)  # can't prove safety — keep everything
        kept.append(st)
        need = (need | deps) if rowish else ((need - outs) | deps)
    return list(reversed(kept))


def compile_pipeline(
    df: DataFrame, spec: list[dict[str, Any]], prune_for: list[str] | None = None
) -> DataFrame:
    """Compile a stage list into one DataFrame expression DAG.

    All stages fuse into as few physical stages as Catalyst can manage —
    typically ONE codegen'd projection + the pandas-UDF exchange-free
    stage. No shuffles are introduced here by construction.

    ``prune_for=[cols]`` applies :func:`prune_spec` first: the compiled
    plan is guaranteed to produce those columns with values identical to
    the full pipeline's, but stages (notably the parse UDF) that don't
    feed them are never executed. Use for aggregate-only jobs over the
    input side (counts per host/day, sampling decisions) that would
    otherwise pay text extraction for columns they discard.
    """
    if prune_for is not None:
        spec = prune_spec(spec, prune_for)
    for st in spec:
        df = OPS[st["op"]](df, st)
    return df


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


def pages_spec(lookup: DataFrame) -> list[dict[str, Any]]:
    return [
        {"op": "parse_text", "src": "html", "dst": "text_out"},
        {"op": "set_host", "url_col": "url"},
        {"op": "enrich", "lookup": lookup, "on": "host"},
        # deps declared so prune_spec can reason about the opaque case
        # Columns (they read parse_ok / category / lang — see default_routes)
        {"op": "route", "cases": default_routes(), "deps": ["parse_ok", "category", "lang"]},
    ]


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

    routed = compile_pipeline(pages, pages_spec(lookup))
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
